"""The three workloads: inputs, set-up and one closed-loop cycle each.

Each workload generates its inputs from the seed (untimed), sets up a
session's relations (timed as set-up), and then runs cycles: one search
batch, preceded on ``churn`` by an insert commit and a delete. Every
operation is checked against the oracle; the checks are not timed.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import numpy as np

from inputs import (
    Corpus,
    derive_closure,
    query_rows,
    random_rbac_closure,
    vector_column,
    write_parquet,
)
from oracle import Oracle

K = 10
QUERY_SCHEMA = "query_id long, user_id long, query_vector array<float>"


@dataclass
class Op:
    kind: str  # "search", "mutation", or "error" for a cycle that raised
    strategy: str
    wall: float
    failed: bool = False
    errors: list = field(default_factory=list)
    queries: int = 0
    rows: int = 0
    recall_sum: float = 0.0
    recall_n: int = 0
    selectivity_sum: float = 0.0


def _span_s(rec) -> float:
    return rec["end"] - rec["start"]


class Workload:
    name = ""
    strategies: tuple[str, ...] = ()
    sizes: dict[str, dict] = {}
    # untimed cycles in the serving session before the timed window, on top
    # of one per set-up: batch times settle (JIT, broadcast and stat caches)
    # over the first several cycles of a process
    warmup = 8

    def __init__(self, seed: int, size: str, work: str):
        self.seed = seed
        self.p = self.sizes[size]
        self.work = work
        self.rng = np.random.default_rng([seed, sum(map(ord, self.name))])
        self.corpus = Corpus(self.rng)
        self.next_qid = 0
        self.setup_parts: list[dict] = []

    # ---- subclass hooks
    def generate(self) -> None:
        raise NotImplementedError

    def build_rbac(self, spark) -> None:
        """Materialise the RBAC relations for a new session."""
        raise NotImplementedError

    def build_store(self, spark) -> None:
        """Build the store a new session serves from, where there is one."""

    def search_call(self, spark, strategy: str, queries):
        raise NotImplementedError

    def draw_users(self, n: int) -> np.ndarray:
        return self.rng.integers(1, self.p["users"] + 1, n)

    # ---- shared
    def setup(self, spark, tr) -> None:
        with tr.span("rbac.build", -1) as sr:
            self.build_rbac(spark)
        with tr.span("store.build", -1) as ss:
            self.build_store(spark)
        self.setup_parts.append({"rbac_s": _span_s(sr), "store_s": _span_s(ss)})

    def cycle(self, spark, tr, b: int) -> list[Op]:
        strategy = self.strategies[b % len(self.strategies)]
        return [self.search(spark, tr, b, strategy)]

    def search(self, spark, tr, b: int, strategy: str) -> Op:
        from vectorsearch_rbac_spark.sources import literal_df

        users = self.draw_users(self.p["batch"])
        rows = query_rows(self.corpus, users, self.next_qid)
        self.next_qid += len(rows)
        with tr.span("batch", b) as sb:
            sb["strategy"] = strategy
            with tr.span("literal_df"):
                queries = literal_df(spark, rows, QUERY_SCHEMA)
            with tr.span("construct"):
                df = self.search_call(spark, strategy, queries)
            with tr.span("execute"):
                got = [tuple(r) for r in df.select("query_id", "block_id", "document_id", "distance").collect()]
        exact = strategy != "postfilter"
        score = self.oracle.score(
            got, rows, exact=exact, global_k=None if exact else K * self.p["expansion"]
        )
        sel = sum(self.oracle.selectivity(u) for _, u, _ in rows)
        return Op(
            "search", strategy, _span_s(sb), score.failed, score.errors[:5], score.queries,
            score.rows, score.recall_sum, score.recall_n, sel,
        )


class SmallMixed(Workload):
    """sf0.1-shaped corpus with the derived RBAC; all four batch strategies."""

    name = "small_mixed"
    strategies = ("prefilter", "postfilter", "comb_role", "rls")
    sizes = {
        "full": {"users": 15000, "docs": 5000, "blocks": 2000, "batch": 32, "expansion": 4},
        "tiny": {"users": 1500, "docs": 500, "blocks": 300, "batch": 8, "expansion": 4},
    }

    def generate(self) -> None:
        p = self.p
        x = self.corpus.vectors(p["blocks"])
        d = self.work
        write_parquet(os.path.join(d, "customer.parquet"), {"c_custkey": np.arange(1, p["users"] + 1, dtype=np.int64)})
        write_parquet(os.path.join(d, "documents.parquet"), {"doc_id": np.arange(p["docs"], dtype=np.int64)})
        write_parquet(
            os.path.join(d, "embeddings.parquet"),
            {
                "vec_id": np.arange(p["blocks"], dtype=np.int64),
                "embedding": vector_column(x),
                "label": self.rng.integers(0, 10, p["blocks"]).astype(np.int32),
            },
        )
        block_doc = np.arange(p["blocks"]) % p["docs"]
        self.oracle = Oracle(x, block_doc, derive_closure(p["users"], p["docs"]), K)

    def build_rbac(self, spark) -> None:
        from vectorsearch_rbac_spark.rbac import derive
        from vectorsearch_rbac_spark.sources import load_table

        t = {n: load_table(spark, n, self.work) for n in ("customer", "documents", "embeddings")}
        r = derive.derive_rbac(t["customer"], t["documents"], t["embeddings"])
        self.pa = r["permission_assignment"].localCheckpoint()
        self.blocks = r["documentblocks"]

    def search_call(self, spark, strategy, queries):
        from vectorsearch_rbac_spark.operators import knn
        from vectorsearch_rbac_spark.rbac import derive

        qr = derive.query_roles(queries)
        if strategy == "prefilter":
            return knn.knn_prefilter(self.blocks, queries, qr, self.pa, k=K, impl="numpy")
        if strategy == "postfilter":
            return knn.knn_postfilter(self.blocks, queries, qr, self.pa, k=K, expansion=self.p["expansion"], impl="numpy")
        if strategy == "comb_role":
            return knn.knn_comb_role_partition(self.blocks, queries, qr, self.pa, k=K, impl="numpy")
        return knn.knn_rls(self.blocks, queries, qr, self.pa, k=K, impl="numpy")


class _Generated(Workload):
    """A generated block corpus with ``generators.random_rbac`` permissions."""

    def generate(self) -> None:
        p = self.p
        n, d = p["blocks"], p["blocks"] // 10
        self.closure = random_rbac_closure(p["users"], p["roles"], d, p["m_roles"], p["m_perms"], self.rbac_seed)
        x = self.corpus.vectors(n)
        docs = self.block_docs(n, d)
        write_parquet(
            os.path.join(self.work, "blocks"),
            {"block_id": np.arange(n, dtype=np.int64), "document_id": docs, "vector": vector_column(x)},
            n_files=p["files"],
        )
        self.initial = (x, docs)
        self.oracle = Oracle(x, docs, self.closure, K)

    @property
    def rbac_seed(self) -> int:
        return 1000 + self.seed % 100000

    def build_rbac(self, spark) -> None:
        from vectorsearch_rbac_spark.rbac import generators

        p = self.p
        r = generators.random_rbac(
            spark, p["users"], p["roles"], p["blocks"] // 10, m_roles=p["m_roles"], m_perms=p["m_perms"],
            seed=self.rbac_seed,
        )
        self.pa = r["permission_assignment"].localCheckpoint()
        self.user_roles = r["user_roles"].localCheckpoint()

    def query_roles(self, queries):
        return queries.select("query_id", "user_id").join(self.user_roles, "user_id").select("query_id", "role_id")


class LargeScan(_Generated):
    """A corpus large enough that scan and kernel time dominate each batch."""

    name = "large_scan"
    strategies = ("prefilter", "comb_role")
    warmup = 4
    sizes = {
        "full": {"blocks": 300_000, "users": 5000, "roles": 50, "m_roles": 3, "m_perms": 20,
                 "batch": 64, "files": 8},
        "tiny": {"blocks": 20_000, "users": 500, "roles": 20, "m_roles": 3, "m_perms": 20,
                 "batch": 16, "files": 4},
    }

    def block_docs(self, n: int, d: int) -> np.ndarray:
        # every document gets exactly n/d blocks, in seeded order
        return (1 + self.rng.permutation(n) % d).astype(np.int64)

    def build_rbac(self, spark) -> None:
        super().build_rbac(spark)
        self.blocks = spark.read.parquet(os.path.join(self.work, "blocks"))

    def search_call(self, spark, strategy, queries):
        from vectorsearch_rbac_spark.operators import knn

        qr = self.query_roles(queries)
        if strategy == "prefilter":
            return knn.knn_prefilter(self.blocks, queries, qr, self.pa, k=K, impl="numpy")
        return knn.knn_comb_role_partition(self.blocks, queries, qr, self.pa, k=K, impl="numpy")


class Churn(_Generated):
    """A live dynamic store: insert commit, deletion-vector delete, search."""

    name = "churn"
    strategies = ("dynamic",)
    warmup = 4
    sizes = {
        "full": {"blocks": 30_000, "users": 2000, "roles": 200, "m_roles": 3, "m_perms": 80,
                 "batch": 32, "files": 4, "mutate": 300},
        "tiny": {"blocks": 4000, "users": 200, "roles": 10, "m_roles": 3, "m_perms": 60,
                 "batch": 8, "files": 2, "mutate": 40},
    }

    def block_docs(self, n: int, d: int) -> np.ndarray:
        # only documents some role can see: the store keeps no others
        return self.rng.choice(self.closure.permitted_docs(), n).astype(np.int64)

    def build_store(self, spark) -> None:
        from vectorsearch_rbac_spark.operators import dynamic

        x, docs = self.initial
        self.oracle = Oracle(x, docs, self.closure, K)
        self.store_n = getattr(self, "store_n", 0) + 1
        self.vs = dynamic.VersionedStore(os.path.join(self.work, f"store-{self.store_n}"))
        blocks = spark.read.parquet(os.path.join(self.work, "blocks"))
        self.vs.commit(dynamic.build_store(blocks, self.pa))

    def cycle(self, spark, tr, b: int) -> list[Op]:
        from vectorsearch_rbac_spark.operators import dynamic
        from vectorsearch_rbac_spark.sources import literal_df

        m = self.p["mutate"]
        first = len(self.oracle.doc)
        new_ids = np.arange(first, first + m, dtype=np.int64)
        new_x = self.corpus.vectors(m)
        new_docs = self.block_docs(m, 0)
        dead = self.rng.choice(np.flatnonzero(self.oracle.alive), m, replace=False)
        with tr.span("mutation", b) as sm:
            with tr.span("dynamic.insert"):
                new = literal_df(
                    spark,
                    [(int(i), int(d), v.tolist()) for i, d, v in zip(new_ids, new_docs, new_x)],
                    "block_id long, document_id long, vector array<float>",
                )
                self.vs.commit(dynamic.insert_blocks(self.vs.read_current(), new, self.pa))
                self.vs.vacuum(keep_last=2)
            with tr.span("dynamic.delete"):
                ids = literal_df(spark, [(int(i),) for i in dead], "block_id long")
                self.vs.delete_with_dv(ids)
        self.oracle.insert(new_ids, new_x, new_docs)
        self.oracle.delete(dead)
        errors = []
        live = self.vs.read_current().count()
        if live != self.oracle.live_count:
            errors.append(f"store holds {live} live blocks, expected {self.oracle.live_count}")
        mut = Op("mutation", "dynamic", _span_s(sm), bool(errors), errors)
        return [mut, self.search(spark, tr, b, "dynamic")]

    def search_call(self, spark, strategy, queries):
        from vectorsearch_rbac_spark.operators import dynamic

        return dynamic.knn_dynamic(self.vs.read_current(), queries, self.query_roles(queries), k=K)


WORKLOADS = {w.name: w for w in (SmallMixed, LargeScan, Churn)}
