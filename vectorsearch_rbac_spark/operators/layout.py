"""Workload-weighted, storage-budgeted partition-composition optimizer (D10).

Parity: the reference's headline algorithm —
``controller/dynamic_partition/hnsw/AnonySys_dynamic_partition.py:425``
(``split_comb_roles``: greedily split role-combinations out of shared
partitions while total storage stays under ``alpha`` × corpus size, choosing
each split by predicted-query-time improvement per unit of storage growth),
with ``calculate_role_weights_from_queries`` (:69 — role-combination weights
from the query workload's per-user block selectivity) and
``compute_query_time`` (:114 — the {k, beta, a, b} HNSW cost model:
``ef_search = ln(1/(dv-k)-1)/(-4·beta·sel)·topk + k·topk/sel`` and
``time = Σ weight·ln(n_p)·(a·ef_search + b)``), reused verbatim by
``logical_partition_benchmark/dynamic_logical_partition/AnonySys_dynamic_partition.py``.

Spark-first re-expression
-------------------------
The reference carries driver-side *document-id sets* through the greedy loop
(``role_to_documents_index`` etc.) — at 100 TB those sets ARE the data and
cannot live on one machine. The key observation: the optimizer never needs
document identity, only the *sizes* of intersections between role sets and
partitions. Every document belongs to exactly one **access-set atom** (the
distinct set of roles permitted to it), partitions are unions of atoms
(with replication), and every set the reference manipulates is a union of
atoms — so all cardinalities the cost model consumes are exact sums over
per-atom counts. The heavy work (atom sizes, workload weights) is two Spark
aggregates producing dim-sized statistics; the greedy itself runs on those
statistics driver-side, exactly like Catalyst's cost-based optimizer plans
over table statistics rather than table contents. Outputs are two dim-sized
DataFrames — (atom → partitions) and (comb_role → partitions) — that the
store builder and search join back against the fact table.

Search over the optimized layout stays EXACT (oracle = plain prefilter):
trackers are coverage-preserving by construction, a per-atom semi-join
re-applies the permission predicate inside scanned partitions, and replicas
dedup on (query_id, block_id) before the rank.
"""

from __future__ import annotations

import heapq
import math
from collections import defaultdict
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .knn import _gather_local_topk, _ranked

# bench-fitted {k, beta} recall and {a, b} cost parameters (operators/tuning.py
# fits these from a one-pass recall/cost curve — parity: get_parameter.py /
# parameter_hnsw.json in the reference). Pinned defaults keep the optimizer
# deterministic without re-running the fit.
DEFAULT_PARAMS = {"k": 0.4676, "beta": 0.1995, "a": 125.2475, "b": 7.2275}


def _comb_key(roles) -> str:
    return ",".join(str(r) for r in sorted(int(x) for x in roles))


# ---------------------------------------------------------------- statistics


def access_set_atoms(blocks: DataFrame, permission_assignment: DataFrame) -> DataFrame:
    """atom_key (canonical sorted role set) → member roles + block count.

    The document→atom map is one groupBy over the permission table; atom
    block counts one broadcast join + groupBy over the fact table. Result is
    dim-sized: #atoms ≤ #distinct access sets (≪ #documents)."""
    doc_atom = permission_assignment.groupBy("document_id").agg(
        F.array_join(F.array_sort(F.collect_set(F.col("role_id").cast("int"))), ",").alias("atom_key")
    )
    return (
        blocks.join(F.broadcast(doc_atom), "document_id")
        .groupBy("atom_key")
        .agg(
            F.count("*").alias("n_blocks"),
            F.countDistinct("document_id").alias("n_docs"),
        )
    )


def workload_comb_weights(
    queries: DataFrame, user_roles: DataFrame, selectivity: DataFrame | None = None
) -> DataFrame:
    """comb_key (user's sorted role set) → workload weight.

    Parity: ``calculate_role_weights_from_queries``
    (AnonySys_dynamic_partition.py:69) — each query contributes its user's
    block selectivity; weights aggregate per role-combination. One groupBy
    over the (tiny) query workload; ``user_roles`` (and the selectivity
    aggregate, if the caller derives it from the same restriction) only
    needs the users that actually appear in the workload, so the user
    dimension is semi-joined down to them before the comb aggregate —
    weights for a billion-user directory cost one broadcast semi-join."""
    qusers = queries.select("user_id").distinct()
    ucomb = (
        user_roles.join(F.broadcast(qusers), "user_id", "left_semi")
        .groupBy("user_id")
        .agg(F.array_join(F.array_sort(F.collect_set(F.col("role_id").cast("int"))), ",").alias("comb_key"))
    )
    q = queries.select("query_id", "user_id").join(F.broadcast(ucomb), "user_id")
    if selectivity is not None:
        q = q.join(F.broadcast(selectivity.select("user_id", "selectivity")), "user_id", "left")
        w = F.coalesce(F.col("selectivity"), F.lit(0.0))
    else:
        w = F.lit(1.0)
    return q.groupBy("comb_key").agg(F.sum(w).alias("weight"))


# ---------------------------------------------------------------- cost model


def ef_search(sel: float, topk: int, k: float, beta: float, recall: float | None = None) -> float:
    """Predicted ef_search for a target selectivity under the fitted
    {k, beta} recall curve (compute_query_time:114 — including its guards)."""
    if recall is None:
        x = 3
        while (1 + x / 10) - k >= 1:
            x -= 1
        dv = 1 + x / 10
    else:
        dv = recall + 1 / 2
    safe_sel = max(sel, 1e-6)
    delta = max(dv - k, 1e-6)
    inner = 1 / delta - 1
    if inner <= 0:
        inner = 1e-6
    safe_beta = beta if abs(beta) > 1e-6 else 1e-6
    return math.log(inner) / (-4 * safe_beta * safe_sel) * topk + k * topk / safe_sel


@dataclass
class _Layout:
    """Driver-side greedy state over atom statistics (all dim-sized)."""

    atom_load: list[int]                       # atom idx → block count
    atom_roles: list[frozenset[int]]           # atom idx → access set
    combs: list[tuple[int, ...]]               # role combinations (incl. singles)
    comb_atoms: dict[tuple[int, ...], frozenset[int]]
    weights: dict[tuple[int, ...], float]      # comb → workload weight
    role_weights: dict[int, float]             # single role → weight
    partitions: dict[int, set[int]] = field(default_factory=dict)   # pid → atoms
    trackers: dict[tuple[int, ...], set[int]] = field(default_factory=dict)  # comb → pids

    def load(self, atoms) -> int:
        return sum(self.atom_load[i] for i in atoms)

    def storage(self) -> int:
        return sum(self.load(a) for a in self.partitions.values())

    def comb_weight(self, comb) -> float:
        w = self.weights.get(comb, 0.0)
        if w == 0 and len(comb) == 1:  # single-role fallback (reference :157)
            w = self.role_weights.get(comb[0], 0.0)
        return w

    def avg_selectivity(self, comb, pids) -> float:
        """Mean over partitions of |comb ∩ partition| / |partition| in blocks
        (compute_sel_whole:169 — exact via atom count sums)."""
        sels = []
        ca = self.comb_atoms[comb]
        for pid in pids:
            atoms = self.partitions.get(pid, set())
            n = self.load(atoms)
            if n > 0:
                sels.append(self.load(ca & atoms) / n)
        return sum(sels) / len(sels) if sels else 0.0

    def sel_whole(self) -> float:
        """Workload-weighted average selectivity across all combs."""
        tw = ts = 0.0
        for comb in self.combs:
            w = self.comb_weight(comb)
            ts += self.avg_selectivity(comb, self.trackers.get(comb, ())) * w
            tw += w
        return ts / tw if tw > 0 else 0.0

    def query_time(self, topk: int, params: dict, recall: float | None = None) -> float:
        """Total predicted weighted query time (compute_query_time:114):
        Σ_comb weight · Σ_{p ∈ tracker(comb)} ln(n_p)·(a·ef_search + b)."""
        ef = ef_search(self.sel_whole(), topk, params["k"], params["beta"], recall)
        total = 0.0
        for comb in self.combs:
            w = self.comb_weight(comb)
            for pid in self.trackers.get(comb, ()):
                n = self.load(self.partitions.get(pid, set()))
                if n > 1:
                    total += w * math.log(n) * (params["a"] * ef + params["b"])
        return total

    def best_cover(self, comb, candidate_pids, topk: int, params: dict) -> set[int] | None:
        """Minimum-predicted-time covering subset of candidate partitions
        (update_comb_role_tracker_stage2:312 — subsets enumerated over the
        comb's current partitions + the new one, coverage required)."""
        from itertools import combinations as subsets

        ca = self.comb_atoms[comb]
        cands = sorted(p for p in candidate_pids if p in self.partitions)
        if len(cands) > 12:  # keep the enumeration bounded; trackers stay small
            return None
        best, best_t = None, float("inf")
        for r in range(1, len(cands) + 1):
            for sub in subsets(cands, r):
                covered = set()
                for pid in sub:
                    covered |= self.partitions.get(pid, set())
                if not (ca <= covered):
                    continue
                loads = [self.load(self.partitions[pid]) for pid in sub]
                sels = [self.load(ca & self.partitions[pid]) / l for pid, l in zip(sub, loads) if l > 0]
                if not sels:
                    continue
                avg_sel = sum(sels) / len(sels)
                log_rows = sum(math.log(l) for l in loads if l > 1)
                t = log_rows * (params["a"] * ef_search(avg_sel, topk, params["k"], params["beta"]) + params["b"])
                if t < best_t - 1e-12:
                    best_t, best = t, set(sub)
        return best


def split_comb_roles(
    atom_rows,
    comb_weight_rows,
    alpha: float = 1.5,
    topk: int = 10,
    params: dict | None = None,
    recall: float | None = None,
    max_partitions: int = 64,
):
    """Greedy partition composition under a storage budget (parity:
    ``split_comb_roles`` AnonySys_dynamic_partition.py:425).

    ``atom_rows``: collected ``access_set_atoms`` rows (atom_key, n_blocks).
    ``comb_weight_rows``: collected ``workload_comb_weights`` rows.

    Returns ``(assignment, routing, report)`` where assignment is
    [(atom_key, partition_id)] (an atom may appear in several partitions —
    that replication is the storage the budget buys), routing is
    [(comb_key, partition_id)] and report carries the predicted-cost trace.

    Algorithm (reference structure, atoms replacing doc-id sets):
    start with one partition holding every atom and every comb tracked to it;
    repeatedly pick the largest partition serving >1 comb, simulate splitting
    each candidate comb out into a fresh partition (single roles first —
    stage 1 — then full combinations — stage 2), re-route affected combs to
    their cheapest covering subset, trim the source partition to atoms still
    needed by combs remaining there, and apply the split with the best
    predicted-query-time reduction per unit storage growth; stop when the
    budget ``alpha × total_blocks`` or ``max_partitions`` is reached or no
    split helps."""
    params = dict(DEFAULT_PARAMS, **(params or {}))

    atoms = sorted(atom_rows, key=lambda r: r["atom_key"])
    atom_roles = [frozenset(int(x) for x in r["atom_key"].split(",")) for r in atoms]
    atom_load = [int(r["n_blocks"]) for r in atoms]
    atom_keys = [r["atom_key"] for r in atoms]

    role_atoms: dict[int, set[int]] = defaultdict(set)
    for i, roles in enumerate(atom_roles):
        for r in roles:
            role_atoms[r].add(i)

    weights: dict[tuple[int, ...], float] = {}
    for r in comb_weight_rows:
        comb = tuple(sorted(int(x) for x in r["comb_key"].split(",")))
        weights[comb] = weights.get(comb, 0.0) + float(r["weight"])

    # single-role weights: combs project onto members (reference :674); unseen
    # roles get the uniform default weight.
    all_roles = sorted(role_atoms)
    role_weights = {r: 1.0 / (len(all_roles) + 1e-6) for r in all_roles}
    acc: dict[int, float] = defaultdict(float)
    for comb, w in weights.items():
        for r in comb:
            acc[r] += w
    role_weights.update(acc)

    # combs = workload combinations ∪ every single role (reference :772)
    combs = sorted(set(weights) | {(r,) for r in all_roles})
    comb_atoms = {
        c: frozenset().union(*(role_atoms[r] for r in c if r in role_atoms)) or frozenset()
        for c in combs
    }

    st = _Layout(atom_load, atom_roles, combs, comb_atoms, weights, role_weights)
    n_atoms = len(atoms)
    st.partitions = {0: set(range(n_atoms))}
    st.trackers = {c: {0} for c in combs}
    total_blocks = sum(atom_load)
    budget = alpha * total_blocks

    qt0 = st.query_time(topk, params, recall)
    qt_before = qt0
    trace = []
    combination_mode = False

    while st.storage() <= budget and len(st.partitions) < max_partitions:
        # largest partition serving more than one comb (reference :440-455)
        source = None
        for pid in sorted(st.partitions, key=lambda p: (-st.load(st.partitions[p]), p)):
            serving = [c for c in combs if pid in st.trackers.get(c, ())]
            if len(serving) > 1:
                source, serving_combs = pid, serving
                break
        if source is None:
            break

        new_pid = max(st.partitions) + 1
        heap = []
        for comb in serving_combs:
            if not combination_mode and len(comb) > 1:
                continue  # stage 1: split single roles first (reference :513)
            ca = comb_atoms[comb]
            if not ca or ca == st.partitions[source]:
                continue

            # --- simulate the split on copies (reference :517-609)
            parts = {p: set(a) for p, a in st.partitions.items()}
            track = {c: set(p) for c, p in st.trackers.items()}
            prev_storage = st.storage()
            parts[new_pid] = set(ca)

            # re-route every affected comb to its cheapest covering subset
            sim = _Layout(atom_load, atom_roles, combs, comb_atoms, weights, role_weights, parts, track)
            for c2 in combs:
                if c2 != comb and not (set(c2) & set(comb)):
                    continue
                cover = sim.best_cover(c2, track.get(c2, set()) | {new_pid}, topk, params)
                if cover:
                    track[c2] = cover
            # trim source to atoms still needed by combs tracking it (:644-657)
            needed = set()
            for c2 in combs:
                if source in track.get(c2, ()):
                    needed |= comb_atoms[c2]
            parts[source] &= needed
            for p in [p for p, a in parts.items() if not a]:
                del parts[p]
            for c2 in track:
                track[c2] = {p for p in track[c2] if p in parts}

            new_storage = sim.storage()
            if new_storage > budget:
                continue
            growth = (new_storage - prev_storage) / prev_storage if prev_storage else 0.0
            qt_after = sim.query_time(topk, params, recall)
            dq = (qt_after - qt_before) / qt_before if qt_before else 0.0
            storage_flag = -100 if growth < 0 else 1
            combined = storage_flag * dq / (growth + 1e-10)
            if dq < 0:  # only splits predicted to help (reference :599-609)
                heapq.heappush(heap, (combined, _comb_key(comb), qt_after, parts, track))

        if not heap:
            if not combination_mode:
                combination_mode = True  # reference :611: switch modes
                continue
            break

        combined, comb_key, qt_after, parts, track = heapq.heappop(heap)
        st.partitions, st.trackers = parts, track
        trace.append(
            {
                "split_comb": comb_key,
                "new_partition": new_pid,
                "predicted_query_time": round(qt_after, 4),
                "storage_blocks": st.storage(),
            }
        )
        qt_before = qt_after

    assignment = [
        (atom_keys[i], pid, st.load(st.partitions[pid]))
        for pid in sorted(st.partitions)
        for i in sorted(st.partitions[pid])
    ]
    routing = [
        (_comb_key(c), pid)
        for c in combs
        for pid in sorted(st.trackers.get(c, ()))
    ]
    report = {
        "n_atoms": n_atoms,
        "n_partitions": len(st.partitions),
        "total_blocks": total_blocks,
        "stored_blocks": st.storage(),
        "alpha": alpha,
        "budget_blocks": budget,
        "predicted_query_time_naive": round(qt0, 4),
        "predicted_query_time": round(qt_before, 4),
        "splits": trace,
    }
    return assignment, routing, report


# ---------------------------------------------------------------- execution


def optimize_layout(
    blocks: DataFrame,
    permission_assignment: DataFrame,
    queries: DataFrame,
    user_roles: DataFrame,
    selectivity: DataFrame | None = None,
    alpha: float = 1.5,
    topk: int = 10,
    params: dict | None = None,
):
    """End-to-end: Spark statistics → driver greedy → DataFrame outputs.

    Returns dict with ``assignment`` (atom_key, partition_id), ``routing``
    (comb_key, partition_id) — both dim-sized, broadcastable — and the
    optimizer ``report``."""
    spark = blocks.sparkSession
    atom_rows = access_set_atoms(blocks, permission_assignment).collect()  # dim-sized stats
    weight_rows = workload_comb_weights(queries, user_roles, selectivity).collect()  # Q-sized
    assignment, routing, report = split_comb_roles(
        atom_rows, weight_rows, alpha=alpha, topk=topk, params=params
    )
    from ..sources import literal_df

    # r12 guide §6: Arrow literal path (no per-job Python re-pickle)
    a_df = literal_df(spark, assignment, "atom_key string, partition_id int, partition_blocks long")
    r_df = literal_df(spark, routing, "comb_key string, partition_id int")
    return {"assignment": a_df, "routing": r_df, "report": report}


def build_budget_store(
    blocks: DataFrame, permission_assignment: DataFrame, assignment: DataFrame
) -> DataFrame:
    """Materialize the optimized layout: every block lands in each partition
    its access-set atom was assigned to (replication = the storage spent).
    On disk this is ``partitionBy(partition_id)`` parquet; the join keys are
    dim-sized and broadcast — the fact table never shuffles."""
    doc_atom = permission_assignment.groupBy("document_id").agg(
        F.array_join(F.array_sort(F.collect_set(F.col("role_id").cast("int"))), ",").alias("atom_key")
    )
    return (
        blocks.join(F.broadcast(doc_atom), "document_id")
        .join(F.broadcast(assignment.select("atom_key", "partition_id")), "atom_key")
    )


def budget_scan_plan(
    query_roles: DataFrame, routing: DataFrame, assignment: DataFrame
) -> DataFrame:
    """(query_id, atom_key, partition_id): which replica each query reads.

    Routing: the query's comb_role looks up its tracked partitions; combs
    unseen by the optimizer fall back to the union of their single-role
    routings (always present — reference :772 extends combs with all
    singles). The permission predicate is the atom-intersects-roles check,
    and replica dedup happens HERE, not on scored rows: per (query, atom)
    the SMALLEST holding partition wins (a hot comb's dedicated partition
    over the residual catch-all) — on disk that's the difference between
    opening one small partition's files and touching the whole-corpus
    partition. Everything is dim-sized and broadcast."""
    qcomb = query_roles.groupBy("query_id").agg(
        F.array_join(F.array_sort(F.collect_set(F.col("role_id").cast("int"))), ",").alias("comb_key")
    ).persist()  # dim-sized; consumed by 3 routing branches
    matched = qcomb.join(F.broadcast(routing), "comb_key").select("query_id", "partition_id")
    unmatched = qcomb.join(F.broadcast(routing.select("comb_key").distinct()), "comb_key", "left_anti")
    fallback = (
        query_roles.join(F.broadcast(unmatched.select("query_id")), "query_id", "left_semi")
        .withColumn("comb_key", F.col("role_id").cast("int").cast("string"))
        .join(F.broadcast(routing), "comb_key")
        .select("query_id", "partition_id")
    )
    qpart = matched.unionByName(fallback).distinct()

    # atom-level permission check: comb may read atom iff role sets intersect
    atom_roles = assignment.select("atom_key").distinct().select(
        "atom_key",
        F.explode(F.transform(F.split("atom_key", ","), lambda c: c.cast("int"))).alias("role_id"),
    )
    q_atoms = (
        F.broadcast(query_roles).join(atom_roles, "role_id")
        .select("query_id", "atom_key")
        .distinct()
    )
    return (
        q_atoms.join(F.broadcast(qpart), "query_id")
        .join(F.broadcast(assignment), ["atom_key", "partition_id"])  # replicas the route can reach
        .groupBy("query_id", "atom_key")
        .agg(
            F.min(F.struct("partition_blocks", "partition_id"))
            .getField("partition_id").alias("partition_id")
        )
    )


def knn_budget(
    store: DataFrame,
    queries: DataFrame,
    query_roles: DataFrame,
    routing: DataFrame,
    assignment: DataFrame,
    k: int = 10,
    metric: str = "l2",
) -> DataFrame:
    """Exact top-k over the optimized layout.

    Routing: the query's comb_role looks up its tracked partitions (the
    optimizer guarantees they cover every accessible doc); queries whose
    exact comb is unseen fall back to the union of their single-role
    routings (always present — reference :772 extends combs with all
    singles).

    Every decision happens at METADATA level before the fact table is
    touched (:func:`budget_scan_plan`): per (query, readable atom) exactly
    ONE replica partition is chosen, so the fact scan emits each
    (query, block) pair exactly once and the rank window keeps its partial
    WindowGroupLimit pushdown — no post-scan distinct, no duplicate rows
    shuffled. At 100 TB the scan-plan join also prunes partitions: only
    (partition, atom) slices some query reads are materialized."""
    scan_plan = budget_scan_plan(query_roles, routing, assignment)
    routed = store.join(F.broadcast(scan_plan), ["partition_id", "atom_key"])
    # the metadata-level scan plan already pairs each (query, block)
    # exactly once — the gather kernel scores the pair rows with the
    # expression folds' j-order and pre-cuts per batch
    return _ranked(_gather_local_topk(routed, queries, k, metric), k)
