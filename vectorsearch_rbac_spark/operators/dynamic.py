"""Dynamic combination-role partitioned vector store.

Parity: reference ``controller/dynamic_partition/`` — blocks live in
partitions keyed by the *document's access set* (``comb_role`` = sorted list
of roles that may reach the document); ``hnsw/insertion.py`` and
``deletion.py`` maintain the per-partition indexes as blocks arrive/leave;
``search.py:17`` answers a query by scanning only the partitions whose
comb_role intersects the user's roles.

Spark-native form: the store is a comb_role-keyed DataFrame, kept by
:class:`VersionedStore` as parquet snapshots plus deletion-vector files;
maintenance is set algebra (union new / anti-join deleted), the
Delta/Iceberg MERGE pattern, and a vectorized scan stands in for the
per-partition HNSW index (SURVEY.md §3). A search reads the store once,
routing each row by its comb_role's member roles against the broadcast
query roles: membership of a doc in a comb_role that shares a user role
*is* the permission proof, so no per-block re-check is needed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from .knn import _METRICS, _grouped_topk


def _doc_comb(permission_assignment: DataFrame) -> DataFrame:
    """document_id → canonical comb_role key (sorted role list)."""
    return permission_assignment.groupBy("document_id").agg(
        F.array_join(
            F.array_sort(F.collect_list(F.col("role_id").cast("string"))), ","
        ).alias("comb_role")
    )


def build_store(blocks: DataFrame, permission_assignment: DataFrame) -> DataFrame:
    """Initial store build: every block keyed by its document's comb_role.

    Parity: ``dynamic_partition/initialize_dynamic_partitions.py`` — one
    partition per distinct document access-set, each block stored exactly
    once (vs per-role replication).
    """
    from . import hints
    from .knn import _perm_est_bytes

    # gated (r12): one row per permissioned document (rows ≤ rows(perm)) —
    # above the gate the routing join shuffles on document_id (bucketable)
    return blocks.join(
        hints.gated_broadcast(_doc_comb(permission_assignment), _perm_est_bytes(permission_assignment)),
        "document_id",
    )


def insert_blocks(store: DataFrame, new_blocks: DataFrame, permission_assignment: DataFrame) -> DataFrame:
    """Route new blocks to their comb_role partition and append.

    Parity: ``dynamic_partition/hnsw/insertion.py`` — the reference inserts
    into the partition's HNSW graph; here the append is a union the writer
    folds into the partitioned layout (new files in existing partition dirs —
    no index rebuild, no shuffle of the existing store).
    """
    from . import hints
    from .knn import _perm_est_bytes

    # gated (r12): same doc-cardinality routing table as build_store
    routed = new_blocks.join(
        hints.gated_broadcast(_doc_comb(permission_assignment), _perm_est_bytes(permission_assignment)),
        "document_id",
    )
    return store.unionByName(routed)


def delete_blocks(store: DataFrame, deleted_ids: DataFrame, id_col: str = "block_id") -> DataFrame:
    """Remove blocks by id (anti-join).

    Parity: ``dynamic_partition/hnsw/deletion.py``; the lakehouse execution
    is a MERGE DELETE touching only partitions that contain the ids.
    """
    return store.join(F.broadcast(deleted_ids), id_col, "left_anti")


def merge_upsert(
    target: DataFrame,
    source: DataFrame,
    key: str,
    update_cols: list[str] | None = None,
    delete_col: str | None = None,
) -> DataFrame:
    """H8: MERGE INTO as a pure relational transform — the lakehouse upsert
    (Delta/Iceberg MERGE semantics on plain DataFrames):

    - matched + source[delete_col]      → row removed
    - matched (otherwise)               → target row with ``update_cols``
                                          overwritten from source
    - not matched (source only)         → source row inserted, UNLESS
                                          delete-flagged (SQL MERGE takes
                                          no action deleting a missing row)
    - target only                       → kept untouched

    One full-outer join on the key — the same single-shuffle shape Delta's
    MERGE plans; at 100 TB the target side prunes to the partitions the
    source keys touch when the store is partitioned on (a prefix of) the
    key. Source must be unique per key (upstream dedup), as in SQL MERGE
    where multiple source matches are an error.
    """
    update_cols = update_cols if update_cols is not None else [c for c in source.columns if c != key and c != delete_col]
    s = source
    if delete_col is None:
        s = s.withColumn("_del", F.lit(False))
    else:
        # normalize a possibly tri-state delete flag: NULL means "not a
        # delete" (real CDC feeds carry nullable booleans)
        s = s.withColumn("_del", F.coalesce(F.col(delete_col).cast("boolean"), F.lit(False)))
    # dedicated presence marker: _del can no longer double as "source row
    # exists" now that it is normalized to non-null on the source side only
    s = s.select(
        key, "_del", F.lit(True).alias("_src"),
        *[F.col(c).alias(f"_src_{c}") for c in update_cols],
    )
    t = target.withColumn("_tgt", F.lit(True))
    # full-outer can't broadcast; prefer the shuffled-hash build (Spark 3.1+
    # supports full-outer SHJ) over a sort-merge — no per-partition sort of
    # the store, the same choice Delta's MERGE planner makes
    j = t.join(s.hint("shuffle_hash"), key, "full_outer")
    # any delete-flagged source row yields no output: matched → target row
    # removed; unmatched → no-op insert suppressed (delete of a missing key)
    out = j.where(~F.coalesce(F.col("_del"), F.lit(False)))
    cols = []
    for c in target.columns:
        if c == key:
            cols.append(F.col(key).alias(c))
        elif c in update_cols:
            # matched update / unmatched insert both take the source value
            cols.append(
                F.when(F.col("_src").isNotNull(), F.col(f"_src_{c}")).otherwise(F.col(c)).alias(c)
            )
        else:
            cols.append(F.col(c).alias(c))
    return out.select(*cols)


def partition_sizes(store: DataFrame) -> DataFrame:
    """comb_role → block count (the heavy-partition detector's input)."""
    return store.groupBy("comb_role").agg(F.count("*").alias("n_blocks"))


def rebalance_heavy_partitions(
    store: DataFrame,
    max_partition_size: int,
    vec_col: str = "vector",
    seed: int = 42,
) -> DataFrame:
    """Split comb_role partitions above ``max_partition_size`` into
    centroid-keyed sub-partitions; the physical write key becomes
    ``part_key`` (= comb_role for light partitions, ``comb_role#bucket``
    for split ones).

    Parity: reference ``dynamic_partition/hnsw/heavy_partition_refine.py:203``
    (``rebalance_heavy_partition`` — greedy role-predicate splits of
    oversized partitions under a log(size)/selectivity cost model :261).
    The reference's partitions aggregate several access-sets, so role
    predicates can cut them; this store keys partitions by the EXACT access
    set (every doc in a partition has identical roles), so the meaningful
    splitter is the centroid predicate (the reference's qd-tree alternative)
    — k-means sub-buckets sized to ``max_partition_size``.

    Search stays EXACT and unchanged: routing still matches on comb_role
    (all sub-partitions of a split comb serve the same access set), so
    results are provably identical to the unbalanced store. What splitting
    buys at 100 TB: no straggler files/tasks from a hot access-set (one
    partition holding 40% of the corpus becomes ⌈n/max⌉ balanced buckets),
    and a locality key for ANN-style sub-partition pruning if recall < 1 is
    acceptable.
    """
    import math

    from . import ivf

    # The rebalance consumes the store several times (size scan, per-comb
    # k-means sample, final search); truncate the mutation lineage once so
    # each pass reads materialized partitions — on disk the store IS
    # materialized parquet, so this mirrors production, it doesn't cheat.
    store = store.localCheckpoint(eager=False)
    sizes = partition_sizes(store).collect()  # dim-sized: one row per access set
    heavy = {r["comb_role"]: r["n_blocks"] for r in sizes if r["n_blocks"] > max_partition_size}
    light = store if not heavy else store.where(~F.col("comb_role").isin(list(heavy)))
    out = light.withColumn("part_key", F.col("comb_role"))
    for comb in sorted(heavy):
        part = store.where(F.col("comb_role") == comb)
        m = min(int(math.ceil(heavy[comb] / max_partition_size)), max(heavy[comb] // 2, 1))
        C = ivf.kmeans_fit(part, nlists=m, vec_col=vec_col, seed=seed)
        sub = ivf.assign_centroids(part, C, vec_col=vec_col)
        out = out.unionByName(
            sub.withColumn(
                "part_key", F.concat_ws("#", F.col("comb_role"), F.col("centroid_id"))
            ).drop("centroid_id")
        )
    return out


class VersionedStore:
    """Versioned parquet snapshots of the dynamic store: every mutation
    writes version ``v+1``; ``restore(v)`` reopens any past state.

    Parity: reference ``dynamic_partition/hnsw/insertion_rolllback.py`` /
    ``deletion_rolllback.py`` — there, undo is bespoke code that re-deletes
    inserted tuples / re-inserts deleted ones into the HNSW graphs. The
    lakehouse answer is TABLE VERSIONING: mutations never touch old files,
    so rollback is opening an older snapshot — O(1), exact, and concurrent
    readers are never disturbed. On Delta/Iceberg this maps to native time
    travel (``VERSION AS OF``); plain parquet gets the same semantics from
    version-suffixed directories. Reads start no Spark job: ``commit``
    records each version's schema for ``.schema(...)`` reads (a bare
    ``read.parquet`` infers it in a job). Snapshots are unpartitioned:
    pruning a ``partitionBy(comb_role)`` layout is out of scope.

    Scale: each version only rewrites partitions the mutation touched is the
    Delta/Iceberg refinement; the plain-parquet form here rewrites the store
    per version, which is fine for the store sizes the reference's rollback
    targets and keeps the recovery contract testable with zero deps.
    """

    def __init__(self, base_path: str, spark=None):
        self.base_path = base_path.rstrip("/")
        self._spark = spark
        self._schemas: dict[int, StructType] = {}  # live version -> written schema
        self._dvs: dict[int, int] = {}  # version -> number of DV files

    def _path(self, version: int) -> str:
        return f"{self.base_path}/v={version}"

    @property
    def versions(self) -> list[int]:
        return list(self._schemas)

    @property
    def latest_version(self) -> int:
        return self.versions[-1] if self.versions else -1

    def commit(self, store: DataFrame) -> int:
        """Write the next version; returns its number."""
        v = self.latest_version + 1
        store.write.mode("overwrite").parquet(self._path(v))
        self._spark = self._spark or store.sparkSession
        self._schemas[v] = store.schema
        return v

    def read(self, version: int | None = None) -> DataFrame:
        v = self.latest_version if version is None else version
        if v not in self._schemas:
            raise ValueError(f"unknown version {v}; have {self.versions}")
        return self._spark.read.schema(self._schemas[v]).parquet(self._path(v))

    def restore(self, version: int) -> int:
        """Roll back: re-commit the old snapshot as the new latest version
        (history is preserved — restore is itself undoable)."""
        return self.commit(self.read(version))

    # -------------------------------------------------- deletion vectors
    # H9: the Delta deletion-vector / Iceberg positional-delete pattern —
    # a delete writes a SMALL side file of deleted keys instead of
    # rewriting the snapshot; readers apply base MINUS dv. At 100 TB this
    # turns a 10-row delete from a table rewrite into a KB write, at the
    # price of one anti-join per read until compaction folds the DV in.

    def _dv_path(self, version: int, seq: int) -> str:
        return f"{self.base_path}/dv/v={version}/d={seq}"

    def delete_with_dv(self, deleted_ids: DataFrame, id_col: str = "block_id") -> int:
        """Record a delete against the LATEST version as a deletion-vector
        file; returns the DV sequence number. No snapshot is rewritten."""
        v = self.latest_version
        seq = self._dvs.setdefault(v, 0)
        key = self._schemas[v][id_col].dataType  # DV files share the snapshot key's type
        dv = deleted_ids.select(F.col(id_col).cast(key).alias("_dv_id"))
        dv.write.mode("overwrite").parquet(self._dv_path(v, seq))
        self._dvs[v] = seq + 1
        return seq

    def read_current(self, version: int | None = None, id_col: str = "block_id") -> DataFrame:
        """Snapshot MINUS its accumulated deletion vectors (the live view).
        ``read()`` stays the raw snapshot — time travel sees pre-DV state.
        No distinct on the DV keys: a left-anti join ignores repeats, and a
        distinct would add an aggregate and an exchange to every read."""
        v = self.latest_version if version is None else version
        base = self.read(v)
        n = self._dvs.get(v, 0)
        if n == 0:
            return base
        key = self._schemas[v][id_col].dataType.simpleString()
        dv = self._spark.read.schema(f"_dv_id {key}").parquet(*[self._dv_path(v, s) for s in range(n)])
        return base.join(F.broadcast(dv), base[id_col] == dv["_dv_id"], "left_anti")

    def compact_dvs(self, id_col: str = "block_id") -> int:
        """Fold the latest version's DVs into a new snapshot (the OPTIMIZE /
        rewrite step): commits base-minus-DV as the next version and clears
        the DV chain for it."""
        return self.commit(self.read_current(id_col=id_col))

    def vacuum(self, keep_last: int = 2) -> list[int]:
        """Retention: drop snapshot directories older than the last
        ``keep_last`` versions (Delta VACUUM / Iceberg expire_snapshots).
        Returns the expired version numbers; reading them afterwards raises."""
        import shutil

        expire = self.versions[:-keep_last] if keep_last > 0 else list(self.versions)
        for v in expire:
            shutil.rmtree(self._path(v), ignore_errors=True)
            # reclaim the version's deletion-vector side files too, and drop
            # the stale in-memory DV counter — retention covers DV space
            shutil.rmtree(f"{self.base_path}/dv/v={v}", ignore_errors=True)
            self._dvs.pop(v, None)
            del self._schemas[v]
        return expire


def _member_roles():  # a comb_role key's role ids, one row each
    return F.explode(F.transform(F.split("comb_role", ","), lambda c: c.cast("int")))


def comb_role_members(store: DataFrame) -> DataFrame:
    """comb_role → member role_id (exploded routing dimension, broadcast)."""
    return store.select("comb_role").distinct().select("comb_role", _member_roles().alias("role_id"))


def knn_dynamic(
    store: DataFrame,
    queries: DataFrame,
    query_roles: DataFrame,
    k: int = 10,
    metric: str = "l2",
) -> DataFrame:
    """Search the dynamic store: score only the blocks whose comb_role
    shares a role with the query, exact top-k merge.

    Parity: ``dynamic_partition/search.py:17`` (partition lookup by role
    intersection, per-partition search, merge). Exact: a doc is reached iff
    its access set intersects the user's roles — precisely the RBAC
    predicate — so recall is 1.0 with no per-block re-check. One store
    pass: a block reached through several roles is scored per role;
    ``dense_rank`` ties those copies (distinct blocks never tie) and the
    dedup after the ``rank <= k`` cut keeps one, reusing the window's
    query_id partitioning, so the top-k merge stays the only shuffle.
    """
    dist = _METRICS[metric]
    scored = (
        store.select("block_id", "document_id", "vector", _member_roles().alias("role_id"))
        .join(F.broadcast(query_roles.select("query_id", "role_id")), "role_id")
        .join(F.broadcast(queries.select("query_id", "query_vector")), "query_id")
        .select(
            "query_id", "block_id", "document_id",
            F.round(dist("vector", "query_vector"), 6).alias("distance"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("distance").asc(), F.col("block_id").asc())
    return (
        scored.withColumn("rank", F.dense_rank().over(w))
        .where(F.col("rank") <= k)
        .dropDuplicates(["query_id", "block_id"])
    )


# ------------------------------------------------------------- role churn
# Parity: dynamic_partition/hnsw/insertion.py (insert_new_role — choose the
# partition minimizing ΔQueryTime/ΔStorage, including a dedicated new
# partition as a candidate, then add the role's missing documents to it)
# and deletion.py (delete_role_and_related_data — drop the role's mapping
# and remove its documents from affected partitions unless another role
# there still needs them). The reference mutates Postgres partition tables
# role-by-role; here the store is a partition_id-keyed DataFrame and every
# mutation is set algebra, with the COST MODEL evaluated as a Spark
# expression over dim-sized partition statistics so the DuckDB oracle can
# replay the decision value-for-value.


def _dynamic_value(k: float) -> float:
    """insertion.py:188's dv loop: largest 1 + x/10 (x ≤ 3) with
    (1 + x/10) − k < 1 — pure tenths arithmetic, no float drift."""
    x = 3
    while (1 + x / 10) - k >= 1:
        x -= 1
    return 1 + x / 10


def role_insert_decision(
    store: DataFrame,
    partition_roles: DataFrame,
    permission_assignment: DataFrame,
    new_role_blocks: DataFrame,
    topk: int = 10,
    k: float = 0.9,
    beta: float = 0.5,
    a: float = 1.0,
    b: float = 8.0,
) -> DataFrame:
    """The insert_new_role cost table: one row per candidate partition
    (every existing partition plus the dedicated-new option, whose id is
    max+1) with ``delta_storage``, 6-dp ``cost`` = ΔQueryTime/ΔStorage,
    ``rank`` ordered by (cost, partition_id), and ``chosen`` = rank 1.

    Determinism (so the decision sits under the hash gate): the only
    libm-at-build constant ln(1/(dv−k)−1) is folded in PYTHON and embedded
    as the same literal in this plan and the oracle SQL (the LSH plane
    idiom); selectivity sums run over exact INTEGER intersection counts
    divided once (Σ|docs_r ∩ P| / |P| — the same estimator as the
    reference's Σ of per-role ratios, reordered to avoid float-sum order
    dependence); the remaining ln() calls take data-dependent arguments
    evaluated identically by both engines. Candidates the reference marks
    unusable (Δstorage = 0 → cost ∞) are ranked last by a NULL cost.

    Scale: the statistics are |partitions| + |partitions × roles| rows —
    aggregates with map-side combine over the store's (partition, doc)
    projection; the store itself is never collected.
    """
    import math

    dv = _dynamic_value(k)
    ln_const = math.log(1.0 / (dv - k) - 1.0)
    neg4b = -4.0 * beta
    kt = k * float(topk)
    t = float(topk)

    pd_ = store.select("partition_id", "document_id").distinct()
    ndocs = pd_.groupBy("partition_id").agg(F.count(F.lit(1)).alias("n_docs"))
    # Σ over the partition's roles of |docs_role ∩ partition_docs| — the
    # intersection counts stay integers until the single division
    pa2 = permission_assignment.select(
        F.col("role_id").alias("_pr"), F.col("document_id").alias("_pd")
    )
    # SHUFFLE_HASH: both sides are derived (no size stats) doc-keyed
    # relations — hash-equi, a sort buys nothing (registry no-SMJ contract)
    inter = (
        pd_.join(F.broadcast(partition_roles), "partition_id")
        .join(
            pa2.hint("SHUFFLE_HASH"),
            (F.col("_pr") == F.col("role_id")) & (F.col("_pd") == F.col("document_id")),
        )
        .groupBy("partition_id")
        .agg(F.count(F.lit(1)).alias("sum_inter"))
    )
    nroles = partition_roles.groupBy("partition_id").agg(
        F.count(F.lit(1)).alias("n_roles")
    )
    new_docs = new_role_blocks.select("document_id").distinct()
    n_new = new_docs.agg(F.count(F.lit(1)).cast("long").alias("n_new"))
    new_int = (
        pd_.join(F.broadcast(new_docs), "document_id")
        .groupBy("partition_id")
        .agg(F.count(F.lit(1)).alias("new_int"))
    )
    # the statistics frames are one row per partition — broadcast them all
    stats = (
        ndocs.join(F.broadcast(inter), "partition_id", "left")
        .join(F.broadcast(nroles), "partition_id", "left")
        .join(F.broadcast(new_int), "partition_id", "left")
        .crossJoin(F.broadcast(n_new))
        .select(
            "partition_id",
            "n_docs",
            F.coalesce("sum_inter", F.lit(0)).alias("sum_inter"),
            F.coalesce("n_roles", F.lit(0)).alias("n_roles"),
            F.coalesce("new_int", F.lit(0)).alias("new_int"),
            "n_new",
        )
    )

    def ef(s):
        return (F.lit(ln_const) / (F.lit(neg4b) * s)) * F.lit(t) + F.lit(kt) / s

    sel_sum = F.col("sum_inter").cast("double") / F.col("n_docs").cast("double")
    sel_b = sel_sum / F.col("n_roles").cast("double")
    new_sel = F.col("new_int").cast("double") / F.col("n_docs").cast("double")
    sel_a = (sel_sum + new_sel) / (F.col("n_roles").cast("double") + F.lit(1.0))
    qt_b = F.log(F.col("n_docs").cast("double")) * (F.lit(a) * ef(sel_b) + F.lit(b))
    qt_a = F.log((F.col("n_docs") + F.col("n_new")).cast("double")) * (
        F.lit(a) * ef(sel_a) + F.lit(b)
    )
    dst = (F.col("n_new") - F.col("new_int")).cast("long")
    existing = stats.select(
        "partition_id",
        dst.alias("delta_storage"),
        F.when(dst > 0, F.round((qt_a - qt_b) / dst.cast("double"), 6)).alias("cost"),
    )
    # dedicated-new-partition candidate (insertion.py step 4): sel = 1
    ef1 = (ln_const / (neg4b * 1.0)) * t + kt / 1.0  # python fold — pure literals
    max_pid = store.agg(F.max("partition_id").cast("long").alias("mp"))
    new_cand = n_new.crossJoin(F.broadcast(max_pid)).select(
        (F.col("mp") + 1).alias("partition_id"),
        F.col("n_new").cast("long").alias("delta_storage"),
        F.when(
            F.col("n_new") > 0,
            F.round(
                F.log(F.col("n_new").cast("double"))
                * F.lit(a * ef1 + b)
                / F.col("n_new").cast("double"),
                6,
            ),
        ).alias("cost"),
    )
    w = Window.orderBy(F.col("cost").asc_nulls_last(), F.col("partition_id").asc())
    return (
        existing.unionByName(new_cand)
        .withColumn("rank", F.row_number().over(w))
        .withColumn("chosen", (F.col("rank") == 1).cast("int"))
    )


def insert_role(
    store: DataFrame,
    partition_roles: DataFrame,
    permission_assignment: DataFrame,
    new_role_id: int,
    new_role_blocks: DataFrame,
    decision: DataFrame | None = None,
    **cost_params,
) -> tuple[DataFrame, DataFrame]:
    """Apply insert_new_role: route the new role to the decision's chosen
    partition and add only its MISSING documents' blocks there (the
    reference's partition_docs ∪ new_role_documents update); returns the
    updated (store, partition_roles). The decision collect is ONE row."""
    if decision is None:
        decision = role_insert_decision(
            store, partition_roles, permission_assignment, new_role_blocks, **cost_params
        )
    chosen = decision.where(F.col("chosen") == 1).select("partition_id").first()[0]
    existing_docs = store.where(F.col("partition_id") == chosen).select("document_id").distinct()
    added = (
        new_role_blocks.join(existing_docs.hint("SHUFFLE_HASH"), "document_id", "left_anti")
        .withColumn("partition_id", F.lit(int(chosen)).cast("long"))
        .select(*store.columns)
    )
    spark = store.sparkSession
    from ..sources import literal_df

    pr_new = literal_df(
        spark, [(int(chosen), int(new_role_id))], "partition_id long, role_id int"
    )
    return store.unionByName(added), partition_roles.select(
        F.col("partition_id").cast("long"), F.col("role_id").cast("int")
    ).unionByName(pr_new)


def delete_role(
    store: DataFrame,
    partition_roles: DataFrame,
    permission_assignment: DataFrame,
    role_id: int,
) -> tuple[DataFrame, DataFrame]:
    """Apply delete_role_and_related_data: drop the role's partition
    mapping and remove its documents from each affected partition UNLESS
    a remaining role of that partition still needs them (deletion.py
    step 8's role_documents − other_role_documents). All set algebra —
    anti-joins on (partition, document); untouched partitions stream
    through unchanged."""
    from . import hints
    from .knn import _perm_est_bytes

    role_docs = permission_assignment.where(F.col("role_id") == role_id).select("document_id").distinct()
    affected = partition_roles.where(F.col("role_id") == role_id).select("partition_id").distinct()
    remaining = partition_roles.where(F.col("role_id") != role_id)
    needed = (
        remaining.join(F.broadcast(affected), "partition_id")
        .join(permission_assignment, "role_id")
        .select("partition_id", "document_id")
        .distinct()
    )
    doomed = (
        store.join(F.broadcast(affected), "partition_id", "left_semi")
        # gated (r12): one role's doc set is still doc-cardinality (a hot
        # role can cover most of a 10⁹-doc corpus); bound by rows(perm)
        .join(hints.gated_broadcast(role_docs, _perm_est_bytes(permission_assignment)), "document_id", "left_semi")
        .join(needed.hint("SHUFFLE_HASH"), ["partition_id", "document_id"], "left_anti")
        .select("partition_id", "block_id")
    )
    pruned = store.join(
        doomed.hint("SHUFFLE_HASH"), ["partition_id", "block_id"], "left_anti"
    )
    return pruned, partition_roles.where(F.col("role_id") != role_id)


def knn_role_routed(
    store: DataFrame,
    partition_roles: DataFrame,
    queries: DataFrame,
    query_roles: DataFrame,
    permission_assignment: DataFrame,
    k: int = 10,
    metric: str = "l2",
) -> DataFrame:
    """Search the role-churned store: each query scans only the partitions
    whose role set intersects its roles, applies the row-level permission
    check (multi-role partitions over-approximate), takes per-partition
    local top-k, dedups blocks reachable through several partitions (min
    distance — the knn_role_partition merge tail, ``knn._grouped_topk``),
    and ranks globally. Exact vs prefilter by construction: every
    permitted doc of every query role lives in at least one routed
    partition (insert adds the new role's docs to its routed partition;
    delete only removes docs no remaining role of that partition needs)."""
    routed = (
        F.broadcast(query_roles)
        .join(F.broadcast(partition_roles), "role_id")
        .select("query_id", "partition_id")
        .distinct()
    )
    qdocs = (
        F.broadcast(query_roles)
        .join(permission_assignment, "role_id")
        .select("query_id", "document_id")
        .distinct()
    )
    visible = (
        store.join(F.broadcast(routed), "partition_id")
        .join(qdocs.hint("SHUFFLE_HASH"), ["query_id", "document_id"], "left_semi")
    )
    return _grouped_topk(visible, queries, k, metric, "partition_id")
