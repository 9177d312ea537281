"""RBAC-filtered top-k vector search strategies.

Parity: reference ``basic_benchmark/common_function.py`` —
``predicate_prefilter_statistics_sql`` (:79), ``predicate_postfilter_…``
(:298), ``controller/baseline/prefilter/prefilter_role.py``,
``prefilter_combination_role.py``, ``controller/dynamic_partition/search.py``.

The reference answers ONE ``(user, vector)`` query per SQL round-trip; the
Spark-native form is **batch**: the query workload is itself a DataFrame and
every strategy answers all queries in one distributed plan.

Every strategy is a CANDIDATE step feeding one of two exact kernels:
- ``local_topk`` scores each scan batch against the whole query matrix;
  with a Q-bit permission mask (:func:`_query_doc_masks`) it is the
  prefilter / rls / qd-tree kernel, unmasked it is postfilter's global
  phase;
- ``_gather_local_topk`` scores pre-joined (query, block) pairs; grouped by
  role / partition it feeds the role-partition family's local window →
  dedup → global merge (:func:`_grouped_topk`), ungrouped the comb-role
  and budget-layout searches.
Both reduce each scan partition to ≤ Q×k rows with Arrow-batched numpy in
the expression folds' j-order, then a global window ranks the P×Q×k
survivors. The expression plan exists once, as :func:`ground_truth` — the
reference every strategy is pinned against and the DuckDB oracle replays.

Scale design (100 TB blocks table, ~10³ queries):
- queries + their role sets are broadcast (dim-sized);
- permission tables are broadcast when small, else semi-joined on doc_id.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions import vector as V
from . import hints


_METRICS = {
    "l2": V.l2_distance,
    "cosine": V.cosine_distance,
    "ip": V.neg_inner_product,
    "l1": V.l1_distance,
}


def topk_per_query(scored: DataFrame, k: int, dist_col: str = "distance", id_col: str = "block_id") -> DataFrame:
    """Global exact top-k per query_id; ties broken by id for determinism."""
    w = Window.partitionBy("query_id").orderBy(F.col(dist_col).asc(), F.col(id_col).asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


def _perm_est_bytes(permission_assignment: DataFrame) -> int:
    """Estimated broadcast bytes of the raw (role_id, document_id)
    permission relation — docs×roles, so doc-cardinality: every hint on it
    is size-gated (r12, VERDICT r11 item 1). The row count is an
    artifact-scale property, memoized per session like the mask gate's
    stats. When the gate drops the hint, the consuming join still
    broadcasts its dim-sized other side (query_roles / qpos carry their
    own hints), so the permission relation streams instead of shipping."""
    n = hints.memoized_stat(permission_assignment, "n_rows", permission_assignment.count)
    return int(n) * 24


def _rel_est_bytes(rel: DataFrame, bytes_per_row: int) -> int:
    """Estimated broadcast bytes of a derived permitted relation (e.g. the
    role-expanded doc list), priced by its own memoized count. The count
    plan embeds the already-gated permission hint, so pricing it is itself
    scale-safe: above the gate the count is a linear streamed join, never
    a broadcast build of the huge side."""
    n = hints.memoized_stat(rel, "n_rows", rel.count)
    return int(n) * bytes_per_row


def _query_docs(query_roles: DataFrame, permission_assignment: DataFrame) -> DataFrame:
    """DISTINCT permitted (query_id, document_id) pairs: roles → docs. The
    permission relation is docs×roles, so its hint is size-gated (r12)."""
    return (
        F.broadcast(query_roles)
        .join(hints.gated_broadcast(permission_assignment, _perm_est_bytes(permission_assignment)), "role_id")
        .select("query_id", "document_id")
        .distinct()
    )


def _check_impl(value: str) -> None:
    """Compatibility argument with one legal value, ``"numpy"``: the kernel
    path is each strategy's only implementation; the expression plan lives
    on once, as :func:`ground_truth`."""
    if value != "numpy":
        raise ValueError(
            f"unknown search implementation {value!r}: only 'numpy' exists "
            "(use ground_truth for the expression plan)"
        )


def _ranked(scored: DataFrame, k: int) -> DataFrame:
    """Global top-k merge shared by every strategy: the output contract."""
    return topk_per_query(scored, k).select("query_id", "block_id", "document_id", "distance", "rank")


def _masked_topk(
    blocks: DataFrame,
    queries: DataFrame,
    query_roles: DataFrame,
    permission_assignment: DataFrame,
    k: int,
    metric: str,
    doc_masks: DataFrame | None,
) -> DataFrame:
    """Exact top-k over ``blocks`` with the permission predicate run AS
    DATA: a per-doc query-BITMASK column (Q bits ≈ Q/8 bytes,
    :func:`_query_doc_masks`) joins the blocks scan ONCE, and the masked
    ``local_topk`` kernel scores each batch against the whole query
    matrix, excluding masked pairs from the per-batch cut — the scan
    streams each vector exactly once instead of replicating the vector
    payload per (query, permitted block). ``doc_masks`` accepts a PREBUILT
    mask table (:func:`_query_doc_masks` output, checkpointed per
    workload) — the build-once/search-many contract every other offline
    index artifact here follows."""
    masks = (
        doc_masks if doc_masks is not None
        else _query_doc_masks(queries, query_roles, permission_assignment)
    )
    scored = local_topk(
        _join_masks(blocks, masks, queries, permission_assignment),
        queries, k, metric, mask_col="qmask",
    )
    return _ranked(scored, k)


def _grouped_topk(
    routed: DataFrame, queries: DataFrame, k: int, metric: str, group_col: str
) -> DataFrame:
    """Per-(query, group) local top-k → dedup blocks reachable through
    several groups (min distance) → global top-k: the merge tail of the
    role-partition family. ``routed`` pairs each query with the rows of
    every group it searches; the gather kernel pre-cuts per (query,
    group) and batch, so the local window only sees survivors."""
    scored = _gather_local_topk(routed, queries, k, metric, group_col=group_col)
    w_local = Window.partitionBy("query_id", group_col).orderBy(F.col("distance").asc(), F.col("block_id").asc())
    local = scored.withColumn("lr", F.row_number().over(w_local)).where(F.col("lr") <= k)
    dedup = local.groupBy("query_id", "block_id", "document_id").agg(F.min("distance").alias("distance"))
    return _ranked(dedup, k)


def knn_prefilter(
    blocks: DataFrame,
    queries: DataFrame,
    query_roles: DataFrame,
    permission_assignment: DataFrame,
    k: int = 10,
    metric: str = "l2",
    impl: str = "numpy",
    doc_masks: DataFrame | None = None,
) -> DataFrame:
    """Prefilter strategy: restrict to permitted blocks, then exact top-k.

    Parity: ``predicate_prefilter_statistics_sql`` (common_function.py:79):
    resolve accessible document_ids, then ``ORDER BY vector <-> q LIMIT k``
    over them. Recall = 1.0 by construction.

    The candidate step is the Q-bit permission mask (:func:`_masked_topk`),
    so the scan streams each vector once. ``doc_masks`` accepts a
    prebuilt mask table.
    """
    _check_impl(impl)
    return _masked_topk(blocks, queries, query_roles, permission_assignment, k, metric, doc_masks)


def knn_postfilter(
    blocks: DataFrame,
    queries: DataFrame,
    query_roles: DataFrame,
    permission_assignment: DataFrame,
    k: int = 10,
    expansion: int = 4,
    metric: str = "l2",
    impl: str = "numpy",
) -> DataFrame:
    """Postfilter strategy: global top-(k·expansion) ignoring permissions,
    then drop unpermitted rows, keep ≤ k.

    Parity: ``predicate_postfilter_statistics_sql`` (common_function.py:298)
    — ANN scan with inflated LIMIT then permission join; recall < 1 when a
    user's permitted blocks are sparse among global neighbors (the
    selectivity trade-off the reference benchmarks).

    The global phase is two-phase (``local_topk``'s Arrow/BLAS per-batch
    pre-cut), so the unpermissioned scan emits P·Q·(k·expansion) rows
    instead of N·Q; every metric routes through the kernel.
    """
    _check_impl(impl)
    global_topk = topk_per_query(
        local_topk(blocks, queries, k * expansion, metric), k * expansion
    ).drop("rank")

    # gated (r12): qdocs is doc-cardinality — the probe side here is only
    # Q·k·expansion rows, so above the gate Spark auto-broadcasts THAT side
    qdocs = _query_docs(query_roles, permission_assignment)
    filtered = global_topk.join(
        hints.gated_broadcast(qdocs, _rel_est_bytes(qdocs, 32)), ["query_id", "document_id"]
    )
    return _ranked(filtered, k)


def knn_role_partition(
    blocks: DataFrame,
    queries: DataFrame,
    query_roles: DataFrame,
    permission_assignment: DataFrame,
    k: int = 10,
    metric: str = "l2",
) -> DataFrame:
    """Role-partition strategy: search each of the user's role partitions
    (blocks × permission on role_id), take per-partition top-k, dedup blocks
    reachable via several roles (min distance), merge to global top-k.

    Parity: ``controller/baseline/prefilter/prefilter_role.py`` — per-role
    partition tables ``documentblocks_role_{r}`` searched independently and
    merged. In Spark the "partition tables" are the role-replicated join
    output; on disk the same layout is produced by
    ``partitioning.write_role_partitions`` (partitionBy(role_id) → partition
    pruning replaces per-table indexes).

    The role-replicated rows are scored through the per-(query, role)
    gather-kernel pre-cut (:func:`_grouped_topk`).
    """
    # replicated per role; the perm hint is gated (r12): docs×roles — above
    # the gate this join shuffles on document_id (bucketable)
    role_blocks = blocks.join(
        hints.gated_broadcast(permission_assignment, _perm_est_bytes(permission_assignment)),
        "document_id",
    )
    routed = role_blocks.join(F.broadcast(query_roles), "role_id")
    return _grouped_topk(routed, queries, k, metric, "role_id")


def knn_role_partition_logical(
    blocks: DataFrame,
    queries: DataFrame,
    query_roles: DataFrame,
    permission_assignment: DataFrame,
    k: int = 10,
    metric: str = "l2",
) -> DataFrame:
    """C3-LOGICAL: the reference's pointer-index variant
    (``logical_partition_benchmark/benchmark/src/pointer_hnsw_index.cpp``
    + ``shared_vector_table.cpp``, compared against the physical copies
    of ``independent_hnsw_index.cpp``): per-role partitions exist ONLY
    as membership pointer lists (role_id → block_id) over one shared
    vector table — no vector is ever duplicated per role. Search routes
    a query's roles to their pointer lists, fetches the pointed-at rows
    from the shared table by id, then runs the identical per-role local
    top-k → dedup → global merge, so results equal physical role
    replication row-for-row (one oracle covers both).

    The trade this materializes — the reference benchmark's subject —
    is storage for a query-time fetch join: physical replication stores
    ≈ avg-roles-per-doc × the corpus; logical stores the corpus once
    plus 16-byte pointer rows, and pays one id-keyed join per search
    (co-locatable by bucketing both sides on block_id at scale;
    SHUFFLE_HASH here — two fact relations, nothing to sort).
    ``sources.space.logical_vs_physical_report`` quantifies the bytes.
    """
    # the pointer lists: ids only — the "index build" of the pointer
    # variant (permission dim broadcasts; the blocks fact streams)
    members = (
        blocks.select("document_id", "block_id")
        # gated (r12): docs×roles — above the gate the pointer-list build
        # shuffles on document_id (bucketable, like the fetch join below)
        .join(hints.gated_broadcast(permission_assignment, _perm_est_bytes(permission_assignment)), "document_id")
        .select("role_id", "block_id", "document_id")
    )
    routed = members.join(F.broadcast(query_roles), "role_id")
    fetched = routed.join(
        blocks.select("block_id", "vector").hint("SHUFFLE_HASH"), "block_id"
    )
    return _grouped_topk(fetched, queries, k, metric, "role_id")


def knn_comb_role_partition(
    blocks: DataFrame,
    queries: DataFrame,
    query_roles: DataFrame,
    permission_assignment: DataFrame,
    k: int = 10,
    metric: str = "l2",
    impl: str = "numpy",
) -> DataFrame:
    """Combination-role strategy: one partition per *distinct user role-set*
    (canonical sorted key); each partition holds every block that role-set
    may access; a query searches exactly its own comb-role partition.

    Parity: ``prefilter_combination_role.py`` +
    ``dynamic_partition/search.py:17`` (CombRolePartitions lookup by
    ``comb_role = sorted(user_roles)``). Results equal prefilter (recall 1.0)
    — the win is single-partition locality, which on disk maps to
    partitionBy(comb_role) and partition pruning.
    """
    _check_impl(impl)
    comb = query_roles.groupBy("query_id").agg(
        F.array_join(F.array_sort(F.collect_list(F.col("role_id").cast("string"))), ",").alias("comb_role")
    )
    # all distinct comb_roles with their member roles
    comb_members = query_roles.join(comb, "query_id").select("comb_role", "role_id").distinct()
    # partition contents: block ∈ partition if any member role may access it
    part_blocks = (
        F.broadcast(comb_members)
        # gated (r12): docs×roles — comb_members keeps its dim-sized hint,
        # so above the gate the join builds from that side and perm streams
        .join(hints.gated_broadcast(permission_assignment, _perm_est_bytes(permission_assignment)), "role_id")
        .select("comb_role", "document_id")
        .distinct()
        .join(blocks, "document_id")
    )
    routed = part_blocks.join(F.broadcast(comb), "comb_role")
    # one query ↔ one partition: the ungrouped gather kernel pre-cuts the
    # (query, block) pairs, and no dedup is needed
    return _ranked(_gather_local_topk(routed, queries, k, metric), k)


def knn_rls(
    blocks: DataFrame,
    queries: DataFrame,
    query_roles: DataFrame,
    permission_assignment: DataFrame,
    k: int = 10,
    metric: str = "l2",
    impl: str = "numpy",
    doc_masks: DataFrame | None = None,
) -> DataFrame:
    """Row-level-security semantics: the permission predicate is applied at
    the scan (a filtering view), identical results to prefilter.

    Parity: ``controller/baseline/pg_row_security/row_level_security.py`` —
    Postgres RLS policy ``USING (document_id IN (SELECT …))``; in Spark the
    policy is a semi-join wrapper over the scan. RLS ≡ prefilter semantics
    (the policy restricts the scan to permitted rows), so this rides the
    SAME predicate-as-data Q-bit mask kernel as :func:`knn_prefilter`: the
    mask join IS the scan-level policy, applied once per row instead of a
    per-(query, block) cross join that would replicate the vector payload
    Q times — the 100×-scale shape.
    """
    return knn_prefilter(
        blocks, queries, query_roles, permission_assignment, k, metric,
        impl=impl, doc_masks=doc_masks,
    )


def knn_qdtree(
    assigned_blocks: DataFrame,
    queries: DataFrame,
    query_roles: DataFrame,
    permission_assignment: DataFrame,
    k: int = 10,
    metric: str = "l2",
    doc_masks: DataFrame | None = None,
) -> DataFrame:
    """Qd-tree-partitioned search: route each query to the tree leaves that
    hold ≥1 of its permitted documents, scan only those, permission-check,
    exact top-k.

    Parity: ``baseline/HQI/qd_tree.py`` search path — the qd-tree prunes
    leaves whose role predicate excludes the user, then scans surviving
    leaves. ``assigned_blocks`` carries ``partition_id`` from
    ``partitioning.qdtree_assignment``; on disk (partitionBy(partition_id))
    the routing join becomes Catalyst partition pruning. Exact (recall 1.0):
    routing only ever removes leaves with zero permitted docs.

    Leaf pruning stays PARTITION-granular — a broadcast semi-join keeps
    only leaves holding ≥1 permitted doc for ≥1 query (on disk: partition
    pruning) — and the per-(query, block) check rides the prefilter
    family's Q-bit mask kernel, which already encodes the per-query
    visibility a per-query leaf routing table would.
    """
    # live leaves = partitions holding ≥1 block of ≥1 permitted doc:
    # ONE corpus pass + a broadcast semi-join + one tiny partition_id
    # distinct. A per-query routing table would cost three Exchanges, one
    # of them corpus-sized, and the mask already carries per-query
    # visibility. Duplicates on the semi-join's build side are harmless
    # by semi-join semantics.
    # both layers gated (r12): the permission relation itself AND the
    # role-expanded doc list derived from it are doc-cardinality. Above
    # the gate the semi-join shuffles on document_id (bucketable, the
    # ACORN fallback shape).
    permitted_docs = (
        F.broadcast(query_roles)
        .join(hints.gated_broadcast(permission_assignment, _perm_est_bytes(permission_assignment)), "role_id")
        .select("document_id")
    )
    live_leaves = (
        assigned_blocks
        .join(hints.gated_broadcast(permitted_docs, _rel_est_bytes(permitted_docs, 24)), "document_id", "leftsemi")
        .select("partition_id")
        .distinct()
    )
    pruned = assigned_blocks.join(F.broadcast(live_leaves), "partition_id", "leftsemi")  # leaf pruning
    return _masked_topk(pruned, queries, query_roles, permission_assignment, k, metric, doc_masks)


def local_topk(
    blocks: DataFrame,
    queries: DataFrame,
    k: int,
    metric: str = "l2",
    vec_col: str = "vector",
    id_cols: tuple[str, str] = ("block_id", "document_id"),
    mask_col: str | None = None,
    q_chunk: int | None = None,
) -> DataFrame:
    """Stage-1 of two-phase top-k: per scan-partition top-k for every query,
    vectorized with numpy over Arrow batches (``mapInPandas``).

    This is the 100 TB path: each executor partition emits at most Q×k rows
    regardless of partition size, so the global merge (stage-2 window) sees
    P×Q×k rows instead of N×Q. Distances accumulate per-dim in the codegen
    fold's j-order (bit-identical to the expression plan); nothing is
    collected on the driver — queries arrive at executors via a broadcast
    local collect of a dim-sized DataFrame.

    ``mask_col`` names an ``array<long>`` per-row query-BITMASK column
    (bit p set = query at sorted position p may see this row — built by
    :func:`_query_doc_masks`): masked-out (row, query) pairs are excluded
    from the cut and never emitted, which turns this into the PREFILTER
    kernel — the permission predicate travels as ~Q/8 bytes per row
    instead of a per-(query, block) join that replicates the vector
    payload Q times. Permitted NaN distances (cosine zero-norm) still
    sort last-but-emitted, exactly as :func:`ground_truth` ranks them.

    ``q_chunk`` caps the query-axis width of the per-batch distance
    matrix (rows × q_chunk float64); default auto-sizes to a ~32 MB
    budget so a 10⁴-query production batch never materializes a
    multi-GB (rows × Q) matrix. Chunking is row-identical to the
    unchunked kernel (pytest-pinned): the per-dim folds are elementwise
    per (row, query) pair and the cut is per-query-column independent.
    """
    import numpy as np

    q_rows = sorted(
        queries.select("query_id", "query_vector").collect(),
        key=lambda r: r["query_id"],
    )  # sorted: bitmask bit p ≡ p-th query id (the _query_doc_masks contract)
    qids = np.array([r["query_id"] for r in q_rows])
    if mask_col is not None and len(np.unique(qids)) != len(qids):
        # a duplicated query_id would shift every later bit position —
        # wrong rows with no error; fail at plan time instead
        raise ValueError("local_topk(mask_col=): duplicate query_id in queries")
    b_id, d_id = id_cols
    schema = f"query_id long, {b_id} long, {d_id} long, distance double"
    if not q_rows:
        return blocks.sparkSession.createDataFrame([], schema)
    Q = np.array([np.asarray(r["query_vector"], dtype=np.float64) for r in q_rows])
    qh = _qset_hash(qids) if mask_col is not None else 0
    bc = blocks.sparkSession.sparkContext.broadcast((qids, Q, qh))
    _Q_CHUNK_BYTES = 32 << 20  # ~32 MB distance-matrix budget per batch

    def part(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        qids_, Q_, qh_ = bc.value
        nq = len(qids_)
        # j-order query-norm fold (the same sequential sum the expression runs);
        # computed once over the full matrix, sliced per chunk — the fold
        # is elementwise per query so slicing cannot change any value
        qn2 = np.zeros(Q_.shape[0])
        for j in range(Q_.shape[1]):
            qn2 = qn2 + Q_[:, j] * Q_[:, j]
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            n = X.shape[0]
            bids = pdf[b_id].to_numpy()
            dids = pdf[d_id].to_numpy()
            kk = min(k, n)
            if mask_col is not None:
                # '<i8' pins little-endian byte order BEFORE the uint8
                # view — on a big-endian executor the plain int64 view
                # would scramble bit positions silently (no-op copy-free
                # on little-endian hosts)
                mb = np.stack(pdf[mask_col].to_numpy()).astype("<i8")
                exp_words = (nq + 63) // 64
                if mb.shape[1] != exp_words:
                    # a stale/mismatched doc_masks checkpoint would
                    # misalign bit positions and return wrong rows —
                    # fail loudly instead
                    raise ValueError(
                        f"qmask word count {mb.shape[1]} != ceil(Q/64)="
                        f"{exp_words}: doc_masks was built over a different "
                        "query set (stale checkpoint?)"
                    )
                if "qset_hash" in pdf.columns:
                    got = pdf["qset_hash"].iloc[0]
                    if int(got) != qh_:
                        raise ValueError(
                            f"qmask query-set hash {got} != expected {qh_}: "
                            "doc_masks was built over a different query set "
                            "(stale checkpoint?)"
                        )
                perm_all = np.unpackbits(
                    mb.view(np.uint8).reshape(n, -1), axis=1, bitorder="little"
                )[:, :nq].astype(bool)
            else:
                perm_all = None
            # query-axis chunking: the (n × chunk) float64 distance matrix
            # stays under the ~32 MB budget however many queries arrive
            step = q_chunk if q_chunk else max(1, _Q_CHUNK_BYTES // (8 * n))
            sel_rows: list = []
            qcols: list = []
            dvals: list = []
            for q0 in range(0, nq, step):
                Qc = Q_[q0:q0 + step]
                nc = Qc.shape[0]
                if metric == "l2":
                    # per-dim j-order fold ≡ the expression's sequential (x−q)² sum
                    # (vector.py's left-to-right _dsum contract)
                    d2 = np.zeros((n, nc))
                    for j in range(Q_.shape[1]):
                        t = X[:, j][:, None] - Qc[:, j][None, :]
                        d2 = d2 + t * t
                    D = np.sqrt(d2)
                elif metric == "cosine":
                    dot = np.zeros((n, nc))
                    xn2 = np.zeros(n)
                    for j in range(Q_.shape[1]):
                        dot = dot + X[:, j][:, None] * Qc[:, j][None, :]
                        xn2 = xn2 + X[:, j] * X[:, j]
                    den = np.sqrt(xn2)[:, None] * np.sqrt(qn2[q0:q0 + step])[None, :]
                    with np.errstate(divide="ignore", invalid="ignore"):
                        D = 1.0 - np.where(den == 0.0, np.nan, dot / den)
                elif metric == "ip":
                    dot = np.zeros((n, nc))
                    for j in range(Q_.shape[1]):
                        dot = dot + X[:, j][:, None] * Qc[:, j][None, :]
                    D = -dot
                elif metric == "l1":
                    acc = np.zeros((n, nc))
                    for j in range(Q_.shape[1]):
                        acc = acc + np.abs(X[:, j][:, None] - Qc[:, j][None, :])
                    D = acc
                else:
                    raise ValueError(metric)
                # Select on ROUNDED distances with (distance, block_id) order
                # so boundary ties resolve exactly as the stage-2 merge / the
                # exact window plan do — argpartition picks a candidate
                # threshold, then every row at-or-below it competes under the
                # deterministic order. Half-AWAY-from-zero ≡ F.round
                # (np.round's half-even diverges at exact halves). Boundary
                # caveat: F.round rounds HALF_UP on the SHORTEST-DECIMAL
                # BigDecimal of the double, while this kernel rounds the
                # binary value ×1e6 — a distance whose shortest decimal ends
                # in an exact half at the 7th digit could differ in the last
                # ulp of the 6th decimal. Unobserved for sqrt/division
                # outputs across every hash-green gate since r7; the pytest
                # parity pins would surface any occurrence.
                with np.errstate(invalid="ignore"):
                    Dr = np.copysign(np.floor(np.abs(D) * 1e6 + 0.5), D) / 1e6 + 0.0
                # NaN → +inf for SELECTION (NaN sorts last, never silently
                # dropped — a query whose batch is all zero-norm rows still
                # gets kk rows, as the window plan would rank them). With a
                # mask: excluded pairs key to +inf and are dropped AFTER the
                # cut; permitted NaN keys to DBL_MAX so it outranks excluded
                # rows but still sorts after every real distance.
                if perm_all is not None:
                    perm = perm_all[:, q0:q0 + step]
                    key = np.where(
                        perm,
                        np.where(np.isnan(Dr), np.finfo(np.float64).max, Dr),
                        np.inf,
                    )
                else:
                    perm = None
                    key = np.where(np.isnan(Dr), np.inf, Dr)
                part_idx = np.argpartition(key, kk - 1, axis=0)[:kk] if kk < n else None
                for ci in range(nc):
                    col = key[:, ci]
                    if part_idx is None:
                        cand = np.arange(n)
                    else:
                        cand = np.flatnonzero(col <= col[part_idx[:, ci]].max())
                    pick = cand[np.lexsort((bids[cand], col[cand]))][:kk]
                    if perm is not None:
                        pick = pick[perm[pick, ci]]
                    sel_rows.append(pick)
                    qcols.append(np.full(len(pick), q0 + ci, dtype=np.int64))
                    dvals.append(Dr[pick, ci])
            sel = np.concatenate(sel_rows)
            qsel = np.concatenate(qcols)
            out = {
                "query_id": qids_[qsel],
                b_id: bids[sel],
                d_id: dids[sel],
                "distance": np.concatenate(dvals),
            }
            yield pd.DataFrame(out)

    out = blocks.mapInPandas(part, schema=schema)
    # pandas→Arrow masks NaN as null; restore the expression's explicit NaN
    # (zero-norm cosine rows must sort LAST ascending, a null sorts first)
    return out.withColumn("distance", F.coalesce("distance", F.lit(float("nan"))))


def _qset_hash(qids) -> int:
    """63-bit stable hash of the sorted query-id list — stamped on every
    mask row by :func:`_query_doc_masks` and checked by the kernel, so a
    stale ``doc_masks`` artifact with the RIGHT word count but the WRONG
    query set still fails loudly instead of misaligning bit positions."""
    import hashlib

    payload = ",".join(str(int(q)) for q in qids).encode()
    return int.from_bytes(hashlib.md5(payload).digest()[:8], "little") >> 1


def _join_masks(
    blocks: DataFrame,
    masks: DataFrame,
    queries: DataFrame,
    permission_assignment: DataFrame,
) -> DataFrame:
    """Join the Q-bit mask table into the blocks scan with a SIZE-GATED
    broadcast hint.

    The mask table holds ≤ one row per permissioned document — KB-MB at
    benchmark scale (hint exactly right), but tens of GB at 10⁹ docs, where
    a hard hint would not degrade, it would ABORT (8 GB broadcast ceiling /
    driver OOM). The gate prices the relation from its INPUTS, never by
    re-running the mask build: rows ≤ countDistinct(document_id) over the
    permission relation (one linear partial-aggregated job) and word width
    = ceil(Q/64) from the query count (a dim-sized job) — together far
    cheaper than the distinct+groupBy the mask table itself costs — and
    MEMOIZED per relation (:func:`hints.memoized_stat`): the stats are
    artifact-scale properties, priced once per session like table
    statistics, so repeated searches over the same corpus/workload pay no
    per-call job (the per-call form measurably cost +0.2-1.0 s per bench
    entry). The mask BUILD itself stays timed in-call (the r10 honesty
    decision). The bound is an overestimate for masks restricted to a
    query subset — conservative: it can only skip a broadcast that would
    have fit. Under :data:`hints.BROADCAST_LIMIT_BYTES` the hint
    broadcasts; above it, the join shuffles on document_id — bucketable,
    the same fallback shape as the ACORN metadata join (SURVEY D5). Both
    regimes are plan-tested.
    """
    n_q = hints.memoized_stat(queries, "n_rows", queries.count)
    n_docs = hints.memoized_stat(
        permission_assignment, "n_distinct_docs",
        lambda: permission_assignment.agg(
            F.countDistinct("document_id").alias("n")
        ).first()["n"] or 0,
    )
    # per-row: document_id 8 + qset_hash 8 + array header ~16 + 8·words
    est = int(n_docs or 0) * (32 + 8 * max(1, (int(n_q) + 63) // 64))
    return blocks.join(hints.gated_broadcast(masks, est), "document_id")


def _query_doc_masks(
    queries: DataFrame,
    query_roles: DataFrame,
    permission_assignment: DataFrame,
) -> DataFrame:
    """(document_id, qmask array<long>): bit p of the packed mask set iff
    the query at sorted position p (ascending query_id — the order
    ``local_topk`` broadcasts) may access the document. The predicate-as-
    data side of the prefilter kernel: Q bits ≈ Q/8 bytes per DOC, joined
    to the blocks scan once, instead of a per-(query, block) join that
    replicates the vector payload per query. Docs visible to no query are
    absent (ground_truth's inner join drops them too).

    Built in expressions over one dim-sized collect: roles → permitted
    (query, doc) pairs → per-doc sorted-position set → packed 64-bit
    words. The query→position map is Q rows (the same bounded collect
    ``local_topk`` makes for the query matrix), created as a literal
    DataFrame — no count job, no global-window shuffle. The output is
    ≤ one row per permissioned document."""
    spark = queries.sparkSession
    qids = sorted(r[0] for r in queries.select("query_id").distinct().collect())
    from ..sources import literal_df

    # r12 guide §6: literal frames go through the Arrow path — the classic
    # list form re-pickles rows through the Python bridge on every executed
    # job (measured −0.23 s/call on the mask entries at sf0.1)
    qpos = literal_df(
        spark, [(int(q), i) for i, q in enumerate(qids)], "query_id long, qpos int"
    )
    n_words = max(1, (len(qids) + 63) // 64)
    qdocs = (
        F.broadcast(query_roles)
        # gated (r12): the permission relation is docs×roles — at 10⁹ docs
        # a hard hint here ABORTS on the 8 GB ceiling. Above the gate the
        # join builds from the hinted dim sides instead and perm streams.
        .join(hints.gated_broadcast(permission_assignment, _perm_est_bytes(permission_assignment)), "role_id")
        .join(F.broadcast(qpos), "query_id")
        .select("document_id", "qpos")
    )
    # ONE doc-keyed exchange, not two (r11, guide §2.4): the OR-fold below
    # is idempotent in qpos, so the (document_id, qpos) dedup that used to
    # run as a separate distinct (its own Exchange + aggregate over the
    # role-expanded pair relation) folds into the collect_set aggregate —
    # partial (map-side) set-merge dedupes before the shuffle, and the
    # set's nondeterministic element order cannot reach the output because
    # bitwiseOR is commutative. Mask values are pytest-pinned unchanged
    # (test_properties round-trip + ≡-ground_truth parity).
    lists = qdocs.groupBy("document_id").agg(F.collect_set("qpos").alias("ps"))
    return lists.select(
        "document_id",
        F.transform(
            F.sequence(F.lit(0), F.lit(n_words - 1)),
            lambda w: F.aggregate(
                F.filter(F.col("ps"), lambda p: F.floor(p / 64).cast("int") == w.cast("int")),
                F.lit(0).cast("long"),
                # call_function: the Python shiftleft wrapper only takes a
                # literal bit count; the SQL function accepts a column
                lambda acc, p: acc.bitwiseOR(
                    F.call_function(
                        "shiftleft", F.lit(1).cast("long"), (p % 64).cast("int")
                    )
                ),
            ),
        ).alias("qmask"),
        # per-row query-set fingerprint, checked by the kernel (8 bytes
        # per doc row; turns word-count-identical stale masks into a
        # loud error instead of silent bit-position misalignment)
        F.lit(_qset_hash(qids)).cast("long").alias("qset_hash"),
    )


def _gather_local_topk(
    joined: DataFrame,
    queries: DataFrame,
    k: int,
    metric: str = "l2",
    vec_col: str = "vector",
    id_cols: tuple[str, str] = ("block_id", "document_id"),
    group_col: str | None = None,
) -> DataFrame:
    """Stage-1 pre-cut for PRE-JOINED (query_id, id, vector) rows — the
    prefilter shape, where each row is scored against exactly ONE query
    (``local_topk`` scores every row against every query; here the
    permitted join already decided the pairing). Queries broadcast once as
    a (Q, d) matrix; each Arrow batch gathers its rows' query vectors by
    query_id, computes row-wise distances vectorized, rounds half-up 6 dp
    (``F.round`` parity), and emits only its per-(query) top-k under the
    (distance, block_id) order the stage-2 window applies. Rows whose
    query_id is absent from ``queries`` are dropped — ground_truth's
    inner join does the same.

    ``group_col`` (role_id / partition_id / comb_role) switches the cut to
    per-(query, group) top-k and carries the column through — the shape
    the role-partition family's LOCAL window needs: each batch emits a
    superset of every (query, group) local top-k, so the downstream
    window → dedup → global merge is row-identical to :func:`ground_truth`."""
    import numpy as np

    q_rows = queries.select("query_id", "query_vector").collect()
    b_id, d_id = id_cols
    spark = joined.sparkSession
    gtype = (
        f", {group_col} {joined.schema[group_col].dataType.simpleString()}"
        if group_col else ""
    )
    schema = f"query_id long, {b_id} long, {d_id} long{gtype}, distance double"
    if not q_rows:
        return spark.createDataFrame([], schema)
    qids = np.array([r["query_id"] for r in q_rows], dtype=np.int64)
    QM = np.array([np.asarray(r["query_vector"], dtype=np.float64) for r in q_rows])
    bc = spark.sparkContext.broadcast((qids, QM))

    def part(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        qids_, QM_ = bc.value
        qmap = {int(q): i for i, q in enumerate(qids_)}
        for pdf in batches:
            if len(pdf) == 0:
                continue
            qidx = pdf["query_id"].map(qmap)
            keep = qidx.notna().to_numpy()
            if not keep.all():
                pdf = pdf[keep]
                qidx = qidx[keep]
                if len(pdf) == 0:
                    continue
            qidx = qidx.to_numpy().astype(np.int64)
            X = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            QX = QM_[qidx]
            n = len(qidx)
            d = QM_.shape[1]
            # per-dim j-order folds ≡ the expression folds bit-for-bit
            # (vector.py's left-to-right _dsum contract; (0.0 + t0) ≡ t0)
            if metric == "l2":
                acc = np.zeros(n)
                for j in range(d):
                    t = X[:, j] - QX[:, j]
                    acc = acc + t * t
                D = np.sqrt(acc)
            elif metric == "cosine":
                dot = np.zeros(n)
                xa = np.zeros(n)
                xb = np.zeros(n)
                for j in range(d):
                    dot = dot + X[:, j] * QX[:, j]
                    xa = xa + X[:, j] * X[:, j]
                    xb = xb + QX[:, j] * QX[:, j]
                den = np.sqrt(xa) * np.sqrt(xb)
                with np.errstate(divide="ignore", invalid="ignore"):
                    D = 1.0 - np.where(den == 0.0, np.nan, dot / den)
            elif metric == "ip":
                dot = np.zeros(n)
                for j in range(d):
                    dot = dot + X[:, j] * QX[:, j]
                D = -dot
            elif metric == "l1":
                acc = np.zeros(n)
                for j in range(d):
                    acc = acc + np.abs(X[:, j] - QX[:, j])
                D = acc
            else:
                raise ValueError(metric)
            # half-AWAY-from-zero 6-dp round (F.round parity — ip distances
            # are negative); + 0.0 folds −0.0 (BigDecimal has no −0)
            with np.errstate(invalid="ignore"):
                D = np.copysign(np.floor(np.abs(D) * 1e6 + 0.5), D) / 1e6 + 0.0
            bids = pdf[b_id].to_numpy()
            dids = pdf[d_id].to_numpy()
            # segment key: query alone, or (query, group) factorized — the
            # cut happens per segment either way
            if group_col is not None:
                gcodes = pd.factorize(pdf[group_col], use_na_sentinel=False)[0]
                seg = qidx * (gcodes.max() + 1) + gcodes
            else:
                seg = qidx
            # per-segment top-k within the batch: one lexsort groups rows
            # by segment with (distance NaN-last, id) order inside each
            # group, then rank-within-group < k selects the survivors
            key = np.where(np.isnan(D), np.inf, D)
            order = np.lexsort((bids, key, seg))
            gq = seg[order]
            starts = np.flatnonzero(np.r_[True, gq[1:] != gq[:-1]])
            group_of = np.cumsum(np.r_[True, gq[1:] != gq[:-1]]) - 1
            rank_in_group = np.arange(len(order)) - starts[group_of]
            sel = order[rank_in_group < k]
            out = {
                "query_id": qids_[qidx[sel]],
                b_id: bids[sel],
                d_id: dids[sel],
            }
            if group_col is not None:
                out[group_col] = pdf[group_col].to_numpy()[sel]
            out["distance"] = D[sel]
            yield pd.DataFrame(out)

    cols = ["query_id", b_id, d_id] + ([group_col] if group_col else [])
    out = joined.select(*cols, vec_col).mapInPandas(part, schema=schema)
    # pandas→Arrow masks NaN as null; restore the expression's explicit NaN
    # (cosine zero-norm rows must sort LAST ascending, a null sorts first)
    return out.withColumn("distance", F.coalesce("distance", F.lit(float("nan"))))


def knn_topk_fast(
    blocks: DataFrame,
    queries: DataFrame,
    k: int = 10,
    metric: str = "l2",
) -> DataFrame:
    """Two-phase exact batch KNN (no RBAC filter): numpy local top-k then
    global window merge. Same results as the window-only plan, hot path for
    bench + ground truth at scale."""
    return _ranked(local_topk(blocks, queries, k, metric), k)


def _permitted_blocks(blocks: DataFrame, query_roles: DataFrame, permission_assignment: DataFrame) -> DataFrame:
    """query_id × permitted block rows.

    Mirrors the reference prefilter CTE (common_function.py:112-121):
    user roles → DISTINCT permitted docs → blocks. Both RBAC relations are
    dim-sized → broadcast; the blocks fact table streams through.
    """
    qdocs = _query_docs(query_roles, permission_assignment)
    # gated (r12): qdocs is Q×permitted-docs — above the gate the blocks
    # join shuffles on document_id (bucketable) instead of aborting on the
    # 8 GB ceiling
    return blocks.join(hints.gated_broadcast(qdocs, _rel_est_bytes(qdocs, 32)), "document_id")


def ground_truth(
    blocks: DataFrame,
    queries: DataFrame,
    query_roles: DataFrame,
    permission_assignment: DataFrame,
    k: int = 10,
    metric: str = "l2",
) -> DataFrame:
    """Exact permitted top-k = the reference's ground truth
    (``compute_ground_truth.py``, ``_ground_truth_func_postgres``).

    The one EXPRESSION-PLAN reference: permitted (query, block) pairs from
    :func:`_permitted_blocks`, codegen'd distance folds (functions/vector.py),
    ``F.round`` to 6 dp and the (distance, block_id) window rank — the plan
    the DuckDB oracle SQL replays clause for clause. Every exact strategy
    above is pytest-pinned row-identical to it; it replicates the vector
    payload per (query, permitted block), so it is a reference, not a
    search path.
    """
    dist = _METRICS[metric]
    scored = (
        _permitted_blocks(blocks, query_roles, permission_assignment)
        .join(F.broadcast(queries.select("query_id", "query_vector")), "query_id")
        .select(
            "query_id", "block_id", "document_id",
            F.round(dist("vector", "query_vector"), 6).alias("distance"),
        )  # prune the vectors BEFORE the rank shuffle: the window exchange
        # must move (id, distance) rows, never the embedding arrays
    )
    return _ranked(scored, k)


def recall_at_k(predicted: DataFrame, truth: DataFrame) -> DataFrame:
    """recall@k per query + overall mean.

    Parity: ``common_function.py:1154`` (compute_recall — |pred ∩ truth| /
    |truth| averaged over queries).
    """
    # both sides are Q×k rank lists (dim-sized) — broadcast so the recall
    # diagnostic never sort-merge-shuffles
    hits = predicted.select("query_id", "block_id").join(
        F.broadcast(truth.select("query_id", "block_id")), ["query_id", "block_id"]
    )
    per_q = (
        truth.groupBy("query_id").agg(F.count("*").alias("n_truth"))
        .join(F.broadcast(hits.groupBy("query_id").agg(F.count("*").alias("n_hit"))), "query_id", "left")
        .select(
            "query_id",
            (F.coalesce(F.col("n_hit"), F.lit(0)) / F.col("n_truth")).alias("recall"),
        )
    )
    return per_q
