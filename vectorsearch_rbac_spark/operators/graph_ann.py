"""Graph-based ANN search (SURVEY §2 D2): partition-local navigable-
small-world graphs with beam search — the Spark-native re-expression of
the reference's per-partition hnswlib indexes
(``controller/dynamic_partition/hnsw/insertion.py`` attaches an HNSW to
every comb-role partition; ``search.py:17`` searches the partitions a
query's roles reach).

Design for a cluster:

- The graph is PARTITION-LOCAL, never global: each partition (comb-role,
  IVF list, or the whole corpus at toy scale) builds its own graph and
  answers queries independently inside ONE grouped/cogrouped Arrow stage —
  the same shape that lets the reference drop an hnswlib index per
  partition. No cross-partition edges ⇒ no graph shuffle, and a
  partition rebuild touches only its own rows (exactly the reference's
  insert/delete maintenance unit).
- Build (two methods behind ``_build_adjacency``):
  * ``incremental`` — the HNSW construction loop
    (``pgvector/src/hnswbuild.c`` / ``hnswlib/hnswalg.h`` insert path):
    each node beam-searches the PARTIAL graph for ``ef_c`` candidates,
    links to the ``m`` DIVERSE ones the hnswlib selection heuristic
    keeps (closer-to-base-than-to-any-kept), and overfull neighbors
    prune with the same heuristic (plus a degree floor so pruning
    can't orphan a node). O(n·ef·m) distance evals — the cluster-scale
    path; no quadratic cliff when a partition grows, and no
    navigability collapse either (the heuristic preserves long links;
    a pure nearest-m graph measurably loses them).
  * ``exact`` — exact kNN adjacency via blocked BLAS; O(n²) flops but
    BLAS-dense, so BELOW the crossover (~4k rows) it is faster in
    wall-clock than the Python insert loop, and its adjacency is pure
    arithmetic — SQL-replayable, which is what the ``graph_exact``
    oracle certification uses.
  ``auto`` (the default) picks exact under the crossover and
  incremental above it: small partitions get the cheaper-and-better
  graph, fat partitions never pay O(n²).
  Both builds add a RING backbone (node i ↔ i+1 in id order): 2 edges
  per node that make every partition graph connected by construction —
  the NSW long-link idea — so beam search at high ef provably reaches
  the whole partition (the basis of the exactness certification).
- Search: classic best-first beam (HNSW layer-0 semantics). Entry point:
  the partition medoid below the exact-build crossover; ABOVE it, r7
  two-level routing — the HNSW layer hierarchy flattened to one
  deterministic ≤4096-node sample scanned exactly with a batched GEMM
  (see ``_batched_entries``; measured at 256k rows the medoid entry
  collapses recall@ef48 0.95→0.70 while the sampled entry matches an
  exact-nearest entry). All queries of a partition run the beam in
  LOCKSTEP supersteps (``_batched_beams``): one gathered einsum per
  superstep evaluates every active query's candidate distances, so the
  kernel stays BLAS-bound, not Python-bound. Per query-batch work is
  O(visited·m) distance evaluations — independent of partition size once
  the beam converges, which is the whole point of graph ANN vs scan-based
  IVF.
- Query flow: queries are never collected to the driver. Every search
  is a COGROUPED applyInPandas — partition blocks on one side, that
  partition's (replicated or role-routed) queries on the other — the
  same shape ``knn_dynamic_graph`` pioneered, so a 10⁶-query batch
  distributes like any other relation.
- Results merge with the repo's standard two-phase top-k (per-partition
  candidates → global rank), so RBAC routing composes: restrict the
  partition set per query exactly as ``knn_budget`` does.

Approximate op ⇒ recall-checked (``ann_recall`` 'graph' member + pytest
floor), no SQL oracle — same basis as IVF/PQ/LSH. The EXACT-build
adjacency and the max-knob beam additionally carry a real SQL oracle
(``quantized_topk`` graph members): the ring makes the graph connected,
so a beam with ef ≥ n provably returns the exact answer the oracle
recomputes relationally.
"""

from __future__ import annotations

import heapq
import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# Below this partition size the exact blocked-BLAS build is faster in
# wall-clock than the Python insert loop (measured: 4k×64d exact ≈ tens of
# ms of GEMM; the insert fold is ~1-2 µs/distance but loop-bound).
EXACT_BUILD_MAX = 4096


def _ring_edges(adj: list[set[int]]) -> list[set[int]]:
    """Connectivity backbone: undirected i ↔ i+1 chain over the build
    order. Guarantees one connected component per partition (beam search
    can always escape a local cluster), at 2 edges/node."""
    n = len(adj)
    for i in range(n - 1):
        adj[i].add(i + 1)
        adj[i + 1].add(i)
    return adj


def _knn_adjacency(vecs: np.ndarray, m: int, ring: bool = True) -> list[list[int]]:
    """Exact kNN graph of one partition, symmetrized. O(n²) dots via one
    BLAS matmul per block — partition-local by design, so n is the
    partition size, not the corpus. The scale path is
    :func:`_incremental_adjacency`; this one is kept because (a) under
    ``EXACT_BUILD_MAX`` rows it is the faster build and (b) its edges are
    pure arithmetic, so the DuckDB oracle replays them (graph_adj tag)."""
    n = vecs.shape[0]
    m = min(m, n - 1)
    if m <= 0:
        return [[] for _ in range(n)]
    norms = (vecs * vecs).sum(axis=1)
    adj: list[set[int]] = [set() for _ in range(n)]
    # block sized so the d² slab stays ≤ ~256 MB regardless of n (a
    # fixed 4096-row block is 1 GB/slab at 32k rows; no lower floor —
    # a 256-row floor would let explicit method="exact" builds above
    # ~125k rows outgrow the slab bound)
    block = max(1, min(4096, 32_000_000 // max(n, 1)))
    for s in range(0, n, block):
        e = min(s + block, n)
        d2 = norms[s:e, None] + norms[None, :] - 2.0 * (vecs[s:e] @ vecs.T)
        for i in range(e - s):
            d2[i, s + i] = np.inf
        nb = np.argpartition(d2, m, axis=1)[:, :m]
        for i in range(e - s):
            for v in nb[i]:
                adj[s + i].add(int(v))
                adj[int(v)].add(s + i)
    if ring:
        _ring_edges(adj)
    return [sorted(a) for a in adj]


def _select_neighbors(
    cand: np.ndarray, d_base: np.ndarray, vecs: np.ndarray, m: int
) -> list[int]:
    """hnswlib's getNeighborsByHeuristic2 (hnswalg.h), vectorized: walk
    candidates by distance to the base point and KEEP one only if it is
    closer to the base than to every already-kept neighbor. This is the
    load-bearing step of HNSW construction — it keeps DIVERSE (including
    long-range) edges instead of an m-clique of near-duplicates, which is
    what preserves navigability as the partition grows. Measured on the
    repo corpus at 64k rows: naive closest-m gives recall@10 0.85 at
    ef=48; this heuristic gives 0.94 at LOWER average degree. The
    candidate–candidate distances come from one small BLAS gram matrix,
    so the Python loop is index math only."""
    order = np.argsort(d_base, kind="stable")
    cv = vecs[cand]
    g = cv @ cv.T
    sq = np.einsum("ij,ij->i", cv, cv)
    dcc = sq[:, None] + sq[None, :] - 2.0 * g
    kept: list[int] = []
    for j in order:
        if all(dcc[j, kj] >= d_base[j] for kj in kept):
            kept.append(int(j))
            if len(kept) >= m:
                break
    return [int(cand[j]) for j in kept]


def _prune_neighbors(
    u: int, adj: list[set[int]], vecs: np.ndarray, norms: np.ndarray, m: int, m_max: int
) -> None:
    """Cap node u's degree at ``m_max`` via the same diversity heuristic
    (hnswalg.h shrink step). Symmetric removal, with a DEGREE FLOOR: an
    edge whose far end would drop to < m edges is kept — pruning must
    never orphan a node (the failure mode naive symmetric pruning has and
    hnswlib avoids by keeping graphs directed)."""
    if len(adj[u]) <= m_max:
        return
    nb = np.fromiter(adj[u], dtype=np.int64, count=len(adj[u]))
    d2 = norms[nb] - 2.0 * (vecs[nb] @ vecs[u]) + norms[u]
    keep = set(_select_neighbors(nb, d2, vecs, m_max))
    for r in (int(x) for x in nb):
        if r in keep:
            continue
        if len(adj[r]) <= m:
            keep.add(r)  # degree floor: far end too sparse to cut
        else:
            adj[r].discard(u)
    adj[u] = keep


def _default_ef_c(n: int, m: int) -> int:
    """Scale-aware construction beam (r7), shared by the batch build and
    the incremental insert path: 32 is recall-flat through 64k-row
    partitions (measured 0.94-0.99 @ef48); at 256k it leaves 0.95 on the
    table where ef_c=64 reaches 0.99/1.00 (@ef48/128, sampled entry) for
    2× the still-linear build wall — tools/probe_results_r7.txt."""
    return max(2 * m, 32 if n <= 65536 else 64)


def _incremental_adjacency(
    vecs: np.ndarray, m: int, ef_construction: int | None = None, ring: bool = True
) -> list[list[int]]:
    """HNSW-style incremental build (hnswbuild.c / hnswalg.h insert loop,
    single layer): node i beam-searches the partial graph (nodes [0, i))
    for ``ef_c`` candidates, links to the ``m`` DIVERSE ones the
    selection heuristic keeps, adds reverse edges, and prunes overfull
    neighbors to ``2m`` with the same heuristic. O(n·ef·m) distance
    evaluations — no quadratic cliff on fat partitions — and, unlike the
    exact kNN graph, navigable at scale: the heuristic preserves the
    long links that pure nearest-m graphs lose (measured: exact build
    recall@48 collapses 0.94→0.05 from 8k→32k rows on clustered data;
    this build holds ≥0.94 through 64k). The ring edge to the previous
    node keeps the partial graph connected at every step."""
    n = vecs.shape[0]
    m = min(m, max(n - 1, 0))
    if m <= 0:
        return [[] for _ in range(n)]
    ef_c = ef_construction or _default_ef_c(n, m)
    m_max = 2 * m
    norms = (vecs * vecs).sum(axis=1)
    adj: list[set[int]] = [set() for _ in range(n)]
    for i in range(1, n):
        found = _beam_search(vecs, adj, 0, vecs[i], ef_c, ef_c, norms=norms)
        cand = np.asarray([u for _, u in found], dtype=np.int64)
        d_base = np.asarray([d for d, _ in found])
        links = set(_select_neighbors(cand, d_base, vecs, min(m, i)))
        if ring:
            links.add(i - 1)
        adj[i] = set(links)
        for u in links:
            adj[u].add(i)
            _prune_neighbors(u, adj, vecs, norms, m, m_max)
    if ring:
        _ring_edges(adj)  # re-assert: pruning keeps the floor but be exact
    return [sorted(a) for a in adj]


def _build_adjacency(
    vecs: np.ndarray, m: int, method: str = "auto", ring: bool = True
) -> list[np.ndarray]:
    """Returns one sorted int64 ndarray of neighbors per node — the form
    every search kernel gathers from directly."""
    if method == "auto":
        method = "exact" if vecs.shape[0] <= EXACT_BUILD_MAX else "incremental"
    if method == "exact":
        adj = _knn_adjacency(vecs, m, ring=ring)
    elif method == "incremental":
        adj = _incremental_adjacency(vecs, m, ring=ring)
    else:
        raise ValueError(f"unknown build method {method!r}")
    return [np.asarray(a, dtype=np.int64) for a in adj]


def _beam_cut(beam, k):
    """Cut a (−d², node) max-heap beam down to k by the SAME ordering the
    global rank window applies — 6-dp-rounded L2 distance (half-up, Spark
    ROUND semantics) with position/id tie-break — so rounding ties that
    straddle the cut keep exactly the rows the oracle ranks first. Node
    positions are id-sorted in every caller, so position order == id
    order. Without this, an unrounded cut could drop a row the oracle
    places inside the top-k when ~(expansion−1)·k near-duplicate
    distances collide at the 6th decimal. The half-up emulation matches
    Spark's BigDecimal-on-shortest-repr ROUND in practice, not by
    bit-level guarantee (see the same caveat in ivf.py's kernel)."""
    out = [(-nd, u) for nd, u in beam]
    out.sort(key=lambda t: (
        math.floor(math.sqrt(t[0] if t[0] > 0.0 else 0.0) * 1e6 + 0.5), t[1]
    ))
    return out[:k]


def _beam_search(vecs, adj, entry, q, k, ef, norms=None):
    """Best-first beam over one partition graph. Distances to the popped
    node's unvisited neighbors are evaluated in ONE gathered numpy op
    (norms-trick d² = |u|² − 2u·q + |q|²), so cost per expansion is a
    small GEMV, not len(adj[u]) Python-level dot products."""
    if norms is None:
        norms = (vecs * vecs).sum(axis=1)
    qn = float(q @ q)
    d0 = max(float(norms[entry] - 2.0 * (vecs[entry] @ q) + qn), 0.0)
    visited = {entry}
    frontier = [(d0, entry)]          # min-heap
    beam = [(-d0, entry)]             # max-heap, size ≤ ef
    while frontier:
        d, u = heapq.heappop(frontier)
        if len(beam) >= ef and d > -beam[0][0]:
            break
        fresh = [v for v in adj[u] if v not in visited]
        if not fresh:
            continue
        visited.update(fresh)
        nv = np.asarray(fresh, dtype=np.int64)
        dv = norms[nv] - 2.0 * (vecs[nv] @ q) + qn
        for v, dvv in zip(fresh, dv):
            dvv = max(float(dvv), 0.0)
            if len(beam) < ef or dvv < -beam[0][0]:
                heapq.heappush(frontier, (dvv, v))
                heapq.heappush(beam, (-dvv, v))
                if len(beam) > ef:
                    heapq.heappop(beam)
    return _beam_cut(beam, k)


def _first_unique(a: np.ndarray) -> np.ndarray:
    """Order-preserving dedupe (dict.fromkeys semantics) in pure numpy:
    stable argsort groups duplicates with the earliest original position
    first, so the group heads ARE the first occurrences. ~10× cheaper
    than pd.unique's per-call hashtable setup on the small arrays a beam
    expansion yields."""
    if a.size <= 1:
        return a
    order = np.argsort(a, kind="stable")
    s = a[order]
    head = np.empty(a.size, dtype=bool)
    head[0] = True
    head[1:] = s[1:] != s[:-1]
    pos = order[head]
    pos.sort()
    return a[pos]


def _batched_beams(vecs, norms, qmat, entries, k, ef, expand, dedupe=False):
    """All queries of one partition beam-search in LOCKSTEP supersteps:
    per superstep each active query pops one frontier node and enumerates
    its expansion (Python index math), then EVERY query's candidate
    distances are evaluated in ONE gathered einsum over the concatenated
    (node, query) pairs — numpy call count is O(max hops), not
    O(queries × hops), so a thousand-query batch stays BLAS-bound instead
    of interpreter-bound. Per query the pop/push sequence is exactly
    :func:`_beam_search`'s (each query's heaps are private and updated
    before its next pop), so results match the sequential kernel —
    pytest-pinned.

    ``expand(i, u)`` returns the candidate nodes for query ``i`` popping
    node ``u`` as an int64 ndarray, possibly with duplicates (plain
    adjacency for NSW; predicate-aware 1/2-hop or sorted-truncation
    closures for ACORN). With ``dedupe=True`` duplicates are removed
    order-preservingly here (needed only when one expansion can reach a
    node twice — ACORN's multi-hop detours; plain adjacency and sorted
    truncation are duplicate-free by construction). Visited filtering is
    vectorized (visited is a bool array per query, not a set).

    Memory is bounded by processing the query batch in CHUNKS sized so
    the visited matrix stays ≤ ~32 MB (chunk × n bools) — a 10⁶-query
    batch on a 256k-row partition peaks at per-chunk state, not
    O(queries × n). ``expand`` always receives the GLOBAL query index,
    so per-query closures (allowed masks, memos) are chunking-agnostic. Candidates that can't beat the
    superstep-start beam threshold are dropped VECTORIZED before the
    Python push loop — conservative-correct, since pushes only tighten
    the threshold, and the exact check still guards each push. Returns
    one :func:`_beam_cut`-cut candidate list per query."""
    n = vecs.shape[0]
    nq_all = qmat.shape[0]
    chunk = max(1, 32_000_000 // max(n, 1))
    if nq_all > chunk:
        out: list[list[tuple[float, int]]] = []
        for lo in range(0, nq_all, chunk):
            hi = min(lo + chunk, nq_all)
            out.extend(
                _batched_beams(
                    vecs, norms, qmat[lo:hi], entries[lo:hi], k, ef,
                    (lambda off: lambda i, u: expand(off + i, u))(lo),
                    dedupe=dedupe,
                )
            )
        return out
    nq = nq_all
    qn = np.einsum("ij,ij->i", qmat, qmat)
    d0 = norms[entries] - 2.0 * np.einsum("ij,ij->i", vecs[entries], qmat) + qn
    visited = np.zeros((nq, n), dtype=bool)
    frontier: list[list[tuple[float, int]]] = []
    beams: list[list[tuple[float, int]]] = []
    for i in range(nq):
        e = int(entries[i])
        di = max(float(d0[i]), 0.0)
        visited[i, e] = True
        frontier.append([(di, e)])
        beams.append([(-di, e)])
    active = list(range(nq))
    thr = np.empty(nq)
    heappush, heappop = heapq.heappush, heapq.heappop
    while active:
        req: list[np.ndarray] = []
        req_q: list[int] = []
        bounds: list[tuple[int, int, int]] = []
        pos = 0
        for i in active:
            f, b = frontier[i], beams[i]
            vis = visited[i]
            fresh = None
            while f:
                d, u = heappop(f)
                if len(b) >= ef and d > -b[0][0]:
                    f.clear()  # beam can't improve — this query is done
                    break
                cand = expand(i, u)
                if cand.size:
                    if dedupe:
                        cand = _first_unique(cand)
                    fr = cand[~vis[cand]]
                    if fr.size:
                        fresh = fr
                        break
            if fresh is None:
                continue
            vis[fresh] = True
            req.append(fresh)
            req_q.append(i)
            bounds.append((i, pos, pos + fresh.size))
            pos += fresh.size
            thr[i] = -b[0][0] if len(b) >= ef else np.inf
        if req:
            nodes = np.concatenate(req)
            qidx = np.repeat(
                np.asarray(req_q, dtype=np.int64),
                np.asarray([r.size for r in req], dtype=np.int64),
            )
            dv = (
                norms[nodes]
                - 2.0 * np.einsum("ij,ij->i", vecs[nodes], qmat[qidx])
                + qn[qidx]
            )
            np.maximum(dv, 0.0, out=dv)
            # stale-threshold prefilter (superset of the exact check —
            # pushes only tighten the threshold); ONE flatnonzero per
            # superstep, consumed by a pointer sweep over the ascending
            # bounds windows
            hits_all = np.flatnonzero(dv < thr[qidx])
            nh = hits_all.size
            hp = 0
            for i, s, e in bounds:
                if hp >= nh:
                    break
                if hits_all[hp] >= e:
                    continue
                f, b = frontier[i], beams[i]
                while hp < nh:
                    p = hits_all[hp]
                    if p >= e:
                        break
                    hp += 1
                    dvv = float(dv[p])
                    if len(b) < ef or dvv < -b[0][0]:
                        v = int(nodes[p])
                        heappush(f, (dvv, v))
                        heappush(b, (-dvv, v))
                        if len(b) > ef:
                            heappop(b)
        active = [i for i in active if frontier[i]]
    return [_beam_cut(b, k) for b in beams]


def _medoid(vecs: np.ndarray) -> int:
    return int(np.argmin(((vecs - vecs.mean(axis=0)) ** 2).sum(axis=1)))


# Entry routing above the crossover scans a deterministic sample of at
# most this many nodes (≈ n/64 at 256k — the measured sweet spot).
ENTRY_SAMPLE_MAX = 4096


def _batched_entries(vecs, norms, qmat):
    """Two-level entry routing — the HNSW layer hierarchy
    (hnswalg.h:270 searchKnn descends tiny upper layers to reach the
    query's neighborhood before the layer-0 beam) flattened the
    Spark-friendly way: the 'upper layer' is a deterministic ≤4096-node
    sample scanned EXACTLY with one batched GEMM per query batch —
    BLAS-bound and lockstep-shaped, where pointer descent would be
    per-query Python. Measured at 256k rows (tools/graph_probe.py):
    medoid entry collapses recall@ef48 to 0.70; the sampled entry
    restores 0.950 — identical to an exact-nearest entry — so upper
    LAYERS beyond this single sampled level buy nothing at partition
    sizes the D7 rebalance cap permits. Below the exact-build crossover
    the classic medoid entry is unchanged (and the exact-certified
    entries run there)."""
    n = vecs.shape[0]
    if n <= EXACT_BUILD_MAX:
        return np.full(qmat.shape[0], _medoid(vecs), dtype=np.int64)
    # ceil-division stride actually caps the sample at ENTRY_SAMPLE_MAX
    # (floor division degenerates to a full scan for n just above the
    # crossover); the distance matrix is chunked over queries so a huge
    # replicated batch stays ≤ ~32 MB per GEMM
    sub = np.arange(0, n, -(-n // ENTRY_SAMPLE_MAX))
    out = np.empty(qmat.shape[0], dtype=np.int64)
    step = max(1, 4_000_000 // sub.size)
    for lo in range(0, qmat.shape[0], step):
        hi = min(lo + step, qmat.shape[0])
        d = norms[sub][None, :] - 2.0 * (qmat[lo:hi] @ vecs[sub].T)
        out[lo:hi] = sub[np.argmin(d, axis=1)]
    return out


def _replicate_queries(
    src: DataFrame, queries: DataFrame, parts_from: DataFrame | None = None
) -> DataFrame:
    """Fan the query relation out to every graph partition (queries carry
    no routing key here — contrast knn_dynamic_graph, where roles route).
    The partition list is tiny (one row per graph partition) and
    broadcast; the replicated relation is Q×P rows that SHUFFLE to the
    cogroup — distributed, never driver-collected. The key is RENAMED so
    the cogroup's two sides don't share the source's _part attribute
    (self-join ambiguity).

    ``parts_from`` supplies a CHEAPER relation carrying the same
    partition values (``_part`` column): the single-partition literal
    when there is no part_col (deriving it from src would full-scan the
    corpus just to produce one row), or the dim-sized adjacency table in
    the indexed search (src there is a corpus⋈adjacency join that
    Catalyst would otherwise execute twice — exchanges aren't reused
    across subplans)."""
    parts = (parts_from if parts_from is not None else src).select(
        F.col("_part").alias("_qpart")
    ).distinct()
    return queries.crossJoin(F.broadcast(parts))


def _single_part(spark) -> DataFrame:
    """One-row (_part = 0) relation — the partition list when part_col is
    None, without scanning anything."""
    return spark.range(1).select(F.lit(0).cast("long").alias("_part"))


def _rank_topk(cand: DataFrame, k: int, id_col: str) -> DataFrame:
    w = Window.partitionBy("query_id").orderBy(
        F.round("distance", 6).asc(), F.col("_id").asc()
    )
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", F.col("_id").alias(id_col),
                F.round("distance", 6).alias("distance"), "rank")
    )


def nsw_search(
    blocks: DataFrame,
    queries: DataFrame,
    k: int = 10,
    m: int = 8,
    ef: int = 48,
    id_col: str = "block_id",
    vec_col: str = "vector",
    part_col: str | None = None,
    build_method: str = "auto",
) -> DataFrame:
    """Beam-search every query against every partition's NSW graph; merge
    with a global rank window (two-phase top-k). ``part_col=None`` treats
    the corpus as one partition (toy scale); with a partition column each
    group builds/searches its own graph in parallel.

    Queries flow as a RELATION: replicated per partition with a broadcast
    of the (tiny) partition list, then cogrouped against the blocks — no
    driver collect, so a 10⁶-query batch behaves like any other join.

    NOTE: this FUSED form rebuilds each partition's graph inside the
    search cogroup — right for one-shot batches and for the exactness
    certifications (the build is part of what the oracle certifies).
    Build-once/search-many callers should persist the adjacency with
    :func:`build_nsw_graph` and search via :func:`nsw_search_indexed`
    (the path the benched ``graph`` recall member runs).
    """
    src = blocks.select(
        F.col(id_col).alias("_id"),
        F.col(vec_col).alias("_vec"),
        # literal cast to long: _single_part's key is long, and the
        # cogroup's two grouping keys must agree in type (implicit
        # int→long coercion is version-fragile)
        (F.col(part_col) if part_col else F.lit(0).cast("long")).alias("_part"),
    )
    parts_from = (
        _single_part(blocks.sparkSession) if part_col is None
        else blocks.select(F.col(part_col).alias("_part"))  # column-pruned scan
    )
    rq = _replicate_queries(src, queries.select("query_id", "query_vector"), parts_from)

    def search_cogroup(blocks_pdf: pd.DataFrame, q_pdf: pd.DataFrame) -> pd.DataFrame:
        if len(blocks_pdf) == 0 or len(q_pdf) == 0:
            return pd.DataFrame(columns=["query_id", "_id", "distance"])
        blocks_pdf = blocks_pdf.sort_values("_id").reset_index(drop=True)
        vecs = np.stack(blocks_pdf["_vec"].values).astype(np.float64)
        ids = blocks_pdf["_id"].to_numpy()
        adjarr = adj = _build_adjacency(vecs, m, method=build_method)
        norms = (vecs * vecs).sum(axis=1)
        qids = q_pdf["query_id"].to_numpy()
        qmat = np.stack(
            [np.asarray(v, dtype=np.float64) for v in q_pdf["query_vector"].values]
        )
        entries = _batched_entries(vecs, norms, qmat)
        found = _batched_beams(
            vecs, norms, qmat, entries, k, ef, lambda i, u: adjarr[u]
        )
        rows = [
            (int(qids[i]), int(ids[u]), float(np.sqrt(max(d2, 0.0))))
            for i, res in enumerate(found)
            for d2, u in res
        ]
        return pd.DataFrame(rows, columns=["query_id", "_id", "distance"])

    cand = (
        src.groupBy("_part")
        .cogroup(rq.groupBy("_qpart"))
        .applyInPandas(search_cogroup, schema="query_id long, _id long, distance double")
    )
    return _rank_topk(cand, k, id_col)


def graph_exact_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    m: int = 8,
    expansion: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """D2 EXACT certification — the graph-search path under the hash
    gate, the way r5 certified PQ and LSH: with ``ef`` ≥ partition size
    the beam cap never binds, so the best-first loop over the
    ring-connected adjacency (one component by construction) degenerates
    into an exhaustive traversal that provably visits every node — the
    shortlist is the exact top-k·expansion. A final JVM-side elementwise
    L2 rerank (``V.l2_distance``, the oracle's ``list_distance``) makes
    the emitted 6-dp distances bit-comparable, exactly the
    ``hamming_rerank_topk`` refine idiom. What the oracle match
    certifies: graph build plumbing, cogrouped query routing, beam
    expansion/termination, and the two-phase rank — everything but the
    approximation itself, which ``ann_recall`` floors cover."""
    from ..functions import vector as V
    from .knn import topk_per_query

    shortlist = nsw_search(
        embeddings, queries, k=k * expansion, m=m, ef=1 << 30,
        id_col=id_col, vec_col=vec_col, build_method="exact",
    ).select("query_id", id_col)
    rescored = (
        shortlist.join(embeddings.select(id_col, vec_col), id_col)
        .join(F.broadcast(queries.select("query_id", "query_vector")), "query_id")
        .select(
            "query_id",
            F.col(id_col).alias("block_id"),
            F.round(V.l2_distance(vec_col, "query_vector"), 6).alias("distance"),
        )
    )
    w = topk_per_query(rescored, k, id_col="block_id")
    return w.select("query_id", F.col("block_id").alias(id_col), "distance", "rank")


# ---------------------------------------------------------- index lifecycle
# Parity: dynamic_partition/hnsw/insertion.py / deletion.py — the reference
# mutates a per-partition hnswlib index in place; here the adjacency is a
# DataFrame (part, id, neighbors) and every mutation is a partition-local
# relational transform, so the maintenance unit (one partition) matches and
# the index itself survives as ordinary columnar storage.


def build_nsw_graph(
    blocks: DataFrame,
    m: int = 8,
    id_col: str = "block_id",
    vec_col: str = "vector",
    part_col: str | None = None,
    build_method: str = "auto",
) -> DataFrame:
    """Materialize the per-partition adjacency as a DataFrame
    ``(part, id, neighbors array<bigint>)`` — the persisted index. The
    build is incremental-insert above the size crossover (hnswbuild.c
    parity — O(n·ef·m), no quadratic cliff) and exact blocked-BLAS below
    it; both carry the ring backbone."""
    src = blocks.select(
        F.col(id_col).alias("_id"),
        F.col(vec_col).alias("_vec"),
        (F.col(part_col) if part_col else F.lit(0).cast("long")).alias("part"),
    )
    # the part column keeps ITS OWN type (long grid parts, string
    # comb_role keys alike) — the output schema mirrors the input
    part_type = src.schema["part"].dataType.simpleString()

    def build_group(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("_id").reset_index(drop=True)
        vecs = np.stack(pdf["_vec"].values).astype(np.float64)
        ids = pdf["_id"].to_numpy()
        adj = _build_adjacency(vecs, m, method=build_method)
        part = pdf["part"].iloc[0]
        return pd.DataFrame(
            {
                "part": part,
                "id": ids,
                "neighbors": [[int(ids[v]) for v in a] for a in adj],
            }
        )

    return src.groupBy("part").applyInPandas(
        build_group, schema=f"part {part_type}, id long, neighbors array<long>"
    )


def nsw_search_indexed(
    blocks: DataFrame,
    adjacency: DataFrame,
    queries: DataFrame,
    k: int = 10,
    ef: int = 48,
    id_col: str = "block_id",
    vec_col: str = "vector",
    part_col: str | None = None,
    build_method: str = "auto",
    m: int = 8,
    stale: str = "rebuild",
) -> DataFrame:
    """Search a PREBUILT adjacency (no rebuild per query batch): vectors
    join their neighbor lists on the id key inside each partition, queries
    replicate per partition as a relation (no driver collect), and the
    beam runs exactly as in :func:`nsw_search`.

    ``m`` and ``build_method`` must match the knobs the index was built
    with — they parameterize ONLY the stale-partition rebuild below, and
    a mismatch would make a rebuilt partition's graph sparser/denser than
    its fresh siblings. Staleness is detected in both directions (blocks
    missing from the index, or stored edges to removed blocks — see
    :func:`_pos_mapped_or_stale`); ``stale='rebuild'`` (default) rebuilds
    that partition in-cogroup so search never silently drops blocks,
    ``stale='error'`` raises instead (certification paths fail loudly
    when index maintenance lost a block)."""
    if stale not in ("rebuild", "error"):
        raise ValueError(f"unknown stale policy {stale!r}")
    src = blocks.select(
        F.col(id_col).alias("_id"),
        F.col(vec_col).alias("_vec"),
        # literal cast to long: _single_part's key is long, and the
        # cogroup's two grouping keys must agree in type (implicit
        # int→long coercion is version-fragile)
        (F.col(part_col) if part_col else F.lit(0).cast("long")).alias("_part"),
    ).join(
        # corpus-sized ⋈ corpus-sized on the same key: hash-join hint —
        # the applyInPandas output has no size stats and would SMJ
        adjacency.select(
            F.col("part").alias("_part"), F.col("id").alias("_id"), "neighbors"
        ).hint("SHUFFLE_HASH"),
        ["_part", "_id"],
        "left",
    )
    # partition values from the CORPUS (column-pruned scan, the fused
    # path's source) — not from src (the corpus⋈adjacency join, which
    # Catalyst would execute twice) and not from the adjacency (a stale
    # index missing an entire partition would stop queries reaching that
    # partition's blocks — the rebuild fallback needs the queries there)
    parts_from = (
        _single_part(blocks.sparkSession) if part_col is None
        else blocks.select(F.col(part_col).alias("_part"))
    )
    rq = _replicate_queries(src, queries.select("query_id", "query_vector"), parts_from)

    def search_cogroup(blocks_pdf: pd.DataFrame, q_pdf: pd.DataFrame) -> pd.DataFrame:
        if len(blocks_pdf) == 0 or len(q_pdf) == 0:
            return pd.DataFrame(columns=["query_id", "_id", "distance"])
        blocks_pdf = blocks_pdf.sort_values("_id").reset_index(drop=True)
        vecs = np.stack(blocks_pdf["_vec"].values).astype(np.float64)
        ids = blocks_pdf["_id"].to_numpy()
        adjarr = _pos_mapped_or_stale(blocks_pdf["neighbors"].values, ids, stale)
        if adjarr is None:  # stale partition → in-cogroup rebuild
            adjarr = _build_adjacency(vecs, m, method=build_method)
        norms = (vecs * vecs).sum(axis=1)
        qids = q_pdf["query_id"].to_numpy()
        qmat = np.stack(
            [np.asarray(v, dtype=np.float64) for v in q_pdf["query_vector"].values]
        )
        entries = _batched_entries(vecs, norms, qmat)
        found = _batched_beams(
            vecs, norms, qmat, entries, k, ef, lambda i, u: adjarr[u]
        )
        rows = [
            (int(qids[i]), int(ids[u]), float(np.sqrt(max(d2, 0.0))))
            for i, res in enumerate(found)
            for d2, u in res
        ]
        return pd.DataFrame(rows, columns=["query_id", "_id", "distance"])

    cand = (
        src.groupBy("_part")
        .cogroup(rq.groupBy("_qpart"))
        .applyInPandas(search_cogroup, schema="query_id long, _id long, distance double")
    )
    return _rank_topk(cand, k, id_col)


def insert_into_graph(
    blocks: DataFrame,
    adjacency: DataFrame,
    new_blocks: DataFrame,
    m: int = 8,
    ef_construction: int | None = None,
    id_col: str = "block_id",
    vec_col: str = "vector",
    part_col: str | None = None,
) -> DataFrame:
    """Incremental insert — the true HNSW insert loop (hnswalg.h
    ``addPoint`` / insertion.py parity): each new node (in id order)
    BEAM-SEARCHES the current graph for its ``m`` nearest, links
    bidirectionally, and overfull neighbors prune to ``2m`` with the
    degree floor. The fold is O(B·ef·m) per partition — independent of
    partition size, vs the O(B·n) exact-link it replaces. One
    applyInPandas pass per partition touching only partitions that
    receive rows; untouched partitions' adjacency flows through
    unchanged. ``ef_construction=None`` resolves PER PARTITION with the
    same scale-aware default the batch build uses (_default_ef_c), so a
    stream of inserts and a full rebuild link with equal quality."""
    ef_c0 = ef_construction
    src_old = blocks.select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("_vec"),
        (F.col(part_col) if part_col else F.lit(0).cast("long")).alias("part"),
        F.lit(False).alias("_new"),
    )
    src_new = new_blocks.select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("_vec"),
        (F.col(part_col) if part_col else F.lit(0).cast("long")).alias("part"),
        F.lit(True).alias("_new"),
    )
    touched = src_new.select("part").distinct()
    src = src_old.join(F.broadcast(touched), "part", "left_semi").unionByName(src_new).join(
        adjacency.select("part", "id", "neighbors"), ["part", "id"], "left"
    )

    def insert_group(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("id").reset_index(drop=True)
        part = pdf["part"].iloc[0]  # native type: long grid parts OR string comb_role keys
        vecs = np.stack(pdf["_vec"].values).astype(np.float64)
        norms = (vecs * vecs).sum(axis=1)
        ids = pdf["id"].to_numpy()
        pos = {int(i): p for p, i in enumerate(ids)}
        is_new = pdf["_new"].to_numpy()
        adj: list[set[int]] = [set() for _ in range(len(ids))]
        for i in np.flatnonzero(~is_new):
            lst = pdf["neighbors"].iloc[i]
            adj[i] = set(
                pos[int(x)] for x in (lst if lst is not None else []) if int(x) in pos
            )
        old_idx = [int(x) for x in np.flatnonzero(~is_new)]
        entry = old_idx[0] if old_idx else None
        m_max = 2 * m
        ef_c = ef_c0 or _default_ef_c(len(ids), m)
        for i in (int(x) for x in np.flatnonzero(is_new)):
            if entry is None:
                entry = i
                continue
            found = _beam_search(vecs, adj, entry, vecs[i], ef_c, ef_c, norms=norms)
            cand = np.asarray([u for _, u in found], dtype=np.int64)
            d_base = np.asarray([d for d, _ in found])
            links = set(_select_neighbors(cand, d_base, vecs, m))
            adj[i] |= links
            for u in links:
                adj[u].add(i)
                _prune_neighbors(u, adj, vecs, norms, m, m_max)
        # re-assert the ring over the partition's post-insert id order:
        # keeps the connected-by-construction invariant under maintenance,
        # so ef >= n beam exactness (graph_exact_topk) survives inserts
        _ring_edges(adj)
        return pd.DataFrame(
            {
                "part": part,
                "id": ids,
                "neighbors": [sorted(int(ids[v]) for v in a) for a in adj],
            }
        )

    # mirror the part column's own type (build_nsw_graph generalization —
    # string comb_role keys maintain through the same insert path)
    part_type = src.schema["part"].dataType.simpleString()
    updated = src.groupBy("part").applyInPandas(
        insert_group, schema=f"part {part_type}, id long, neighbors array<long>"
    )
    untouched = adjacency.join(F.broadcast(touched), "part", "left_anti")
    return untouched.unionByName(updated)


def delete_from_graph(adjacency: DataFrame, delete_ids: DataFrame) -> DataFrame:
    """Delete (deletion.py parity): drop the nodes and filter them out of
    every neighbor list — a narrow map plus one broadcast anti-join; heavy
    deletions degrade connectivity, and the repair unit is a partition
    rebuild (build_nsw_graph on that partition), exactly the reference's
    heavy-partition-refine escalation."""
    gone = F.broadcast(delete_ids.select(F.col(delete_ids.columns[0]).alias("_gone")))
    gone_arr = delete_ids.select(
        F.collect_set(F.col(delete_ids.columns[0]).cast("long")).alias("g")
    )
    return (
        adjacency.join(gone, adjacency["id"] == F.col("_gone"), "left_anti")
        .crossJoin(F.broadcast(gone_arr))
        .select(
            "part", "id",
            F.filter("neighbors", lambda v: ~F.array_contains(F.col("g"), v)).alias("neighbors"),
        )
    )


def knn_dynamic_graph(
    store: DataFrame,
    queries: DataFrame,
    query_roles: DataFrame,
    k: int = 10,
    m: int = 8,
    ef: int = 48,
    build_method: str = "auto",
    adjacency: DataFrame | None = None,
) -> DataFrame:
    """The reference's HEADLINE architecture end-to-end: dynamic comb-role
    partitions, a graph index per partition, role-routed search
    (``dynamic_partition/search.py:17`` + per-partition hnswlib): each
    query beam-searches ONLY the partitions its roles reach, and the
    per-partition candidates merge through the global rank.

    Spark shape: the (query → comb_role) routing joins the broadcast query
    roles to :func:`~.dynamic.comb_role_members` (the store's distinct
    comb_role keys, exploded), because the cogroup needs one row per routed
    (query, comb_role) pair; the per-partition search is a COGROUPED
    applyInPandas — partition blocks on one side, that
    partition's routed queries on the other — so a partition's graph is
    built/searched once regardless of how many queries route to it, work
    scales with Σ(partition × its queries), and partitions with no routed
    queries are never touched. RBAC stays exact by construction (a block
    is in a routed partition iff its access set intersects the query's
    roles); only the top-k is approximate (beam), so the check is recall
    against the exact ``knn_dynamic`` answer.

    ``adjacency`` optionally supplies a PREBUILT per-partition graph
    (:func:`build_nsw_graph` over the store with
    ``part_col='comb_role'``) — the build-once/search-many path, exactly
    how the reference maintains one hnswlib index per partition offline;
    with ``None`` each routed partition builds its graph in-cogroup.
    """
    from .dynamic import comb_role_members

    # rename through the members table so the cogroup's two sides don't
    # share the store's comb_role attribute (self-join ambiguity)
    members = comb_role_members(store).withColumnRenamed("comb_role", "_cr")
    qpart = (
        F.broadcast(query_roles)
        .join(members, "role_id")
        .select("query_id", F.col("_cr").alias("comb_role"))
        .distinct()
    )
    routed_q = qpart.join(
        F.broadcast(queries.select("query_id", "query_vector")), "query_id"
    )

    def search_cogroup(blocks_pdf: pd.DataFrame, q_pdf: pd.DataFrame) -> pd.DataFrame:
        if len(blocks_pdf) == 0 or len(q_pdf) == 0:
            return pd.DataFrame(columns=["query_id", "block_id", "document_id", "distance"])
        blocks_pdf = blocks_pdf.sort_values("block_id").reset_index(drop=True)
        vecs = np.stack(blocks_pdf["vector"].values).astype(np.float64)
        ids = blocks_pdf["block_id"].to_numpy()
        docs = blocks_pdf["document_id"].to_numpy()
        # prebuilt per-partition graph: pos-map the stored id lists
        # (nsw_search_indexed idiom) — no in-cogroup rebuild unless the
        # index is stale in EITHER direction (store blocks missing from
        # the graph arrive as nulls through the left join; stored edges
        # to removed blocks would silently strip connectivity), in which
        # case the partition rebuilds so RBAC exactness never silently
        # loses blocks
        adjarr = (
            _pos_mapped_or_stale(blocks_pdf["neighbors"].values, ids, "rebuild")
            if "neighbors" in blocks_pdf.columns else None
        )
        if adjarr is None:
            adjarr = _build_adjacency(vecs, m, method=build_method)
        norms = (vecs * vecs).sum(axis=1)
        qids = q_pdf["query_id"].to_numpy()
        qmat = np.stack(
            [np.asarray(v, dtype=np.float64) for v in q_pdf["query_vector"].values]
        )
        entries = _batched_entries(vecs, norms, qmat)
        found = _batched_beams(
            vecs, norms, qmat, entries, k, ef, lambda i, u: adjarr[u]
        )
        rows = [
            (int(qids[i]), int(ids[u]), int(docs[u]), float(np.sqrt(max(d2, 0.0))))
            for i, res in enumerate(found)
            for d2, u in res
        ]
        return pd.DataFrame(rows, columns=["query_id", "block_id", "document_id", "distance"])

    src = store.select("comb_role", "block_id", "document_id", "vector")
    if adjacency is not None:
        # corpus-sized ⋈ corpus-sized on the same key: hash-join hint —
        # the applyInPandas output has no size stats and would SMJ.
        # LEFT join: a store block missing from a stale adjacency keeps a
        # null neighbor list, which flips its partition to the in-cogroup
        # rebuild above — never a silent drop
        src = src.join(
            adjacency.select(
                F.col("part").alias("comb_role"), F.col("id").alias("block_id"),
                "neighbors",
            ).hint("SHUFFLE_HASH"),
            ["comb_role", "block_id"],
            "left",
        )
    cand = (
        src.groupBy("comb_role")
        .cogroup(routed_q.groupBy("comb_role"))
        .applyInPandas(
            search_cogroup,
            schema="query_id long, block_id long, document_id long, distance double",
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.round("distance", 6).asc(), F.col("block_id").asc()
    )
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "block_id", "document_id",
                F.round("distance", 6).alias("distance"), "rank")
    )


# ------------------------------------------------------------------ ACORN
def _acorn_beam(vecs, adj, q, k, ef, allowed, expand_2hop=True, norms=None,
                max_hops=None):
    """Predicate-aware best-first beam (ACORN-1, Patel et al. 2024,
    arXiv:2403.04871 — the algorithm behind the reference's
    acorn_benchmark/): the beam and frontier hold only PASSING nodes, but
    expansion routes through failing neighbors to their neighbors (2-hop),
    preserving the connectivity the filtered subgraph loses when the
    predicate knocks out bridge nodes. Candidate distances are evaluated
    batched, as in :func:`_beam_search`.

    ``max_hops`` generalizes the expansion depth: ``None`` keeps the
    ACORN-1 semantics (1 or 2 hops per ``expand_2hop``); an integer h
    BFS-expands through failing runs up to h nodes deep, with a PER-QUERY
    memo so every failing node is traversed at most once per query (total
    expansion work O(E), not O(E·visits)). With h ≥ n and ef ≥ n this is
    provably exhaustive over the allowed set: the ring keeps the full
    graph connected, so every allowed node is separated from the entry
    point by chains of ≤ n failing nodes, each of which the memoized BFS
    crosses — the basis of the ``acorn_exact`` oracle certification.

    REFERENCE KERNEL: production searches run the same expansion through
    the lockstep :func:`_batched_beams` driver (r7 — one gathered einsum
    per superstep across all queries); this per-query form is kept as the
    readable spec, pinned ≡ the batched form by pytest."""
    idx = np.where(allowed)[0]
    if idx.size == 0:
        return []
    if norms is None:
        norms = (vecs * vecs).sum(axis=1)
    qn = float(q @ q)
    mean = vecs[idx].mean(axis=0)
    entry = int(idx[np.argmin(((vecs[idx] - mean) ** 2).sum(axis=1))])
    d0 = max(float(norms[entry] - 2.0 * (vecs[entry] @ q) + qn), 0.0)
    visited = {entry}
    frontier = [(d0, entry)]
    beam = [(-d0, entry)]
    seen_fail: set[int] = set()  # per-query failing-node memo (max_hops mode)
    while frontier:
        d, u = heapq.heappop(frontier)
        if len(beam) >= ef and d > -beam[0][0]:
            break
        cand = []
        if max_hops is None:
            # canonical candidate order: passing 1-hop neighbors first
            # (adjacency order), then passing 2-hop candidates reached
            # THROUGH failing neighbors — matches the vectorized closure
            # in acorn_search so the lockstep driver is pin-equal
            two: list[int] = []
            for v in adj[u]:
                if allowed[v]:
                    cand.append(v)
                elif expand_2hop:
                    two.extend(w for w in adj[v] if allowed[w])
            cand.extend(two)
        else:
            layer = list(adj[u])
            depth = 1
            while layer:
                nxt = []
                for v in layer:
                    if allowed[v]:
                        cand.append(v)
                    elif depth < max_hops and v not in seen_fail:
                        seen_fail.add(v)
                        nxt.extend(adj[v])
                layer = nxt
                depth += 1
        # dedupe WITHIN the expansion: a passing node reachable through
        # two failing detours must enter the beam once (dict preserves
        # discovery order → deterministic)
        fresh = [v for v in dict.fromkeys(cand) if v not in visited]
        if not fresh:
            continue
        visited.update(fresh)
        nv = np.asarray(fresh, dtype=np.int64)
        dv = norms[nv] - 2.0 * (vecs[nv] @ q) + qn
        for v, dvv in zip(fresh, dv):
            dvv = max(float(dvv), 0.0)
            if len(beam) < ef or dvv < -beam[0][0]:
                heapq.heappush(frontier, (dvv, v))
                heapq.heappush(beam, (-dvv, v))
                if len(beam) > ef:
                    heapq.heappop(beam)
    return _beam_cut(beam, k)


def _sorted_neighbors(vecs: np.ndarray, adj: list[list[int]],
                      norms: np.ndarray) -> list[np.ndarray]:
    """Each node's neighbor list ordered by distance to the node (ties by
    id — deterministic). ACORN-γ's search-time truncation semantics need
    this order: "keep the first M PASSING neighbors" only approximates the
    filtered-graph edge set when the list is distance-sorted (§4.2 of the
    paper; hnswlib stores lists in insert order, ACORN re-sorts). One
    gathered GEMV per node — O(E) total, part of the build."""
    out = []
    for u, nb in enumerate(adj):
        if len(nb) == 0:
            out.append(np.empty(0, dtype=np.int64))
            continue
        nv = np.asarray(nb, dtype=np.int64)
        d2 = norms[nv] - 2.0 * (vecs[nv] @ vecs[u]) + norms[u]
        order = np.lexsort((nv, d2))
        out.append(nv[order])
    return out


def _diverse_sorted_neighbors(vecs: np.ndarray, adj: list[list[int]],
                              norms: np.ndarray) -> list[np.ndarray]:
    """Each node's neighbor list ordered DIVERSE-FIRST: walk the
    distance-sorted candidates through hnswlib's diversity heuristic
    (keep iff closer to the base than to every kept — _select_neighbors)
    and emit the kept edges first (in distance order), then the rejected
    ones (in distance order). ACORN-γ's "first m passing" truncation over
    THIS order reduces, at selectivity → 1, to exactly the diverse
    m-degree graph ACORN-1 traverses — instead of the nearest-m kNN graph
    a pure distance order truncates to, which LOSES NAVIGABILITY as the
    partition grows (the r6 build finding, re-measured for γ search at
    sf1: recall 0.73 distance-ordered vs 0.9+ diverse-first at γ=2). At
    low selectivity the passing prefix reaches into the same γ·m
    candidates either way. One small gram matrix per node — O(E·γm)
    build-time, nothing at search time."""
    out = []
    for u, nb in enumerate(adj):
        if len(nb) == 0:
            out.append(np.empty(0, dtype=np.int64))
            continue
        nv = np.asarray(nb, dtype=np.int64)
        d2 = norms[nv] - 2.0 * (vecs[nv] @ vecs[u]) + norms[u]
        # the ONE implementation of the load-bearing heuristic: with
        # m = len(nv) the walk classifies every candidate, returning the
        # kept (diverse) ids in walk order; the rejected ids follow in
        # the same (distance, id) walk order (nv is id-sorted in every
        # caller, so the stable distance sort ties by id)
        kept = _select_neighbors(nv, d2, vecs, len(nv))
        kept_set = set(kept)
        order = np.lexsort((nv, d2))
        rest = [int(nv[j]) for j in order if int(nv[j]) not in kept_set]
        out.append(np.asarray(kept + rest, dtype=np.int64))
    return out


def _order_gamma_lists(vecs, adj, norms, neighbor_order: str):
    """Order each γ-list for the "first m passing" truncation:
    ``"diverse"`` (default — diverse-first, scale-safe) or
    ``"distance"`` (the paper's literal §4.2 re-sort)."""
    if neighbor_order == "diverse":
        return _diverse_sorted_neighbors(vecs, adj, norms)
    if neighbor_order == "distance":
        return _sorted_neighbors(vecs, adj, norms)
    raise ValueError(f"unknown neighbor_order {neighbor_order!r}")


def _pos_mapped_or_stale(neighbor_lists, ids, stale: str):
    """Map a partition's stored neighbor-id lists to positions in the
    sorted id array, detecting staleness in BOTH directions: a null list
    (block missing from the index — corpus grew since the build) or an
    edge to an id absent from the corpus (block removed since the build —
    silently stripping the edge could break ring connectivity and with it
    the ef ≥ n exhaustiveness proofs). Returns the pos-mapped
    ``list[np.ndarray]`` when the index is fresh; ``None`` when stale and
    ``stale == 'rebuild'`` (the caller rebuilds in-cogroup); raises when
    stale and ``stale == 'error'`` (certification paths fail loudly
    instead of papering over lost index maintenance)."""
    why = None
    out: list[np.ndarray] = []
    pos = {int(i): p for p, i in enumerate(ids)}
    for nbrs in neighbor_lists:
        # Arrow nulls surface as None or NaN depending on the column path
        if nbrs is None or not hasattr(nbrs, "__len__"):
            why = "blocks missing from the index (null neighbor list)"
            break
        mapped = [pos[int(v)] for v in nbrs if int(v) in pos]
        if len(mapped) != len(nbrs):
            why = "stored edges point at ids absent from the corpus"
            break
        out.append(np.asarray(mapped, dtype=np.int64))
    if why is None:
        return out
    if stale == "error":
        raise ValueError(f"stale graph index: {why}")
    return None


def _acorn_partition_adjacency(vecs, norms, m, gamma, build_method, neighbor_order):
    """The ONE ACORN partition-adjacency build — the fused
    :func:`acorn_search`, the offline :func:`build_acorn_graph`, and the
    indexed searches' stale-partition rebuild all call this single
    implementation, so the pytest-pinned indexed ≡ fused ≡ rebuilt
    equalities stay atomic under knob changes.

    γ>1 returns the UNPRUNED nearest-γ·m lists ordered by
    ``neighbor_order`` (the paper removes the RNG/diversity pruning
    precisely because it is predicate-agnostic: a pruned near neighbor
    may be the only passing one); the exact build IS that list, so
    γ-mode raises the auto crossover to 8× (r7: at 20k real vectors the
    blocked-BLAS exact build is 3× FASTER than the degree-γm insert loop
    at equal recall — the memory-bounded d² slab keeps it safe); beyond
    it the heuristic incremental build at degree γm is the documented
    fallback (measured: −0.05..−0.15 recall at selectivity ≤ 0.2).
    γ=1 returns the diverse (hnswlib-heuristic) m-graph."""
    if gamma > 1:
        method = build_method
        if method == "auto":
            method = (
                "exact" if vecs.shape[0] <= 8 * EXACT_BUILD_MAX
                else "incremental"
            )
        return _order_gamma_lists(
            vecs, _build_adjacency(vecs, m * gamma, method=method),
            norms, neighbor_order,
        )
    return _build_adjacency(vecs, m, method=build_method)


def _acorn_gamma_beam(vecs, adj_sorted, q, k, ef, allowed, m, norms=None):
    """ACORN-γ traversal (Patel et al. 2024 §4.2): the graph was built
    DENSER (degree ≈ γ·m) and expansion of a node keeps the first ``m``
    PASSING entries of its distance-sorted neighbor list — predicate-
    dependent neighbor-list truncation instead of ACORN-1's 2-hop
    detours. Down to selectivity ≈ 1/γ the truncated lists have the same
    expected degree the unfiltered graph would, so recall holds with NO
    extra hops and no failing-node distance evaluations — the regime
    where γ buys search time back at index-memory cost.

    REFERENCE KERNEL: production searches run the same truncation through
    :func:`_batched_beams`; kept as the readable spec, pytest-pinned."""
    idx = np.where(allowed)[0]
    if idx.size == 0:
        return []
    if norms is None:
        norms = (vecs * vecs).sum(axis=1)
    qn = float(q @ q)
    mean = vecs[idx].mean(axis=0)
    entry = int(idx[np.argmin(((vecs[idx] - mean) ** 2).sum(axis=1))])
    d0 = max(float(norms[entry] - 2.0 * (vecs[entry] @ q) + qn), 0.0)
    visited = {entry}
    frontier = [(d0, entry)]
    beam = [(-d0, entry)]
    while frontier:
        d, u = heapq.heappop(frontier)
        if len(beam) >= ef and d > -beam[0][0]:
            break
        nb = adj_sorted[u]
        passing = nb[allowed[nb]][:m] if nb.size else nb
        fresh = [int(v) for v in passing if int(v) not in visited]
        if not fresh:
            continue
        visited.update(fresh)
        nv = np.asarray(fresh, dtype=np.int64)
        dv = norms[nv] - 2.0 * (vecs[nv] @ q) + qn
        for v, dvv in zip(fresh, dv):
            dvv = max(float(dvv), 0.0)
            if len(beam) < ef or dvv < -beam[0][0]:
                heapq.heappush(frontier, (dvv, v))
                heapq.heappush(beam, (-dvv, v))
                if len(beam) > ef:
                    heapq.heappop(beam)
    return _beam_cut(beam, k)


def _with_role_meta(blocks: DataFrame, permissions: DataFrame | None):
    """Attach the per-document role-set metadata column the ACORN
    traversal evaluates its predicate from. With a ``permissions``
    relation (any (role_id, document_id) PermissionAssignment table) the
    role sets come from ONE doc-keyed hash join (derived frames lose size
    stats → hint off SortMergeJoin; bucket both sides on document_id at
    scale for a co-located join). With ``permissions=None`` the SAME
    metadata is built by the testdata's arithmetic rule (SURVEY §4:
    doc % 10 and (doc+3) % 10) — a default builder, not a baked-in
    predicate: the traversal itself never sees the rule. Returns
    ``(blocks_with_meta, droles_column)``."""
    if permissions is not None:
        doc_roles = permissions.groupBy("document_id").agg(
            F.collect_set(F.col("role_id").cast("long")).alias("_droles")
        )
        with_roles = blocks.join(doc_roles.hint("SHUFFLE_HASH"), "document_id", "left")
        droles_col = F.coalesce("_droles", F.array().cast("array<long>"))
    else:
        with_roles = blocks
        d = F.col("document_id")
        droles_col = F.array((d % 10).cast("long"), ((d + 3) % 10).cast("long"))
    return with_roles, droles_col


def _with_query_roles(queries: DataFrame, query_roles: DataFrame) -> DataFrame:
    """Queries + their role sets as ONE relation (roles folded to an
    array column). The aggregate is dim-sized (one row per query) but
    erases size stats, so it is broadcast explicitly — a derived queries
    side would otherwise fall to SortMergeJoin. Shared by the fused and
    indexed ACORN searches."""
    return queries.select("query_id", "query_vector").join(
        F.broadcast(
            query_roles.groupBy("query_id").agg(
                F.collect_set(F.col("role_id").cast("long")).alias("_roles")
            )
        ),
        "query_id",
        "left",
    )


def acorn_search(
    blocks: DataFrame,
    queries: DataFrame,
    query_roles: DataFrame,
    k: int = 10,
    m: int = 8,
    ef: int = 48,
    id_col: str = "block_id",
    vec_col: str = "vector",
    part_col: str | None = None,
    expand_2hop: bool = True,
    build_method: str = "auto",
    gamma: int = 1,
    max_hops: int | None = None,
    permissions: DataFrame | None = None,
    neighbor_order: str = "diverse",
) -> DataFrame:
    """D5 completed as REAL predicate-aware graph traversal: one graph
    over the (un-partitioned) corpus, the RBAC predicate evaluated per
    node DURING the beam search (ACORN-1 2-hop expansion) — the
    mid-selectivity regime where prefilter scans too much and a
    role-aligned partition layout doesn't exist. Complements the
    cost-model router in plans/strategy.py: that picks BETWEEN
    prefilter/postfilter; this searches WITH the filter in the graph.

    Queries and their role sets flow as ONE relation (roles folded to an
    array column, replicated per partition, cogrouped) — no driver
    collect. The predicate is evaluated FROM METADATA, the way the
    reference's acorn_benchmark/ evaluates predicates from actual
    permission tables: each block carries the role set of its document
    as an array column, and a node passes for a query iff the two role
    sets intersect. ``permissions`` supplies that metadata as a
    relation — any ``(role_id, document_id)`` PermissionAssignment
    table, grouped per document and joined to the blocks (SHUFFLE_HASH;
    co-locatable by bucketing both sides on document_id at scale).
    With ``permissions=None`` the SAME metadata is built by the
    testdata's arithmetic rule (SURVEY §4: doc % 10 and (doc+3) % 10) —
    a default builder, not a baked-in predicate: the traversal itself
    never sees the rule. Approximate op ⇒ recall-checked like the
    other graph members.

    ``gamma`` > 1 switches to ACORN-γ (the reference's
    acorn_benchmark/ denser-graph variant): the partition graph is built
    with degree ≈ γ·m and each expansion keeps the first ``m`` passing
    entries of the node's distance-sorted neighbor list — no 2-hop
    detours, recall held by graph density instead (good down to
    selectivity ≈ 1/γ). ``max_hops`` (γ=1 only) deepens the ACORN-1
    expansion through failing runs; ``max_hops ≥ n`` with ``ef ≥ n`` is
    provably exhaustive over the allowed set (see :func:`_acorn_beam`),
    which :func:`acorn_exact_topk` uses for the oracle certification.

    ``neighbor_order`` (γ>1 only) picks the γ-list order the truncation
    walks: ``"diverse"`` (default) emits each node's hnswlib-heuristic
    DIVERSE edges first so that at high selectivity the truncated graph
    is the navigable diverse m-graph rather than a nearest-m kNN graph
    (see :func:`_diverse_sorted_neighbors` — at sf1/20k the distance
    order loses 0.17 recall at γ=2); ``"distance"`` is the paper's
    literal §4.2 re-sort.
    """
    with_roles, droles_col = _with_role_meta(blocks, permissions)
    src = with_roles.select(
        F.col(id_col).alias("_id"),
        droles_col.alias("_droles"),
        F.col(vec_col).alias("_vec"),
        # literal cast to long: _single_part's key is long, and the
        # cogroup's two grouping keys must agree in type (implicit
        # int→long coercion is version-fragile)
        (F.col(part_col) if part_col else F.lit(0).cast("long")).alias("_part"),
    )
    q_with_roles = _with_query_roles(queries, query_roles)
    parts_from = (
        _single_part(blocks.sparkSession) if part_col is None
        else blocks.select(F.col(part_col).alias("_part"))
    )
    rq = _replicate_queries(src, q_with_roles, parts_from)

    def search_cogroup(blocks_pdf: pd.DataFrame, q_pdf: pd.DataFrame) -> pd.DataFrame:
        if len(blocks_pdf) == 0 or len(q_pdf) == 0:
            return pd.DataFrame(columns=["query_id", "_id", "distance"])
        blocks_pdf = blocks_pdf.sort_values("_id").reset_index(drop=True)
        vecs = np.stack(blocks_pdf["_vec"].values).astype(np.float64)
        ids = blocks_pdf["_id"].to_numpy()
        norms = (vecs * vecs).sum(axis=1)
        # the ONE adjacency build (see _acorn_partition_adjacency): γ>1
        # yields the ordered unpruned γ·m lists — passed as both the
        # membership adjacency and the search order, exactly as the
        # indexed path passes its stored lists (pytest-pinned equal)
        adj = _acorn_partition_adjacency(
            vecs, norms, m, gamma, build_method, neighbor_order
        )
        return _acorn_masked_search(
            vecs, ids, norms, adj, adj if gamma > 1 else None,
            blocks_pdf["_droles"].values, q_pdf,
            k, ef, m, gamma, expand_2hop, max_hops,
        )

    cand = (
        src.groupBy("_part")
        .cogroup(rq.groupBy("_qpart"))
        .applyInPandas(search_cogroup, schema="query_id long, _id long, distance double")
    )
    return _rank_topk(cand, k, id_col)


def _acorn_masked_search(
    vecs: np.ndarray,
    ids: np.ndarray,
    norms: np.ndarray,
    adj: list[np.ndarray],
    adj_sorted,
    droles,
    q_pdf: pd.DataFrame,
    k: int,
    ef: int,
    m: int,
    gamma: int,
    expand_2hop: bool,
    max_hops: int | None,
) -> pd.DataFrame:
    """Shared partition-local ACORN traversal: per-UNIQUE-role-set allowed
    masks (chunked so the mask block stays ≤ ~32 MB), two-level entry
    routing above the build crossover, and the lockstep batched beam with
    the γ / 2-hop / failing-run expansion variants. Used by the fused
    :func:`acorn_search` (adjacency built in-cogroup) and the persisted
    :func:`acorn_search_indexed` (adjacency joined from the index
    table)."""
    # flatten the per-node role arrays once per partition; each
    # query's allowed mask is then one vectorized membership test
    # over the flat (node, role) pairs — O(E) per query, no Python
    # loop over nodes
    rlens = np.asarray(
        [0 if x is None else len(x) for x in droles], dtype=np.int64
    )
    if int(rlens.sum()):
        rflat = np.concatenate(
            [np.asarray(x, dtype=np.int64) for x in droles
             if x is not None and len(x) > 0]
        )
    else:
        rflat = np.empty(0, dtype=np.int64)
    rnode = np.repeat(np.arange(len(droles)), rlens)
    # per-query allowed masks + allowed-medoid entry points; queries
    # whose permitted set is empty in this partition emit nothing
    qids = q_pdf["query_id"].to_numpy()
    qmat_full = np.stack(
        [np.asarray(v, dtype=np.float64) for v in q_pdf["query_vector"].values]
    )
    n_nodes = len(ids)
    roles_list = [
        [int(x) for x in rl] if rl is not None else []
        for rl in q_pdf["_roles"].values
    ]
    # RBAC role-sets dedupe heavily (a handful of role combinations
    # serve thousands of users), so the allowed mask and its medoid
    # entry point are computed once per UNIQUE role set, never per
    # query — queries sharing a role set share the mask row (a view)
    key_to_u: dict[tuple[int, ...], int] = {}
    uix = np.empty(len(roles_list), dtype=np.int64)
    u_roles: list[list[int]] = []
    for r, rls in enumerate(roles_list):
        kk = tuple(sorted(set(rls)))
        j = key_to_u.get(kk)
        if j is None:
            j = len(u_roles)
            key_to_u[kk] = j
            u_roles.append(list(kk))
        uix[r] = j
    routed = len(ids) > EXACT_BUILD_MAX
    empty = np.empty(0, dtype=np.int64)
    # expand-closure factories: adjacency structures build ONCE; the
    # allowed masks are bound per role-set chunk below
    if gamma > 1:
        # ACORN-γ expansion: first m PASSING entries of the node's
        # distance-sorted neighbor list (see _sorted_neighbors)
        def make_expand(allowed_by_q):
            def expand(i, u):
                nb = adj_sorted[u]
                if not nb.size:
                    return nb
                return nb[allowed_by_q[i][nb]][:m]
            return expand
    elif max_hops is None:
        # padded 2-D adjacency: row v = v's neighbors padded with v
        # itself, so one fancy gather + ravel yields ALL 2-hop
        # candidates (pads self-filter: a pad is its own failing
        # node, so the allowed mask drops it; the popped node's own
        # pads are visited). Row-major order == the canonical
        # passing-then-2hop order _acorn_beam documents.
        dmax = max((len(a) for a in adj), default=0) or 1
        adj2d = np.empty((len(adj), dmax), dtype=np.int64)
        for v, a in enumerate(adj):
            adj2d[v, : len(a)] = a
            adj2d[v, len(a):] = v

        def make_expand(allowed_by_q):
            def expand(i, u):
                al = allowed_by_q[i]
                nb = adj2d[u]
                pm = al[nb]
                passing = nb[pm]
                if not expand_2hop:
                    return passing
                failing = nb[~pm]
                if not failing.size:
                    return passing
                two = adj2d[failing].ravel()
                return np.concatenate([passing, two[al[two]]])
            return expand
    else:
        adjarr = adj

        def make_expand(allowed_by_q):
            # deep expansion through failing runs with a PER-QUERY
            # memo (bool array, allocated LAZILY on a query's first
            # expansion so memory tracks queries actually in BFS
            # mode, not the batch size): every failing node traversed
            # at most once per query (total expansion work O(E));
            # max_hops >= n + ef >= n => provably exhaustive over the
            # allowed set (acorn_exact). Fresh memo per chunk — i is
            # the chunk-local query index.
            seen_fail: dict[int, np.ndarray] = {}

            def expand(i, u):
                al = allowed_by_q[i]
                sf = seen_fail.get(i)
                if sf is None:
                    sf = seen_fail[i] = np.zeros(len(ids), dtype=bool)
                out = []
                layer = adjarr[u]
                depth = 1
                while layer.size:
                    pm = al[layer]
                    out.append(layer[pm])
                    if depth >= max_hops:
                        break
                    failing = layer[~pm]
                    failing = failing[~sf[failing]]
                    if not failing.size:
                        break
                    failing = _first_unique(failing)
                    sf[failing] = True
                    layer = np.concatenate([adjarr[int(v)] for v in failing])
                    depth += 1
                return np.concatenate(out) if out else empty
            return expand

    # the (unique role sets × nodes) bool mask is O(U·n): with
    # per-query-distinct role sets (tree/ERBAC closures) on a large
    # partition that is GBs if allocated at once — so role sets are
    # processed in chunks whose mask block stays ≤ ~32 MB (the same
    # cap _batched_beams puts on its visited matrix); masks, entry
    # routing, and the beam all run per chunk, and queries sharing a
    # role set still share one mask row (a view)
    n_u = len(u_roles)
    uchunk = max(1, 32_000_000 // max(n_nodes, 1))
    rows: list[tuple[int, int, float]] = []
    for u0 in range(0, n_u, uchunk):
        u1 = min(u0 + uchunk, n_u)
        mask = np.zeros((u1 - u0, n_nodes), dtype=bool)
        for ju in range(u1 - u0):
            rls = u_roles[u0 + ju]
            if rls and rflat.size:
                hit = np.isin(rflat, np.asarray(rls, dtype=np.int64))
                mask[ju, rnode[hit]] = True
        entries_u = np.full(u1 - u0, -1, dtype=np.int64)
        for ju in range(u1 - u0):
            idx = np.flatnonzero(mask[ju])
            if idx.size == 0:
                continue
            if routed:
                # above the crossover the per-query routing loop
                # below overwrites every live entry — keep only the
                # liveness marker, skip the medoid reduction
                entries_u[ju] = idx[0]
                continue
            sub = vecs[idx]
            mean = sub.mean(axis=0)
            entries_u[ju] = idx[np.argmin(((sub - mean) ** 2).sum(axis=1))]
        in_chunk = np.flatnonzero((uix >= u0) & (uix < u1))
        live = in_chunk[entries_u[uix[in_chunk] - u0] >= 0]
        if not live.size:
            continue
        uix_live = uix[live] - u0
        allowed_by_q = [mask[jl] for jl in uix_live]
        entries = entries_u[uix_live].copy()
        if routed:
            # two-level entry routing above the crossover (see
            # _batched_entries — the medoid entry loses the query's
            # basin at 256k): per unique role set, each routed query
            # enters at its nearest node among a ≤4096-node
            # deterministic sample of the ALLOWED set, one GEMM per
            # role set
            qmat_live = qmat_full[live]
            for ju in np.unique(uix_live):
                idx = np.flatnonzero(mask[ju])
                if not idx.size:
                    continue
                sel = idx[:: -(-idx.size // ENTRY_SAMPLE_MAX)]
                qrows = np.flatnonzero(uix_live == ju)
                # chunk the distance GEMM over queries (same ~32 MB
                # cap as _batched_entries) — one role set can cover
                # a whole replicated mega-batch
                step = max(1, 4_000_000 // sel.size)
                for lo in range(0, qrows.size, step):
                    qr = qrows[lo: lo + step]
                    d = norms[sel][None, :] - 2.0 * (qmat_live[qr] @ vecs[sel].T)
                    entries[qr] = sel[np.argmin(d, axis=1)]
        found = _batched_beams(
            vecs, norms, qmat_full[live],
            np.asarray(entries, dtype=np.int64), k, ef,
            make_expand(allowed_by_q),
            # only multi-hop detours can reach a node twice in one
            # expansion; γ's truncated sorted lists are duplicate-free
            dedupe=(gamma <= 1),
        )
        rows.extend(
            (int(qids[live[i]]), int(ids[u]), float(np.sqrt(max(d2, 0.0))))
            for i, res in enumerate(found)
            for d2, u in res
        )
    return pd.DataFrame(rows, columns=["query_id", "_id", "distance"])


def build_acorn_graph(
    blocks: DataFrame,
    m: int = 8,
    gamma: int = 1,
    id_col: str = "block_id",
    vec_col: str = "vector",
    part_col: str | None = None,
    build_method: str = "auto",
    neighbor_order: str = "diverse",
) -> DataFrame:
    """Materialize the ACORN adjacency as ``(part, id, neighbors)`` — the
    build-once/search-many index the reference's acorn_benchmark/ builds
    offline. γ=1 stores the diverse (hnswlib-heuristic) graph ACORN-1
    traverses; γ>1 stores the UNPRUNED nearest-γ·m lists ordered for the
    γ search's "first m passing" truncation (``neighbor_order``:
    diverse-first by default, the paper's literal distance sort on
    request — see :func:`acorn_search`), so the search gathers stored
    order with no per-search re-sort. Same build crossovers as the fused
    :func:`acorn_search` (γ-mode blocked-BLAS exact up to 8× the NSW
    crossover)."""

    src = blocks.select(
        F.col(id_col).alias("_id"),
        F.col(vec_col).alias("_vec"),
        (F.col(part_col) if part_col else F.lit(0).cast("long")).alias("part"),
    )
    # the part column keeps ITS OWN type (long grid parts, string comb_role
    # keys alike) — mirrors build_nsw_graph/insert_into_graph, so an ACORN
    # index composes with the dynamic comb-role store (D4×D5)
    part_type = src.schema["part"].dataType.simpleString()

    def build_group(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("_id").reset_index(drop=True)
        vecs = np.stack(pdf["_vec"].values).astype(np.float64)
        ids = pdf["_id"].to_numpy()
        adj = _acorn_partition_adjacency(
            vecs, (vecs * vecs).sum(axis=1), m, gamma, build_method,
            neighbor_order,
        )
        part = pdf["part"].iloc[0]
        return pd.DataFrame(
            {
                "part": part,
                "id": ids,
                "neighbors": [[int(ids[v]) for v in a] for a in adj],
            }
        )

    return src.groupBy("part").applyInPandas(
        build_group, schema=f"part {part_type}, id long, neighbors array<long>"
    )


def acorn_search_indexed(
    blocks: DataFrame,
    adjacency: DataFrame,
    queries: DataFrame,
    query_roles: DataFrame,
    k: int = 10,
    m: int = 8,
    ef: int = 48,
    id_col: str = "block_id",
    vec_col: str = "vector",
    part_col: str | None = None,
    expand_2hop: bool = True,
    gamma: int = 1,
    max_hops: int | None = None,
    permissions: DataFrame | None = None,
    build_method: str = "auto",
    neighbor_order: str = "diverse",
    stale: str = "rebuild",
) -> DataFrame:
    """ACORN over a PREBUILT :func:`build_acorn_graph` adjacency — no
    graph rebuild per query batch (nsw_search_indexed idiom): vectors and
    role metadata join their stored neighbor lists on the id key inside
    each partition, queries + role sets replicate as ONE relation, and
    the traversal runs exactly as in :func:`acorn_search` (shared
    :func:`_acorn_masked_search`). ``gamma``, ``m``, ``build_method``
    and ``neighbor_order`` must match the build's knobs: γ>1 indexes
    store ordered unpruned lists, γ=1 the diverse graph, and the stale
    rebuild below reproduces the build with exactly these parameters.

    Staleness in EITHER direction is detected per partition: blocks
    missing from the index arrive with null neighbor lists through the
    LEFT join (index behind the corpus), and stored edges pointing at
    ids absent from the corpus mean blocks were removed since the build
    (index ahead — silently stripping those edges could disconnect the
    ring the exactness proofs need). ``stale`` picks the response:
    ``'rebuild'`` (default) rebuilds that partition's graph in-cogroup
    (the knn_dynamic_graph pattern — search never silently drops blocks
    or degrades), ``'error'`` raises instead, for certification paths
    that must FAIL LOUDLY when index maintenance lost a block rather
    than paper over it with a rebuild. This is the production
    search-many path; the fused build stays certified through
    acorn_exact."""
    if stale not in ("rebuild", "error"):
        raise ValueError(f"unknown stale policy {stale!r}")
    with_roles, droles_col = _with_role_meta(blocks, permissions)
    src = with_roles.select(
        # the id join key casts to long (build_acorn_graph's schema
        # stores id as long; implicit int→long coercion is
        # version-fragile); the part key keeps ITS OWN type — the build
        # mirrors it, so string comb_role parts compose (D4×D5)
        F.col(id_col).cast("long").alias("_id"),
        droles_col.alias("_droles"),
        F.col(vec_col).alias("_vec"),
        (F.col(part_col) if part_col else F.lit(0).cast("long")).alias("_part"),
    ).join(
        # corpus-sized ⋈ corpus-sized on the same key: hash-join hint —
        # the applyInPandas output has no size stats and would SMJ
        adjacency.select(
            F.col("part").alias("_part"), F.col("id").alias("_id"), "neighbors"
        ).hint("SHUFFLE_HASH"),
        ["_part", "_id"],
        "left",
    )
    q_with_roles = _with_query_roles(queries, query_roles)
    # partition values from the CORPUS (column-pruned scan, the fused
    # path's source) — not from src (the corpus⋈adjacency join, which
    # Catalyst would execute twice) and not from the adjacency (a stale
    # index missing an entire partition would stop queries reaching that
    # partition's blocks — the rebuild fallback needs the queries there)
    parts_from = (
        _single_part(blocks.sparkSession) if part_col is None
        else blocks.select(F.col(part_col).alias("_part"))
    )
    rq = _replicate_queries(src, q_with_roles, parts_from)

    def search_cogroup(blocks_pdf: pd.DataFrame, q_pdf: pd.DataFrame) -> pd.DataFrame:
        if len(blocks_pdf) == 0 or len(q_pdf) == 0:
            return pd.DataFrame(columns=["query_id", "_id", "distance"])
        blocks_pdf = blocks_pdf.sort_values("_id").reset_index(drop=True)
        vecs = np.stack(blocks_pdf["_vec"].values).astype(np.float64)
        ids = blocks_pdf["_id"].to_numpy()
        norms = (vecs * vecs).sum(axis=1)
        adj = _pos_mapped_or_stale(blocks_pdf["neighbors"].values, ids, stale)
        if adj is None:  # stale partition → the ONE rebuild implementation
            adj = _acorn_partition_adjacency(
                vecs, norms, m, gamma, build_method, neighbor_order
            )
        return _acorn_masked_search(
            vecs, ids, norms, adj,
            # stored order IS the search order for γ builds (diverse-first
            # by default — see build_acorn_graph's neighbor_order)
            adj if gamma > 1 else None,
            blocks_pdf["_droles"].values, q_pdf,
            k, ef, m, gamma, expand_2hop, max_hops,
        )

    cand = (
        src.groupBy("_part")
        .cogroup(rq.groupBy("_qpart"))
        .applyInPandas(search_cogroup, schema="query_id long, _id long, distance double")
    )
    return _rank_topk(cand, k, id_col)


def acorn_exact_topk(
    blocks: DataFrame,
    queries: DataFrame,
    query_roles: DataFrame,
    k: int = 10,
    m: int = 8,
    expansion: int = 4,
    id_col: str = "block_id",
    vec_col: str = "vector",
    permissions: DataFrame | None = None,
) -> DataFrame:
    """D5 EXACT certification — the predicate-aware traversal under the
    hash gate, completing the r5/r6 certification ladder (LSH → PQ →
    graph → ACORN): at ``ef`` ≥ n the beam cap never binds and at
    ``max_hops`` ≥ n the memoized failing-run BFS crosses every failing
    chain, so the traversal provably visits EVERY allowed node (ring ⇒
    the full graph is connected; see :func:`_acorn_beam`) — the shortlist
    is the exact permitted top-k·expansion. The JVM-side L2 rerank makes
    distances bit-comparable (graph_exact_topk idiom), so the oracle is
    the plain FILTERED brute force (prefilter SQL shape). What the match
    certifies: predicate evaluation inside the traversal, failing-run
    expansion, entry-point selection, and the rank — everything but the
    approximation, which ``ann_recall``'s acorn members floor."""
    from ..functions import vector as V
    from .knn import topk_per_query

    n_hint = 1 << 30
    shortlist = acorn_search(
        blocks, queries, query_roles, k=k * expansion, m=m, ef=n_hint,
        id_col=id_col, vec_col=vec_col, build_method="exact",
        max_hops=n_hint, permissions=permissions,
    ).select("query_id", id_col)
    rescored = (
        shortlist.join(blocks.select(id_col, vec_col), id_col)
        .join(F.broadcast(queries.select("query_id", "query_vector")), "query_id")
        .select(
            "query_id",
            F.col(id_col).alias("_bid"),
            F.round(V.l2_distance(vec_col, "query_vector"), 6).alias("distance"),
        )
    )
    w = topk_per_query(rescored, k, id_col="_bid")
    return w.select("query_id", F.col("_bid").alias(id_col), "distance", "rank")
