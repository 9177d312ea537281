"""Deduplication operators for LLM-scale corpora (SURVEY.md §2 E1-E5).

All hashing uses the cross-engine ``md5 → first 15 hex digits → BIGINT``
scheme (functions.vector.md5_long) so every operator has an exact DuckDB
oracle. Structure:

- exact dedup: hash-groupBy on normalized text — one shuffle on a 60-bit key.
- MinHash+LSH: shingle → H minhashes → B bands → band-bucket equi-join.
  Candidate generation never materializes O(N²); the join key is
  (band_id, band_signature) so only colliding docs meet. This is the
  standard 100 TB near-dup pipeline shape.
- SimHash: 60-bit sign-aggregated fingerprint; near-dup = hamming ≤ t
  within LSH-rotations or (small N) all-pairs.
- n-gram Jaccard verify: exact set overlap on candidate pairs via a
  shingle equi-join (intersection counts) + per-doc shingle counts.

Reference had exact-block dedup via ``hash_value BYTEA`` on documentblocks
(initialize_main_tables.py:58); the near-dup family generalizes it for
training-data pipelines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.vector import md5_long
from .hints import gated_broadcast, memoized_stat, parallelize_scan

_WS = r"\s+"

# Relations this module persists for intra-operator reuse (the shingle
# relation in ngram_jaccard_pairs, the signature relation in
# simhash_neardup_pairs_banded). CacheManager dedupes identical canonical
# plans, so repeated calls over the SAME source reuse one entry — but a
# long-lived session sweeping many corpora/params accumulates one entry per
# distinct plan. Call :func:`release_dedup_caches` between corpora to drop
# them (resident cached artifacts are the measured GC-stall driver at the
# default driver heap).
_CACHED: list[DataFrame] = []


def _register_cache(df: DataFrame) -> DataFrame:
    _CACHED.append(df.persist())
    return df


def release_dedup_caches() -> int:
    """Unpersist every relation this module cached; returns how many."""
    n = len(_CACHED)
    for df in _CACHED:
        df.unpersist()
    _CACHED.clear()
    return n


def normalize_text(col) -> F.Column:
    """lower + collapse whitespace + trim — shared by all dedup ops and the
    oracle SQL (SURVEY.md §4)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.trim(F.regexp_replace(F.lower(c), _WS, " "))


def exact_duplicates(documents: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Groups of exact duplicates after normalization; keeper = min id.

    Returns (doc_id, keeper_id, content_hash) for every doc in a group of
    size ≥ 2. Map-side partial agg on the 60-bit hash → one small shuffle.
    """
    h = documents.select(
        F.col(id_col).alias("doc_id"), md5_long(normalize_text(text_col)).alias("content_hash")
    )
    w = Window.partitionBy("content_hash")
    return (
        h.withColumn("keeper_id", F.min("doc_id").over(w))
        .withColumn("group_size", F.count("*").over(w))
        .where(F.col("group_size") >= 2)
        .select("doc_id", "keeper_id", "content_hash")
    )


def dedup_exact(documents: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Keep one row (min id) per normalized-content hash."""
    h = documents.withColumn("content_hash", md5_long(normalize_text(text_col)))
    w = Window.partitionBy("content_hash").orderBy(F.col(id_col).asc())
    return h.withColumn("_rn", F.row_number().over(w)).where(F.col("_rn") == 1).drop("_rn", "content_hash")


def word_shingles(documents: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 3) -> DataFrame:
    """Distinct n-word shingles per doc: (doc_id, shingle).

    1-indexed ``element_at`` matches DuckDB list indexing so the oracle SQL
    produces byte-identical shingles.
    """
    toks = F.split(normalize_text(text_col), " ")
    idx = F.explode(F.sequence(F.lit(1), F.size(F.col("_toks")) - (n - 1))).alias("i")
    parts = [F.element_at(F.col("_toks"), F.col("i") + j) for j in range(n)]
    return (
        # r12 guide §2.2/§6: a single-row-group corpus file scans as 1-2
        # tasks, serializing the shingle explode on any core count —
        # parallelize_scan splits it when (and only when) the input is big
        # enough to pay for the exchange; no-op on already-parallel scans
        parallelize_scan(documents).select(F.col(id_col).alias("doc_id"), toks.alias("_toks"))
        .where(F.size("_toks") >= n)
        .select("doc_id", "_toks", idx)
        .select("doc_id", F.concat_ws(" ", *parts).alias("shingle"))
        .distinct()
    )


MINHASH_P = 2147483647  # Mersenne prime 2^31-1: products stay in int64


def _hv(h: int, s) -> F.Column:
    """Universal hash family member h applied to base hash column s:
    ((h+1)·2654435761 mod p) · s + (h·40503+17 mod p), mod p. Pure
    arithmetic → the DuckDB oracle reproduces identical values."""
    a_h = (h + 1) * 2654435761 % MINHASH_P
    b_h = (h * 40503 + 17) % MINHASH_P
    return (F.lit(a_h) * s + F.lit(b_h)) % MINHASH_P


def minhash_signatures_wide(shingles: DataFrame, num_hashes: int = 16) -> DataFrame:
    """(doc_id, mh0..mh{H-1}): the H-wide signature row — ONE groupBy with H
    min() aggregates, map-side combined to a single row per doc before the
    only shuffle. The wide form is the scale-preferred representation: band
    signatures derive from it without any further shuffle."""
    base = shingles.select("doc_id", (md5_long(F.col("shingle")) % MINHASH_P).alias("s"))
    return base.groupBy("doc_id").agg(
        *[F.min(_hv(h, F.col("s"))).alias(f"mh{h}") for h in range(num_hashes)]
    )


def lsh_bands_wide(wide: DataFrame, num_hashes: int = 16, band_size: int = 4) -> DataFrame:
    """(doc_id, band, band_sig) computed purely column-wise from the wide
    signature row — md5-fold of each band's minhashes in h-order, with zero
    additional shuffles."""
    n_bands = num_hashes // band_size
    bands = F.array(*[
        F.struct(
            F.lit(b).alias("band"),
            md5_long(
                F.concat_ws(",", *[F.col(f"mh{b * band_size + j}").cast("string") for j in range(band_size)])
            ).alias("band_sig"),
        )
        for b in range(n_bands)
    ])
    return wide.select("doc_id", F.explode(bands).alias("p")).select(
        "doc_id", F.col("p.band").alias("band"), F.col("p.band_sig").alias("band_sig")
    )


def minhash_candidates(
    documents: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 16,
    band_size: int = 4,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Candidate near-dup pairs (a < b) sharing ≥ 1 LSH band bucket.

    Pairs are generated *within* each bucket (collect_set → pairwise
    explode), not by self-joining the bucket table — a self-join would run
    the whole shingle→minhash pipeline twice and shuffle it twice. One
    aggregate on (band, band_sig) + an array combination expansion is the
    minimal-shuffle shape; bucket sizes are bounded by LSH design (huge
    buckets mean the band scheme is mis-tuned, not that the join should
    absorb them).

    ``max_bucket_size`` is the production guard at corpus scale: a bucket of
    B docs emits B² pairs, so one degenerate bucket (boilerplate shingles)
    can dominate the whole job. Capped buckets are DROPPED — that's the
    industry-standard trade (those pairs are near-universal boilerplate, not
    near-dups). Default None (no cap) keeps exact oracle parity.
    """
    sh = word_shingles(documents, id_col, text_col, n)
    bk = lsh_bands_wide(minhash_signatures_wide(sh, num_hashes), num_hashes, band_size)
    buckets = (
        bk.groupBy("band", "band_sig")
        .agg(F.array_sort(F.collect_set("doc_id")).alias("ids"))
        .where(F.size("ids") >= 2)
    )
    if max_bucket_size is not None:
        buckets = buckets.where(F.size("ids") <= max_bucket_size)
    pairs = F.expr(
        "flatten(transform(ids, (a, i) -> "
        "transform(slice(ids, i + 2, size(ids)), b -> struct(a AS id_a, b AS id_b))))"
    )
    return (
        buckets.select(F.explode(pairs).alias("p"))
        .select("p.id_a", "p.id_b")
        .distinct()
    )


def ngram_jaccard_pairs(
    documents: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.2,
    max_df_frac: float | None = None,
) -> DataFrame:
    """Exact Jaccard over n-word shingle sets for every pair sharing ≥ 1
    shingle (pairs with J=0 can't pass any threshold > 0, so the shingle
    equi-join IS the candidate generator — no cross join).

    ``max_df_frac`` is the 100 TB guard on the join key: shingles occurring
    in more than that fraction of docs are dropped BEFORE the self-join —
    a stop-shingle in f·N docs alone emits (f·N)² candidate rows, while
    contributing no discrimination (any pair sharing ONLY stop-shingles has
    near-zero Jaccard anyway). Distances computed on the surviving shingle
    sets are approximate-high by a bounded amount, so the default (None)
    keeps exact oracle parity and the knob is opt-in.

    EAGER NOTE: construction runs two cheap stats jobs before returning —
    an id-bounds aggregate over the persisted shingle relation (picks the
    packed pair key; a single scan of the cache the returned plan reuses)
    and a metadata-cheap source count (size-gates the size-table
    broadcasts) — so this operator is not fully lazy. Cached relations are
    registered for :func:`release_dedup_caches`.
    """
    # the shingle relation feeds the self-join (twice) and the size
    # aggregate — materialize once instead of re-running the explode+regex
    sh = word_shingles(documents, id_col, text_col, n)
    if max_df_frac is not None:
        # The guard runs BEFORE the persist so the df aggregate + keep-set
        # join compute exactly ONCE at cache materialization (an earlier
        # form filtered the already-persisted relation, re-embedding the
        # aggregate in every consumer — sizes + both join sides — measured
        # +35 s at sf2 even when the cap dropped nothing). word_shingles
        # emits DISTINCT (doc_id, shingle) rows, so df is a plain
        # partial-combined count, and the keep set is vocabulary-sized —
        # AQE converts the semi-join to a runtime broadcast.
        n_docs = memoized_stat(
            documents, "n_distinct_ids",
            lambda: documents.select(F.countDistinct(id_col)).first()[0] or 0,
        )
        keep = (
            sh.groupBy("shingle").agg(F.count("*").alias("df"))
            .where(F.col("df") <= F.lit(float(n_docs * max_df_frac)))
            .select("shingle")
        )
        sh = sh.join(keep, "shingle", "left_semi")
    sh = _register_cache(sh)
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("sz"))
    a = sh.select(F.col("doc_id").alias("id_a"), "shingle")
    b = sh.select(F.col("doc_id").alias("id_b"), "shingle")
    pairs = a.join(b, "shingle").where(F.col("id_a") < F.col("id_b"))
    # The co-occurrence count is the dominant cost: one hash aggregate
    # over Σ df² join rows with ~one group per co-occurring pair (114.8M
    # groups at sf1 — most pairs share exactly one shingle). When ids fit
    # 31 bits, pack the pair into ONE long key: half the key bytes per
    # hash-table entry cuts the aggregate ~25% measured (16.9 → 12.8 s
    # at sf1), exactly — unpack is two bit-ops after the agg. The bounds
    # probe is a sub-second scan of the already-persisted shingle
    # relation; out-of-range ids (e.g. 64-bit hash ids at corpus scale)
    # keep the two-column aggregate, which is the same result.
    bounds = sh.agg(F.min("doc_id").alias("lo"), F.max("doc_id").alias("hi")).first()
    # size-table row bound for the broadcast gate: ≤ one row per input doc,
    # priced by a metadata-cheap count on the SOURCE relation (a
    # countDistinct folded into the bounds probe would force an expand
    # over the whole persisted shingle relation — measured +0.4 s at sf0.1)
    n_docs_bound = memoized_stat(documents, "n_rows", documents.count)
    if bounds.lo is not None and bounds.lo >= 0 and bounds.hi < (1 << 31):
        inter = (
            # cast BEFORE the shift: on an int32 id column, Java masks the
            # shift count mod 32 so `int << 32` is a NO-OP and distinct
            # pairs would collide ((1,4) ≡ (2,3)) — silently wrong counts
            pairs.select(
                (F.shiftleft(F.col("id_a").cast("long"), 32)
                 + F.col("id_b").cast("long")).alias("pk")
            )
            .groupBy("pk")
            .agg(F.count("*").alias("inter"))
            .select(
                F.shiftright("pk", 32).alias("id_a"),
                F.col("pk").bitwiseAND(F.lit((1 << 32) - 1)).alias("id_b"),
                "inter",
            )
        )
    else:
        inter = pairs.groupBy("id_a", "id_b").agg(F.count("*").alias("inter"))
    sza = sizes.select(F.col("doc_id").alias("id_a"), F.col("sz").alias("sz_a"))
    szb = sizes.select(F.col("doc_id").alias("id_b"), F.col("sz").alias("sz_b"))
    # size-gated hint: the per-doc size table is one (long, long) row per
    # doc — broadcast while the probe's doc count says it fits, else join
    # on the id key (bucketable on document id at corpus scale)
    sz_est = int(n_docs_bound) * 24
    return (
        inter.join(gated_broadcast(sza, sz_est), "id_a")
        .join(gated_broadcast(szb, sz_est), "id_b")
        .withColumn(
            "jaccard",
            F.round(F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")), 6),
        )
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def simhash_signatures(
    documents: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 32,
) -> DataFrame:
    """Per-doc SimHash: bit j set iff Σ_tokens (2·bit_j(md5_long(tok)) − 1) > 0.

    Shape: explode(token) → ONE groupBy(doc_id) carrying the ``bits``
    per-bit sums as columns of a single wide aggregate — map-side partial
    combine reduces every scan partition to one row per doc before the only
    shuffle, and the sign/pack fold is a post-aggregate projection (no
    second shuffle, no ×bits row explode). Same values as the per-bit
    formulation — DuckDB-oracle parity is unchanged.
    """
    toks = (
        # r12: split the serial single-file scan ahead of the token
        # explode (size-gated — see parallelize_scan)
        parallelize_scan(documents)
        .select(F.col(id_col).alias("doc_id"), F.explode(F.split(normalize_text(text_col), " ")).alias("tok"))
        .withColumn("th", md5_long("tok"))
    )
    def contrib(j: int) -> F.Column:
        mask = F.lit(1 << j).cast("long")
        return F.when(F.col("th").bitwiseAND(mask) != 0, F.lit(1)).otherwise(F.lit(-1))

    wide = toks.groupBy("doc_id").agg(
        *[F.sum(contrib(j)).alias(f"s{j}") for j in range(bits)]
    )
    sig = F.lit(0).cast("long")
    for j in range(bits):
        sig = sig + F.when(F.col(f"s{j}") > 0, F.lit(1 << j).cast("long")).otherwise(F.lit(0))
    return wide.select("doc_id", sig.alias("simhash"))


def simhash_neardup_pairs(
    documents: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 32,
    max_hamming: int = 3,
) -> DataFrame:
    """Pairs (a < b) with hamming(simhash_a, simhash_b) ≤ max_hamming.

    Small-N: all-pairs on the packed 32-bit signature (cheap — one long per
    doc). 100 TB path: split the signature into (max_hamming+1) chunks and
    equi-join on each chunk (pigeonhole) — provided by
    ``simhash_neardup_pairs_banded``.
    """
    sig = simhash_signatures(documents, id_col, text_col, bits)
    a = sig.select(F.col("doc_id").alias("id_a"), F.col("simhash").alias("sig_a"))
    b = sig.select(F.col("doc_id").alias("id_b"), F.col("simhash").alias("sig_b"))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .withColumn("hamming", F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b"))))
        .where(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def simhash_neardup_pairs_banded(
    documents: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 32,
    max_hamming: int = 3,
) -> DataFrame:
    """Pigeonhole-banded SimHash near-dup: any pair within hamming t must
    agree exactly on ≥ 1 of t+1 disjoint bit-chunks → equi-join per chunk.
    Same result set as the all-pairs version, candidate-bounded for scale."""
    # materialize the signatures once. Two reasons, both measured at sf1:
    # (a) both join sides (one becomes the broadcast build) would re-run
    # the tokenize + per-bit fold aggregation; (b) UNCACHED, AQE coalesces
    # the tiny signature-aggregate exchange (one 16-byte row per doc ≪ the
    # 1 MB min partition size) to a single partition — and the banded
    # self-join that FANS OUT of it (Σ bucket², 285M candidate rows at
    # sf1) inherits that ONE task: 34 s single-threaded vs 4 s parallel.
    # Cached plans are exempt from AQE output-partitioning changes
    # (canChangeCachedPlanOutputPartitioning=false), so the probe stage
    # keeps the aggregate's doc-hashed partitioning — which also spreads
    # hot buckets evenly, unlike repartitioning by the band join key.
    # CacheManager dedupes by canonicalized plan, so repeated calls over
    # the same source reuse one entry (the ngram sh idiom); registered so
    # long-lived sessions can release it between corpora
    # (:func:`release_dedup_caches`).
    sig = _register_cache(simhash_signatures(documents, id_col, text_col, bits))
    nb = max_hamming + 1
    chunk = bits // nb
    chunk_exprs = F.array(*[
        F.struct(
            F.lit(c).alias("c"),
            F.shiftright(F.col("simhash"), c * chunk).bitwiseAND(F.lit((1 << chunk) - 1)).alias("chunk_val"),
        )
        for c in range(nb)
    ])
    chunks = sig.select("doc_id", "simhash", F.explode(chunk_exprs).alias("b")).select(
        "doc_id", "simhash", F.col("b.c").alias("c"), F.col("b.chunk_val").alias("chunk_val")
    )
    a = chunks.select(F.col("doc_id").alias("id_a"), F.col("simhash").alias("sig_a"), "c", "chunk_val")
    b = chunks.select(F.col("doc_id").alias("id_b"), F.col("simhash").alias("sig_b"), "c", "chunk_val")
    # hamming-filter BEFORE the distinct: the popcount verification runs
    # pipelined in the join stage, so the dedup shuffle sees only the true
    # near-dup pairs (a pair matching on several chunks emits the same
    # (id_a, id_b, hamming) row each time — distinct on survivors is the
    # same set), not the full banded candidate blow-up.
    return (
        a.join(b, ["c", "chunk_val"])
        .where(F.col("id_a") < F.col("id_b"))
        .withColumn("hamming", F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b"))))
        .where(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
        .distinct()
    )


def levenshtein_neardup_pairs(
    documents: DataFrame,
    max_dist: int = 8,
    prefix_len: int = 64,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Edit-distance near-dup (a < b, levenshtein ≤ max_dist) on normalized
    ``prefix_len``-char prefixes — the "same doc, small character edits"
    detector that token-set methods miss (shingle sets are insensitive to
    within-token typos; levenshtein is exactly sensitive to them).

    Candidates are blocked on (first token, length band): a quadratic
    verifier must never see the full corpus, so pairs form only inside
    blocks, the standard record-linkage trade — cross-block near-dups
    (first-token edit, length-band straddle) are deliberately out of scope
    and the oracle replicates the same blocking exactly.
    """
    p = F.substring(normalize_text(text_col), 1, prefix_len)
    t = documents.select(
        F.col(id_col).alias("doc_id"),
        p.alias("p"),
        F.substring_index(p, " ", 1).alias("b_tok"),
        F.floor(F.length(p) / 16).cast("long").alias("b_len"),
    )
    a = t.select(F.col("doc_id").alias("id_a"), F.col("p").alias("p_a"), "b_tok", "b_len")
    b = t.select(F.col("doc_id").alias("id_b"), F.col("p").alias("p_b"), "b_tok", "b_len")
    return (
        a.join(b, ["b_tok", "b_len"])
        .where(F.col("id_a") < F.col("id_b"))
        .withColumn("edit_dist", F.levenshtein("p_a", "p_b").cast("long"))
        .where(F.col("edit_dist") <= max_dist)
        .select("id_a", "id_b", "edit_dist")
    )


def neardup_clusters(
    documents: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    max_iter: int = 20,
    local_threshold: int = 2_000_000,
) -> DataFrame:
    """Connected components over a near-dup pair graph: (doc_id, cluster_id)
    where cluster_id = min doc id in the component; docs in no pair are
    singleton clusters of themselves.

    This is the final step of every near-dedup pipeline (candidates →
    components → keep one canonical doc per component). Min-label
    propagation runs ONLY on the candidate subgraph (nodes touched by a
    pair) — at corpus scale the pair graph is orders of magnitude smaller
    than the corpus, so the iterative joins are on a small, broadcastable
    edge list; the full corpus is touched once by the final left join. Each
    iteration is one join + one min-aggregate; converges in O(component
    diameter) rounds (near-dup components are shallow), lineage truncated
    per round with localCheckpoint.

    Below ``local_threshold`` edges the labels are solved with a
    driver-side union-find instead (identical min-id labels) — the same
    small-graph fallback GraphFrames' ConnectedComponents ships: on a
    subgraph this is the "broadcast the small side" move, replacing
    O(rounds) Spark jobs with one bounded collect (~30 MB of longs at the
    default threshold). The iterative path is the scale path and takes
    over automatically past the threshold.
    """
    sym = pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst")).unionByName(
        pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst"))
    ).distinct().localCheckpoint()
    # Size the iteration's parallelism to the SUBGRAPH, not the corpus: the
    # candidate graph is orders of magnitude smaller than the input, so the
    # per-round joins run on a handful of partitions (one, locally) instead
    # of inheriting the corpus-wide shuffle width — per-round cost becomes
    # proportional to the graph, not to the cluster's task-scheduling floor.
    n_edges = sym.count()  # free: localCheckpoint already materialized it
    docs = documents.select(F.col(id_col).cast("long").alias(id_col))
    if n_edges <= local_threshold:
        root: dict[int, int] = {}

        def find(x: int) -> int:
            r = x
            while root[r] != r:
                r = root[r]
            while root[x] != r:  # path compression
                root[x], x = r, root[x]
            return r

        pdf = sym.toPandas()  # Arrow path; bounded by local_threshold
        for a, b in zip(pdf["src"].to_numpy(), pdf["dst"].to_numpy()):
            a, b = int(a), int(b)
            root.setdefault(a, a)
            root.setdefault(b, b)
            ra, rb = find(a), find(b)
            if ra != rb:
                # union by min id keeps the root the component minimum,
                # matching the propagation path's min-label semantics
                if ra < rb:
                    root[rb] = ra
                else:
                    root[ra] = rb
        spark = documents.sparkSession
        # r12 (guide §6, Arrow driver transfers): ship the label table as a
        # pandas frame — the list-of-tuples form pickles row by row and
        # measurably cost ~1.5 s per call at the sf1 label count (29 k),
        # the Arrow path ~0.3 s. Same rows, same schema.
        import pandas as _pd

        nodes = list(root)
        labels = spark.createDataFrame(
            _pd.DataFrame(
                {
                    "node": _pd.Series(nodes, dtype="int64"),
                    "cluster_id": _pd.Series([find(n) for n in nodes], dtype="int64"),
                }
            )
        )
        # label count is known exactly on the driver — gate the hint on it
        return docs.join(
            gated_broadcast(labels.withColumnRenamed("node", id_col), len(root) * 24),
            id_col, "left",
        ).select(
            id_col, F.coalesce("cluster_id", F.col(id_col)).cast("long").alias("cluster_id")
        )
    parts = max(1, min(sym.sparkSession.sparkContext.defaultParallelism, n_edges // 500_000))
    sym = sym.repartition(parts, "src").localCheckpoint()
    # seed labels at min(self, neighbors) — the first propagation round
    # fused into the init aggregate, one fewer loop iteration
    labels = (
        sym.groupBy("src")
        .agg(F.min("dst").alias("_nbmin"))
        .select(
            F.col("src").alias("node"),
            F.least(F.col("src"), F.col("_nbmin")).cast("long").alias("cluster_id"),
        )
        .localCheckpoint()
    )
    def _round(cur: DataFrame) -> DataFrame:
        # min label among neighbors, then combine with own label (no union:
        # join + least keeps the plan a simple agg→join chain)
        nbr = (
            sym.join(cur.select(F.col("node").alias("src"), "cluster_id"), "src")
            .groupBy("dst")
            .agg(F.min("cluster_id").alias("_nbr_min"))
            .withColumnRenamed("dst", "node")
        )
        new = (
            cur.join(nbr, "node", "left")
            .select(
                "node",
                F.least(
                    F.col("cluster_id"), F.coalesce("_nbr_min", F.col("cluster_id"))
                ).alias("cluster_id"),
            )
        )
        # pointer jumping: point each node at its label's label, so chains
        # collapse in O(log diameter) rounds instead of O(diameter)
        return (
            new.alias("a")
            .join(
                new.select(
                    F.col("node").alias("_ln"), F.col("cluster_id").alias("_lc")
                ).alias("b"),
                F.col("a.cluster_id") == F.col("b._ln"),
                "left",
            )
            .select(
                F.col("a.node").alias("node"),
                F.coalesce("b._lc", "a.cluster_id").alias("cluster_id"),
            )
            # lazy: the convergence count below materializes it — one job
            # per (double-)round instead of two
            .localCheckpoint(eager=False)
        )

    # Two propagation rounds per convergence check: labels only decrease, so
    # "unchanged across a double round" ⇒ each half was a fixpoint. Halves
    # the driver-side job count — on a small candidate subgraph the per-job
    # scheduling floor, not the data, dominates the loop's wall-clock.
    it = 0
    while it < max_iter:
        prev = labels
        new = _round(labels)
        it += 1
        if it < max_iter:
            new = _round(new)
            it += 1
        changed = (
            new.alias("n")
            .join(prev.alias("o"), "node")
            .where(F.col("n.cluster_id") != F.col("o.cluster_id"))
            .limit(1)
            .count()
        )
        labels = new
        if changed == 0:
            break
    # nodes ≤ 2·edges; the edge count is already materialized — gate on it
    return docs.join(
        gated_broadcast(labels.withColumnRenamed("node", id_col), 2 * n_edges * 24),
        id_col, "left",
    ).select(id_col, F.coalesce("cluster_id", F.col(id_col)).cast("long").alias("cluster_id"))


def canonical_docs(clusters: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Dedup output: one kept (canonical = min-id) doc per cluster."""
    return clusters.where(F.col(id_col) == F.col("cluster_id")).select(id_col, "cluster_id")


def dup_window_stats(
    documents: DataFrame,
    win: int = 40,
    sample_mod: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Cross-document duplicated-substring signal (Lee et al. 2022,
    arXiv:2107.06499 — their suffix-array EXACTSUBSTR dedup, re-expressed
    at window granularity with CONTENT-DEFINED sampling): every ``win``-char
    gram of the normalized text is hashed, grams with
    ``hash % sample_mod == 0`` are kept (the MOSS/winnowing fingerprinting
    idea — the sample depends on gram content, never on its offset, so two
    copies of a run select the SAME grams regardless of alignment), and a
    sampled gram is DUPLICATED if its content appears in ≥ 2 distinct docs.

    A suffix array is a single-machine pointer structure; the cluster-
    native equivalent of its "duplicated span" query is this fingerprint
    equi-join — same signal, ~len/sample_mod rows per doc, all shuffles on
    60-bit keys. Per doc:

    - ``n_windows``     — sampled grams;
    - ``n_dup_windows`` — sampled grams whose content occurs in another doc;
    - ``dup_frac``      — their ratio (6 dp), the "how much of this doc is
      copied from elsewhere" axis used to cut or trim training docs.

    A shared run of length L ≥ win samples ≈ (L-win+1)/sample_mod grams in
    expectation; runs ≳ win + few·sample_mod are detected with near
    certainty (and deterministically — the draw is a pure content hash).
    Plan: one explode, one hash-keyed aggregate for gram document-
    frequency, one hash-keyed join back, one doc-keyed aggregate. The
    DuckDB oracle replays everything exactly. Docs shorter than ``win``
    emit zero grams and report 0/0/0.0.

    Cost note: the full char-level scan hashes every position (that IS the
    EXACTSUBSTR contract), so runtime is ~corpus_chars md5 calls — linear,
    probe-verified (tools/dedup_scale_probe.py). ``md5_long`` is the
    cross-engine-oracle choice; a production pipeline that doesn't need
    the DuckDB replay can swap in ``F.xxhash64`` (one line) for ~5× less
    hash cost.
    """
    norm = normalize_text(text_col)
    # explode INT positions, then slice with a plain (codegen'd) substr —
    # a transform() lambda building the window array per row would run
    # interpreted and allocate len(doc) strings before the explode
    wins = (
        documents.select(id_col, norm.alias("_n"))
        .where(F.length("_n") >= win)
        .select(id_col, "_n", F.explode(F.sequence(F.lit(1), F.length("_n") - (win - 1))).alias("_p"))
        .select(id_col, F.substr("_n", F.col("_p"), F.lit(win)).alias("_w"))
        .select(id_col, md5_long("_w").alias("whash"))
        .where(F.pmod("whash", F.lit(sample_mod)) == 0)
    )
    df_per_window = wins.groupBy("whash").agg(
        F.countDistinct(id_col).alias("ndocs")
    )
    per_doc = (
        wins.join(df_per_window, "whash")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_windows"),
            F.sum(F.when(F.col("ndocs") > 1, 1).otherwise(0)).alias("n_dup_windows"),
        )
    )
    return (
        documents.select(id_col)
        .join(per_doc, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_windows", F.lit(0)).cast("long").alias("n_windows"),
            F.coalesce("n_dup_windows", F.lit(0)).cast("long").alias("n_dup_windows"),
            F.round(
                F.coalesce("n_dup_windows", F.lit(0))
                / F.greatest(F.coalesce("n_windows", F.lit(0)), F.lit(1)),
                6,
            ).alias("dup_frac"),
        )
    )


def pagerank_scores(
    pairs: DataFrame,
    iters: int = 5,
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """PageRank over the (undirected) near-dup pair graph (E35): the
    centrality signal behind canonical-document selection — inside a
    duplicate cluster, the doc most connected to other near-dups is the
    best exemplar to keep (min-id is arbitrary; max-centrality is the
    quality choice).

    Fixed ``iters`` power iterations of pr = 0.15 + 0.85 · Σ pr(u)/deg(u)
    over symmetric edges, init pr = 1. Each iteration's result is rounded
    to 9 dp so the fixed point is bit-identical across engines (the oracle
    replays the same unrolled iterations) — float-sum ordering noise
    (~1e-15) can never accumulate past the rounding grid.

    Scale: like connected components (``neardup_clusters``), this runs
    ONLY on the candidate subgraph — per iteration one edge×rank equi-join
    plus a keyed sum, lineage truncated per round. The rank and degree
    tables are node-sized (candidate-graph nodes, orders of magnitude
    below the corpus) and carry a SIZE-GATED broadcast hint — the same
    small-side-of-the-subgraph policy as the CC union-find fallback; past
    the gate's byte limit the hint is dropped automatically and the same
    plan runs as a co-partitioned (src) join reused round to round.
    Isolated docs are the
    caller's concern (LEFT-join and coalesce to the no-inlink fixed point
    0.15).
    """
    sym = (
        pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        .unionByName(pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst")))
        .distinct()
        .localCheckpoint()
    )
    deg = sym.groupBy("src").agg(F.count("*").cast("double").alias("deg")).localCheckpoint()
    # node-sized rank/degree tables: broadcast while the node count (a
    # free count over the checkpointed degree table) says they fit, else
    # the same plan runs as a src-keyed shuffle join round to round
    node_est = deg.count() * 24
    pr = deg.select(F.col("src").alias("node"), F.lit(1.0).alias("pr"))
    for _ in range(iters):
        contrib = (
            sym.join(gated_broadcast(pr, node_est), pr["node"] == sym["src"])
            .join(gated_broadcast(deg, node_est), "src")
            .select(F.col("dst").alias("node"), (F.col("pr") / F.col("deg")).alias("c"))
        )
        pr = (
            contrib.groupBy("node")
            .agg(F.round(F.lit(0.15) + F.lit(0.85) * F.sum("c"), 9).alias("pr"))
            .localCheckpoint(eager=False)
        )
    return pr


def canonical_by_pagerank(
    clusters: DataFrame,
    pr: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Join cluster labels with PageRank and pick each cluster's canonical
    doc = max centrality, ties by min id. Singletons (no pairs) get the
    isolated-node fixed point 0.15 and are trivially canonical."""
    # one count job prices the node-sized rank table for the hint gate
    scored = clusters.join(
        gated_broadcast(pr, memoized_stat(pr, "n_rows", pr.count) * 24),
        clusters[id_col] == pr["node"], "left",
    ).select(
        id_col, "cluster_id", F.round(F.coalesce("pr", F.lit(0.15)), 6).alias("pagerank")
    )
    w = Window.partitionBy("cluster_id").orderBy(F.col("pagerank").desc(), F.col(id_col).asc())
    return scored.withColumn("is_canonical", F.row_number().over(w) == 1)


def exactsubstr_cut(
    documents: DataFrame,
    win: int = 40,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """EXACTSUBSTR span REMOVAL (Lee et al. 2022, arXiv:2107.06499 §4.1):
    every ``win``-char window of the normalized text whose content occurs
    more than once in the corpus (any doc, including this one) marks its
    char range duplicated; per doc, overlapping/adjacent ranges are merged
    into maximal spans and CUT from the text. This is the operational
    step on top of :func:`dup_window_stats` (which only measures the
    duplicated fraction): the output is the cleaned corpus a training
    pipeline would actually keep.

    The reference suffix-array formulation is a single-machine pointer
    structure; the cluster-native equivalent is this hash-join over window
    fingerprints — identical duplicated-span semantics for runs ≥ win
    (shared runs of length L < win are below the match threshold by
    definition, exactly as in the paper where L < their 50-token bound is
    kept).

    Returns one row per doc: ``(doc_id, n_chars, n_spans, n_dup_chars,
    kept_frac, cut_hash, cut_prefix)`` where ``cut_hash``/``cut_prefix``
    fingerprint the post-cut text (hash-stable for the oracle gate).

    Plan shape (100 TB-safe, worst-case-proof): one explode over char
    positions, one map-side-combinable aggregate on the 60-bit window
    hash (occurrence count), one hash-keyed join back; then interval
    merging runs as CODEGEN'D window functions over the duplicated
    positions (gaps-and-islands: lag → break flags → running island ids)
    and the text surgery reassembles the inter-span SEGMENTS — per doc
    only n_spans+1 substrings flow into the concat, so even the
    pathological everything-is-duplicated corpus (where duplicated
    positions ≈ corpus size) stays a scan + two doc-keyed shuffles. No
    per-element interpreted folds anywhere on the corpus-sized path; no
    UDFs; no driver collects (probe: tools/dedup_scale_probe.py).
    """
    norm = normalize_text(text_col)
    # r12: split the serial single-file scan ahead of the per-char window
    # explode + md5 pass (size-gated — see parallelize_scan)
    base = parallelize_scan(documents).select(F.col(id_col).alias("doc_id"), norm.alias("_n"))
    wins = (
        base.where(F.length("_n") >= win)
        .select("doc_id", "_n", F.explode(F.sequence(F.lit(1), F.length("_n") - (win - 1))).alias("_p"))
        .select("doc_id", "_p", md5_long(F.substr("_n", F.col("_p"), F.lit(win))).alias("whash"))
        # consumed twice (occurrence count + join-back): materialize so the
        # corpus-wide md5 pass — the dominant cost — runs once, not twice.
        # persist beats localCheckpoint ~2× here (no driver-serialized RDD
        # write; columnar blocks, LRU-evicted under pressure with DISK
        # fallback); at full scale the same slot is a parquet checkpoint
        .persist()
    )
    dup_hashes = wins.groupBy("whash").agg(F.count(F.lit(1)).alias("occ")).where(F.col("occ") > 1)
    dup_pos = wins.join(dup_hashes.select("whash"), "whash").select("doc_id", "_p").distinct()

    # gaps-and-islands over duplicated positions: a new island starts when
    # the position exceeds the previous covered end (prev_p + win; ends are
    # monotone in p, so the lag IS the running max)
    wseq = Window.partitionBy("doc_id").orderBy("_p")
    brk = dup_pos.withColumn(
        "_brk",
        (F.col("_p") > F.coalesce(F.lag("_p").over(wseq), F.lit(-win * 10)) + win).cast("int"),
    )
    isl = brk.withColumn(
        "_island",
        F.sum("_brk").over(wseq.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
    )
    spans = isl.groupBy("doc_id", "_island").agg(
        F.min("_p").alias("_s"), (F.max("_p") + win).alias("_e")
    )

    # JOIN-FREE segment reassembly: every doc contributes a sentinel row at
    # position len+1 CARRYING its normalized text; spans union in with a
    # null text, a per-doc window propagates the one non-null text, and the
    # inter-span gaps (lag of previous end → current start) are substring'd
    # and folded in ONE doc-keyed aggregate. n_spans = gaps − 1 and
    # n_dup_chars = n_chars − len(cut) fall out of the same aggregate, so
    # the whole operator is explode → hash agg → hash join (dup criterion)
    # → doc-keyed windows/agg: no large-large join anywhere, and every
    # doc-keyed step reuses one shuffle partitioning.
    sent = spans.select("doc_id", "_s", "_e", F.lit(None).cast("string").alias("_nt")).unionByName(
        base.select(
            "doc_id",
            (F.length("_n") + 1).alias("_s"),
            (F.length("_n") + 1).alias("_e"),
            F.col("_n").alias("_nt"),
        )
    )
    wdoc = Window.partitionBy("doc_id")
    wg = Window.partitionBy("doc_id").orderBy("_s")
    gaps = (
        sent.withColumn("_nt", F.max("_nt").over(wdoc))
        .withColumn("_gs", F.coalesce(F.lag("_e").over(wg), F.lit(1)))
        .select(
            "doc_id", "_gs",
            F.substr("_nt", F.col("_gs"), F.col("_s") - F.col("_gs")).alias("_seg"),
            F.col("_s").alias("_sentinel_end"),
        )
    )
    agg = gaps.groupBy("doc_id").agg(
        (F.count(F.lit(1)) - 1).cast("long").alias("n_spans"),
        F.array_join(
            F.transform(F.array_sort(F.collect_list(F.struct("_gs", "_seg"))), lambda x: x["_seg"]),
            "",
        ).alias("cut_text"),
        (F.max("_sentinel_end") - 1).cast("long").alias("n_chars"),
    )
    return agg.select(
        "doc_id",
        "n_chars",
        "n_spans",
        (F.col("n_chars") - F.length("cut_text")).cast("long").alias("n_dup_chars"),
        F.round(
            F.length("cut_text") / F.greatest(F.col("n_chars"), F.lit(1)), 6
        ).alias("kept_frac"),
        F.md5("cut_text").alias("cut_hash"),
        F.substring("cut_text", 1, 80).alias("cut_prefix"),
    )


def incremental_dedup_pairs(
    documents: DataFrame,
    mod: int = 5,
    rem: int = 4,
    n: int = 3,
    num_hashes: int = 16,
    band_size: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """E41 incremental (cross-batch) dedup — the continual-pretraining
    admission check: screen a NEW document batch against the EXISTING
    corpus without re-deduping the corpus itself. The deterministic batch
    split is ``doc_id % mod == rem`` (a stand-in for an arrival-time
    predicate). Two tiers, one row per (new, old) match:

    - ``incr_exact`` — normalized content hash collides with an old doc
      (score 1.0): the new doc is a verbatim re-crawl, drop it.
    - ``incr_band``  — ≥1 shared MinHash LSH band bucket with an old doc
      (score = number of shared bands): near-dup candidate for the
      verify tier.

    Scale shape: shingle→minhash→band runs ONCE over the union (on a real
    pipeline the old side is the persisted band index — H2's bucketed
    layout — and only the new batch is computed); the new batch is tiny
    relative to the corpus, so both tiers hint the NEW side broadcast
    against the corpus-sized index, never shuffling the old corpus — but
    the hint is SIZE-GATED on the batch bound n_docs/mod (a 1/mod slice
    of a 10⁹-doc corpus is 10⁸ rows: past the gate both tiers fall back
    to keyed shuffle joins, bucketable on content_hash / band key).
    New-new pairs are intentionally out of scope (they belong to the
    batch's own intra-dedup, E2).
    """
    is_new = F.pmod(F.col(id_col), F.lit(mod)) == F.lit(rem)
    # batch bound from the memoized source count: ≤ n_docs/mod rows
    batch_bound = memoized_stat(documents, "n_rows", documents.count) // mod + 1

    # r12: split the serial single-file scan ahead of the normalize+hash
    # pass and the shingle tier below (size-gated — see parallelize_scan)
    documents = parallelize_scan(documents)
    hashed = documents.select(
        F.col(id_col).alias("doc_id"),
        md5_long(normalize_text(text_col)).alias("content_hash"),
        is_new.alias("is_new"),
    )
    exact = (
        hashed.where(~F.col("is_new"))
        .select(F.col("doc_id").alias("id_b"), "content_hash")
        .join(
            gated_broadcast(
                hashed.where("is_new").select(F.col("doc_id").alias("id_a"), "content_hash"),
                batch_bound * 16,
            ),
            "content_hash",
        )
        .select(F.lit("incr_exact").alias("method"), "id_a", "id_b", F.lit(1.0).alias("score"))
    )

    bands = lsh_bands_wide(
        minhash_signatures_wide(word_shingles(documents, id_col, text_col, n), num_hashes),
        num_hashes,
        band_size,
    )
    new_b = bands.where(F.pmod(F.col("doc_id"), F.lit(mod)) == F.lit(rem))
    old_b = bands.where(F.pmod(F.col("doc_id"), F.lit(mod)) != F.lit(rem))
    near = (
        old_b.select(F.col("doc_id").alias("id_b"), "band", "band_sig")
        .join(
            gated_broadcast(
                new_b.select(F.col("doc_id").alias("id_a"), "band", "band_sig"),
                batch_bound * (num_hashes // band_size) * 32,
            ),
            ["band", "band_sig"],
        )
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).cast("double").alias("score"))
        .select(F.lit("incr_band").alias("method"), "id_a", "id_b", "score")
    )
    return exact.unionByName(near)
