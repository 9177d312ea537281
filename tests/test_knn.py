"""Strategy-equivalence and recall tests, modeled on the reference's
basic_benchmark/test_*.py suite (SURVEY.md §6): every exact strategy must
agree with ground truth (recall 1.0); approximate paths must clear a
recall floor."""

import pytest
from pyspark.sql import functions as F

from vectorsearch_rbac_spark.sources import load_table
from vectorsearch_rbac_spark.rbac import derive
from vectorsearch_rbac_spark.functions import vector as V
from vectorsearch_rbac_spark.operators import knn, ivf, ann, curation, dynamic, layout, partitioning, tuning


@pytest.fixture(scope="module")
def t(spark, sf_dir):
    customer = load_table(spark, "customer", sf_dir)
    documents = load_table(spark, "documents", sf_dir)
    embeddings = load_table(spark, "embeddings", sf_dir)
    tabs = derive.derive_rbac(customer, documents, embeddings)
    tabs["queries"] = derive.derive_queries(embeddings, 100)
    tabs["query_roles"] = derive.query_roles(tabs["queries"])
    tabs["embeddings"] = embeddings
    for v in tabs.values():
        v.cache()
    return tabs


def _ids(df):
    return {(r["query_id"], r["block_id"]) for r in df.select("query_id", "block_id").collect()}


def test_exact_strategies_agree(t):
    args = (t["documentblocks"], t["queries"], t["query_roles"], t["permission_assignment"])
    truth = _ids(knn.ground_truth(*args, k=10))
    assert truth
    assert _ids(knn.knn_prefilter(*args, k=10)) == truth
    assert _ids(knn.knn_role_partition(*args, k=10)) == truth
    assert _ids(knn.knn_comb_role_partition(*args, k=10)) == truth
    assert _ids(knn.knn_rls(*args, k=10)) == truth


def test_postfilter_is_subset_of_global(t):
    args = (t["documentblocks"], t["queries"], t["query_roles"], t["permission_assignment"])
    post = knn.knn_postfilter(*args, k=10, expansion=4)
    truth = knn.ground_truth(*args, k=10)
    rec = knn.recall_at_k(post, truth).agg(F.avg("recall")).first()[0]
    assert 0.2 <= rec <= 1.0  # postfilter trades recall for scan locality


def test_fast_topk_matches_window_topk(t):
    fast = _ids(knn.knn_topk_fast(t["documentblocks"], t["queries"], k=10))
    w = knn.topk_per_query(
        t["documentblocks"]
        .join(F.broadcast(t["queries"].select("query_id", "query_vector")), how="cross")
        .withColumn("distance", F.round(__import__("vectorsearch_rbac_spark.functions.vector", fromlist=["l2_distance"]).l2_distance("vector", "query_vector"), 6)),
        10,
    )
    assert _ids(w) == fast


def test_ivf_recall_floor(t):
    blocks = t["documentblocks"]
    C = ivf.kmeans_fit(blocks, nlists=8, max_iter=8)
    indexed = ivf.assign_centroids(blocks, C)
    pred = ivf.ivf_search(indexed, t["queries"], C, k=10, nprobe=4)
    truth = knn.knn_topk_fast(blocks, t["queries"], k=10)
    rec = knn.recall_at_k(pred, truth).agg(F.avg("recall")).first()[0]
    assert rec >= 0.5  # nprobe=4/8 on random vectors

    # full probe = exact
    pred_all = ivf.ivf_search(indexed, t["queries"], C, k=10, nprobe=8)
    rec_all = knn.recall_at_k(pred_all, truth).agg(F.avg("recall")).first()[0]
    assert rec_all == 1.0


def test_lsh_recall_floor(t):
    pred = ann.cosine_topk_lsh(t["embeddings"], t["queries"], k=10, n_planes=8, n_tables=3).withColumnRenamed("vec_id", "block_id")
    truth = ann.cosine_topk_bruteforce(t["embeddings"], t["queries"], k=10).withColumnRenamed("vec_id", "block_id")
    rec = knn.recall_at_k(pred, truth).agg(F.avg("recall")).first()[0]
    # random (structureless) vectors are LSH's worst case; 3 tables × 8
    # planes with 1-bit multiprobe should still clear this floor
    assert rec >= 0.45


def test_lsh_numpy_kernel_matches_expr(t):
    """The Arrow/BLAS LSH kernel (impl="numpy") and the oracle-replayable
    expression path share one bucketing scheme; on the deterministic test
    corpus they must return the same (query, id, distance, rank) rows.
    (Sign ties at exactly 0.0 could differ in the last ulp between the
    sequential and BLAS sums — measure-zero on real data, and the
    exact-certified member stays on the expression path by design.)"""
    kw = dict(k=10, n_planes=5, n_tables=4, multiprobe_hamming=1)
    expr_rows = sorted(
        (r[0], r[1], round(r[2], 6), r[3])
        for r in ann.cosine_topk_lsh(t["embeddings"], t["queries"], **kw).collect()
    )
    np_rows = sorted(
        (r[0], r[1], round(r[2], 6), r[3])
        for r in ann.cosine_topk_lsh(t["embeddings"], t["queries"], impl="numpy", **kw).collect()
    )
    assert expr_rows == np_rows and len(np_rows) > 0


def test_pq_numpy_kernel_matches_expr(t):
    """The Arrow ADC kernel (pq_search impl="numpy") must return exactly
    the expression path's rows: the gather-sum adds run in the same
    j-order as the codegen fold (bit-identical float64 sums) and the cut
    uses the same rounded (distance, id) order — so the pin is strict
    row equality, shortlist AND refined output."""
    from vectorsearch_rbac_spark.operators import pq

    emb, qs = t["embeddings"], t["queries"]
    B = pq.pq_train(emb, m=8, ksub=8)
    codes = pq.pq_encode(emb, B)
    expr_s = sorted(
        (r[0], r[1], round(r[2], 6), r[3])
        for r in pq.pq_search(codes, qs, B, k=12).collect()
    )
    np_s = sorted(
        (r[0], r[1], round(r[2], 6), r[3])
        for r in pq.pq_search(codes, qs, B, k=12, impl="numpy").collect()
    )
    assert expr_s == np_s and len(np_s) > 0
    expr_r = sorted(
        (r[0], r[1], round(r[2], 6), r[3])
        for r in pq.pq_search_refined(codes, emb, qs, B, k=5, expansion=4).collect()
    )
    np_r = sorted(
        (r[0], r[1], round(r[2], 6), r[3])
        for r in pq.pq_search_refined(codes, emb, qs, B, k=5, expansion=4, impl="numpy").collect()
    )
    assert expr_r == np_r and len(np_r) > 0

    # same pin for the IVFADC (residual) kernel: probed-list masking,
    # residual LUT gather, and the cut must reproduce the expr rows
    from vectorsearch_rbac_spark.operators import ivf

    C = ivf.kmeans_fit(emb, nlists=4, vec_col="embedding", max_iter=4)
    RB = pq.ivfpq_train(emb, C, m=8, ksub=8)
    rcodes = pq.ivfpq_encode(emb, C, RB)
    kw = dict(k=5, nprobe=2, expansion=4)
    expr_i = sorted(
        (r[0], r[1], round(r[2], 6), r[3])
        for r in pq.ivfpq_search_refined(rcodes, emb, qs, C, RB, **kw).collect()
    )
    np_i = sorted(
        (r[0], r[1], round(r[2], 6), r[3])
        for r in pq.ivfpq_search_refined(rcodes, emb, qs, C, RB, impl="numpy", **kw).collect()
    )
    assert expr_i == np_i and len(np_i) > 0

    # degenerate parity: empty query side must yield empty, not raise
    assert pq.pq_search(codes, qs.limit(0), B, k=5, impl="numpy").count() == 0
    assert pq.ivfpq_search(rcodes, qs.limit(0), C, RB, k=5, nprobe=2, impl="numpy").count() == 0


def test_qdtree_search_exact(t):
    """Qd-tree leaf routing must not lose any permitted block (recall 1.0)."""
    args = (t["documentblocks"], t["queries"], t["query_roles"], t["permission_assignment"])
    truth = _ids(knn.knn_prefilter(*args, k=10))
    assigned = partitioning.qdtree_assignment(
        t["documentblocks"], t["permission_assignment"], max_leaf_size=32, max_depth=4
    )
    got = _ids(knn.knn_qdtree(assigned, t["queries"], t["query_roles"], t["permission_assignment"], k=10))
    assert got == truth


def test_logical_role_partition_matches_physical(t):
    """C3-logical (r6): pointer lists over a shared vector table must
    return exactly what physical per-role replication returns — the
    layouts differ only in storage, never in results."""
    args = (t["documentblocks"], t["queries"], t["query_roles"], t["permission_assignment"])
    phys = _ids(knn.knn_role_partition(*args, k=10))
    logi = _ids(knn.knn_role_partition_logical(*args, k=10))
    assert logi == phys


def test_dynamic_store_lifecycle(t):
    """build → insert → search equals prefilter; delete removes exactly the
    deleted blocks from results."""
    blocks = t["documentblocks"]
    args = (blocks, t["queries"], t["query_roles"], t["permission_assignment"])
    truth = _ids(knn.knn_prefilter(*args, k=10))

    initial = blocks.where(F.col("block_id") % 3 != 0)
    arriving = blocks.where(F.col("block_id") % 3 == 0)
    store = dynamic.build_store(initial, t["permission_assignment"])
    store = dynamic.insert_blocks(store, arriving, t["permission_assignment"])
    assert store.count() == blocks.count()
    got = _ids(dynamic.knn_dynamic(store, t["queries"], t["query_roles"], k=10))
    assert got == truth

    # delete every block that appeared in the results: they must all vanish
    hit_ids = {b for _, b in truth}
    deleted = blocks.where(F.col("block_id").isin(*hit_ids)).select("block_id")
    store2 = dynamic.delete_blocks(store, deleted)
    got2 = _ids(dynamic.knn_dynamic(store2, t["queries"], t["query_roles"], k=10))
    assert not (got2 & truth)


def test_rebalance_heavy_partitions(t):
    """A planted hot access set is split into ⌈n/max⌉ centroid buckets;
    light partitions keep their comb_role key; search results are identical
    to the unbalanced store (routing is by comb_role, not part_key)."""
    blocks = t["documentblocks"]
    # plant: every doc collapses to access set {1,4} when doc_id % 2 == 0
    d = F.col("document_id")
    docs = blocks.select("document_id").distinct()
    pa = (
        docs.where(d % 2 == 0).select("document_id", F.lit(1).cast("int").alias("role_id"))
        .unionAll(docs.where(d % 2 == 0).select("document_id", F.lit(4).cast("int").alias("role_id")))
        .unionAll(docs.where(d % 2 != 0).select("document_id", (d % 10).cast("int").alias("role_id")))
        .unionAll(docs.where(d % 2 != 0).select("document_id", ((d + 3) % 10).cast("int").alias("role_id")))
        .distinct()
    )
    store = dynamic.build_store(blocks, pa)
    sizes = {r["comb_role"]: r["n_blocks"] for r in dynamic.partition_sizes(store).collect()}
    hot = max(sizes, key=sizes.get)
    assert hot == "1,4" and sizes[hot] > store.count() * 0.4

    max_size = max(store.count() // 8, 20)
    bal = dynamic.rebalance_heavy_partitions(store, max_partition_size=max_size)
    keys = [r["part_key"] for r in bal.select("part_key").distinct().collect()]
    sub = [k for k in keys if k.startswith("1,4#")]
    import math

    assert len(sub) == min(math.ceil(sizes[hot] / max_size), max(sizes[hot] // 2, 1))
    assert "1,4" not in keys  # the hot comb only exists as sub-buckets
    # light partitions unsplit
    assert all("#" not in k for k in keys if not k.startswith("1,4#"))
    # physical split never changes results
    before = _ids(dynamic.knn_dynamic(store, t["queries"], t["query_roles"], k=10))
    after = _ids(dynamic.knn_dynamic(bal, t["queries"], t["query_roles"], k=10))
    assert before == after


def test_versioned_store_rollback(t, tmp_path):
    """Insert/delete rollback parity: a delete is undone by restoring the
    pre-delete version, bit-exactly, and history is preserved."""
    blocks = t["documentblocks"]
    vs = dynamic.VersionedStore(str(tmp_path / "store"))
    store = dynamic.build_store(blocks, t["permission_assignment"])
    v0 = vs.commit(store)
    deleted = blocks.where(F.col("block_id") % 7 == 0).select("block_id")
    v1 = vs.commit(dynamic.delete_blocks(vs.read(v0), deleted))
    assert vs.read(v1).count() < vs.read(v0).count()

    v2 = vs.restore(v0)  # rollback the delete
    assert v2 == 2 and vs.latest_version == 2
    restored = vs.read()
    assert restored.count() == store.count()
    # exact state: same block ids per comb_role as the original
    orig = {(r["comb_role"], r["block_id"]) for r in store.select("comb_role", "block_id").collect()}
    back = {(r["comb_role"], r["block_id"]) for r in restored.select("comb_role", "block_id").collect()}
    assert orig == back
    # pre-restore history still readable (restore is undoable)
    assert vs.read(v1).count() < vs.read(v2).count()


def test_dynamic_versioned_exact_and_leak_free(spark, tmp_path):
    """knn_dynamic on a store where users hold 2+ roles that share
    documents, so one block is reached through several roles: after build,
    insert commit, deletion-vector delete and restore, its rows equal
    ground_truth over the live blocks, no (query, block) repeats, ranks
    run 1..n, and no row leaves the query's permitted documents. A user
    with no roles gets no rows; an empty query_roles gives an empty frame
    in the output schema."""
    import numpy as np

    from vectorsearch_rbac_spark.sources import literal_df

    rng = np.random.default_rng(7)
    n_docs, n_blocks = 12, 48
    vecs = rng.standard_normal((n_blocks, 8)).astype(np.float32)
    blocks = literal_df(
        spark, [(b, b % n_docs, vecs[b].tolist()) for b in range(n_blocks)],
        "block_id long, document_id long, vector array<float>",
    )
    # doc d is readable by roles {d%3, (d+1)%3} and, for even d, role 3
    perms = [(d, r) for d in range(n_docs) for r in {d % 3, (d + 1) % 3} | ({3} if d % 2 == 0 else set())]
    pa = literal_df(spark, perms, "document_id long, role_id int")
    q_roles = {0: [0, 1], 1: [0, 1, 3], 2: [2], 3: []}  # query 3: a user with no roles
    queries = literal_df(
        spark, [(q, rng.standard_normal(8).astype(np.float32).tolist()) for q in q_roles],
        "query_id long, query_vector array<float>",
    )
    qr = literal_df(spark, [(q, r) for q, rs in q_roles.items() for r in rs], "query_id long, role_id int")
    shared = {frozenset(r for dd, r in perms if dd == d) & set(q_roles[1]) for d in range(n_docs)}
    assert max(map(len, shared)) >= 2, "fixture must reach a block through several roles"
    permitted = qr.join(pa, "role_id").select("query_id", "document_id").distinct()
    cols = ["query_id", "block_id", "document_id", "distance", "rank"]

    def check(live_ids, k=5):
        got = dynamic.knn_dynamic(vs.read_current(), queries, qr, k=k)
        live = blocks.where(F.col("block_id").isin(sorted(live_ids)))
        rows = _rows(got.select(*cols))
        assert rows == _rows(knn.ground_truth(live, queries, qr, pa, k=k)) and rows
        assert len({(r[0], r[1]) for r in rows}) == len(rows)
        for q in q_roles:
            ranks = sorted(r[4] for r in rows if r[0] == q)
            assert ranks == list(range(1, len(ranks) + 1))
        assert not any(r[0] == 3 for r in rows)
        assert got.join(permitted, ["query_id", "document_id"], "left_anti").count() == 0

    vs = dynamic.VersionedStore(str(tmp_path / "store"), spark)
    initial = set(range(0, n_blocks, 2))
    vs.commit(dynamic.build_store(blocks.where(F.col("block_id") % 2 == 0), pa))
    check(initial)
    vs.commit(dynamic.insert_blocks(vs.read_current(), blocks.where(F.col("block_id") % 2 == 1), pa))
    check(set(range(n_blocks)), k=n_blocks)  # k past every query's permitted set
    dead = set(range(0, n_blocks, 3))
    vs.delete_with_dv(blocks.where(F.col("block_id") % 3 == 0).select("block_id"))
    check(set(range(n_blocks)) - dead)
    vs.restore(0)
    check(initial)

    empty = dynamic.knn_dynamic(vs.read_current(), queries, qr.limit(0), k=5)
    assert empty.columns == cols and empty.count() == 0


def test_adaptive_strategy_routes(t, spark):
    from vectorsearch_rbac_spark.plans.strategy import adaptive_knn

    out = adaptive_knn(
        t["documentblocks"], t["queries"], t["query_roles"], t["permission_assignment"],
        t["user_roles"], k=10,
    )
    rows = out.select("query_id", "strategy").distinct().collect()
    assert len({r["query_id"] for r in rows}) == t["queries"].count()


def test_adaptive_knn_production_acorn_arm(t, spark):
    """r9: the cost3 router's production seams — ``n_corpus`` pins the
    cost model's corpus size (no blocks.count() scan per routing call)
    and ``acorn_impl`` routes the ACORN arm to acorn_search_indexed over
    a PREBUILT index (the bounded beam the cost model prices), instead
    of the exhaustive exact-certified default. The routed union must
    still cover every query, actually route some queries through the
    indexed arm, and clear recall ≥ 0.9 against the exact permitted
    answer."""
    from vectorsearch_rbac_spark.operators import graph_ann
    from vectorsearch_rbac_spark.plans.strategy import adaptive_knn

    blocks = t["documentblocks"]
    n = blocks.count()
    g = graph_ann.build_acorn_graph(blocks, m=8, gamma=1).localCheckpoint()

    def beam_arm(b, qs, qr, pa, k=10):
        return graph_ann.acorn_search_indexed(
            b, g, qs, qr, k=k, m=8, ef=48, permissions=pa
        )

    # price the ACORN arm at ef·m = 44: postfilter wins only above
    # sel = k·e/44 ≈ 0.909, so the workload's dominant mid-selectivity
    # band (sel ∈ [0.75, 0.909)) routes through the indexed arm
    out = adaptive_knn(
        blocks, t["queries"], t["query_roles"], t["permission_assignment"],
        t["user_roles"], k=10, routing_mode="cost3", n_corpus=n,
        acorn_ef=11, acorn_m=4, acorn_impl=beam_arm,
    ).localCheckpoint()
    assert out.select("query_id").distinct().count() == t["queries"].count()
    strategies = {r["strategy"] for r in out.select("strategy").distinct().collect()}
    assert "acorn" in strategies, f"no query routed to the indexed arm: {strategies}"
    truth = knn.knn_prefilter(
        blocks, t["queries"], t["query_roles"], t["permission_assignment"], k=10
    )
    rec = knn.recall_at_k(out, truth).agg(F.avg("recall")).first()[0]
    assert rec >= 0.9, f"routed-union recall too low: {rec}"

    # the hook only exists on the cost3 arm — passing it with 2-way
    # routing must refuse, not silently never run it
    with pytest.raises(ValueError, match="acorn_impl requires"):
        adaptive_knn(
            blocks, t["queries"], t["query_roles"], t["permission_assignment"],
            t["user_roles"], k=10, routing_mode="cost", acorn_impl=beam_arm,
        )


def test_pq_refined_recall(spark, sf_dir):
    """PQ codes: valid range/shape; PQ+refine recall beats the bar the
    reference's recall harness would apply (compute_recall ≥ threshold)."""
    import pyspark.sql.functions as F
    from vectorsearch_rbac_spark.sources import load_table
    from vectorsearch_rbac_spark.rbac import derive
    from vectorsearch_rbac_spark.operators import pq, knn
    from vectorsearch_rbac_spark.functions import vector as V

    emb = load_table(spark, "embeddings", sf_dir)
    qs = derive.derive_queries(emb, 25)
    B = pq.pq_train(emb, m=8, ksub=8)
    codes = pq.pq_encode(emb, B)
    row = codes.select(
        F.size("codes").alias("m"), F.array_max("codes").alias("mx"), F.array_min("codes").alias("mn")
    ).agg(F.max("m"), F.min("m"), F.max("mx"), F.min("mn")).first()
    assert row[0] == row[1] == 8 and row[2] <= 7 and row[3] >= 0

    scored = emb.join(F.broadcast(qs), how="cross").select(
        "query_id", F.col("vec_id").alias("block_id"),
        F.round(V.l2_distance("embedding", "query_vector"), 6).alias("distance"))
    truth = knn.topk_per_query(scored, 5).select("query_id", "block_id", "distance", "rank")
    pred = pq.pq_search_refined(codes, emb, qs, B, k=5, expansion=8).withColumnRenamed(
        "vec_id", "block_id")
    r = knn.recall_at_k(truth, pred).agg(F.avg("recall")).first()[0]
    # sf0.001 is the hard regime for PQ (50-vector codebook sample); the
    # sf0.01 entry (m=16, expansion=4) sits at ~0.86
    assert r >= 0.6, f"PQ+refine recall too low: {r}"


def test_ivf_list_stats_balance(t):
    """list_stats must account for every block exactly once and report the
    max/mean imbalance ratio consistently on every row."""
    from vectorsearch_rbac_spark.operators import ivf

    blocks = t["documentblocks"]
    C = ivf.kmeans_fit(blocks, nlists=8, max_iter=8)
    stats = ivf.list_stats(ivf.assign_centroids(blocks, C)).collect()
    assert sum(r["n_blocks"] for r in stats) == blocks.count()
    assert abs(sum(r["frac"] for r in stats) - 1.0) < 1e-4
    imb = {r["imbalance"] for r in stats}
    assert len(imb) == 1 and min(imb) >= 1.0


def test_ivfpq_residual_recall(spark, sf_dir):
    """D11 IVFADC: codes valid; probing ALL lists with a full-corpus
    shortlist makes the refined search EXACT (recall 1.0) — the residual
    encode/route/ADC/refine pipeline loses nothing when the knobs are
    maxed; a restricted-probe run still clears a floor."""
    import pyspark.sql.functions as F
    from vectorsearch_rbac_spark.sources import load_table
    from vectorsearch_rbac_spark.rbac import derive
    from vectorsearch_rbac_spark.operators import ivf, pq, knn
    from vectorsearch_rbac_spark.functions import vector as V

    emb = load_table(spark, "embeddings", sf_dir)
    qs = derive.derive_queries(emb, 25)
    n = emb.count()
    C = ivf.kmeans_fit(emb, nlists=4, vec_col="embedding", max_iter=6)
    B = pq.ivfpq_train(emb, C, m=8, ksub=8)
    codes = pq.ivfpq_encode(emb, C, B)

    row = codes.select(
        F.size("codes").alias("m"), F.array_max("codes").alias("mx"),
        F.array_min("codes").alias("mn"), F.col("centroid_id").alias("c"),
    ).agg(F.max("m"), F.min("m"), F.max("mx"), F.min("mn"), F.max("c")).first()
    assert row[0] == row[1] == 8 and row[2] <= 7 and row[3] >= 0 and row[4] <= 3

    scored = emb.join(F.broadcast(qs), how="cross").select(
        "query_id", F.col("vec_id").alias("block_id"),
        F.round(V.l2_distance("embedding", "query_vector"), 6).alias("distance"))
    truth = knn.topk_per_query(scored, 5).select("query_id", "block_id", "distance", "rank")

    exact = pq.ivfpq_search_refined(
        codes, emb, qs, C, B, k=5, nprobe=4, expansion=(n // 5) + 1
    ).withColumnRenamed("vec_id", "block_id")
    r = knn.recall_at_k(exact, truth).agg(F.avg("recall")).first()[0]
    assert r == 1.0

    pred = pq.ivfpq_search_refined(
        codes, emb, qs, C, B, k=5, nprobe=2, expansion=8
    ).withColumnRenamed("vec_id", "block_id")
    r2 = knn.recall_at_k(pred, truth).agg(F.avg("recall")).first()[0]
    assert r2 >= 0.4  # half the lists probed on a near-isotropic corpus


def test_ivfpq_anchor_exactness(spark, sf_dir):
    """D11 certification invariant behind the quantized_topk ivfpq_exact
    tag: at max knobs (nprobe = nlist, full-corpus shortlist) the anchor
    IVFADC pipeline must EQUAL brute-force L2 top-k exactly — nothing in
    route/residual-encode/ADC/refine loses a candidate; and the default-
    knob run (nprobe=4/8 lists) still clears a recall floor."""
    import pyspark.sql.functions as F
    from vectorsearch_rbac_spark.sources import load_table
    from vectorsearch_rbac_spark.rbac import derive
    from vectorsearch_rbac_spark.operators import knn, pq
    from vectorsearch_rbac_spark.functions import vector as V

    emb = load_table(spark, "embeddings", sf_dir)
    qs = derive.derive_queries(emb, 50)
    n = emb.count()
    scored = emb.join(F.broadcast(qs), how="cross").select(
        "query_id", F.col("vec_id").alias("block_id"),
        F.round(V.l2_distance("embedding", "query_vector"), 6).alias("distance"))
    truth = knn.topk_per_query(scored, 10).select("query_id", "block_id", "rank")

    exact = pq.ivfpq_anchor_topk(
        emb, qs, nlist=8, nprobe=8, k=10, expansion=(n // 10) + 1
    )
    got = {(r["query_id"], r["vec_id"], r["rank"]) for r in exact.collect()}
    want = {(r["query_id"], r["block_id"], r["rank"]) for r in truth.collect()}
    assert got == want

    pred = pq.ivfpq_anchor_topk(emb, qs, k=10).withColumnRenamed("vec_id", "block_id")
    truth_d = knn.topk_per_query(scored, 10).select("query_id", "block_id", "distance", "rank")
    r = knn.recall_at_k(pred, truth_d).agg(F.avg("recall")).first()[0]
    # anchor coarse lists + anchor codebooks are the CERTIFICATION
    # vehicle, not the recall vehicle (k-means is) — the floor only
    # guards against a broken join/shortlist, not quantization quality
    assert r >= 0.25


def test_bit_rerank_recall(spark, sf_dir):
    """A9 binary-quantize + rerank: with a full-corpus shortlist the refine
    IS the exact L2 search (recall 1.0); a 4× shortlist still clears the
    floor the 1-bit scan is expected to give on near-isotropic data."""
    import pyspark.sql.functions as F
    from vectorsearch_rbac_spark.sources import load_table
    from vectorsearch_rbac_spark.rbac import derive
    from vectorsearch_rbac_spark.operators import ann, knn
    from vectorsearch_rbac_spark.functions import vector as V

    emb = load_table(spark, "embeddings", sf_dir)
    qs = derive.derive_queries(emb, 25)
    n = emb.count()
    scored = emb.join(F.broadcast(qs), how="cross").select(
        "query_id", F.col("vec_id").alias("block_id"),
        F.round(V.l2_distance("embedding", "query_vector"), 6).alias("distance"))
    truth = knn.topk_per_query(scored, 5).select("query_id", "block_id", "distance", "rank")

    exact = ann.hamming_rerank_topk(emb, qs, k=5, expansion=(n // 5) + 1).withColumnRenamed(
        "vec_id", "block_id")
    assert knn.recall_at_k(exact, truth).agg(F.avg("recall")).first()[0] == 1.0

    pred = ann.hamming_rerank_topk(emb, qs, k=5, expansion=4).withColumnRenamed(
        "vec_id", "block_id")
    assert knn.recall_at_k(pred, truth).agg(F.avg("recall")).first()[0] >= 0.3


def test_graph_nsw_recall_floor(spark, sf_dir):
    """D2 graph ANN: single-partition NSW beam search must reach ≥0.9
    recall@10 at ef=48, and the partitioned variant (graphs per id-range)
    must hold the floor too — candidates merge through the global rank."""
    import __spark_entry__ as entry
    from pyspark.sql import functions as F
    from vectorsearch_rbac_spark.operators import graph_ann, knn

    t = entry._rbac(spark, sf_dir)
    blocks, qs = t["documentblocks"], t["queries"]
    truth = knn.knn_topk_fast(blocks, qs, k=10)

    pred = graph_ann.nsw_search(blocks, qs, k=10, m=8, ef=48)
    r = knn.recall_at_k(pred, truth).agg(F.avg("recall")).first()[0]
    assert r >= 0.9

    parts = blocks.withColumn("part", F.pmod(F.col("block_id"), F.lit(4)))
    pred_p = graph_ann.nsw_search(parts, qs, k=10, m=8, ef=48, part_col="part")
    rp = knn.recall_at_k(pred_p, truth).agg(F.avg("recall")).first()[0]
    assert rp >= 0.9
    # per-query rows are exactly k with contiguous ranks
    counts = pred.groupBy("query_id").count().select("count").distinct().collect()
    assert [c["count"] for c in counts] == [10]


def test_acorn_filtered_traversal_recall_and_purity(spark, sf_dir):
    """D5 ACORN-1: predicate-aware beam search must (a) return ONLY
    permitted blocks — the predicate is enforced in the traversal, not
    post-hoc — and (b) hold a ≥0.9 recall floor vs the exact permitted
    answer; 2-hop expansion keeps the filtered subgraph navigable."""
    import __spark_entry__ as entry
    from pyspark.sql import functions as F
    from vectorsearch_rbac_spark.operators import graph_ann, knn

    t = entry._rbac(spark, sf_dir)
    pred = graph_ann.acorn_search(
        t["documentblocks"], t["queries"], t["query_roles"], k=10, m=8, ef=48
    )
    truth = entry.q_rbac_prefilter_topk(spark, sf_dir)
    r = knn.recall_at_k(pred, truth).agg(F.avg("recall")).first()[0]
    assert r >= 0.9
    # purity: every returned block's document is permitted for the query
    permitted = (
        t["query_roles"]
        .join(t["permission_assignment"], "role_id")
        .select("query_id", "document_id")
        .distinct()
    )
    blocks_docs = t["documentblocks"].select("block_id", "document_id")
    leaked = (
        pred.join(blocks_docs, "block_id")
        .join(permitted, ["query_id", "document_id"], "left_anti")
        .count()
    )
    assert leaked == 0


def test_acorn_gamma_and_exact(spark, sf_dir):
    """D5 ACORN-γ (r6): the dense-graph neighbor-truncation variant must
    hold a ≥0.8 recall floor vs the exact permitted answer AND stay pure
    (predicate enforced in-traversal). acorn_exact_topk (max_hops ≥ n,
    ef ≥ n) must EQUAL the exact prefilter answer row-for-row — the
    exhaustiveness proof the oracle certification rests on."""
    import __spark_entry__ as entry
    from pyspark.sql import functions as F
    from vectorsearch_rbac_spark.operators import graph_ann, knn

    t = entry._rbac(spark, sf_dir)
    pred = graph_ann.acorn_search(
        t["documentblocks"], t["queries"], t["query_roles"], k=10, m=8,
        ef=96, gamma=4,
    )
    truth = entry.q_rbac_prefilter_topk(spark, sf_dir)
    r = knn.recall_at_k(pred, truth).agg(F.avg("recall")).first()[0]
    assert r >= 0.8
    permitted = (
        t["query_roles"]
        .join(t["permission_assignment"], "role_id")
        .select("query_id", "document_id")
        .distinct()
    )
    blocks_docs = t["documentblocks"].select("block_id", "document_id")
    leaked = (
        pred.join(blocks_docs, "block_id")
        .join(permitted, ["query_id", "document_id"], "left_anti")
        .count()
    )
    assert leaked == 0

    exact = graph_ann.acorn_exact_topk(
        t["documentblocks"], t["queries"], t["query_roles"], k=10
    )
    diff = (
        exact.select("query_id", "block_id", "rank")
        .exceptAll(truth.select("query_id", "block_id", "rank"))
        .count()
    )
    assert diff == 0 and exact.count() == truth.count()


def test_acorn_indexed_equals_fused(spark, sf_dir):
    """D5 persisted-index path (r8): acorn_search_indexed over a
    build_acorn_graph adjacency must return EXACTLY the rows the fused
    acorn_search computes with the same knobs — same deterministic build,
    same traversal, with the build amortized build-once/search-many. Both
    ACORN-1 (2-hop) and ACORN-γ (stored distance-sorted lists replace the
    per-search re-sort) are pinned, with the predicate supplied as data."""
    import __spark_entry__ as entry
    from vectorsearch_rbac_spark.operators import graph_ann

    t = entry._rbac(spark, sf_dir)
    blocks, qs, qr = t["documentblocks"], t["queries"], t["query_roles"]
    perms = t["permission_assignment"]
    for gamma, ef in ((1, 48), (4, 96)):
        g = graph_ann.build_acorn_graph(blocks, m=8, gamma=gamma).localCheckpoint()
        fused = graph_ann.acorn_search(
            blocks, qs, qr, k=10, m=8, ef=ef, gamma=gamma, permissions=perms
        ).select("query_id", "block_id", "rank")
        indexed = graph_ann.acorn_search_indexed(
            blocks, g, qs, qr, k=10, m=8, ef=ef, gamma=gamma, permissions=perms
        ).select("query_id", "block_id", "rank")
        assert indexed.exceptAll(fused).count() == 0
        assert fused.exceptAll(indexed).count() == 0
        assert indexed.count() == fused.count() > 0


def test_acorn_indexed_string_part_and_stale_fallback(spark, sf_dir):
    """D4×D5 composition (r9): build_acorn_graph over the dynamic
    comb-role store with a STRING part key persists (the adjacency
    schema mirrors the part column's own type, as build_nsw_graph does),
    and acorn_search_indexed over it returns exactly the fused
    acorn_search's rows with the same knobs. A STALE adjacency (blocks
    added to the store after the build) must flip its partition to the
    in-cogroup rebuild through the LEFT join — never a silent drop."""
    import __spark_entry__ as entry
    from vectorsearch_rbac_spark.operators import dynamic, graph_ann

    t = entry._rbac(spark, sf_dir)
    store = dynamic.build_store(t["documentblocks"], t["permission_assignment"])
    qs, qr, perms = t["queries"], t["query_roles"], t["permission_assignment"]
    g = graph_ann.build_acorn_graph(
        store, m=8, gamma=1, part_col="comb_role"
    ).localCheckpoint()
    assert dict(g.dtypes)["part"] == "string"
    fused = graph_ann.acorn_search(
        store, qs, qr, k=10, m=8, ef=48, part_col="comb_role", permissions=perms
    ).select("query_id", "block_id", "rank")
    indexed = graph_ann.acorn_search_indexed(
        store, g, qs, qr, k=10, m=8, ef=48, part_col="comb_role",
        permissions=perms,
    ).select("query_id", "block_id", "rank")
    assert indexed.exceptAll(fused).count() == 0
    assert fused.exceptAll(indexed).count() == 0
    assert indexed.count() == fused.count() > 0

    # stale index: built on a subset, searched over the full store — the
    # missing blocks' null neighbor lists trigger the partition rebuild,
    # so the result equals the fused (deterministic in-cogroup build)
    part_store = store.where(F.col("block_id") % 5 != 0)
    g_stale = graph_ann.build_acorn_graph(
        part_store, m=8, gamma=1, part_col="comb_role"
    ).localCheckpoint()
    stale = graph_ann.acorn_search_indexed(
        store, g_stale, qs, qr, k=10, m=8, ef=48, part_col="comb_role",
        permissions=perms,
    ).select("query_id", "block_id", "rank")
    assert stale.exceptAll(fused).count() == 0
    assert fused.exceptAll(stale).count() == 0


def test_nsw_indexed_stale_fallback(spark, sf_dir):
    """r9: nsw_search_indexed mirrors the stale-index safety of its
    siblings — blocks absent from the adjacency flip their partition to
    the in-cogroup rebuild, so a stale index equals the fused search."""
    import __spark_entry__ as entry
    from vectorsearch_rbac_spark.operators import graph_ann

    t = entry._rbac(spark, sf_dir)
    blocks, qs = t["documentblocks"], t["queries"]
    g_stale = graph_ann.build_nsw_graph(
        blocks.where(F.col("block_id") % 5 != 0), m=8
    ).localCheckpoint()
    fused = graph_ann.nsw_search(blocks, qs, k=10, m=8, ef=48).select(
        "query_id", "block_id", "rank"
    )
    stale = graph_ann.nsw_search_indexed(
        blocks, g_stale, qs, k=10, ef=48, m=8
    ).select("query_id", "block_id", "rank")
    assert stale.exceptAll(fused).count() == 0
    assert fused.exceptAll(stale).count() == 0
    assert stale.count() == fused.count() > 0

    # stale='error': certification paths must fail LOUDLY on the same
    # stale index instead of papering over it with a rebuild
    with pytest.raises(Exception, match="stale graph index"):
        graph_ann.nsw_search_indexed(
            blocks, g_stale, qs, k=10, ef=48, m=8, stale="error"
        ).count()

    # index AHEAD of the corpus (blocks deleted since the build without
    # delete_from_graph): stored edges point at removed ids — silently
    # stripping them could break the ring, so the partition must rebuild
    # and equal the fused search over the shrunken corpus
    g_full = graph_ann.build_nsw_graph(blocks, m=8).localCheckpoint()
    shrunk = blocks.where(F.col("block_id") % 5 != 0)
    fused_shrunk = graph_ann.nsw_search(shrunk, qs, k=10, m=8, ef=48).select(
        "query_id", "block_id", "rank"
    )
    ahead = graph_ann.nsw_search_indexed(
        shrunk, g_full, qs, k=10, ef=48, m=8
    ).select("query_id", "block_id", "rank")
    assert ahead.exceptAll(fused_shrunk).count() == 0
    assert fused_shrunk.exceptAll(ahead).count() == 0


def test_dynamic_graph_prebuilt_equals_fused(spark, sf_dir):
    """D2×D4 capstone, r8 indexed path: feeding knn_dynamic_graph a
    prebuilt per-comb_role adjacency (build_nsw_graph with a STRING part
    key) must return exactly the rows the in-cogroup build computes —
    same deterministic build, the rebuild just moves offline."""
    import __spark_entry__ as entry
    from vectorsearch_rbac_spark.operators import dynamic, graph_ann

    t = entry._rbac(spark, sf_dir)
    store = dynamic.build_store(t["documentblocks"], t["permission_assignment"])
    g = graph_ann.build_nsw_graph(
        store, m=8, id_col="block_id", vec_col="vector", part_col="comb_role"
    ).localCheckpoint()
    fused = graph_ann.knn_dynamic_graph(
        store, t["queries"], t["query_roles"], k=10, m=8, ef=48
    ).select("query_id", "block_id", "rank")
    indexed = graph_ann.knn_dynamic_graph(
        store, t["queries"], t["query_roles"], k=10, m=8, ef=48, adjacency=g
    ).select("query_id", "block_id", "rank")
    assert indexed.exceptAll(fused).count() == 0
    assert fused.exceptAll(indexed).count() == 0
    assert indexed.count() == fused.count() > 0

    # a STALE adjacency (blocks added to the store after the build) must
    # fall back to the in-cogroup rebuild, never silently drop blocks
    part_store = store.where(F.col("block_id") % 5 != 0)
    g_stale = graph_ann.build_nsw_graph(
        part_store, m=8, id_col="block_id", vec_col="vector", part_col="comb_role"
    ).localCheckpoint()
    stale = graph_ann.knn_dynamic_graph(
        store, t["queries"], t["query_roles"], k=10, m=8, ef=48, adjacency=g_stale
    ).select("query_id", "block_id", "rank")
    assert stale.exceptAll(fused).count() == 0
    assert fused.exceptAll(stale).count() == 0

    # maintenance generalizes with the part type: inserts into the
    # string-keyed (comb_role) adjacency link without error
    new = store.where(F.col("block_id") % 7 == 0)
    old = store.where(F.col("block_id") % 7 != 0)
    g_old = graph_ann.build_nsw_graph(
        old, m=8, id_col="block_id", vec_col="vector", part_col="comb_role"
    ).localCheckpoint()
    g_up = graph_ann.insert_into_graph(
        old, g_old, new, m=8, id_col="block_id", vec_col="vector", part_col="comb_role"
    )
    assert g_up.count() == store.count()
    assert dict(g_up.dtypes)["part"] == "string"


def test_graph_index_lifecycle(spark, sf_dir):
    """D2 maintenance parity (insertion/deletion): a prebuilt adjacency
    searches at full recall; incremental inserts link new nodes (search
    finds them); deletes remove nodes from results AND from every
    neighbor list."""
    import __spark_entry__ as entry
    from pyspark.sql import functions as F
    from vectorsearch_rbac_spark.operators import graph_ann, knn

    t = entry._rbac(spark, sf_dir)
    blocks, qs = t["documentblocks"], t["queries"]
    old = blocks.where(F.col("block_id") % 7 != 0)
    new = blocks.where(F.col("block_id") % 7 == 0)

    g0 = graph_ann.build_nsw_graph(old, m=8).localCheckpoint()
    pred0 = graph_ann.nsw_search_indexed(old, g0, qs, k=10, ef=48)
    truth_old = knn.knn_topk_fast(old, qs, k=10)
    r0 = knn.recall_at_k(pred0, truth_old).agg(F.avg("recall")).first()[0]
    assert r0 >= 0.9

    g1 = graph_ann.insert_into_graph(old, g0, new, m=8).localCheckpoint()
    # every block (old + new) has an adjacency row; edges are symmetric
    assert g1.count() == blocks.count()
    edges = g1.select("id", F.explode("neighbors").alias("nb"))
    rev = edges.select(F.col("nb").alias("id"), F.col("id").alias("nb"))
    assert edges.exceptAll(rev).count() == 0
    pred1 = graph_ann.nsw_search_indexed(blocks, g1, qs, k=10, ef=48)
    truth_all = knn.knn_topk_fast(blocks, qs, k=10)
    r1 = knn.recall_at_k(pred1, truth_all).agg(F.avg("recall")).first()[0]
    assert r1 >= 0.85  # incremental graph: slightly looser floor
    # inserted nodes are reachable: some appear in the merged top-k
    got_new = pred1.join(new.select("block_id"), "block_id", "left_semi").count()
    assert got_new > 0

    dels = blocks.where(F.col("block_id") % 5 == 0).select("block_id")
    g2 = graph_ann.delete_from_graph(g1, dels)
    remaining = blocks.join(dels, "block_id", "left_anti")
    assert g2.count() == remaining.count()
    assert g2.select(F.explode("neighbors").alias("nb")).join(
        dels.withColumnRenamed("block_id", "nb"), "nb", "left_semi"
    ).count() == 0
    pred2 = graph_ann.nsw_search_indexed(remaining, g2, qs, k=10, ef=48)
    assert pred2.join(dels, pred2["block_id"] == dels["block_id"], "left_semi").count() == 0


def test_rbac_graph_search_recall_and_permissions(spark, sf_dir):
    """D2×D4: role-routed per-partition graph search must (a) NEVER return
    a block outside the user's permitted set (RBAC exact by construction)
    and (b) reach ≥0.9 recall vs the exact dynamic-store answer."""
    import __spark_entry__ as entry
    from pyspark.sql import functions as F
    from vectorsearch_rbac_spark.operators import dynamic, graph_ann, knn

    t = entry._rbac(spark, sf_dir)
    store = dynamic.build_store(t["documentblocks"], t["permission_assignment"]).localCheckpoint()
    pred = graph_ann.knn_dynamic_graph(store, t["queries"], t["query_roles"], k=10, m=8, ef=48)
    truth = dynamic.knn_dynamic(store, t["queries"], t["query_roles"], k=10)
    r = knn.recall_at_k(pred, truth).agg(F.avg("recall")).first()[0]
    assert r >= 0.9
    permitted = (
        t["query_roles"].join(t["permission_assignment"], "role_id")
        .select("query_id", "document_id").distinct()
    )
    leaked = pred.join(permitted, ["query_id", "document_id"], "left_anti").count()
    assert leaked == 0


def test_rbac_graph_search_over_rebalanced_store(spark, sf_dir):
    """D2×D4×D7: the routed graph search must keep working after
    heavy-partition rebalance (split comb partitions keep their role
    semantics, so routing and permission exactness survive the split)."""
    import __spark_entry__ as entry
    from pyspark.sql import functions as F
    from vectorsearch_rbac_spark.operators import dynamic, graph_ann, knn

    t = entry._rbac(spark, sf_dir)
    store = dynamic.build_store(t["documentblocks"], t["permission_assignment"])
    reb = dynamic.rebalance_heavy_partitions(store, max_partition_size=40).localCheckpoint()
    assert reb.count() == store.count()
    pred = graph_ann.knn_dynamic_graph(reb, t["queries"], t["query_roles"], k=10, m=8, ef=48)
    truth = dynamic.knn_dynamic(store, t["queries"], t["query_roles"], k=10)
    r = knn.recall_at_k(pred, truth).agg(F.avg("recall")).first()[0]
    assert r >= 0.9


def test_incremental_adjacency_invariants_and_recall():
    """r6 incremental (HNSW-insert) build: pure-kernel invariants — the
    ring backbone is PRESENT edge-for-edge (i ↔ i+1; the guarantee the
    ef≥n exactness proof rests on, strictly stronger than 'no isolated
    nodes'), the graph is one connected component, adjacency is
    symmetric, and the diversity heuristic keeps the mean degree near m
    (it may keep fewer than m per node, as hnswlib does, so a per-node
    m-floor is NOT an invariant) — and the diverse-selection graph must
    beat a recall floor at a size where the exact kNN graph is known to
    degrade."""
    import numpy as np

    from vectorsearch_rbac_spark.operators.graph_ann import (
        _beam_search,
        _incremental_adjacency,
        _medoid,
    )

    rng = np.random.default_rng(11)
    base = rng.standard_normal((200, 16))
    a = rng.integers(0, 200, 6000)
    b = rng.integers(0, 200, 6000)
    w = rng.random((6000, 1))
    vecs = base[a] * w + base[b] * (1 - w) + rng.standard_normal((6000, 16)) * 0.05
    m = 8
    adj = _incremental_adjacency(vecs, m)
    n = len(adj)
    # symmetry + the ring edges THEMSELVES (i ↔ i+1): the exactness
    # certification's connectivity argument needs the chain, not merely
    # degree ≥ 1 — assert it edge-for-edge
    sets = [set(x) for x in adj]
    for u in range(n):
        for v in sets[u]:
            assert u in sets[v]
    for u in range(n - 1):
        assert (u + 1) in sets[u] and u in sets[u + 1]
    # the diversity heuristic prunes per node but must keep the graph
    # dense enough to navigate: mean degree within [m/2, 2m]
    mean_deg = sum(len(s) for s in sets) / n
    assert m / 2 <= mean_deg <= 2 * m
    # ring ⇒ connected: BFS from 0 reaches everything
    seen = {0}
    stack = [0]
    while stack:
        u = stack.pop()
        for v in sets[u]:
            if v not in seen:
                seen.add(v)
                stack.append(v)
    assert len(seen) == n
    # recall floor at ef=64
    norms = (vecs * vecs).sum(axis=1)
    entry = _medoid(vecs)
    hits = 0
    qs = base[rng.integers(0, 200, 20)] + rng.standard_normal((20, 16)) * 0.05
    for q in qs:
        d2 = norms - 2 * (vecs @ q) + q @ q
        truth = set(np.argsort(d2)[:10])
        got = {u for _, u in _beam_search(vecs, adj, entry, q, 10, 64, norms=norms)}
        hits += len(truth & got)
    assert hits / 200 >= 0.9


def test_acorn_over_generated_rbac(spark, t):
    """D5 generality (r7): ACORN must serve a REAL permission relation,
    not just the testdata's arithmetic rule — the reference's
    acorn_benchmark evaluates predicates from actual permission metadata.
    Tree-generator (B3) permissions — a hierarchy closure, nothing
    arithmetic about it — flow in as the ``permissions`` relation:
    (a) the exhaustive traversal (acorn_exact_topk) must EQUAL the exact
    prefilter answer row-for-row, and (b) the recall-mode beam must stay
    PURE (only permitted docs) and clear a 0.85 floor."""
    from vectorsearch_rbac_spark.operators import graph_ann
    from vectorsearch_rbac_spark.rbac import generators

    n_docs = int(t["documentblocks"].agg(F.max("document_id")).first()[0]) + 1
    g = generators.tree_rbac(
        spark, num_users=100, num_documents=int(n_docs), height=3, branching=3
    )
    queries = t["queries"].withColumn("user_id", F.col("query_id") % 100 + 1)
    qroles = (
        queries.select("query_id", "user_id")
        .join(g["user_roles"], "user_id")
        .select("query_id", "role_id")
        .distinct()
    )
    pa = g["permission_assignment"]
    truth = knn.knn_prefilter(t["documentblocks"], queries, qroles, pa, k=10)
    exact = graph_ann.acorn_exact_topk(
        t["documentblocks"], queries, qroles, k=10, permissions=pa
    )
    diff = (
        exact.select("query_id", "block_id", "rank")
        .exceptAll(truth.select("query_id", "block_id", "rank"))
        .count()
    )
    assert diff == 0 and exact.count() == truth.count()

    pred = graph_ann.acorn_search(
        t["documentblocks"], queries, qroles, k=10, m=8, ef=64, permissions=pa
    )
    r = knn.recall_at_k(pred, truth).agg(F.avg("recall")).first()[0]
    assert r >= 0.85
    permitted = qroles.join(pa, "role_id").select("query_id", "document_id").distinct()
    blocks_docs = t["documentblocks"].select("block_id", "document_id")
    leaked = (
        pred.join(blocks_docs, "block_id")
        .join(permitted, ["query_id", "document_id"], "left_anti")
        .count()
    )
    assert leaked == 0


def test_batched_beams_match_sequential_kernels():
    """r7 lockstep driver: _batched_beams (one gathered einsum per
    superstep across all queries) must return the SAME nodes in the SAME
    order as the per-query reference kernels — _beam_search for plain
    NSW, _acorn_beam for ACORN-1 (2-hop), _acorn_gamma_beam for the
    dense-graph truncation — since per query its pop/push sequence is
    identical by construction."""
    import numpy as np
    from vectorsearch_rbac_spark.operators.graph_ann import (
        _acorn_beam, _acorn_gamma_beam, _batched_beams, _beam_search,
        _build_adjacency, _medoid, _sorted_neighbors)

    rng = np.random.default_rng(7)
    vecs = rng.normal(size=(300, 16))
    norms = (vecs * vecs).sum(axis=1)
    adj = _build_adjacency(vecs, 6)
    adjarr = [np.asarray(a, dtype=np.int64) for a in adj]
    qs = rng.normal(size=(25, 16))
    k, ef = 10, 32

    # plain NSW
    entry = _medoid(vecs)
    seq = [_beam_search(vecs, adj, entry, q, k, ef, norms=norms) for q in qs]
    bat = _batched_beams(
        vecs, norms, qs, np.full(len(qs), entry, dtype=np.int64), k, ef,
        lambda i, u: adjarr[u],
    )
    for s, b in zip(seq, bat):
        assert [u for _, u in s] == [u for _, u in b]
        assert np.allclose([d for d, _ in s], [d for d, _ in b], atol=1e-9)

    # ACORN-1 (2-hop) and ACORN-γ against per-query random masks
    masks = [rng.random(len(vecs)) < 0.3 for _ in range(len(qs))]
    entries = []
    for al in masks:
        idx = np.flatnonzero(al)
        mean = vecs[idx].mean(axis=0)
        entries.append(int(idx[np.argmin(((vecs[idx] - mean) ** 2).sum(axis=1))]))
    entries = np.asarray(entries, dtype=np.int64)

    # canonical ACORN-1 order: passing 1-hop first, then 2-hop (the
    # vectorized closure acorn_search ships)
    def expand1(i, u):
        al = masks[i]
        nb = adjarr[u]
        pm = al[nb]
        passing, failing = nb[pm], nb[~pm]
        if not failing.size:
            return passing
        two = np.concatenate([adjarr[int(v)] for v in failing])
        return np.concatenate([passing, two[al[two]]])

    seq = [_acorn_beam(vecs, adj, q, k, ef, al, True, norms=norms)
           for q, al in zip(qs, masks)]
    bat = _batched_beams(vecs, norms, qs, entries, k, ef, expand1, dedupe=True)
    for s, b in zip(seq, bat):
        assert [u for _, u in s] == [u for _, u in b]

    m_trunc = 6
    adj_sorted = _sorted_neighbors(vecs, adj, norms)

    def expand_g(i, u):
        nb = adj_sorted[u]
        if not nb.size:
            return nb
        return nb[masks[i][nb]][:m_trunc]

    seq = [_acorn_gamma_beam(vecs, adj_sorted, q, k, ef, al, m_trunc, norms=norms)
           for q, al in zip(qs, masks)]
    bat = _batched_beams(vecs, norms, qs, entries, k, ef, expand_g)
    for s, b in zip(seq, bat):
        assert [u for _, u in s] == [u for _, u in b]


def test_acorn_beam_kernels():
    """r6 ACORN kernels, numpy-level: (a) max_hops ≥ n + ef ≥ n beam is
    EXHAUSTIVE over the allowed set (equals filtered brute force — the
    acorn_exact oracle proof); (b) no duplicate ids ever enter the beam
    (a passing node reachable through two failing detours); (c) the γ
    truncation beam holds a recall floor on the unpruned nearest-γm
    graph at selectivity 1/γ."""
    import numpy as np

    from vectorsearch_rbac_spark.operators.graph_ann import (
        _acorn_beam,
        _acorn_gamma_beam,
        _build_adjacency,
        _sorted_neighbors,
    )

    rng = np.random.default_rng(7)
    n, d = 900, 16
    vecs = rng.standard_normal((n, d))
    norms = (vecs * vecs).sum(axis=1)
    adj = _build_adjacency(vecs, 8, method="exact")
    for sel in (0.5, 0.2, 0.05, 0.01):
        allowed = rng.random(n) < sel
        if not allowed.any():
            continue
        q = rng.standard_normal(d)
        kk = min(10, int(allowed.sum()))
        res = _acorn_beam(
            vecs, adj, q, kk, 1 << 30, allowed, norms=norms, max_hops=1 << 30
        )
        ids = [u for _, u in res]
        assert len(ids) == len(set(ids))  # no duplicates in the beam
        d2 = norms - 2 * (vecs @ q) + q @ q
        idx = np.where(allowed)[0]
        want = sorted(idx[np.argsort(d2[idx], kind="stable")][:kk].tolist())
        assert sorted(ids) == want  # exhaustive ⇒ exact filtered top-k

    # γ truncation beam on the unpruned nearest-γm graph
    gamma, m = 4, 8
    adj_g = _build_adjacency(vecs, m * gamma, method="exact")
    adj_sorted = _sorted_neighbors(vecs, adj_g, norms)
    hits = tot = 0
    for _ in range(20):
        allowed = rng.random(n) < 1.0 / gamma
        if allowed.sum() < 10:
            continue
        q = rng.standard_normal(d)
        d2 = norms - 2 * (vecs @ q) + q @ q
        idx = np.where(allowed)[0]
        truth = set(idx[np.argsort(d2[idx], kind="stable")][:10].tolist())
        got = {
            u for _, u in _acorn_gamma_beam(
                vecs, adj_sorted, q, 10, 96, allowed, m, norms=norms
            )
        }
        assert got <= set(idx.tolist())  # purity: passing nodes only
        hits += len(got & truth)
        tot += 10
    assert hits / tot >= 0.8


def test_graph_exact_topk_matches_bruteforce(spark, sf_dir):
    """r6 certification invariant behind the quantized_topk graph_exact
    tag: ef >= n beam over the ring-connected adjacency + exact rerank
    must equal brute-force top-k EXACTLY (ids and ranks)."""
    from vectorsearch_rbac_spark.functions import vector as V
    from vectorsearch_rbac_spark.operators import graph_ann, knn

    emb = load_table(spark, "embeddings", sf_dir)
    qs = derive.derive_queries(emb, 100)
    pred = graph_ann.graph_exact_topk(emb, qs, k=10)
    scored = emb.crossJoin(F.broadcast(qs)).select(
        "query_id",
        F.col("vec_id").alias("block_id"),
        F.round(V.l2_distance("embedding", "query_vector"), 6).alias("distance"),
    )
    truth = knn.topk_per_query(scored, 10, id_col="block_id")
    got = {(r["query_id"], r["vec_id"], r["rank"]) for r in pred.collect()}
    want = {(r["query_id"], r["block_id"], r["rank"]) for r in truth.collect()}
    assert got == want


def test_insert_preserves_ring_connectivity(spark, sf_dir):
    """r6: insert_into_graph re-asserts the ring, so a maintained graph
    stays one connected component (the invariant graph_exact_topk's
    exactness proof rests on)."""
    from vectorsearch_rbac_spark.operators import graph_ann

    emb = load_table(spark, "embeddings", sf_dir).select(
        F.col("vec_id").alias("block_id"), F.col("embedding").alias("vector")
    )
    old = emb.where(F.col("block_id") % 4 != 0)
    new = emb.where(F.col("block_id") % 4 == 0)
    g0 = graph_ann.build_nsw_graph(old, m=8, id_col="block_id", vec_col="vector")
    g1 = graph_ann.insert_into_graph(old, g0, new, m=8, id_col="block_id", vec_col="vector")
    rows = {r["id"]: set(r["neighbors"]) for r in g1.collect()}
    ids = sorted(rows)
    for i in range(len(ids) - 1):
        assert ids[i + 1] in rows[ids[i]], "ring edge missing after insert"
    seen = {ids[0]}
    stack = [ids[0]]
    while stack:
        u = stack.pop()
        for v in rows[u]:
            if v not in seen:
                seen.add(v)
                stack.append(v)
    assert len(seen) == len(ids)


def test_role_churn_decision_matches_python_replay(t, spark):
    """insert_new_role parity: the Spark-expression cost table must equal
    an independent pure-Python replay of insertion.py's
    ΔQueryTime/ΔStorage formula over the same partition statistics, and
    the chosen partition is the (cost, id)-argmin."""
    import math

    blocks, pa = t["documentblocks"], t["permission_assignment"]
    pr = spark.createDataFrame(
        [(p, r) for p in range(5) for r in (2 * p, 2 * p + 1)],
        "partition_id long, role_id int",
    )
    store = (
        blocks.join(pa, "document_id").join(F.broadcast(pr), "role_id")
        .select("partition_id", "block_id", "document_id", "vector").distinct()
    )
    new_docs = blocks.where(F.col("document_id") % 7 == 1).select("document_id").distinct()
    new_blocks = blocks.join(new_docs, "document_id").select("block_id", "document_id", "vector")
    dec = {
        r["partition_id"]: r
        for r in dynamic.role_insert_decision(store, pr, pa, new_blocks).collect()
    }

    # ---- python replay over plain sets
    pd_rows = store.select("partition_id", "document_id").distinct().collect()
    pdocs: dict[int, set] = {}
    for r in pd_rows:
        pdocs.setdefault(r["partition_id"], set()).add(r["document_id"])
    role_docs: dict[int, set] = {}
    for r in pa.collect():
        role_docs.setdefault(r["role_id"], set()).add(r["document_id"])
    nd = {r["document_id"] for r in new_docs.collect()}
    k, beta, a, b, T = 0.9, 0.5, 1.0, 8.0, 10
    x = 3
    while (1 + x / 10) - k >= 1:
        x -= 1
    dv = 1 + x / 10

    def ef(s):
        return math.log(1 / (dv - k) - 1) / (-4 * beta * s) * T + k * T / s

    expect = {}
    for p, docs in pdocs.items():
        roles = [2 * p, 2 * p + 1]
        sum_inter = sum(len(docs & role_docs.get(r, set())) for r in roles)
        sel_sum = sum_inter / len(docs)
        sel_b = sel_sum / len(roles)
        sel_a = (sel_sum + len(nd & docs) / len(docs)) / (len(roles) + 1)
        qt_b = math.log(len(docs)) * (a * ef(sel_b) + b)
        qt_a = math.log(len(docs) + len(nd)) * (a * ef(sel_a) + b)
        dst = len(nd) - len(nd & docs)
        expect[p] = (dst, round((qt_a - qt_b) / dst, 6) if dst > 0 else None)
    expect[5] = (len(nd), round(math.log(len(nd)) * (a * ef(1.0) + b) / len(nd), 6))

    assert set(dec) == set(expect)
    for p, (dst, cost) in expect.items():
        assert dec[p]["delta_storage"] == dst, p
        assert dec[p]["cost"] == pytest.approx(cost, abs=1.5e-6) if cost is not None else dec[p]["cost"] is None
    best = min((c, p) for p, (_, c) in expect.items() if c is not None)[1]
    assert dec[best]["chosen"] == 1 and dec[best]["rank"] == 1


def test_role_churn_search_exact_and_delete_semantics(t, spark):
    """Post-churn routed search must equal prefilter over the churned
    permission set (grant role 10, revoke role 1 — a different role from
    the entry's scenario), and delete_role must keep every doc a
    remaining role of the partition still needs while dropping the
    exclusive ones."""
    blocks, pa, qs, qr = (
        t["documentblocks"], t["permission_assignment"], t["queries"], t["query_roles"]
    )
    rtype = pa.schema["role_id"].dataType.simpleString()
    pr = spark.createDataFrame(
        [(p, r) for p in range(5) for r in (2 * p, 2 * p + 1)],
        "partition_id long, role_id int",
    )
    store = (
        blocks.join(pa, "document_id").join(F.broadcast(pr), "role_id")
        .select("partition_id", "block_id", "document_id", "vector").distinct()
    )
    new_docs = blocks.where(F.col("document_id") % 7 == 1).select("document_id").distinct()
    new_blocks = blocks.join(new_docs, "document_id").select("block_id", "document_id", "vector")
    store2, pr2 = dynamic.insert_role(store, pr, pa, 10, new_blocks)
    pa_grant = pa.unionByName(new_docs.withColumn("role_id", F.lit(10).cast(rtype)))
    store3, pr3 = dynamic.delete_role(store2, pr2, pa_grant, 1)
    # delete semantics on partition 0 (roles {0, 1}): docs of role 0 all
    # survive; docs exclusive to role 1 are gone
    p0 = {r["document_id"] for r in store3.where(F.col("partition_id") == 0)
          .select("document_id").distinct().collect()}
    d0 = {r["document_id"] for r in pa.where(F.col("role_id") == 0)
          .select("document_id").collect()}
    d1 = {r["document_id"] for r in pa.where(F.col("role_id") == 1)
          .select("document_id").collect()}
    blocked = {r["document_id"] for r in blocks.select("document_id").distinct().collect()}
    assert (d0 & blocked) <= p0
    assert not ((d1 - d0) & blocked & p0)
    # post-churn search == prefilter over churned perms
    pa_after = pa_grant.where(F.col("role_id") != 1)
    qr_after = qr.where(F.col("role_id") != 1).unionByName(
        qs.where(F.col("user_id") % 3 == 0).select(
            "query_id", F.lit(10).cast(rtype).alias("role_id")
        )
    )
    pred = dynamic.knn_role_routed(store3, pr3, qs, qr_after, pa_after, k=10)
    truth = knn.ground_truth(blocks, qs, qr_after, pa_after, k=10)
    assert pred.exceptAll(truth).count() == 0
    assert truth.exceptAll(pred).count() == 0
    assert pred.count() == truth.count() > 0


# ----------------------------------------------------------------------
# One parity matrix: every exact strategy ≡ knn.ground_truth, the one
# expression-plan reference, for every metric, row for row.

ZERO_BLOCK = 10**9  # block id of the synthetic zero-norm corpus row
_METRICS = ("l2", "cosine", "ip", "l1")


def _rows(df):
    """Sorted result tuples; a NaN distance compares equal to NaN."""
    return sorted(
        tuple("nan" if isinstance(v, float) and v != v else v for v in r)
        for r in df.collect()
    )


@pytest.fixture(scope="module")
def pin(t, spark):
    """The parity-matrix workload.

    - Q=70 queries (5 base × 14 jittered copies): two packed mask words,
      so the second word and bit 63 (the sign bit of the first) are used.
    - The corpus plus one zero-norm block on a permitted document: under
      cosine its distance is NaN, which must sort last and never beat a
      real neighbour (a pandas→Arrow NaN→null would rank it first).
    - The 5-partition role store (partition p hosts roles 2p, 2p+1) for
      ``dynamic.knn_role_routed``, and the budget layout for
      ``layout.knn_budget``, both built over that corpus."""
    rep = F.broadcast(spark.range(14).select(F.col("id").alias("r")))
    qid = (F.col("query_id") * 1000 + F.col("r")).alias("query_id")
    qs = t["queries"].crossJoin(rep).select(
        qid, "user_id",
        F.transform("query_vector", lambda x: x + F.col("r").cast("float") * 0.001).alias("query_vector"),
    ).cache()
    qr = t["query_roles"].crossJoin(rep).select(qid, "role_id").cache()
    assert qs.count() == 70
    pa = t["permission_assignment"]
    dim = len(t["queries"].select("query_vector").first()[0])
    zero = spark.createDataFrame(
        [(ZERO_BLOCK, 0, [0.0] * dim, 0)],
        t["documentblocks"].schema,
    )
    assert pa.where(F.col("document_id") == 0).count() > 0
    blocks = t["documentblocks"].unionByName(zero).cache()

    pr = spark.createDataFrame(
        [(p, r) for p in range(5) for r in (2 * p, 2 * p + 1)],
        "partition_id long, role_id int",
    )
    role_store = (
        blocks.join(pa, "document_id").join(F.broadcast(pr), "role_id")
        .select("partition_id", "block_id", "document_id", "vector").distinct()
    )
    sel = derive.block_selectivity(t["user_roles"], pa, blocks)
    opt = layout.optimize_layout(blocks, pa, qs, t["user_roles"], selectivity=sel, alpha=1.5)
    return {
        "args": (blocks, qs, qr, pa),
        "assigned": partitioning.qdtree_assignment(blocks, pa, max_leaf_size=64, max_depth=4),
        "role_store": role_store,
        "partition_roles": pr,
        "budget_store": layout.build_budget_store(blocks, pa, opt["assignment"]),
        "opt": opt,
        "truth": {},
    }


def _truth(pin, metric):
    if metric not in pin["truth"]:
        pin["truth"][metric] = _rows(knn.ground_truth(*pin["args"], k=10, metric=metric))
    return pin["truth"][metric]


def _postfilter_reference(pin, metric, k=10, expansion=4):
    """Postfilter from ground_truth: under a relation that permits every
    document it is the global top-(k·e); the permission join and top-k
    follow."""
    blocks, qs, qr, pa = pin["args"]
    everyone = qs.select("query_id", F.lit(-1).alias("role_id"))
    all_docs = blocks.select("document_id", F.lit(-1).alias("role_id")).distinct()
    top_ke = knn.ground_truth(blocks, qs, everyone, all_docs, k * expansion, metric).drop("rank")
    qdocs = qr.join(pa, "role_id").select("query_id", "document_id").distinct()
    return knn.topk_per_query(top_ke.join(qdocs, ["query_id", "document_id"]), k).select(
        "query_id", "block_id", "document_id", "distance", "rank"
    )


_STRATEGIES = {
    "prefilter": lambda p, m: knn.knn_prefilter(*p["args"], k=10, metric=m),
    "rls": lambda p, m: knn.knn_rls(*p["args"], k=10, metric=m),
    "role": lambda p, m: knn.knn_role_partition(*p["args"], k=10, metric=m),
    "logical": lambda p, m: knn.knn_role_partition_logical(*p["args"], k=10, metric=m),
    "comb": lambda p, m: knn.knn_comb_role_partition(*p["args"], k=10, metric=m),
    "qdtree": lambda p, m: knn.knn_qdtree(p["assigned"], *p["args"][1:], k=10, metric=m),
    "role_routed": lambda p, m: dynamic.knn_role_routed(
        p["role_store"], p["partition_roles"], *p["args"][1:], k=10, metric=m
    ),
    "budget": lambda p, m: layout.knn_budget(
        p["budget_store"], p["args"][1], p["args"][2],
        p["opt"]["routing"], p["opt"]["assignment"], k=10, metric=m,
    ),
    "postfilter": lambda p, m: knn.knn_postfilter(*p["args"], k=10, expansion=4, metric=m),
    "dynamic": lambda p, m: dynamic.knn_dynamic(
        dynamic.build_store(p["args"][0], p["args"][3]), *p["args"][1:3], k=10, metric=m
    ),
}


@pytest.mark.parametrize("metric", _METRICS)
@pytest.mark.parametrize("strategy", sorted(_STRATEGIES))
def test_exact_strategy_matches_ground_truth(pin, strategy, metric):
    """Every exact strategy returns EXACTLY ground_truth's rows: same
    permitted set, same 6-dp rounded distances, same (distance, block_id)
    tie order. Postfilter (recall < 1) is held to the postfilter answer
    built from ground_truth."""
    want = (
        _rows(_postfilter_reference(pin, metric)) if strategy == "postfilter"
        else _truth(pin, metric)
    )
    got = _rows(_STRATEGIES[strategy](pin, metric))
    assert got == want and len(got) > 0


def test_impl_shim_accepts_only_numpy(t):
    """prefilter, postfilter, comb and rls keep a one-value ``impl``
    argument for existing callers: ``"numpy"`` is the default path, and
    any other value raises instead of silently picking a plan."""
    args = (t["documentblocks"], t["queries"], t["query_roles"], t["permission_assignment"])
    for fn in (knn.knn_prefilter, knn.knn_postfilter, knn.knn_comb_role_partition, knn.knn_rls):
        with pytest.raises(ValueError, match="only 'numpy'"):
            fn(*args, k=10, impl="expr")
        assert _rows(fn(*args, k=10, impl="numpy")) == _rows(fn(*args, k=10)), fn.__name__


def _scan_truth(emb, qs, metric, vec, query_vec, k=10):
    """knn.ground_truth over a single-id vector table, under a relation
    that permits every document: the expression plan of an unfiltered
    exact scan of ``vec`` against ``query_vec``."""
    blocks = emb.select(
        F.col("vec_id").alias("block_id"), F.lit(0).cast("long").alias("document_id"),
        vec.alias("vector"),
    )
    queries = qs.select("query_id", query_vec.alias("query_vector"))
    everyone = queries.select("query_id", F.lit(-1).alias("role_id"))
    all_docs = blocks.select("document_id", F.lit(-1).alias("role_id")).distinct()
    return knn.ground_truth(blocks, queries, everyone, all_docs, k, metric)


def _thresholded(thr):
    return lambda c: F.transform(
        c, lambda x: F.when(F.abs(x.cast("double")) > thr, x.cast("double")).otherwise(0.0)
    )


_DIST = ("query_id", "block_id", "distance", "rank")
_DIST_SCHEMA = "struct<query_id:bigint,vec_id:bigint,distance:double,rank:int>"

# name → (operator, metric, scored-input transform, truth columns,
# documented output schema)
_SCANS = {
    "cosine": (
        lambda e, q: ann.cosine_topk_bruteforce(e, q, k=10), "cosine", F.col, _DIST, _DIST_SCHEMA,
    ),
    "l2_fp16": (
        lambda e, q: ann.l2_topk_bruteforce(
            e.select("vec_id", V.fp16_quantize("embedding").alias("embedding")),
            q.select("query_id", V.fp16_quantize("query_vector").alias("query_vector")), k=10,
        ),
        "l2", V.fp16_quantize, _DIST, _DIST_SCHEMA,
    ),
    "sparse_0.15": (
        lambda e, q: ann.sparse_cosine_topk(e, q, k=10, threshold=0.15),
        "cosine", _thresholded(0.15), _DIST, _DIST_SCHEMA,
    ),
    # 1.5 empties many vectors: zero norm → NaN, which must sort last
    "sparse_1.5": (
        lambda e, q: ann.sparse_cosine_topk(e, q, k=10, threshold=1.5),
        "cosine", _thresholded(1.5), _DIST, _DIST_SCHEMA,
    ),
    "int8": (
        lambda e, q: curation.int8_topk(e, q, k=10),
        "ip", lambda c: curation.int8_quantize(c).cast("array<double>"),
        ("query_id", "block_id", "CAST(-distance AS BIGINT)", "CAST(rank AS BIGINT)"),
        "struct<query_id:bigint,vec_id:bigint,dot:bigint,rank:bigint>",
    ),
    "anchor_truth": (
        lambda e, q: tuning.anchor_ivf_truth(e, q, k=10),
        "l2", F.col, ("query_id", "block_id"), "struct<query_id:bigint,vec_id:bigint>",
    ),
}


@pytest.mark.parametrize("scan", sorted(_SCANS))
def test_exact_scan_matches_ground_truth(t, scan):
    """Every brute-force top-k operator is the shared exact scan: it returns
    EXACTLY ground_truth's rows (same 6-dp distances, NaN last, (distance,
    id) tie order) on the vectors it actually scores — fp16-rounded for
    halfvec, thresholded for sparse, int8-quantized with ip for int8 (dot =
    −distance). With no queries it returns no rows, in its documented
    schema."""
    op, metric, scored, cols, schema = _SCANS[scan]
    emb, qs = t["embeddings"], t["queries"]
    truth = _scan_truth(emb, qs, metric, scored("embedding"), scored("query_vector"))
    got = _rows(op(emb, qs))
    assert got == _rows(truth.selectExpr(*cols)) and len(got) > 0
    if scan == "sparse_1.5":
        assert any(r[2] == "nan" for r in got)
    empty = op(emb, qs.limit(0))
    assert empty.schema.simpleString() == schema
    assert empty.count() == 0


def test_local_topk_query_chunking_row_identical(t):
    """Query-axis chunking (q_chunk) must be row-identical to the unchunked
    kernel, masked and unmasked — the per-dim folds are elementwise per
    (row, query) and the cut is per-query-column independent."""
    blocks, qs = t["documentblocks"], t["queries"]
    for metric in ("l2", "cosine"):
        a = sorted(map(tuple, knn.local_topk(blocks, qs, 10, metric).collect()))
        b = sorted(map(tuple, knn.local_topk(blocks, qs, 10, metric, q_chunk=3).collect()))
        assert a == b and len(a) > 0, metric
    masks = knn._query_doc_masks(qs, t["query_roles"], t["permission_assignment"])
    joined = blocks.join(F.broadcast(masks), "document_id")
    a = sorted(map(tuple, knn.local_topk(joined, qs, 10, mask_col="qmask").collect()))
    b = sorted(map(tuple, knn.local_topk(joined, qs, 10, mask_col="qmask", q_chunk=7).collect()))
    assert a == b and len(a) > 0


def test_stale_doc_masks_fail_loudly(t):
    """A doc_masks table built over a DIFFERENT query set must raise at
    kernel time (word-count contract), never misalign bit positions and
    return wrong rows silently (ADVICE r9) — on every strategy that
    accepts a prebuilt mask table."""
    blocks, qs = t["documentblocks"], t["queries"]
    assigned = partitioning.qdtree_assignment(
        blocks, t["permission_assignment"], max_leaf_size=64, max_depth=4
    )
    good = knn._query_doc_masks(qs, t["query_roles"], t["permission_assignment"])
    # pad to one extra word: a mask built for a larger query set than the
    # one being searched (ceil(Q/64)+1 words vs ceil(Q/64) expected)
    stale = good.withColumn(
        "qmask", F.concat(F.col("qmask"), F.array(F.lit(0).cast("long")))
    )
    # same word count but a DIFFERENT query-id set: the per-row query-set
    # fingerprint must catch what the word count cannot
    sq = qs.withColumn("query_id", F.col("query_id") + 1)
    sqr = t["query_roles"].withColumn("query_id", F.col("query_id") + 1)
    wrongset = knn._query_doc_masks(sq, sqr, t["permission_assignment"])
    for fn, corpus in (
        (knn.knn_prefilter, blocks), (knn.knn_rls, blocks), (knn.knn_qdtree, assigned),
    ):
        for masks, err in ((stale, "qmask word count"), (wrongset, "query-set hash")):
            with pytest.raises(Exception, match=err):
                fn(
                    corpus, qs, t["query_roles"], t["permission_assignment"],
                    k=5, doc_masks=masks,
                ).collect()


def test_doc_masks_persist_roundtrip(t, spark, tmp_path):
    """The build-once/search-many arm end-to-end THROUGH PERSISTENCE: a
    mask table written to parquet and reloaded in a fresh read must
    produce exactly the in-call rows (fingerprint column survives the
    round trip and validates green)."""
    args = (t["documentblocks"], t["queries"], t["query_roles"], t["permission_assignment"])
    masks = knn._query_doc_masks(t["queries"], t["query_roles"], t["permission_assignment"])
    path = str(tmp_path / "doc_masks")
    masks.write.mode("overwrite").parquet(path)
    reloaded = spark.read.parquet(path)
    a = sorted(map(tuple, knn.knn_prefilter(*args, k=10).collect()))
    b = sorted(map(tuple, knn.knn_prefilter(*args, k=10, doc_masks=reloaded).collect()))
    assert a == b and len(a) > 0


def test_gather_kernel_ip_and_zero_norm_cosine_parity(t, spark):
    """Edge-metric parity for the gather kernel against the expression
    window, on a corpus small enough that every row is ranked: ip
    distances are NEGATIVE (half-away rounding must match F.round), and
    a zero-norm corpus vector under cosine must yield NaN that sorts LAST
    (the pandas→Arrow NaN→null mask would otherwise rank it first)."""
    from vectorsearch_rbac_spark.functions import vector as V

    dim = len(t["queries"].select("query_vector").first()[0])
    blocks = t["documentblocks"].limit(20).select(
        "block_id", "document_id", "vector"
    ).unionByName(spark.createDataFrame(
        [(999999, 999999, [0.0] * dim)], "block_id long, document_id long, vector array<double>"
    ))
    q = t["queries"].limit(3)
    joined = blocks.crossJoin(F.broadcast(q.select("query_id")))
    for metric, dist in (("ip", V.neg_inner_product), ("cosine", V.cosine_distance)):
        a = _rows(knn.topk_per_query(
            joined.join(F.broadcast(q.select("query_id", "query_vector")), "query_id")
            .select("query_id", "block_id", "document_id",
                    F.round(dist("vector", "query_vector"), 6).alias("distance")),
            25))
        b = _rows(knn.topk_per_query(
            knn._gather_local_topk(joined, q, 25, metric=metric), 25))
        assert a == b and len(a) == 3 * 21, metric
    # the zero-norm row is ranked LAST for every query
    assert [r[4] for r in a if r[1] == 999999] == [21, 21, 21]


def test_global_graph_postfilter_recall_floor(spark, sf_dir):
    """The global-graph postfilter strategy (r11 — the reference's
    main_global_postfilter_comparison.cpp row): a global persisted NSW
    beam at k·expansion, permission filter, top-k. Measured against the
    EXACT postfilter answer, so the floor pins only the beam's loss."""
    import __spark_entry__ as e

    rec = e.q_graph_postfilter_recall(spark, sf_dir).agg(F.avg("recall")).first()[0]
    assert rec >= 0.7


def test_scan_cost_routing4_bands(spark):
    """r11: the FOUR-way router's regime picture — with a clustered layout
    the read volume differs between scan arms, so the model prices an
    explicit read term and the qd-tree leaf scan WINS ITS BAND (mid-low
    selectivity with effective pruning), between acorn's constant beam and
    postfilter's dense-permission regime. Deterministic literal costs:
    N=10⁴, k·e=40 → post=40/s; ef·m=384; read_cost=0.1."""
    from vectorsearch_rbac_spark.plans.strategy import scan_cost_routing

    queries = spark.createDataFrame(
        [(1, 10), (2, 20), (3, 30), (4, 40)], "query_id long, user_id long"
    )
    sel = spark.createDataFrame(
        [(10, 0.9), (20, 0.02), (30, 0.001), (40, 0.02)],
        "user_id long, selectivity double",
    )
    lf = spark.createDataFrame(
        # q4 has no leaf_frac row → coalesces to 1.0 (no pruning): its
        # qd cost ties prefilter's at (0.1+0.02)·10⁴=1200, and acorn's
        # constant 384 undercuts both — the unpruned query falls back to
        # the beam, never to a more expensive scan
        [(1, 0.9), (2, 0.1), (3, 0.5)], "query_id long, leaf_frac double"
    )
    got = {
        r["query_id"]: r["strategy"]
        for r in scan_cost_routing(queries, sel, 10_000, leaf_fracs=lf).collect()
    }
    # q1: post=44.4 beats all; q2: qd=(0.01+0.02)·10⁴=300 < ac=384 < pre;
    # q3: ac=384 < qd=510 < pre; q4: ac=384 < qd=pre=1200
    assert got == {1: "postfilter", 2: "qdtree", 3: "acorn", 4: "acorn"}
    # and the 3-way form is untouched: same inputs, no leaf_fracs →
    # the certified cost3 decisions (sel·N model, no read term)
    got3 = {
        r["query_id"]: r["strategy"]
        for r in scan_cost_routing(queries, sel, 10_000).collect()
    }
    # without a layout there is no read-term difference: sel·N stays tiny
    # (10-200) and prefilter wins everywhere post doesn't
    assert got3 == {1: "postfilter", 2: "prefilter", 3: "prefilter", 4: "prefilter"}


def test_adaptive_knn_cost4_qdtree_arm(t, spark):
    """cost4 end-to-end: the routed union covers every query, the qd-tree
    arm actually serves some of them, and — because the qd-tree scan is
    EXACT — every qdtree-routed query's rows equal the exact permitted
    answer."""
    from vectorsearch_rbac_spark.plans.strategy import adaptive_knn

    blocks = t["documentblocks"]
    assigned = partitioning.qdtree_assignment(
        blocks, t["permission_assignment"], max_leaf_size=32, max_depth=4
    ).localCheckpoint()
    # knobs that put the testdata workload (sel 0.3-0.4, leaf_frac ~0.7,
    # N=500) inside the qd-tree band: expansion=24 lifts the postfilter
    # walk cost (k·e/s ≥ 600) above the pruned scan's ~185-235, and the
    # default ef·m=384 beam sits above it too
    out = adaptive_knn(
        blocks, t["queries"], t["query_roles"], t["permission_assignment"],
        t["user_roles"], k=10, routing_mode="cost4", n_corpus=blocks.count(),
        qdtree_blocks=assigned, expansion=24,
    ).localCheckpoint()
    assert out.select("query_id").distinct().count() == t["queries"].count()
    strategies = {r["strategy"] for r in out.select("strategy").distinct().collect()}
    assert "qdtree" in strategies, f"no query routed to the qd-tree arm: {strategies}"
    qd_q = out.where(F.col("strategy") == "qdtree").select("query_id").distinct()
    truth = knn.knn_prefilter(
        blocks,
        t["queries"].join(qd_q, "query_id", "left_semi"),
        t["query_roles"].join(qd_q, "query_id", "left_semi"),
        t["permission_assignment"], k=10,
    )
    got = _ids(out.where(F.col("strategy") == "qdtree"))
    assert got == _ids(truth)

    with pytest.raises(ValueError, match="cost4 routing requires qdtree_blocks"):
        adaptive_knn(
            blocks, t["queries"], t["query_roles"], t["permission_assignment"],
            t["user_roles"], k=10, routing_mode="cost4",
        )
    with pytest.raises(ValueError, match="qdtree_blocks requires"):
        adaptive_knn(
            blocks, t["queries"], t["query_roles"], t["permission_assignment"],
            t["user_roles"], k=10, routing_mode="cost3", qdtree_blocks=assigned,
        )


def test_adaptive_entry_cost4_sections_cover_live_arms(spark, sf_dir):
    """The r11 cost4 registry sections (oracle-certified 4-way decisions
    over the SQL-replayable permission-residue layout) must populate every
    LIVE arm across the two sections — prefilter is provably vestigial
    under cost4 (qd ≤ pre whenever lf ≤ 1), so the live set is
    {postfilter, acorn, qdtree}. Pins the knob tuning: a knob drift that
    collapses a section to one arm un-certifies a regime."""
    import __spark_entry__ as e

    df = e.q_rbac_adaptive_topk(spark, sf_dir).where("section like 'cost4%'")
    arms = {
        (r["section"], r["strategy"])
        for r in df.select("section", "strategy").distinct().collect()
    }
    assert {s for _, s in arms} == {"postfilter", "acorn", "qdtree"}
    assert {s for sec, s in arms if sec == "cost4"} == {"postfilter", "qdtree"}
    assert {s for sec, s in arms if sec == "cost4gen"} == {"acorn", "qdtree"}
