"""Physical-plan shape guards — the 100 TB design invariants (SURVEY.md §3).

These assert properties of the *executed plan string*, not results: dims are
broadcast (no sort-merge join on the fact table path), scans prune columns
and push predicates, and ranking shuffles never carry embedding arrays.
A regression here is invisible at sf0.01 but fatal at cluster scale.
"""

import pytest
from pyspark.sql import functions as F

from vectorsearch_rbac_spark.sources import load_table
from vectorsearch_rbac_spark.rbac import derive
from vectorsearch_rbac_spark.operators import knn, dynamic


@pytest.fixture(scope="module")
def t(spark, sf_dir):
    customer = load_table(spark, "customer", sf_dir)
    documents = load_table(spark, "documents", sf_dir)
    embeddings = load_table(spark, "embeddings", sf_dir)
    tabs = derive.derive_rbac(customer, documents, embeddings)
    tabs["queries"] = derive.derive_queries(embeddings, 100)
    tabs["query_roles"] = derive.query_roles(tabs["queries"])
    return tabs


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_prefilter_broadcasts_dims_no_smj(t):
    df = knn.knn_prefilter(
        t["documentblocks"], t["queries"], t["query_roles"], t["permission_assignment"], k=10
    )
    p = _plan(df)
    assert "BroadcastHashJoin" in p, "RBAC dims must broadcast"
    assert "SortMergeJoin" not in p, "fact-table path must never sort-merge on dims"


def test_rank_shuffle_carries_no_vectors(t):
    """The exchange feeding the top-k window must move (id, distance) rows
    only — shuffling embedding arrays at 100 TB dwarfs the scan cost.

    Two invariants in the executed plan:
    1. a *Partial* WindowGroupLimit sits below the exchange (each map task
       ships ≤ k rows per query, not its whole scan);
    2. the exchange's input is a 4-column projection (ids + computed
       distance) — the embedding arrays are projected away pre-shuffle:
       the rounded distance expression in ground_truth's plan, the
       kernel's (ids, distance) output with its NaN restore in the
       strategies'.
    """
    import re

    for fn in (knn.ground_truth, knn.knn_prefilter, knn.knn_rls, knn.knn_comb_role_partition):
        df = fn(t["documentblocks"], t["queries"], t["query_roles"], t["permission_assignment"], k=10)
        p = _plan(df)
        assert "WindowGroupLimit" in p and "Partial" in p, "rank-limit pushdown missing"
        ex = p.find("Exchange hashpartitioning(query_id")
        assert ex != -1
        below = p[ex:]
        assert re.search(
            r"Project \[query_id#\d+L?, block_id#\d+L?, document_id#\d+L?, (round|coalesce)\(", below
        ), "exchange input must be the pruned (ids, distance) projection"


def test_dynamic_search_prunes_partitions(t, spark, tmp_path):
    """knn_dynamic over a committed store with a deletion vector reads the
    store once: routing is a broadcast member-role join (no comb_role
    aggregate, no second store scan), the DV read adds no dedup, and the
    top-k merge — still rank-limited map-side — is the plan's only shuffle."""
    import re

    vs = dynamic.VersionedStore(str(tmp_path / "store"), spark)
    vs.commit(dynamic.build_store(t["documentblocks"], t["permission_assignment"]))
    vs.delete_with_dv(t["documentblocks"].where(F.col("block_id") % 7 == 0).select("block_id"))
    # checkpointed query inputs: the derivation's own shuffles stay out
    queries, query_roles = t["queries"].localCheckpoint(), t["query_roles"].localCheckpoint()
    p = _plan(dynamic.knn_dynamic(vs.read_current(), queries, query_roles, k=10))
    assert "BroadcastHashJoin" in p and "SortMergeJoin" not in p
    scans = re.findall(r"FileScan parquet \[([^\]]*)\]", p)
    assert len(scans) == 2 and sum("comb_role" in c for c in scans) == 1, scans  # store + DV
    assert not re.search(r"Aggregate\(keys=\[comb_role", p), "no comb_role routing table"
    shuffles = re.findall(r"(?<!Broadcast)Exchange (\w+\(?\w*)", p)
    assert shuffles == ["hashpartitioning(query_id"], shuffles
    assert "WindowGroupLimit" in p and "Partial" in p, "dense_rank keeps the map-side rank limit"


def test_read_current_starts_no_job(spark, tmp_path):
    """VersionedStore reads pass the schema recorded at commit, so neither
    the snapshot nor its deletion-vector files pay a footer-inference job."""
    import time

    vs = dynamic.VersionedStore(str(tmp_path / "store"), spark)
    vs.commit(spark.range(20).withColumnRenamed("id", "block_id"))
    vs.delete_with_dv(spark.range(3).withColumnRenamed("id", "block_id"))
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    try:
        sc.setJobGroup("t_read_current", "read_current")
        live = vs.read_current()
        sc.setJobGroup("t_read_control", "inferred read")
        spark.read.parquet(vs._path(0))  # control: schema inference runs a job
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # job events reach the tracker in order: once the control's job is
    # visible, any job read_current started is visible too
    deadline = time.monotonic() + 30
    while not tracker.getJobIdsForGroup("t_read_control") and time.monotonic() < deadline:
        time.sleep(0.05)
    assert tracker.getJobIdsForGroup("t_read_control"), "control job never seen"
    assert tracker.getJobIdsForGroup("t_read_current") == []
    assert sorted(r["block_id"] for r in live.collect()) == list(range(3, 20))


def test_scan_column_pruning(spark, sf_dir):
    df = load_table(spark, "lineitem", sf_dir).select("l_orderkey", "l_quantity")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "l_orderkey" in plan
    # untouched wide columns must not be read from parquet
    assert "l_comment" not in plan


def test_partitioned_layout_prunes_partitions(t, spark, tmp_path):
    """The 'index build' story: write blocks partitionBy(centroid_id), read
    with a centroid filter — the scan must show partition pruning
    (PartitionFilters), i.e. untouched lists are never opened."""
    from vectorsearch_rbac_spark.operators import ivf

    C = ivf.kmeans_fit(t["documentblocks"], nlists=4, max_iter=4)
    indexed = ivf.assign_centroids(t["documentblocks"], C)
    path = str(tmp_path / "ivf_store")
    indexed.write.mode("overwrite").partitionBy("centroid_id").parquet(path)

    back = spark.read.parquet(path).where(F.col("centroid_id").isin([0, 1]))
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "centroid_id" in plan.split("PartitionFilters")[1][:200]
    # pruned read returns exactly the two lists
    expect = indexed.where(F.col("centroid_id").isin([0, 1])).count()
    assert back.count() == expect


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    df = load_table(spark, "orders", sf_dir).where(F.col("o_custkey") == 7).select("o_orderkey")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "o_custkey" in plan.split("PushedFilters")[1][:200]


def test_stratified_sample_rank_limit_pushdown(spark, sf_dir):
    """The per-stratum cap must evaluate as a WindowGroupLimit (map-side
    top-cap), never a full per-stratum sort at 100 TB."""
    from vectorsearch_rbac_spark.operators import curation

    docs = load_table(spark, "documents", sf_dir)
    p = curation.stratified_sample(docs, cap=40)._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in p and "Partial" in p


def test_pack_sequences_single_shuffle(spark, sf_dir):
    """Window on (lang, rng) and the pack aggregate on (lang, rng, pack_seq)
    must share ONE exchange — hash on the window keys already co-locates
    every pack group."""
    from vectorsearch_rbac_spark.operators import curation

    docs = load_table(spark, "documents", sf_dir)
    p = curation.pack_sequences(docs)._jdf.queryExecution().executedPlan().toString()
    assert p.count("Exchange hashpartitioning") == 1


def test_int8_topk_no_vectors_cross_rank_shuffle(spark, sf_dir):
    """Quantized arrays must be reduced to a scalar distance BEFORE the rank
    exchange: everything between the query_id exchange and the scan kernel
    is the kernel's (ids, distance) output, and no array column enters it.
    Queries reach the kernel as a broadcast variable, so the plan has no
    join at all."""
    import re

    from vectorsearch_rbac_spark.operators import curation
    from vectorsearch_rbac_spark.rbac import derive

    emb = load_table(spark, "embeddings", sf_dir)
    qs = derive.derive_queries(emb, 100)
    df = curation.int8_topk(emb, qs, k=10)
    p = df._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in p
    ex = p.find("Exchange hashpartitioning(query_id")
    kernel = p.find("MapInPandas", ex)
    assert -1 < ex < kernel
    below = p[ex:kernel]
    assert re.search(
        r"Project \[query_id#\d+L?, block_id#\d+L?, coalesce\(distance#\d+", below
    ), "rank exchange input must be (ids, scalar distance)"
    assert not re.search(r"vector|embedding|array<", below), "an array column enters the rank exchange"


def test_tfidf_corpus_count_broadcast(spark, sf_dir):
    """N (corpus size) joins in as a broadcast single-row relation — the
    tf-by-term stream must never shuffle for it."""
    from vectorsearch_rbac_spark.operators import curation

    docs = load_table(spark, "documents", sf_dir)
    p = curation.tfidf_top_terms(docs)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in p
    assert "WindowGroupLimit" in p


def test_semi_anti_joins_stay_key_only(spark, sf_dir):
    """EXISTS/NOT-IN shapes must compile to semi/anti joins on a key-only
    probe side — never a full join + filter on wide rows."""
    from vectorsearch_rbac_spark.plans import queries as PQ

    orders = load_table(spark, "orders", sf_dir)
    lineitem = load_table(spark, "lineitem", sf_dir)
    part = load_table(spark, "part", sf_dir)
    p_semi = PQ.order_priority_returns(orders, lineitem)._jdf.queryExecution().executedPlan().toString()
    assert "LeftSemi" in p_semi and "SortMergeJoin" not in p_semi
    p_anti = PQ.brands_without_returns(part, lineitem)._jdf.queryExecution().executedPlan().toString()
    assert "LeftAnti" in p_anti and "SortMergeJoin" not in p_anti


def test_salted_join_splits_shuffle_key(spark, sf_dir):
    """With broadcast disabled (the regime salting exists for), the join
    exchange must partition on (key, _salt) — the hot key is split across
    salt reducers — and the dim side must carry the salt replication."""
    from vectorsearch_rbac_spark.operators import skew

    ev = load_table(spark, "events", sf_dir).select("user_id", "value", "event_id")
    cust = load_table(spark, "customer", sf_dir).select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        p = (
            skew.salted_join(ev, cust, "user_id", salt=8, salt_src="event_id")
            ._jdf.queryExecution().executedPlan().toString()
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert "Exchange hashpartitioning(user_id" in p and "_salt" in p.split(
        "Exchange hashpartitioning(user_id", 1
    )[1][:40], "join must shuffle on (key, _salt)"
    assert "explode" in p.lower(), "dim side must replicate per salt value"


def test_bucketed_tables_join_without_shuffle(spark, sf_dir, tmp_path):
    """Two tables bucketed on the join key (same bucket count) must join
    with ZERO shuffle exchanges — the layout IS the co-location proof."""
    from vectorsearch_rbac_spark.operators import partitioning

    orders = load_table(spark, "orders", sf_dir).select("o_orderkey", "o_totalprice")
    lineitem = load_table(spark, "lineitem", sf_dir).select("l_orderkey", "l_quantity")
    partitioning.write_bucketed(orders, "t_orders_b", "o_orderkey", 4, str(tmp_path / "ob"))
    partitioning.write_bucketed(
        lineitem.withColumnRenamed("l_orderkey", "o_orderkey"),
        "t_lineitem_b", "o_orderkey", 4, str(tmp_path / "lb"),
    )
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = spark.table("t_orders_b").join(spark.table("t_lineitem_b"), "o_orderkey")
        p = j._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql("DROP TABLE IF EXISTS t_orders_b")
        spark.sql("DROP TABLE IF EXISTS t_lineitem_b")
    assert "Exchange" not in p, "bucketed co-located join must not shuffle"
    assert "SortMergeJoin" in p


def test_logical_role_fetch_join_colocates_when_bucketed(spark, sf_dir, tmp_path):
    """The C3-logical layout's scale contract, demonstrated: the pointer
    lists (role_id → block_id) and the shared vector table, both bucketed
    on block_id, fetch-join with ZERO shuffle exchanges — the id-keyed
    fetch the logical layout pays per search moves no vector payload
    across the cluster when the tables are laid out as documented
    (SURVEY C3-logical; reference logical_partition_benchmark
    shared_vector_table.cpp keeps one vector copy and resolves pointers
    locally — bucketing is the Spark equivalent)."""
    from vectorsearch_rbac_spark.operators import partitioning
    from vectorsearch_rbac_spark.rbac import derive

    emb = load_table(spark, "embeddings", sf_dir)
    docs = load_table(spark, "documents", sf_dir)
    cust = load_table(spark, "customer", sf_dir)
    t = derive.derive_rbac(cust, docs, emb)
    blocks = t["documentblocks"].select("block_id", "vector")
    members = (
        t["documentblocks"].select("document_id", "block_id")
        .join(t["permission_assignment"], "document_id")
        .select("role_id", "block_id")
    )
    partitioning.write_bucketed(blocks, "t_vec_shared", "block_id", 4, str(tmp_path / "vb"))
    partitioning.write_bucketed(members, "t_role_ptrs", "block_id", 4, str(tmp_path / "mb"))
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = spark.table("t_role_ptrs").join(spark.table("t_vec_shared"), "block_id")
        p = j._jdf.queryExecution().executedPlan().toString()
        n = j.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql("DROP TABLE IF EXISTS t_vec_shared")
        spark.sql("DROP TABLE IF EXISTS t_role_ptrs")
    assert n == members.count()
    assert "Exchange" not in p, "bucketed pointer-fetch join must not shuffle"


def test_cosine_neardup_exact_path_is_driver_free(spark, sf_dir):
    """The exact all-pairs path must be a pure distributed plan: building it
    may not collect (or otherwise pull) the embedding relation to the driver
    — at 100 TB a driver-side matrix is the first OOM."""
    from unittest import mock

    from pyspark.sql import DataFrame
    from vectorsearch_rbac_spark.operators import ann

    emb = load_table(spark, "embeddings", sf_dir)

    def boom(self, *a, **k):
        raise AssertionError("driver-side collect during plan construction")

    with mock.patch.object(DataFrame, "collect", boom), \
         mock.patch.object(DataFrame, "toPandas", boom), \
         mock.patch.object(DataFrame, "first", boom), \
         mock.patch.object(DataFrame, "take", boom):
        df = ann.cosine_neardup_pairs(emb, threshold=0.35)
    assert df.count() > 0  # executes distributed (patches released)


def test_neardup_entry_has_no_cartesian(spark, sf_dir):
    """The shipped neardup_pairs entry must never contain a cartesian /
    nested-loop join: every pair generator goes through bounded equi-join
    buckets (LSH bands, pigeonhole SimHash chunks, levenshtein blocks).
    An O(N²) cross join hidden in a green entry is the classic
    works-at-sf0.01, dies-at-100TB failure."""
    import __spark_entry__ as E

    df = E.q_neardup_pairs(spark, sf_dir)
    p = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in p, "neardup entry contains a cartesian join"
    assert "BroadcastNestedLoopJoin" not in p, "neardup entry contains a nested-loop join"


def test_adaptive_routing_is_literal_free(t):
    """adaptive_knn's per-query routing must be a broadcast semi-join, not a
    driver collect materialized as IN/INSET literals (a Q-row literal list
    bloats the plan and serializes the driver at large Q)."""
    import re

    from vectorsearch_rbac_spark.plans.strategy import adaptive_knn

    df = adaptive_knn(
        t["documentblocks"], t["queries"], t["query_roles"],
        t["permission_assignment"], t["user_roles"], k=10,
    )
    p = df._jdf.queryExecution().executedPlan().toString()
    assert "INSET" not in p, "routing materialized as INSET literals"
    assert not re.search(r"query_id#\d+L? IN \(", p), "routing materialized as IN literals"
    assert "LeftSemi" in p, "routing should semi-join the broadcast routing table"


def test_registry_global_plan_invariants(spark, sf_dir):
    """EVERY registry entry's executed plan must be free of the two
    unbounded-at-scale join shapes: CartesianProduct (an unbroadcast cross
    join — O(N²) rows) and SortMergeJoin (a big-side×big-side shuffle sort;
    every join on this surface is either broadcast or a bounded-bucket
    equi-join by design). BroadcastNestedLoopJoin is allowed — it is the
    deliberate bounded broadcast-queries × scan pattern."""
    import __spark_entry__ as E

    offenders = {}
    for name, fn in E.queries().items():
        p = fn(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
        bad = {}
        if "CartesianProduct" in p:
            bad["cartesian"] = p.count("CartesianProduct")
        if "SortMergeJoin" in p:
            bad["smj"] = p.count("SortMergeJoin")
        if bad:
            offenders[name] = bad
    assert not offenders, f"scale-unsafe join shapes: {offenders}"


def test_funnel_steps_monotone_and_ordered(spark, sf_dir):
    import __spark_entry__ as entry

    all_rows = entry.q_funnel_steps(spark, sf_dir).collect()
    rows = {r["key"]: r for r in all_rows if r["method"] == "funnel"}
    assert set(rows) == {"view", "click", "purchase"}
    assert rows["view"]["n_users"] >= rows["click"]["n_users"] >= rows["purchase"]["n_users"]
    assert [rows[s]["idx"] for s in ("view", "click", "purchase")] == [0, 1, 2]
    # retention tag rides the same entry: offsets non-negative, cohort
    # month-0 row exists for every cohort
    ret = [r for r in all_rows if r["method"] == "retention"]
    assert ret and all(r["idx"] >= 0 for r in ret)
    cohorts = {r["key"] for r in ret}
    assert {r["key"] for r in ret if r["idx"] == 0} == cohorts


def test_funnel_requires_order_not_just_presence(spark):
    from vectorsearch_rbac_spark.plans import queries as PQ
    import datetime as dt

    t = dt.datetime(2024, 1, 1)

    def ev(i, u, typ, mins):
        return (i, t + dt.timedelta(minutes=mins), u, typ, 0.0, "{}")

    schema = "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    # user 1: view→click in order; user 2 clicks BEFORE their first view
    df = spark.createDataFrame(
        [ev(1, 1, "view", 0), ev(2, 1, "click", 5), ev(3, 2, "click", 0), ev(4, 2, "view", 5)],
        schema,
    )
    rows = {r["step"]: r["n_users"] for r in PQ.funnel_steps(df, steps=("view", "click")).collect()}
    assert rows == {"view": 2, "click": 1}


def test_scd2_versions_compact_and_current(spark, sf_dir):
    import __spark_entry__ as entry

    out = entry.q_scd2_orders(spark, sf_dir)
    rows = out.collect()
    by_cust = {}
    for r in rows:
        by_cust.setdefault(r["o_custkey"], []).append(r)
    for cust, vs in list(by_cust.items())[:50]:
        vs.sort(key=lambda r: r["version"])
        # versions are dense from 1, exactly one current, no consecutive dup values
        assert [v["version"] for v in vs] == list(range(1, len(vs) + 1))
        assert sum(1 for v in vs if v["is_current"]) == 1
        assert vs[-1]["is_current"]
        for a, b in zip(vs, vs[1:]):
            assert a["o_orderpriority"] != b["o_orderpriority"]
            assert a["valid_to"] == b["valid_from"]


def test_doc_chunks_zero_shuffle(spark, sf_dir):
    """E33 chunking must stay a narrow map over the scan: split →
    sequence/explode → slice → md5, with NO Exchange anywhere."""
    import __spark_entry__ as E

    p = _plan(E.q_doc_chunks(spark, sf_dir))
    assert "Exchange" not in p, "chunking must not shuffle"


def test_cohort_retention_offsets_and_counts(spark):
    from vectorsearch_rbac_spark.plans import queries as PQ
    import datetime as dt

    def ev(i, u, day, hour=9):
        return (i, dt.datetime(2024, 1, day, hour), u, "view", 0.0, "{}")

    schema = "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    # user 1: active day 5 + day 7 (offsets 0, 2); user 2: day 5 only;
    # user 3: first-seen day 6, active day 6 + day 7 (offsets 0, 1);
    # a second same-day event (id 6) must not double-count user 1
    df = spark.createDataFrame(
        [ev(1, 1, 5), ev(2, 1, 7), ev(3, 2, 5),
         ev(4, 3, 6), ev(5, 3, 7), ev(6, 1, 5, hour=23)],
        schema,
    )
    got = {(r["cohort_day"], r["day_offset"]): r["n_users"]
           for r in PQ.cohort_retention(df).collect()}
    assert got == {
        ("2024-01-05", 0): 2,  # users 1, 2 on day 5
        ("2024-01-05", 2): 1,  # user 1 back on day 7
        ("2024-01-06", 0): 1,  # user 3 cohort
        ("2024-01-06", 1): 1,  # user 3 back on day 7
    }


def test_cost_crossover_routing_adapts_to_corpus_size(spark, sf_dir):
    """D5 cost-model routing: the prefilter/postfilter threshold must equal
    sqrt(k·expansion/N) and the routing table must apply it — replayed in
    python over the same selectivity aggregate."""
    from vectorsearch_rbac_spark.plans import strategy as S
    from vectorsearch_rbac_spark.rbac.derive import block_selectivity
    import __spark_entry__ as entry

    t = entry._rbac(spark, sf_dir)
    blocks = t["documentblocks"]
    n = blocks.count()
    thr = S.cost_crossover_threshold(n, k=10, expansion=4)
    assert abs(thr - (40.0 / n) ** 0.5) < 1e-12
    sel = block_selectivity(t["user_roles"], t["permission_assignment"], blocks)
    routing = {
        r["query_id"]: r["strategy"]
        for r in S.strategy_routing(t["queries"], sel, postfilter_threshold=thr).collect()
    }
    sel_by_user = {r["user_id"]: r["selectivity"] for r in sel.collect()}
    want = {
        r["query_id"]: (
            "postfilter" if sel_by_user.get(r["user_id"], 0.0) >= thr else "prefilter"
        )
        for r in t["queries"].select("query_id", "user_id").collect()
    }
    assert routing == want
    # at tiny SFs the crossover can sit above every selectivity (all
    # prefilter — correct: a 50-block corpus never favors rescanning);
    # a denser synthetic workload must split
    dense = spark.createDataFrame(
        [(900 + i, i % 3) for i in range(6)], "query_id long, user_id long"
    )
    dense_sel = spark.createDataFrame(
        [(0, 0.05), (1, 0.95), (2, float(thr))], "user_id long, selectivity double"
    )
    dense_routing = {
        r["query_id"]: r["strategy"]
        for r in S.strategy_routing(dense, dense_sel, postfilter_threshold=thr).collect()
    }
    assert dense_routing[900] == "prefilter" and dense_routing[901] == "postfilter"
    assert dense_routing[902] == "postfilter"  # boundary: >= routes to postfilter


def test_three_way_cost_routing_and_acorn_arm(spark, sf_dir):
    """D5 r8: scan_cost_routing must pick the argmin of the three
    predicted scan costs (replayed in python from the same selectivity
    table), and adaptive_knn's cost3 ACORN arm — the exhaustive certified
    traversal — must return EXACTLY the prefilter answer for the queries
    it serves (that equality is what lets the routed union sit under the
    hash gate). Runs on the tree-generated RBAC workload whose {1/27,
    1/9, 1/3, 1} selectivity tiers spread the decisions."""
    from pyspark.sql import functions as F
    from vectorsearch_rbac_spark.plans import strategy as S
    from vectorsearch_rbac_spark.operators import knn
    from vectorsearch_rbac_spark.rbac.derive import block_selectivity
    import __spark_entry__ as entry

    t = entry._rbac(spark, sf_dir)
    blocks = t["documentblocks"]
    n = blocks.count()
    gqs, gqroles, gpa, gusers = entry._tree_workload(spark, t)

    sel = block_selectivity(gusers, gpa, blocks)
    acorn_ef, acorn_m = 12, 4
    routing = {
        r["query_id"]: r["strategy"]
        for r in S.scan_cost_routing(gqs, sel, n, k=10, expansion=4,
                                     acorn_ef=acorn_ef, acorn_m=acorn_m).collect()
    }
    sel_by_user = {r["user_id"]: r["selectivity"] for r in sel.collect()}
    for r in gqs.select("query_id", "user_id").collect():
        s = sel_by_user.get(r["user_id"], 0.0)
        pre, post, ac = s * n, (40.0 / s if s > 0 else 1e18), float(acorn_ef * acorn_m)
        want = ("postfilter" if post <= ac and post <= pre
                else "acorn" if ac <= pre else "prefilter")
        assert routing[r["query_id"]] == want
    # the tiered workload must actually split strategies
    assert len(set(routing.values())) >= 2

    out = S.adaptive_knn(
        blocks, gqs, gqroles, gpa, gusers, k=10,
        routing_mode="cost3", acorn_ef=acorn_ef, acorn_m=acorn_m,
    )
    acorn_q = out.where(F.col("strategy") == "acorn").select("query_id").distinct()
    assert acorn_q.count() > 0, "tiered workload should route some queries to ACORN"
    got = out.where(F.col("strategy") == "acorn").select(
        "query_id", "block_id", "document_id", "rank"
    )
    truth = knn.knn_prefilter(blocks, gqs, gqroles, gpa, k=10).join(
        F.broadcast(acorn_q), "query_id", "left_semi"
    ).select("query_id", "block_id", "document_id", "rank")
    assert got.exceptAll(truth).count() == 0
    assert truth.exceptAll(got).count() == 0


def test_sql_surface_matches_dataframe_plan(spark, sf_dir):
    """The pure-SQL prefilter query over registered views must return the
    byte-identical result of the DataFrame API (same distance arithmetic,
    rounding, tie-breaks) — the engine is fully usable from spark.sql."""
    from vectorsearch_rbac_spark import sql as Q
    from vectorsearch_rbac_spark.operators import knn
    import __spark_entry__ as entry

    views = Q.register_views(spark, sf_dir, query_stride=entry.QUERY_STRIDE)
    assert "documentblocks" in views and "lineitem" in views
    got = Q.sql_prefilter_topk(spark, k=10).orderBy("query_id", "rank").collect()
    t = entry._rbac(spark, sf_dir)
    want = (
        knn.knn_prefilter(t["documentblocks"], t["queries"], t["query_roles"],
                          t["permission_assignment"], k=10)
        .select("query_id", "block_id", "document_id", "distance", "rank")
        .orderBy("query_id", "rank").collect()
    )
    assert [tuple(r) for r in got] == [tuple(r) for r in want]
    # and ordinary analytics run over the same session's views
    n = spark.sql("SELECT COUNT(*) FROM lineitem JOIN orders ON l_orderkey = o_orderkey").first()[0]
    assert n > 0


def test_simhash_banded_probe_reads_cached_signatures(spark, sf_dir):
    """The banded SimHash self-join must probe CACHED signatures: uncached,
    AQE coalesces the tiny signature-aggregate exchange (one 16-byte row
    per doc ≪ the 1 MB min partition size) to a single partition, and the
    Σ bucket² candidate fan-out that follows inherits that ONE task — 34 s
    single-threaded vs 4 s parallel at sf1. Cached plans are exempt from
    AQE output-partitioning changes, so an InMemoryTableScan on the probe
    side IS the parallelism guarantee."""
    from vectorsearch_rbac_spark.operators import dedup

    docs = load_table(spark, "documents", sf_dir)
    df = dedup.simhash_neardup_pairs_banded(docs, bits=32, max_hamming=3)
    p = _plan(df)
    assert "InMemoryTableScan" in p, "banded self-join must read cached signatures"
    # and the fan-out join is still the broadcast-banded equi-join shape
    assert "SortMergeJoin" not in p


def _with_auto_broadcast_off(spark):
    """Context: disable stats-driven auto-broadcast so the plan shows OUR
    hint's presence/absence, not Catalyst's own size estimate."""
    import contextlib

    @contextlib.contextmanager
    def cm():
        key = "spark.sql.autoBroadcastJoinThreshold"
        old = spark.conf.get(key)
        spark.conf.set(key, "-1")
        try:
            yield
        finally:
            spark.conf.set(key, old)

    return cm()


def test_mask_join_broadcast_gate_both_regimes(t, monkeypatch):
    """The Q-bit mask table join is SIZE-GATED (VERDICT r10 'What's wrong
    #1'): under the byte limit the hint broadcasts it into the blocks scan;
    above it the hint is dropped and the join shuffles on document_id —
    at 10⁹ docs a hinted broadcast of a tens-of-GB mask table would ABORT
    (8 GB ceiling / driver OOM), so the fallback regime must exist."""
    from vectorsearch_rbac_spark.operators import hints

    spark = t["documentblocks"].sparkSession

    def plan():
        return _plan(knn.knn_prefilter(
            t["documentblocks"], t["queries"], t["query_roles"],
            t["permission_assignment"], k=10,
        ))

    with _with_auto_broadcast_off(spark):
        p_on = plan()
        assert "BroadcastHashJoin" in p_on, "under the limit the mask join must broadcast"
        monkeypatch.setattr(hints, "BROADCAST_LIMIT_BYTES", 0)
        p_off = plan()
        assert ("SortMergeJoin" in p_off) or ("ShuffledHashJoin" in p_off), (
            "above the limit the mask join must fall back to a shuffle join"
        )


def test_dedup_size_tables_broadcast_gate_both_regimes(spark, sf_dir, monkeypatch):
    """ngram_jaccard's per-doc size tables and pagerank's rank/degree
    tables ride the same size gate: hint under the limit, keyed shuffle
    join above it — and the gated-off plan returns identical rows."""
    from vectorsearch_rbac_spark.operators import dedup, hints

    docs = load_table(spark, "documents", sf_dir)
    with _with_auto_broadcast_off(spark):
        df_on = dedup.ngram_jaccard_pairs(docs, n=3, threshold=0.8)
        p_on = _plan(df_on)
        assert "BroadcastHashJoin" in p_on
        rows_on = {tuple(r) for r in df_on.collect()}

        monkeypatch.setattr(hints, "BROADCAST_LIMIT_BYTES", 0)
        df_off = dedup.ngram_jaccard_pairs(docs, n=3, threshold=0.8)
        p_off = _plan(df_off)
        assert ("SortMergeJoin" in p_off) or ("ShuffledHashJoin" in p_off)
        rows_off = {tuple(r) for r in df_off.collect()}
        assert rows_on == rows_off, "gate regime must not change results"

        pairs = spark.createDataFrame([(1, 2), (2, 3), (5, 6)], "id_a long, id_b long")
        pr_off = dedup.pagerank_scores(pairs, iters=2)
        p_pr = _plan(pr_off)
        assert "BroadcastHashJoin" not in p_pr, "gated-off pagerank must not hint"
    dedup.release_dedup_caches()


def test_bm25_permitted_and_incremental_batch_gates(spark, sf_dir, monkeypatch):
    """r11 audit sweep: the two remaining doc-cardinality hints ride the
    same size gate — bm25_rank's permitted (query_id, doc_id) semi-join
    (Q × accessible docs) and incremental_dedup's new-batch side (a 1/mod
    corpus slice). Hint under the limit, keyed shuffle join above it,
    identical rows."""
    from vectorsearch_rbac_spark.operators import dedup, hints, retrieval

    docs = load_table(spark, "documents", sf_dir)
    qt = spark.createDataFrame(
        [(1, ["the", "data"]), (2, ["spark", "query"])],
        "query_id long, terms array<string>",
    )
    permitted = docs.select(F.lit(1).alias("query_id"), "doc_id").where(
        F.col("doc_id") % 2 == 0
    ).unionAll(docs.select(F.lit(2).alias("query_id"), "doc_id"))
    with _with_auto_broadcast_off(spark):
        on_bm = retrieval.bm25_topk(docs, qt, k=5, permitted=permitted)
        assert "BroadcastHashJoin" in _plan(on_bm)
        rows_on = {tuple(r) for r in on_bm.collect()}
        on_incr = dedup.incremental_dedup_pairs(docs)
        assert "BroadcastHashJoin" in _plan(on_incr)
        incr_on = {tuple(r) for r in on_incr.collect()}

        monkeypatch.setattr(hints, "BROADCAST_LIMIT_BYTES", 0)
        off_bm = retrieval.bm25_topk(docs, qt, k=5, permitted=permitted)
        p = _plan(off_bm)
        assert ("SortMergeJoin" in p) or ("ShuffledHashJoin" in p)
        assert rows_on == {tuple(r) for r in off_bm.collect()}
        off_incr = dedup.incremental_dedup_pairs(docs)
        p = _plan(off_incr)
        assert ("SortMergeJoin" in p) or ("ShuffledHashJoin" in p)
        assert incr_on == {tuple(r) for r in off_incr.collect()}


def test_permitted_relation_gates_both_regimes(t, monkeypatch):
    """r12 (VERDICT r11 item 1): the remaining hard hints on the
    role-expanded permitted relation are size-gated — the qd-tree leaf
    pruning semi-join, qdtree_leaf_fracs' routing join, and the mask
    build's permission hint.
    Under the limit the plans keep their broadcasts (bench scale is
    unchanged); above it the doc-keyed joins fall back to shuffle joins on
    document_id and the rows are identical."""
    from vectorsearch_rbac_spark.operators import hints, partitioning
    from vectorsearch_rbac_spark.plans.strategy import qdtree_leaf_fracs

    spark = t["documentblocks"].sparkSession
    assigned = partitioning.qdtree_assignment(
        t["documentblocks"], t["permission_assignment"], max_leaf_size=64
    )
    args = (assigned, t["queries"], t["query_roles"], t["permission_assignment"])
    frac_args = (assigned, t["queries"], t["query_roles"], t["permission_assignment"])
    with _with_auto_broadcast_off(spark):
        on_qdtree = knn.knn_qdtree(*args, k=10)
        assert "BroadcastHashJoin" in _plan(on_qdtree)
        rows_on = {tuple(r) for r in on_qdtree.collect()}
        fracs_on = {tuple(r) for r in qdtree_leaf_fracs(*frac_args).collect()}
        masks_on = {
            (r["document_id"], tuple(r["qmask"]))
            for r in knn._query_doc_masks(
                t["queries"], t["query_roles"], t["permission_assignment"]
            ).collect()
        }

        monkeypatch.setattr(hints, "BROADCAST_LIMIT_BYTES", 0)
        off_qdtree = knn.knn_qdtree(*args, k=10)
        p = _plan(off_qdtree)
        assert ("SortMergeJoin" in p) or ("ShuffledHashJoin" in p), (
            "gated-off leaf pruning must shuffle on document_id"
        )
        assert rows_on == {tuple(r) for r in off_qdtree.collect()}

        off_fracs = qdtree_leaf_fracs(*frac_args)
        p = _plan(off_fracs)
        assert ("SortMergeJoin" in p) or ("ShuffledHashJoin" in p)
        assert fracs_on == {tuple(r) for r in off_fracs.collect()}

        # mask build: the permission hint is gated off but the dim-side
        # hints (query_roles, qpos) remain, so the build still broadcasts
        # only dim relations — and the mask VALUES are unchanged
        masks_off = {
            (r["document_id"], tuple(r["qmask"]))
            for r in knn._query_doc_masks(
                t["queries"], t["query_roles"], t["permission_assignment"]
            ).collect()
        }
        assert masks_on == masks_off


def test_parallelize_scan_regimes(spark, sf_dir, monkeypatch):
    """r12: token-heavy operators split a serial single-row-group corpus
    scan with a SIZE-GATED round-robin repartition (guide §2.2/§6 — a
    1-file corpus scans as 1-2 tasks, serializing the tokenize map on any
    core count; measured 1.3-3.3× per entry at sf1/32 cores). Below the
    byte gate (bench SFs) the plan is untouched; with the gate forced open
    the exchange appears and rows are IDENTICAL (every consumer aggregates
    on doc/term keys, so partitioning cannot reach values)."""
    from vectorsearch_rbac_spark.operators import curation, dedup, hints

    docs = load_table(spark, "documents", sf_dir)

    def plans_and_rows():
        out = {}
        for name, df in (
            ("boilerplate", curation.remove_boilerplate(docs, chunk_tokens=2, min_docs=20)),
            ("vocab", curation.build_vocab(docs)),
            ("shingles", dedup.word_shingles(docs)),
        ):
            out[name] = ("roundrobin" in _plan(df).lower(), {tuple(r) for r in df.collect()})
        return out

    default = plans_and_rows()
    assert not any(v[0] for v in default.values()), (
        "below the byte gate the scan split must be a NO-OP"
    )
    monkeypatch.setattr(hints, "SCAN_SPLIT_MIN_BYTES", 0)
    forced = plans_and_rows()
    assert all(v[0] for v in forced.values()), (
        "with the gate open the round-robin split must engage"
    )
    for name in default:
        assert default[name][1] == forced[name][1], f"{name}: rows changed under split"


def test_literal_df_arrow_path_and_fallback(spark):
    """r12 (guide §6): small literal relations must become JVM-local
    tables (Arrow path), not Python-RDD scans — the classic list form
    re-pickles rows through the Py4J bridge on EVERY executed job
    (measured ~0.27 s per subtree even at 100 rows). Schema and values
    must match the classic path exactly."""
    from vectorsearch_rbac_spark.sources import literal_df

    rows = [(1, 0, "a", 1.5, ["x", "y"]), (2, 1, "b", -2.0, [])]
    ddl = "query_id long, qpos int, tag string, score double, terms array<string>"
    fast = literal_df(spark, rows, ddl)
    classic = spark.createDataFrame(rows, ddl)
    assert fast.schema == classic.schema
    assert fast.collect() == classic.collect()
    assert "ExistingRDD" not in fast._jdf.queryExecution().executedPlan().toString(), (
        "literal frame must not execute as a Python-RDD scan"
    )
    # nested (struct) schema and empty input match the classic path too
    srows = [(1, (2, 3))]
    sddl = "a long, s struct<x:long,y:long>"
    assert literal_df(spark, srows, sddl).collect() == spark.createDataFrame(srows, sddl).collect()
    assert literal_df(spark, [], "a long, b int").count() == 0


def test_literal_df_keeps_nulls_and_nan(spark):
    """Each column is typed by the schema: a null long is accepted, a NaN
    double stays NaN (not null), and array<float> rows keep their values."""
    import math

    from vectorsearch_rbac_spark.sources import literal_df

    rows = [(1, None, float("nan"), [0.5, -1.25]), (None, 7, None, None)]
    df = literal_df(spark, rows, "a long, b long, x double, v array<float>")
    assert "LocalTableScan" in df._jdf.queryExecution().executedPlan().toString()
    got = sorted(df.collect(), key=lambda r: r["a"] is None)
    assert (got[0]["a"], got[0]["b"], got[0]["v"]) == (1, None, [0.5, -1.25])
    assert math.isnan(got[0]["x"])
    assert (got[1]["a"], got[1]["b"], got[1]["x"], got[1]["v"]) == (None, 7, None, None)
    assert df.where(F.isnan("x")).count() == 1 and df.where(F.col("x").isNull()).count() == 1


def test_tuning_curves_scan_no_python_rdd(spark, sf_dir):
    """The probe lists and nprobe grids of both tuning curves are Arrow
    literal frames: every RDD the plans scan is a checkpointed artifact,
    none is a Python list shipped through applySchemaToPythonRDD (which
    re-pickles its rows on every executed job)."""
    import __spark_entry__ as entry

    for fn in (entry.q_ivf_tuning_curve, entry.q_tuning_curve):
        qe = fn(spark, sf_dir)._jdf.queryExecution()
        assert "applySchemaToPythonRDD" not in qe.executedPlan().toString()
        leaves = qe.optimizedPlan().collectLeaves()
        lineages = [
            leaves.apply(i).rdd().toDebugString()
            for i in range(leaves.length())
            if leaves.apply(i).nodeName() == "LogicalRDD"
        ]
        assert lineages, fn.__name__  # the checkpointed index / truth scans
        for lineage in lineages:
            assert "PythonRDD" not in lineage, (fn.__name__, lineage)


def test_memoized_stat_prices_once_per_relation(spark):
    """The gate's input stats are artifact-scale properties priced ONCE per
    semantically identical relation (like table statistics) — the per-call
    form measurably cost +0.2-1.0 s on every mask-kernel bench entry."""
    from vectorsearch_rbac_spark.operators import hints

    df = spark.range(7)
    calls = []

    def compute():
        calls.append(1)
        return df.count()

    assert hints.memoized_stat(df, "t_memo_rows", compute) == 7
    # a SEPARATE but semantically identical plan reuses the memo entry
    assert hints.memoized_stat(spark.range(7), "t_memo_rows", compute) == 7
    assert len(calls) == 1
    # a different tag over the same relation is a distinct stat
    assert hints.memoized_stat(df, "t_memo_other", lambda: 42) == 42


def test_memoized_stat_keyed_by_application(spark):
    """A stat priced under another application (a stopped session) is
    neither served nor kept: the memo holds the live application only."""
    from vectorsearch_rbac_spark.operators import hints

    df = spark.range(5)
    stale = ("app-stopped", df.semanticHash(), "t_memo_app")
    hints._STAT_CACHE[stale] = 99
    assert hints.memoized_stat(df, "t_memo_app", lambda: 5) == 5
    assert stale not in hints._STAT_CACHE
    assert {k[0] for k in hints._STAT_CACHE} == {spark.sparkContext.applicationId}


def test_mask_build_single_doc_exchange(spark):
    """r11: _query_doc_masks folds the (document_id, qpos) dedup into its
    collect_set aggregate — the OR-fold packing is idempotent, so the old
    separate distinct (a second Exchange + HashAggregate over the
    role-expanded pair relation) must not reappear. Over literal inputs
    (no derived-relation exchanges) the build contributes exactly ONE
    hash-partitioned exchange: the doc-keyed aggregate."""
    queries = spark.createDataFrame([(1,), (2,)], "query_id long")
    qroles = spark.createDataFrame([(1, "r1"), (2, "r1"), (2, "r2")],
                                   "query_id long, role_id string")
    pa = spark.createDataFrame([("r1", 10), ("r2", 10), ("r2", 11)],
                               "role_id string, document_id long")
    p = _plan(knn._query_doc_masks(queries, qroles, pa))
    assert p.count("Exchange hashpartitioning") == 1, p
    assert "ObjectHashAggregate" in p  # the collect_set aggregate


def test_qdtree_masked_path_has_no_per_query_routing_exchange(t, sf_dir):
    """r11: the masked qd-tree path derives live leaves from one corpus
    pass + a broadcast semi-join; the Q-bit mask already carries the
    per-query visibility, so no per-(query_id, partition_id) routing
    distinct — and no exchange on that key — may appear in the plan."""
    from vectorsearch_rbac_spark.operators import partitioning

    assigned = partitioning.qdtree_assignment(
        t["documentblocks"], t["permission_assignment"], max_leaf_size=64
    )
    args = (assigned, t["queries"], t["query_roles"], t["permission_assignment"])
    import re

    def _norm(plan: str) -> str:
        return re.sub(r"#\d+L?", "", plan)

    p_masked = _norm(_plan(knn.knn_qdtree(*args, k=10)))
    assert "hashpartitioning(query_id, partition_id" not in p_masked, p_masked
