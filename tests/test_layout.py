"""D10 partition-composition optimizer (parity:
AnonySys_dynamic_partition.py:425 split_comb_roles): budget respected,
predicted cost beats the naive layout, search over the optimized layout is
exactly the prefilter result, and the whole pipeline is deterministic."""

import pytest
from pyspark.sql import functions as F

from vectorsearch_rbac_spark.sources import load_table
from vectorsearch_rbac_spark.rbac import derive
from vectorsearch_rbac_spark.operators import knn, layout


@pytest.fixture(scope="module")
def t(spark, sf_dir):
    customer = load_table(spark, "customer", sf_dir)
    documents = load_table(spark, "documents", sf_dir)
    embeddings = load_table(spark, "embeddings", sf_dir)
    tabs = derive.derive_rbac(customer, documents, embeddings)
    tabs["queries"] = derive.derive_queries(embeddings, 100)
    tabs["query_roles"] = derive.query_roles(tabs["queries"])
    return tabs


@pytest.fixture(scope="module")
def opt(t):
    sel = derive.block_selectivity(t["user_roles"], t["permission_assignment"], t["documentblocks"])
    return layout.optimize_layout(
        t["documentblocks"], t["permission_assignment"], t["queries"], t["user_roles"],
        selectivity=sel, alpha=1.5,
    )


def test_atoms_partition_the_corpus(t):
    atoms = layout.access_set_atoms(t["documentblocks"], t["permission_assignment"])
    rows = atoms.collect()
    assert sum(r["n_blocks"] for r in rows) == t["documentblocks"].count()
    # derived RBAC: every doc's access set is {d%10, (d+3)%10} → 10 atoms
    assert len(rows) == 10
    for r in rows:
        assert len(r["atom_key"].split(",")) == 2


def test_budget_respected_and_cost_improves(opt):
    rep = opt["report"]
    assert rep["stored_blocks"] <= rep["budget_blocks"]
    assert rep["stored_blocks"] >= rep["total_blocks"]  # every atom stored somewhere
    assert rep["n_partitions"] >= 2, "optimizer should split under a 1.5x budget"
    assert rep["predicted_query_time"] < rep["predicted_query_time_naive"]
    assert rep["splits"], "trace should record the accepted splits"


def test_assignment_covers_every_comb(opt):
    """Coverage invariant: each comb's routed partitions contain every atom
    the comb can read (otherwise search would silently lose rows)."""
    assign = {}
    for r in opt["assignment"].collect():
        assign.setdefault(r["partition_id"], set()).add(r["atom_key"])
    routing = {}
    for r in opt["routing"].collect():
        routing.setdefault(r["comb_key"], set()).add(r["partition_id"])
    all_atoms = set().union(*assign.values())
    for comb_key, pids in routing.items():
        roles = {int(x) for x in comb_key.split(",")}
        need = {a for a in all_atoms if roles & {int(x) for x in a.split(",")}}
        have = set().union(*(assign[p] for p in pids))
        assert need <= have, f"comb {comb_key} missing atoms {need - have}"


def test_budget_search_equals_prefilter(t, opt):
    store = layout.build_budget_store(t["documentblocks"], t["permission_assignment"], opt["assignment"])
    got = layout.knn_budget(store, t["queries"], t["query_roles"], opt["routing"], opt["assignment"], k=10)
    want = knn.knn_prefilter(
        t["documentblocks"], t["queries"], t["query_roles"], t["permission_assignment"], k=10
    )
    cols = ["query_id", "block_id", "document_id", "distance", "rank"]
    assert sorted(map(tuple, got.select(*cols).collect())) == sorted(map(tuple, want.select(*cols).collect()))


def test_optimizer_is_deterministic(t):
    sel = derive.block_selectivity(t["user_roles"], t["permission_assignment"], t["documentblocks"])
    atoms = layout.access_set_atoms(t["documentblocks"], t["permission_assignment"]).collect()
    w = layout.workload_comb_weights(t["queries"], t["user_roles"], sel).collect()
    a1, r1, rep1 = layout.split_comb_roles(atoms, w, alpha=1.5)
    a2, r2, rep2 = layout.split_comb_roles(list(reversed(atoms)), list(reversed(w)), alpha=1.5)
    assert a1 == a2 and r1 == r2
    assert rep1["splits"] == rep2["splits"]


def test_tighter_budget_stores_less(t):
    sel = derive.block_selectivity(t["user_roles"], t["permission_assignment"], t["documentblocks"])
    atoms = layout.access_set_atoms(t["documentblocks"], t["permission_assignment"]).collect()
    w = layout.workload_comb_weights(t["queries"], t["user_roles"], sel).collect()
    _, _, tight = layout.split_comb_roles(atoms, w, alpha=1.05)
    _, _, loose = layout.split_comb_roles(atoms, w, alpha=2.0)
    assert tight["stored_blocks"] <= loose["stored_blocks"]
    assert tight["stored_blocks"] <= tight["budget_blocks"]
    assert loose["predicted_query_time"] <= tight["predicted_query_time"] + 1e-9


def test_budget_search_plan_shape(t, opt):
    """100 TB invariants: all routing/permission joins broadcast (no SMJ on
    the fact path), the rank keeps its partial WindowGroupLimit pushdown
    (scan-plan dedup means no post-scan distinct blocks it)."""
    store = layout.build_budget_store(t["documentblocks"], t["permission_assignment"], opt["assignment"])
    df = layout.knn_budget(store, t["queries"], t["query_roles"], opt["routing"], opt["assignment"], k=10)
    p = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p, "fact path must not sort-merge"
    assert "WindowGroupLimit" in p and "Partial" in p, "rank-limit pushdown missing"


def test_scan_plan_prefers_dedicated_partitions(t, opt):
    """Replica choice: every (query, atom) reads from the SMALLEST routed
    partition holding the atom — hot combs use their dedicated split
    partition, not the residual catch-all, so on-disk partition pruning
    actually prunes."""
    assign = opt["assignment"].collect()
    holders: dict[str, set[int]] = {}
    loads: dict[int, int] = {}
    for r in assign:
        holders.setdefault(r["atom_key"], set()).add(r["partition_id"])
        loads[r["partition_id"]] = r["partition_blocks"]
    routing = {}
    for r in opt["routing"].collect():
        routing.setdefault(r["comb_key"], set()).add(r["partition_id"])
    qroles = {}
    for r in t["query_roles"].collect():
        qroles.setdefault(r["query_id"], set()).add(r["role_id"])

    plan = layout.budget_scan_plan(t["query_roles"], opt["routing"], opt["assignment"]).collect()
    assert plan, "scan plan must not be empty"
    for r in plan:
        comb_key = ",".join(str(x) for x in sorted(qroles[r["query_id"]]))
        route = routing.get(comb_key) or set().union(
            *(routing[str(x)] for x in sorted(qroles[r["query_id"]]))
        )
        reachable = holders[r["atom_key"]] & route
        best = min(reachable, key=lambda p: (loads[p], p))
        assert r["partition_id"] == best
