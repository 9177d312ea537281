"""The benchmark's own test: the oracle must catch planted faults, and every
workload must run end to end on a tiny seeded input.

    python3 perfbench/selftest.py            # oracle checks + smoke runs
    python3 perfbench/selftest.py --no-smoke # oracle checks only (no Spark)
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from inputs import Corpus, derive_closure  # noqa: E402
from oracle import Oracle  # noqa: E402


def _fixture(seed: int = 3):
    rng = np.random.default_rng(seed)
    corpus = Corpus(rng)
    n, n_docs = 400, 150
    oracle = Oracle(corpus.vectors(n), np.arange(n) % n_docs, derive_closure(300, n_docs), k=10)
    users = rng.integers(1, 301, 6)
    queries = [(i, int(u), corpus.vectors(1)[0]) for i, u in enumerate(users)]
    return oracle, queries


def _answer(oracle, queries):
    """A correct result, built the way the program reports it (6-dp distances)."""
    rows = []
    for qid, user, vec in queries:
        ids, d, _ = oracle.topk(user, np.asarray(vec, dtype=np.float64))
        rows += [(qid, int(b), int(oracle.doc[b]), round(float(x), 6)) for b, x in zip(ids, d)]
    return rows


def test_correct_answer_passes():
    oracle, queries = _fixture()
    s = oracle.score(_answer(oracle, queries), queries, exact=True)
    assert not s.failed, s.errors
    assert s.recall == 1.0


def test_leaked_block_fails_and_lowers_recall():
    oracle, queries = _fixture()
    rows = _answer(oracle, queries)
    qid, user, vec = queries[0]
    hidden = np.flatnonzero(~oracle.closure.doc_mask(user)[oracle.doc])[0]
    d = float(oracle.distances(np.array([hidden]), np.asarray(vec, dtype=np.float64))[0])
    i = max(j for j, r in enumerate(rows) if r[0] == qid)
    rows[i] = (qid, int(hidden), int(oracle.doc[hidden]), round(d, 6))
    s = oracle.score(rows, queries, exact=True)
    assert s.failed and any("leaked" in e for e in s.errors), s.errors
    assert s.recall < 1.0


def test_wrong_neighbour_fails_and_lowers_recall():
    oracle, queries = _fixture()
    rows = _answer(oracle, queries)
    qid, user, vec = queries[1]
    q = np.asarray(vec, dtype=np.float64)
    ids = oracle.permitted(user)
    far = ids[np.argsort(oracle.distances(ids, q))[15]]  # permitted, but not a top-10 neighbour
    i = max(j for j, r in enumerate(rows) if r[0] == qid)
    rows[i] = (qid, int(far), int(oracle.doc[far]), round(float(oracle.distances(np.array([far]), q)[0]), 6))
    s = oracle.score(rows, queries, exact=True)
    assert s.failed and any("differ" in e for e in s.errors), s.errors
    assert s.recall < 1.0
    # the same answer from an approximate strategy is not a failure, only lower recall
    s = oracle.score(rows, queries, exact=False)
    assert not s.failed and s.recall < 1.0


def test_dead_block_fails():
    oracle, queries = _fixture()
    rows = _answer(oracle, queries)
    oracle.delete(np.array([rows[0][1]]))
    s = oracle.score(rows, queries, exact=False)
    assert s.failed and any("leaked" in e for e in s.errors), s.errors


def smoke(workload: str, trace: int) -> dict:
    """One tiny run of ``workload``; returns its result line."""
    root = os.path.dirname(HERE)
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", "7",
         "--seconds", "4", "--trace", str(trace), "--size", "tiny"],
        cwd=root, capture_output=True, text=True, timeout=600,
    )
    if p.returncode != 0:
        raise AssertionError(f"{workload}: exit {p.returncode}\n{p.stderr[-3000:]}")
    res = json.loads(p.stdout.strip().splitlines()[-1])
    assert res["correct"] and res["failed"] == 0 and res["attempted"] > 0, res
    spec_path = os.path.join(root, "BENCHMARK.json")
    if os.path.exists(spec_path):
        with open(spec_path) as f:
            spec = json.load(f)
        want = {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}
        got = {k: v["unit"] for k, v in res["metrics"].items()}
        assert got == want, (got, want)
    return res


def main(argv) -> int:
    tests = [v for k, v in sorted(globals().items()) if k.startswith("test_")]
    for t in tests:
        t()
        print(f"ok {t.__name__}")
    if "--no-smoke" not in argv:
        for w, tr in (("small_mixed", 1), ("large_scan", 0), ("churn", 1)):
            res = smoke(w, tr)
            print(f"ok smoke {w} trace={tr}: {res['attempted']} ops, metrics {sorted(res['metrics'])}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
