"""RBAC vector-search benchmark: seeded closed-loop batches against the library.

    python3 perfbench/run.py --workload small_mixed --seed 1 --seconds 10 --trace 0

One client in one process drives the library's public functions on a fixed
``local[N]`` session: each cycle sends a fresh seeded batch of
``(user_id, query_vector)`` queries (and, on ``churn``, an insert commit and
a delete first) and waits for the answer, which the benchmark's own numpy
oracle checks. Run from the root of a checkout; the library must sit
beside this directory. The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports
the end-to-end metrics, ``--trace 1`` the per-layer ones (see README.md).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

from spans import Tracer, covered, event_log_conf, read_event_log
from workloads import K, WORKLOADS, Op

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUPS = 3  # set-ups per run; setup_s is their median
# The JVM heap is fixed (initial = maximum): a growing heap resizes and
# collects on its own schedule, which moved batch times and RSS by ~10 %
# from run to run on a 4-core host.
HEAP = "2g"
CPUS = min(4, len(os.sched_getaffinity(0)))


def calibrate() -> float:
    """Fixed-work single-core spin: a direct read of host contention."""
    t0 = time.perf_counter()
    x = 0
    for i in range(4_000_000):
        x += i
    if x != 7999998000000:
        raise RuntimeError("calibration spin miscounted")
    return time.perf_counter() - t0


def vm_hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def jvm_pid() -> int | None:
    from pyspark import SparkContext

    gw = SparkContext._gateway
    return gw.proc.pid if gw is not None and getattr(gw, "proc", None) is not None else None


def stop_jvm() -> None:
    """Stop the session, then the JVM; wait until it has exited."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    s = SparkSession.getActiveSession()
    if s is not None:
        s.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def median(xs) -> float:
    return float(statistics.median(xs)) if xs else float("nan")


def tail_percentile(xs) -> dict | None:
    """The highest percentile with at least ten samples beyond it."""
    n = len(xs)
    if n <= 10:
        return None
    i = n - 11  # sorted index with exactly ten samples above it
    return {"p": round(100.0 * (i + 1) / n, 1), "value_s": sorted(xs)[i], "samples": n}


class Run:
    def __init__(self, args):
        self.a = args
        self.work = os.path.join(ROOT, ".perfbench", f"work-{args.workload}-{args.seed}-{os.getpid()}")
        os.makedirs(self.work, exist_ok=True)
        self.wl = WORKLOADS[args.workload](args.seed, args.size, self.work)
        self.quiet = Tracer()
        self.b = 0
        self.warmups = 0
        self.checked = []  # every checked op, warm-up included
        self.session_s: list[float] = []

    def session(self):
        from vectorsearch_rbac_spark.sources import get_spark

        t0 = time.time()
        spark = get_spark("perfbench")
        spark.sparkContext.setLogLevel("ERROR")
        self.session_s.append(time.time() - t0)
        return spark

    def cycle(self, spark, tr):
        try:
            ops = self.wl.cycle(spark, tr, self.b)
        except Exception as e:  # an operation that raises is a failed one
            ops = [Op("error", "", 0.0, True, [f"{type(e).__name__}: {e}"[:500]])]
        self.b += 1
        self.checked.extend(ops)
        return ops

    def warm(self, spark, tr, n: int) -> None:
        for _ in range(n):
            self.cycle(spark, tr)
            self.warmups += 1

    def measure(self, spark, seconds: float, traced: Tracer | None = None) -> tuple[list, list]:
        """Cycles for ``seconds``. With ``traced``, every other round of the
        strategy rotation runs under it, so traced and untraced cycles see
        the same strategy mix, warm-up trend and host drift."""
        plain, spanned = [], []
        end = time.time() + seconds
        # at least one cycle of each kind, however short the window; a
        # program whose every cycle fails still stops at twice the window
        while time.time() < end or (
            (not plain or (traced is not None and not spanned)) and time.time() < end + seconds
        ):
            odd_round = (self.b // len(self.wl.strategies)) % 2
            tr = traced if traced is not None and odd_round else self.quiet
            ops = self.cycle(spark, tr)
            if all(o.kind != "error" for o in ops):
                (spanned if tr is traced else plain).append(ops)
        return plain, spanned

    def go(self) -> dict:
        a, wl = self.a, self.wl
        wl.generate()
        calib_before = calibrate()
        setup_s = []
        spark = None
        log_dir = os.path.join(self.work, "eventlog")
        for i in range(SETUPS):
            t0 = time.time()
            if spark is not None:
                if a.trace and i == SETUPS - 1:
                    # the serving session of a traced run writes Spark's event
                    # log: a new session inherits JVM system properties
                    os.makedirs(log_dir)
                    props = spark.sparkContext._jvm.java.lang.System
                    for k, v in event_log_conf(log_dir).items():
                        props.setProperty(k, v)
                spark.stop()
            spark = self.session()
            wl.setup(spark, self.quiet)
            self.warm(spark, self.quiet, 1)
            setup_s.append(time.time() - t0)
        # the serving session runs the workload's warm-up cycles (every
        # strategy at least once) before timing starts
        self.warm(spark, self.quiet, wl.warmup - 1)
        tr = Tracer(spark, enabled=True) if a.trace else None
        plain, traced = self.measure(spark, a.seconds, tr)
        app_id = spark.sparkContext.applicationId
        pid = jvm_pid()
        rss_mb = (vm_hwm_kb("self") + (vm_hwm_kb(pid) if pid else 0)) / 1024
        stop_jvm()
        calib_after = calibrate()
        out = {
            "workload": a.workload, "seed": a.seed, "size": a.size, "local": f"local[{CPUS}]",
            "calibration_s": [calib_before, calib_after], "warmup_cycles_excluded": self.warmups,
            "setup_s": setup_s, "setup_parts": wl.setup_parts, "session_s": self.session_s,
        }
        out["e2e"] = self.end_to_end(plain, setup_s, rss_mb)
        out["steadiness"] = self.steadiness(plain)
        out["ops"] = [[o.kind, o.strategy, o.wall] for c in plain for o in c]
        if a.trace:
            events = read_event_log(log_dir, app_id)
            out["layers"], out["detail"] = self.per_layer(tr, traced, events, out["e2e"]["qps"])
            tr.dump(os.path.join(self.work, "..", f"spans-{a.workload}-s{a.seed}.jsonl"))
        return out

    # ------------------------------------------------------------ metrics
    @staticmethod
    def searches(cycles, strategy=None):
        return [o for c in cycles for o in c if o.kind == "search" and strategy in (None, o.strategy)]

    def end_to_end(self, cycles, setup_s, rss_mb) -> dict:
        s = self.searches(cycles)
        muts = [o.wall for c in cycles for o in c if o.kind == "mutation"]
        e = {
            "qps": sum(o.queries for o in s) / sum(o.wall for o in s),
            "batch_p50_s": median([o.wall for o in s]),
            "cycle_p50_s": median([sum(o.wall for o in c) for c in cycles]),
            "recall_at_10": sum(o.recall_sum for o in s) / max(1, sum(o.recall_n for o in s)),
            "setup_s": median(setup_s),
            "peak_rss_mb": rss_mb,
            "batches": len(s),
            "batch_tail": tail_percentile([o.wall for o in s]),
        }
        if muts:
            e["mutation_p50_s"] = median(muts)
        if any(o.strategy == "postfilter" for o in s):
            for st in self.wl.strategies:
                ss = self.searches(cycles, st)
                e[f"recall_at_10.{st}"] = sum(o.recall_sum for o in ss) / max(1, sum(o.recall_n for o in ss))
        return e

    @staticmethod
    def steadiness(cycles) -> dict:
        walls = [sum(o.wall for o in c) for c in cycles]
        third = len(walls) // 3
        ratio = (sum(walls[-third:]) / sum(walls[:third])) if third else None
        return {"cycles": len(walls), "last_over_first_third": ratio}

    def per_layer(self, tr, cycles, events, qps_plain) -> tuple[dict, dict]:
        batches = [s for s in tr.of("batch") if s["batch"] is not None and s["batch"] >= 0]
        timed = {s["batch"] for s in batches if len(tr.children(s)) == 3}
        batches = [s for s in batches if s["batch"] in timed]

        def child(s, name):
            return next(c for c in tr.children(s) if c["name"] == name)

        def dur(s):
            return s["end"] - s["start"]

        walls = [dur(s) for s in batches]
        cons = [child(s, "construct") for s in batches]
        exe = [child(s, "execute") for s in batches]
        lit = [child(s, "literal_df") for s in batches]
        per_batch = {}
        for s in batches:
            groups = [x["group"] for x in tr.subtree(s) if x["group"] in events]
            jobs = [iv for g in groups for iv in events[g]["jobs"]]
            per_batch[s["batch"]] = {
                k: sum(events[g][k] for g in groups) for k in ("run_s", "cpu_s", "gc_s", "shuffle_bytes")
            }
            per_batch[s["batch"]]["gap_s"] = dur(s) - covered(jobs, s["start"], s["end"])
        n_q = sum(o.queries for o in self.searches(cycles))
        layers = {
            "sources.session_s": median(self.session_s),
            "sources.literal_df_s": median([dur(x) for x in lit]),
            "rbac.build_s": median([p["rbac_s"] for p in self.wl.setup_parts]),
            "search.construct_s": median([dur(x) for x in cons]),
            "search.execute_s": median([dur(x) for x in exe]),
            "search.construct_jobs": median([x.get("jobs", 0) for x in cons]),
            "search.jobs": median([tr.subtree_count(s, "jobs") for s in batches]),
            "search.tasks": median([tr.subtree_count(s, "tasks") for s in batches]),
            "search.construct_share": sum(dur(x) for x in cons) / sum(walls),
            "spark.executor_run_s": median([v["run_s"] for v in per_batch.values()]),
            "spark.executor_cpu_s": median([v["cpu_s"] for v in per_batch.values()]),
            "spark.shuffle_bytes": median([v["shuffle_bytes"] for v in per_batch.values()]),
            "spark.driver_gap_s": median([v["gap_s"] for v in per_batch.values()]),
            "trace.overhead": qps_plain / (n_q / sum(walls)),
        }
        detail = {
            "rbac.selectivity": sum(o.selectivity_sum for o in self.searches(cycles)) / max(1, n_q),
            "search.execute_share": sum(dur(x) for x in exe) / sum(walls),
            "search.span_coverage": sum(dur(x) for x in cons + exe + lit) / sum(walls),
            "spark.gc_s": median([v["gc_s"] for v in per_batch.values()]),
        }
        for st in self.wl.strategies:
            sb = [s for s in batches if s.get("strategy") == st]
            if not sb:
                continue
            key = "dynamic.search" if st == "dynamic" else f"knn.{st}"
            detail[f"{key}.construct_s"] = median([dur(child(s, "construct")) for s in sb])
            detail[f"{key}.execute_s"] = median([dur(child(s, "execute")) for s in sb])
            detail[f"{key}.construct_jobs"] = median([child(s, "construct").get("jobs", 0) for s in sb])
            detail[f"{key}.jobs"] = median([tr.subtree_count(s, "jobs") for s in sb])
            detail[f"{key}.tasks"] = median([tr.subtree_count(s, "tasks") for s in sb])
        post = self.searches(cycles, "postfilter")
        if post:
            detail["knn.postfilter.fill_ratio"] = sum(o.rows for o in post) / sum(o.queries * K for o in post)
        for name in ("dynamic.insert", "dynamic.delete"):
            spans = [s for s in tr.of(name) if s["batch"] in timed]
            if spans:
                detail[f"{name}.s"] = median([dur(s) for s in spans])
                detail[f"{name}.jobs"] = median([s.get("jobs", 0) for s in spans])
        return layers, detail


def parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=("full", "tiny"), default="full",
                   help="tiny: a small seeded input for the smoke test")
    return p.parse_args(argv)


UNITS = {
    "qps": "1/s", "batch_p50_s": "s", "cycle_p50_s": "s", "recall_at_10": "ratio",
    "setup_s": "s", "peak_rss_mb": "MB",
}


def layer_unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_bytes"):
        return "B"
    if name.endswith(("jobs", "tasks")):
        return "count"
    return "ratio"


def main(argv=None) -> int:
    a = parse(argv)
    if not os.path.isdir(os.path.join(ROOT, "vectorsearch_rbac_spark")):
        print(f"perfbench: no vectorsearch_rbac_spark package in {ROOT}", file=sys.stderr)
        return 2
    os.environ.update(
        SPARK_GRAFT_CPUS=str(CPUS),
        SPARK_GRAFT_DRIVER_MEM=HEAP,
    )
    sys.path.insert(0, ROOT)
    run = Run(a)
    tmp = os.path.join(run.work, "tmp")
    os.makedirs(tmp)
    # keep Spark's scratch space (shuffle, broadcast and JVM temp files)
    # inside the checkout
    os.environ.update(
        SPARK_LOCAL_DIRS=os.path.join(run.work, "local"),
        TMPDIR=tmp,
        PYSPARK_SUBMIT_ARGS=f"--driver-java-options '-Xms{HEAP} -Djava.io.tmpdir={tmp}' pyspark-shell",
    )
    try:
        out = run.go()
    finally:
        stop_jvm()
        shutil.rmtree(run.work, ignore_errors=True)
    ops = run.checked
    failed = [o for o in ops if o.failed]
    for o in failed[:5]:
        print(f"FAILED {o.kind} {o.strategy}: {o.errors}", file=sys.stderr)
    if a.trace:
        metrics = {k: {"value": v, "unit": layer_unit(k)} for k, v in out["layers"].items()}
    else:
        metrics = {k: {"value": out["e2e"][k], "unit": u} for k, u in UNITS.items()}
    print(json.dumps(out, default=float))
    print(json.dumps({"correct": not failed, "attempted": len(ops), "failed": len(failed), "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
