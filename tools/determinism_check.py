"""Run every queries() entry TWICE in one session and compare row-level
content hashes — the §4 determinism contract's direct test. The oracle
gate can't catch run-to-run instability on the Spark side (both runs
would be compared against the same SQL at different times); this can.

Usage: python tools/determinism_check.py [sf_dir]
Prints FLAKY <name> for any entry whose two runs differ; exits 1 if any.
Each line carries the entry's row fingerprint (``fp=``), so the output of
two checkouts can be diffed to show that a change left every result as it
was.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

import __spark_entry__ as entry
from vectorsearch_rbac_spark.sources import get_spark


_MOD = 1 << 61  # the row-hash sum is taken mod 2^61


def _fingerprint(df):
    """(row count, multiset hash): the SUM of 60-bit md5 row hashes mod
    2^61. A sum keeps every copy of a row — an XOR fold cancels
    identical pairs, so a result that gained or lost a duplicate pair
    would fingerprint unchanged. The decimal sum cannot overflow."""
    cols = sorted(df.columns)
    h = F.md5(F.concat_ws("\x1f", *[F.col(c).cast("string") for c in cols]))
    r = df.select(F.conv(F.substring(h, 1, 15), 16, 10).cast("decimal(38,0)").alias("h")).agg(
        F.count(F.lit(1)), F.sum("h")
    ).first()
    return (r[0], int(r[1] or 0) % _MOD)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_spark("determinism")
    spark.sparkContext.setLogLevel("ERROR")
    flaky = []
    for name, fn in entry.queries().items():
        try:
            a = _fingerprint(fn(spark, sf_dir))
            b = _fingerprint(fn(spark, sf_dir))
        except Exception as exc:
            print(f"ERROR {name}: {type(exc).__name__}")
            flaky.append(name)
            continue
        status = "ok" if a == b else "FLAKY"
        if a != b:
            flaky.append(name)
        print(f"{status} {name} rows={a[0]} fp={a[1]:016x}")
    print(f"== {'ALL DETERMINISTIC' if not flaky else 'FLAKY: ' + ','.join(flaky)}")
    return 1 if flaky else 0


if __name__ == "__main__":
    raise SystemExit(main())
