"""Size-gated broadcast hints.

A hard-coded ``F.broadcast`` on a doc-cardinality relation is correct at
benchmark scale (the table is KB-MB) but does not *degrade* at 10⁹ docs —
it ABORTS: Spark enforces an 8 GB hard ceiling per broadcast relation and
the driver must hold every copy it serves. The scale-safe idiom is a
size-GATED hint: broadcast while the caller's own stats say the relation
fits comfortably, otherwise return the relation unhinted so the join
shuffles on its equi-key — which is bucketable/co-partitionable
(document_id, node id), the same fallback shape the ACORN metadata join
uses (SURVEY D5).

The gate is deliberately explicit (a byte estimate computed from a count
the caller already has, or one sub-second stats aggregate) rather than
left to AQE's runtime conversion: the decision is then deterministic,
plan-testable in both regimes, and independent of
``spark.sql.autoBroadcastJoinThreshold`` session tuning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Default ceiling for an explicit broadcast hint: comfortably under the
# executor-memory scale where a broadcast build side starts to hurt, and
# far under Spark's 8 GB hard limit. Module-level so tests can exercise
# both regimes by monkeypatching.
BROADCAST_LIMIT_BYTES: int = 256 << 20

# Session-lifetime memo for relation-derived scalar stats (row counts that
# price broadcast gates), keyed by (application id, relation semanticHash,
# tag). The gate's stats play the role TABLE STATISTICS play on a real
# cluster: an artifact-scale property of the relation, priced once, not a
# job per operator call. A first call pays one sub-second aggregate; every
# later call over a semantically identical relation reads the memo
# (measured: the per-call form cost +0.2-1.0 s on every mask-kernel bench
# entry). An insert drops every other application's entries, so the memo
# holds the live session's stats only (the ``_cached`` index-cache rule).
_STAT_CACHE: dict[tuple[str, int, str], int] = {}


def memoized_stat(df: DataFrame, tag: str, compute) -> int:
    """Return ``compute()``, memoized per (application, relation
    semanticHash, tag).

    ``semanticHash`` is a driver-side plan analysis — no Spark job. Two
    semantically identical plans share one entry (exactly the reuse the
    bench's repeated passes and production's build-once/search-many
    exhibit). A relation whose UNDERLYING FILES mutate mid-session under
    an identical plan would reuse a stale estimate — that can only flip a
    broadcast decision, never change results, and mutating inputs under a
    live session already voids Spark's own caching assumptions."""
    try:
        key = (df.sparkSession.sparkContext.applicationId, df.semanticHash(), tag)
    except Exception:  # pragma: no cover — exotic plans; just recompute
        return compute()
    try:
        return _STAT_CACHE[key]
    except KeyError:
        v = int(compute())
        for stale in [k for k in _STAT_CACHE if k[0] != key[0]]:
            del _STAT_CACHE[stale]
        _STAT_CACHE[key] = v
        return v


# Minimum scan-input bytes before a token-heavy consumer is worth an
# explicit split (r12): below this the round-robin exchange costs more
# than the serial map stage it parallelizes (measured at sf0.1: blanket
# repartition regressed text entries +0.1-1.6 s on a 0.6 MB corpus, while
# the 5.8 MB sf1 corpus gains 1.3-3.3× per entry). Module-level so tests
# can exercise both regimes by monkeypatching.
SCAN_SPLIT_MIN_BYTES: int = 2 << 20


def _local_input_bytes(df: DataFrame) -> int:
    """Total bytes of a scan's local input files; 'huge' for non-local
    storage (there the caller's parallelism check governs alone)."""
    import os

    total = 0
    for uri in df.inputFiles():
        if not uri.startswith("file:"):
            return 1 << 60
        p = "/" + uri[len("file:"):].lstrip("/")
        try:
            total += os.path.getsize(p)
        except OSError:
            pass
    return total


def parallelize_scan(df: DataFrame, min_bytes: int | None = None) -> DataFrame:
    """Give a token-heavy narrow map stage at least the session's default
    parallelism (guide §2.2/§6: input splits bound map parallelism).

    A benchmark-scale corpus parquet is ONE file with ONE row group, so
    the scan is 1-2 tasks and every tokenize/explode/regex map above it
    runs serial REGARDLESS of cores — the measured cause of the 8→32-core
    ratio ≈ 1 cluster (remove_boilerplate 7.7 s → 2.1 s at sf1/32 cores
    once split). Spark cannot split a single row group, so the only lever
    is an explicit round-robin exchange. Three regimes:

    - scan already ≥ defaultParallelism splits (cluster scale): NO-OP —
      never adds an exchange to a 100 TB scan;
    - small corpus (< min_bytes, e.g. the 0.6 MB sf0.1 bench input):
      NO-OP — the exchange would cost more than it buys (measured);
    - mid/large single-file corpus: repartition to defaultParallelism.

    Both stats are driver-side only and memoized per relation
    (:func:`memoized_stat`) — warm calls pay nothing.
    """
    limit = SCAN_SPLIT_MIN_BYTES if min_bytes is None else min_bytes
    sc = df.sparkSession.sparkContext
    target = int(sc.defaultParallelism)
    try:
        parts = memoized_stat(df, "scan_parts", lambda: df.rdd.getNumPartitions())
        if parts >= target:
            return df
        size = memoized_stat(df, "scan_bytes", lambda: _local_input_bytes(df))
    except Exception:  # pragma: no cover — exotic plans price as "leave alone"
        return df
    if size < limit:
        return df
    return df.repartition(target)


def gated_broadcast(
    df: DataFrame, est_bytes: int | None, limit_bytes: int | None = None
) -> DataFrame:
    """Return ``F.broadcast(df)`` when ``est_bytes`` fits under the limit,
    else ``df`` unhinted (the consuming equi-join shuffles on its key).

    ``est_bytes=None`` means "unknown" and conservatively skips the hint.
    ``limit_bytes=None`` reads :data:`BROADCAST_LIMIT_BYTES` at call time.
    """
    limit = BROADCAST_LIMIT_BYTES if limit_bytes is None else limit_bytes
    if est_bytes is not None and est_bytes <= limit:
        return F.broadcast(df)
    return df
