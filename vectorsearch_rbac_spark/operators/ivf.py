"""IVFFlat in Spark: k-means build + nprobe-pruned search.

Parity: reference ``pgvector/src/ivfbuild.c`` (sampled k-means →
``ivfkmeans.c``), ``ivfscan.c`` (scan the ``probes`` nearest lists). The
Postgres index stores per-list tuple pages; the Spark-native equivalent is a
``centroid_id`` column + (optionally) a parquet layout partitioned by it, so
list selection becomes partition pruning and each "list" is scanned as a
columnar split.

Scale: k-means runs on a driver-bounded SAMPLE (like ivfbuild.c, which
samples 50·lists tuples), centroids are broadcast, assignment is one
codegen'd pass over the fact table. Search touches only nprobe/nlists of the
data — the same knob pgvector exposes as ``ivfflat.probes``.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import vector as V
from .knn import topk_per_query


def kmeans_fit(
    blocks: DataFrame,
    nlists: int,
    vec_col: str = "vector",
    max_iter: int = 10,
    sample_per_list: int = 50,
    seed: int = 42,
) -> np.ndarray:
    """Lloyd's k-means on a bounded sample (numpy on the driver).

    pgvector ivfbuild.c samples ``50 * lists`` vectors and runs k-means on
    them in-process; we mirror that — the sample is small by construction,
    so driver-side numpy is the honest equivalent, and the expensive part
    (assignment over all rows) stays distributed in :func:`assign_centroids`.
    """
    n = blocks.count()
    target = nlists * sample_per_list
    frac = min(1.0, (target * 1.2) / max(n, 1))
    # CONTENT-deterministic sample: Bernoulli sample() draws per-row from a
    # per-partition RNG stream, so its membership depends on row ORDER
    # within partitions — nondeterministic downstream of joins/aggregates.
    # TakeOrdered by a content hash is a uniform pseudo-random draw that
    # depends only on the data (bit-identical build every run).
    sample = (
        blocks.select(vec_col)
        .orderBy(F.xxhash64(F.concat_ws(",", F.col(vec_col).cast("array<string>")), F.lit(seed)))
        .limit(target)
        .collect()
    )
    X = np.array([r[0] for r in sample], dtype=np.float64)
    if len(X) < nlists:
        raise ValueError(f"sample ({len(X)}) smaller than nlists ({nlists})")
    rng = np.random.default_rng(seed)
    C = X[rng.choice(len(X), nlists, replace=False)]
    for _ in range(max_iter):
        d = ((X[:, None, :] - C[None, :, :]) ** 2).sum(-1)
        lab = d.argmin(1)
        newC = np.array([X[lab == j].mean(0) if (lab == j).any() else C[j] for j in range(nlists)])
        if np.allclose(newC, C):
            break
        C = newC
    return C


def assign_centroids(blocks: DataFrame, centroids: np.ndarray, vec_col: str = "vector") -> DataFrame:
    """Add ``centroid_id`` = argmin_j ||x - c_j|| as a codegen'd expression.

    Centroids enter the plan as an array-of-arrays literal (broadcast with
    the task binary — they are nlists×dim doubles, small). No shuffle: this
    is a map-only pass, and writing the result partitioned by centroid_id is
    the "index build".
    """
    carr = F.array(*[
        F.array(*[F.lit(float(v)) for v in row]) for row in centroids
    ])
    dists = F.transform(carr, lambda c: V.l2_squared(F.col(vec_col), c))
    return blocks.withColumn("centroid_id", F.array_position(dists, F.array_min(dists)).cast("int") - 1)


def nearest_centroids(query_vec: np.ndarray, centroids: np.ndarray, nprobe: int) -> list[int]:
    d = ((centroids - query_vec[None, :]) ** 2).sum(1)
    return [int(i) for i in np.argsort(d)[:nprobe]]


def ivf_search(
    indexed_blocks: DataFrame,
    queries: DataFrame,
    centroids: np.ndarray,
    k: int = 10,
    nprobe: int = 4,
    metric: str = "l2",
) -> DataFrame:
    """ANN search: each query probes its ``nprobe`` nearest lists only.

    Parity: ``ivfscan.c`` + ``SET ivfflat.probes = n``
    (common_function.py:82). The (query → probed centroid) map is a tiny
    broadcast join; Catalyst turns ``centroid_id IN probes`` into partition
    pruning when the layout is partitioned by centroid_id.
    """
    spark = indexed_blocks.sparkSession
    q_rows = queries.select("query_id", "query_vector").collect()
    probe_rows = [
        (int(r["query_id"]), cid)
        for r in q_rows
        for cid in nearest_centroids(np.asarray(r["query_vector"], dtype=np.float64), centroids, nprobe)
    ]
    from ..sources import literal_df

    # r12 guide §6: Arrow literal path (no per-job Python re-pickle)
    probes = literal_df(spark, probe_rows, "query_id long, centroid_id int")
    candidate = indexed_blocks.join(F.broadcast(probes), "centroid_id")
    # Candidates are scored per partition with one einsum keyed by each
    # row's query_id (HOF distance math would run row-at-a-time); the
    # probe routing above decides WHAT is scored, and 6-dp rounding keeps
    # the values engine-reproducible. Each partition emits ≤ Q×k rows
    # into the stage-2 window merge.
    from typing import Iterator

    import pandas as pd

    qmap = {
        int(r["query_id"]): np.asarray(r["query_vector"], dtype=np.float64) for r in q_rows
    }
    bc = spark.sparkContext.broadcast(qmap)

    def part(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        qmap_ = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.stack(pdf["vector"].to_numpy()).astype(np.float64)
            codes, uniq = pd.factorize(pdf["query_id"])
            Qm = np.stack([qmap_[int(q)] for q in uniq])
            Qr = Qm[codes]
            if metric == "l2":
                d2 = (X * X).sum(axis=1) + (Qr * Qr).sum(axis=1) - 2.0 * np.einsum("ij,ij->i", X, Qr)
                D = np.sqrt(np.maximum(d2, 0.0))
            elif metric == "cosine":
                D = 1.0 - np.einsum("ij,ij->i", X, Qr) / np.maximum(
                    np.linalg.norm(X, axis=1) * np.linalg.norm(Qr, axis=1), 1e-30
                )
            elif metric == "ip":
                D = -np.einsum("ij,ij->i", X, Qr)
            else:
                raise ValueError(metric)
            # HALF-UP 6-dp rounding (Spark ROUND semantics, sign-aware) —
            # np.round is half-EVEN and diverges on exact .5 ties at the 6th
            # decimal. The einsum sums are not the expression folds' j-order,
            # so values match an expression scan empirically, not bit for bit
            # (ivf_recall is checked by recall against exact truth)
            D = np.sign(D) * np.floor(np.abs(D) * 1e6 + 0.5) / 1e6 + 0.0
            qid = pdf["query_id"].to_numpy()
            bid = pdf["block_id"].to_numpy()
            did = pdf["document_id"].to_numpy()
            sel = []
            for qi, q in enumerate(uniq):
                rows = np.flatnonzero(codes == qi)
                order = np.lexsort((bid[rows], D[rows]))[: min(k, len(rows))]
                sel.append(rows[order])
            s = np.concatenate(sel)
            yield pd.DataFrame(
                {"query_id": qid[s], "block_id": bid[s], "document_id": did[s], "distance": D[s]}
            )

    partial = candidate.select("query_id", "block_id", "document_id", "vector").mapInPandas(
        part, schema="query_id long, block_id long, document_id long, distance double"
    )
    return topk_per_query(partial, k).select("query_id", "block_id", "document_id", "distance", "rank")


def list_stats(indexed_blocks: DataFrame) -> DataFrame:
    """Per-list balance diagnostics: (centroid_id, n_blocks, frac) plus the
    batch-wide imbalance ratio (max list / mean list) on every row.

    The IVF analog of the reference's partition-size accounting
    (``basic_benchmark/space_calculate.py`` prints per-table sizes;
    ``heavy_partition_refine.py`` triggers on oversized partitions): a list
    holding ≫ corpus/nlists means probes scan more than they should and
    one task straggles — at 100 TB the imbalance ratio is the alert that
    says "re-fit centroids or split the hot list".
    """
    sizes = indexed_blocks.groupBy("centroid_id").agg(F.count(F.lit(1)).alias("n_blocks"))
    tot = sizes.agg(
        F.sum("n_blocks").alias("_tot"),
        F.max("n_blocks").alias("_max"),
        F.avg("n_blocks").alias("_mean"),
    )
    return (
        sizes.crossJoin(F.broadcast(tot))
        .select(
            "centroid_id",
            "n_blocks",
            F.round(F.col("n_blocks") / F.col("_tot"), 6).alias("frac"),
            F.round(F.col("_max") / F.col("_mean"), 6).alias("imbalance"),
        )
        .orderBy("centroid_id")
    )
