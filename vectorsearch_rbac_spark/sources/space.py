"""Storage/space accounting (reference basic_benchmark/space_calculate.py).

The reference prices two things per strategy: the logical bytes its vector
columns occupy (count × dim × bytes-per-component, space_calculate.py:19
``BYTES_PER_COMPONENT``) and the physical relation+index size
(``pg_total_relation_size``). The lakehouse analogs:

- logical: same arithmetic, with the component width coming from the
  storage tier (fp32 vector / fp16 halfvec / int8 / PQ code bytes /
  packed bit) — this is what a capacity plan multiplies by corpus size;
- physical: recursive parquet bytes under the layout's directory — what
  the object store actually bills, including replication a layout implies
  (role-partitioning duplicates shared blocks per role, the comb-role
  store doesn't).

fp16/int8 tiers are written as fixed-width ``binary`` columns (2 B / 1 B
per component packed little-endian via an Arrow-batched pandas UDF —
parquet has no fp16 primitive), so the physical number reflects the real
tier, not an array<float> stand-in.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, BinaryType, FloatType

MB = 1024 * 1024

# reference space_calculate.py:19 (vector/halfvec), extended with the
# quantized tiers this engine adds (int8, 1-byte PQ codes, packed bits).
BYTES_PER_COMPONENT = {
    "vector": 4,
    "halfvec": 2,
    "int8": 1,
    "pq8": 1,   # one code byte per sub-quantizer
    "bit": 1 / 8,
}


@pandas_udf(BinaryType())
def fp16_pack(v: pd.Series) -> pd.Series:
    """array<float> → 2·dim bytes of little-endian IEEE binary16."""
    return v.map(lambda a: np.asarray(a, dtype=np.float32).astype("<f2").tobytes())


@pandas_udf(ArrayType(FloatType()))
def fp16_unpack(b: pd.Series) -> pd.Series:
    """Inverse of fp16_pack (values are exactly the binary16 lattice)."""
    return b.map(lambda x: np.frombuffer(x, dtype="<f2").astype(np.float32))


@pandas_udf(BinaryType())
def int8_pack(v: pd.Series) -> pd.Series:
    """array<smallint/int> of [-127,127] codes → 1 byte per component."""
    return v.map(lambda a: np.asarray(a, dtype=np.int8).tobytes())


def vector_logical_mb(df: DataFrame, vec_col: str = "embedding", component: str = "vector") -> float:
    """count × dim × bytes-per-component, in MB — the reference's
    ``calculate_size_in_mb`` with the dim read from the data (its
    ``_safe_avg_dimension`` fallback; parquet has no declared typmod)."""
    row = df.where(F.col(vec_col).isNotNull()).agg(
        F.count(F.lit(1)).alias("n"), F.avg(F.size(vec_col)).alias("dim")
    ).first()
    if not row["n"] or row["dim"] is None:
        return 0.0
    return row["n"] * round(row["dim"]) * BYTES_PER_COMPONENT[component] / MB


def dir_physical_mb(path: str) -> float:
    """Recursive on-disk bytes of a layout directory (parquet data +
    footers + success markers) — the ``pg_total_relation_size`` analog."""
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total / MB


def _write(df: DataFrame, path: str, partition_by: str | None = None) -> dict:
    w = df.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(partition_by)
    w.parquet(path)
    n_files = sum(
        1 for root, _d, fs in os.walk(path) for f in fs if f.endswith(".parquet")
    )
    return {"physical_mb": round(dir_physical_mb(path), 3), "files": n_files}


def space_report(spark: SparkSession, sf_dir: str, out_dir: str) -> dict:
    """Write every physical layout/storage tier this engine supports and
    report logical vs physical MB for each — the per-strategy storage
    table the reference prints (space_calculate.main), as one dict.

    Layouts (same rows, different placement — physical cost varies):
      flat            embeddings as-is
      role_partition  per-role replication (C3): shared docs stored once
                      PER ROLE — the storage price of zero-join search
      comb_role       access-set partitioning (C4/D4): each block once,
                      partition = its role-set — replication-free
    Tiers (same placement, narrower components):
      halfvec         2 B fp16 (pgvector halfvec parity)
      int8            1 B codes + per-vector scale
      bit             packed sign bits, 1 bit/component
    """
    from ..functions import vector as V
    from ..rbac import derive

    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    customer = spark.read.parquet(os.path.join(sf_dir, "customer.parquet"))
    documents = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    tabs = derive.derive_rbac(customer, documents, emb)
    blocks, perm = tabs["documentblocks"], tabs["permission_assignment"]

    report: dict[str, dict] = {}

    flat = emb.select("vec_id", "embedding")
    report["flat"] = _write(flat, os.path.join(out_dir, "flat")) | {
        "logical_mb": round(vector_logical_mb(flat), 3),
        "component": "vector",
    }

    # gated (r12): the permission relation is docs×roles — the layout
    # writers must degrade to a document_id shuffle at 10⁹ docs, not abort
    from ..operators import hints
    from ..operators.knn import _perm_est_bytes

    perm_b = hints.gated_broadcast(
        perm.select("document_id", "role_id"), _perm_est_bytes(perm)
    )
    role_rows = blocks.join(perm_b, "document_id").select(
        "role_id", "block_id", "document_id", "vector"
    )
    report["role_partition"] = _write(
        role_rows, os.path.join(out_dir, "role_partition"), partition_by="role_id"
    ) | {
        "logical_mb": round(vector_logical_mb(role_rows, "vector"), 3),
        "component": "vector",
    }

    comb = (
        blocks.join(perm_b, "document_id")
        .groupBy("block_id", "document_id")
        .agg(F.sort_array(F.collect_set("role_id")).alias("roles"))
        .select(
            F.md5(F.concat_ws(",", "roles")).substr(1, 8).alias("comb_role"),
            "block_id",
            "document_id",
        )
        .join(blocks.select("block_id", "vector"), "block_id")
    )
    report["comb_role"] = _write(
        comb, os.path.join(out_dir, "comb_role"), partition_by="comb_role"
    ) | {
        "logical_mb": round(vector_logical_mb(comb, "vector"), 3),
        "component": "vector",
    }

    # C3-LOGICAL (logical_partition_benchmark pointer_hnsw_index /
    # shared_vector_table parity): the per-role layout as membership
    # POINTER lists over ONE shared vector copy — replication-free; the
    # price moves from storage to a block_id fetch join at search time
    # (knn.knn_role_partition_logical). physical/logical MB = pointer
    # partition + the shared flat table.
    ptrs = role_rows.select("role_id", "block_id")
    ptr_rep = _write(
        ptrs, os.path.join(out_dir, "logical_role_pointers"), partition_by="role_id"
    )
    n_ptr = ptrs.count()
    report["logical_role"] = {
        "physical_mb": round(ptr_rep["physical_mb"] + report["flat"]["physical_mb"], 3),
        "files": ptr_rep["files"] + report["flat"]["files"],
        "logical_mb": round(
            n_ptr * 16 / MB + report["flat"]["logical_mb"], 3
        ),
        "component": "pointer+vector",
    }

    half = emb.select("vec_id", fp16_pack(V.fp16_quantize("embedding")).alias("h"))
    report["halfvec"] = _write(half, os.path.join(out_dir, "halfvec")) | {
        "logical_mb": round(vector_logical_mb(emb, component="halfvec"), 3),
        "component": "halfvec",
    }

    scale = F.greatest(
        F.array_max(F.transform("embedding", lambda x: F.abs(x.cast("double")))),
        F.lit(1e-30),
    )
    codes = F.transform(
        "embedding", lambda x: F.round(x.cast("double") * 127.0 / scale).cast("int")
    )
    i8 = emb.select("vec_id", scale.cast("float").alias("scale"), int8_pack(codes).alias("c"))
    report["int8"] = _write(i8, os.path.join(out_dir, "int8")) | {
        "logical_mb": round(vector_logical_mb(emb, component="int8"), 3),
        "component": "int8",
    }

    dim = emb.select(F.size("embedding")).first()[0]
    bits = emb.select(
        "vec_id",
        *[
            V.pack_bits(V.binary_quantize("embedding"), w).alias(f"w{w}")
            for w in range((dim + 31) // 32)
        ],
    )
    report["bit"] = _write(bits, os.path.join(out_dir, "bit")) | {
        "logical_mb": round(vector_logical_mb(emb, component="bit"), 3),
        "component": "bit",
    }

    return report
