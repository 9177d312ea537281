"""pgvector-parity vector functions as Spark column expressions.

Parity: reference ``pgvector/src/vector.c`` distance operators —
``<->`` l2, ``<#>`` neg inner product, ``<=>`` cosine, ``<+>`` l1 — and
``bitvec.c`` hamming/jaccard on binary-quantized vectors
(``pgvector/src/bitutils.c``).

Spark-first: every function is a composition of built-in higher-order
functions (``zip_with``, ``aggregate``, ``transform``) over ``array<float>``
columns, so the whole expression stays inside whole-stage codegen — no
Python UDFs in the hot path. Elements are cast to double before arithmetic
so results match a double-precision oracle bit-for-bit (summation is
left-to-right in both engines).

At 100 TB these expressions run embarrassingly parallel per-row; the only
shuffles come from the surrounding top-k / group-by operators, not from the
distance math itself.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

ColumnOrName = Column | str


def _c(col: ColumnOrName) -> Column:
    return F.col(col) if isinstance(col, str) else col


def _dsum(arr: Column) -> Column:
    """Sum an array<double> left-to-right (matches sequential C loops)."""
    return F.aggregate(arr, F.lit(0.0), lambda acc, x: acc + x)


def _dzip(a: ColumnOrName, b: ColumnOrName, fn) -> Column:
    return F.zip_with(_c(a), _c(b), lambda x, y: fn(x.cast("double"), y.cast("double")))


def inner_product(a: ColumnOrName, b: ColumnOrName) -> Column:
    """Dot product; pgvector ``vector_inner_product`` (vector.c)."""
    return _dsum(_dzip(a, b, lambda x, y: x * y))


def neg_inner_product(a: ColumnOrName, b: ColumnOrName) -> Column:
    """pgvector ``<#>`` operator (returns -dot for index ordering)."""
    return -inner_product(a, b)


def l2_squared(a: ColumnOrName, b: ColumnOrName) -> Column:
    return _dsum(_dzip(a, b, lambda x, y: (x - y) * (x - y)))


def l2_distance(a: ColumnOrName, b: ColumnOrName) -> Column:
    """pgvector ``<->`` (vector.c l2_distance)."""
    return F.sqrt(l2_squared(a, b))


def l1_distance(a: ColumnOrName, b: ColumnOrName) -> Column:
    """pgvector ``<+>`` (vector.c l1_distance)."""
    return _dsum(_dzip(a, b, lambda x, y: F.abs(x - y)))


def vector_norm(a: ColumnOrName) -> Column:
    """pgvector ``vector_norm`` (l2)."""
    return F.sqrt(_dsum(F.transform(_c(a), lambda x: x.cast("double") * x.cast("double"))))


def cosine_similarity(a: ColumnOrName, b: ColumnOrName) -> Column:
    # zero-norm guard: pgvector's float math yields NaN for a zero vector
    # (vector.c divides without checking); Spark's ANSI mode would instead
    # kill the job on the division, so the NaN is made explicit. NaN sorts
    # LAST ascending in both Spark and DuckDB, so a zero vector never
    # enters a top-k. try_divide (NULL on /0) rather than a when-guard:
    # CaseWhen branches defeat common-subexpression elimination, so a
    # guard would fold the HOF norms TWICE per row (measured 2x on the
    # brute-force cosine scan). Semantics note: the coalesce also maps
    # NULL input vectors to NaN (try_divide is NULL for null operands
    # too) — deliberate, so null-vector rows sort LAST in a distance
    # rank instead of FIRST under NULLS FIRST; isnull-guard upstream if
    # NULL propagation is needed.
    return F.coalesce(
        F.try_divide(inner_product(a, b), vector_norm(a) * vector_norm(b)),
        F.lit(float("nan")),
    )


def cosine_distance(a: ColumnOrName, b: ColumnOrName) -> Column:
    """pgvector ``<=>`` (vector.c cosine_distance = 1 - cos)."""
    return F.lit(1.0) - cosine_similarity(a, b)


def vector_dims(a: ColumnOrName) -> Column:
    return F.size(_c(a))


def vector_add(a: ColumnOrName, b: ColumnOrName) -> Column:
    return _dzip(a, b, lambda x, y: x + y)


def vector_sub(a: ColumnOrName, b: ColumnOrName) -> Column:
    return _dzip(a, b, lambda x, y: x - y)


def vector_mul(a: ColumnOrName, b: ColumnOrName) -> Column:
    """Element-wise multiply (pgvector ``vector_mul``)."""
    return _dzip(a, b, lambda x, y: x * y)


def l2_normalize(a: ColumnOrName) -> Column:
    """pgvector ``l2_normalize``; safe on zero vectors (returns zeros)."""
    n = vector_norm(a)
    return F.when(n == 0.0, F.transform(_c(a), lambda x: x.cast("double"))).otherwise(
        F.transform(_c(a), lambda x: x.cast("double") / n)
    )


def subvector(a: ColumnOrName, start: int, length: int) -> Column:
    """pgvector ``subvector(v, start, count)`` — 1-indexed like SQL."""
    return F.slice(_c(a), start, length)


def binary_quantize(a: ColumnOrName) -> Column:
    """pgvector ``binary_quantize``: per-dim sign bit as array<int> (>0 → 1)."""
    return F.transform(_c(a), lambda x: F.when(x > 0, F.lit(1)).otherwise(F.lit(0)))


FP16_MAX = 65504.0  # largest finite binary16 value


def fp16_quantize(a: ColumnOrName) -> Column:
    """pgvector ``halfvec`` parity: round every component to its nearest
    IEEE-754 binary16 value (round-half-even), kept as double so downstream
    distance math is unchanged — the 2-bytes-per-component storage tier
    (reference basic_benchmark/space_calculate.py:19 prices halfvec at 2).

    Pure expression → whole-stage codegen, and exactly mirrorable in SQL
    (DuckDB ``round_even``), so fp16 search keeps an exact oracle:
    - normal range (|x| ≥ 2⁻¹⁴): step = 2^(floor(log2|x|) − 10) — an 11-bit
      significand; dividing by a power of two is exact in double, bround is
      exact, so the result is bit-identical to a float16 round-trip.
    - subnormal (|x| < 2⁻¹⁴): fixed step 2⁻²⁴.
    - overflow (|x| ≥ 65520): saturates to ±65504. binary16 rounds these to
      ±Infinity; a scan-side quantizer prefers a finite saturation to
      poisoning distances with Inf (unreachable for unit-norm embeddings;
      divergence pinned in tests).
    """
    def _one(x: Column) -> Column:
        x = x.cast("double")
        ax = F.abs(x)
        step = F.pow(F.lit(2.0), (F.floor(F.log2(ax)) - F.lit(10)).cast("double"))
        return (
            F.when(ax >= F.lit(65520.0), F.lit(FP16_MAX) * F.signum(x))
            .when(ax < F.lit(2.0 ** -14), F.bround(x * F.lit(2.0 ** 24)) / F.lit(2.0 ** 24))
            .otherwise(F.bround(x / step) * step)
        )

    return F.transform(_c(a), _one)


def hamming_distance(a: ColumnOrName, b: ColumnOrName) -> Column:
    """pgvector ``<~>`` on bit vectors (bitutils.c); inputs are 0/1 arrays."""
    return F.aggregate(
        F.zip_with(_c(a), _c(b), lambda x, y: F.when(x != y, F.lit(1)).otherwise(F.lit(0))),
        F.lit(0),
        lambda acc, x: acc + x,
    )


def jaccard_distance(a: ColumnOrName, b: ColumnOrName) -> Column:
    """pgvector ``<%>`` on bit vectors: 1 - |and| / |or|."""
    inter = F.aggregate(
        F.zip_with(_c(a), _c(b), lambda x, y: F.when((x == 1) & (y == 1), F.lit(1)).otherwise(F.lit(0))),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    union = F.aggregate(
        F.zip_with(_c(a), _c(b), lambda x, y: F.when((x == 1) | (y == 1), F.lit(1)).otherwise(F.lit(0))),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    return F.when(union == 0, F.lit(0.0)).otherwise(F.lit(1.0) - inter.cast("double") / union.cast("double"))


def vector_avg(df, group_cols: list[str], vec_col: str, out_col: str = "centroid"):
    """Element-wise mean of a vector column per group (pgvector ``avg(vector)``).

    DataFrame-level: posexplode → groupBy(group, pos).avg → reassemble array
    ordered by pos. Both aggregations get map-side partial combine, so the
    shuffle carries (groups × dims) partial sums — scale-safe for any row
    count (used by IVF k-means centroid updates).
    """
    gc = [F.col(g) for g in group_cols]
    exploded = df.select(*gc, F.posexplode(_c(vec_col)).alias("pos", "val"))
    per_dim = exploded.groupBy(*group_cols, "pos").agg(
        F.avg(F.col("val").cast("double")).alias("dim_avg")
    )
    return (
        per_dim.groupBy(*group_cols)
        .agg(F.array_sort(F.collect_list(F.struct("pos", "dim_avg"))).alias("_s"))
        .select(*group_cols, F.transform("_s", lambda s: s["dim_avg"]).alias(out_col))
    )


def pack_bits(bitarr: ColumnOrName, word: int, word_bits: int = 32) -> Column:
    """Pack 32 dims of a 0/1 array into one BIGINT: word *w* covers
    elements [32w+1 .. 32w+32] (1-indexed), bit *i* of the word = element
    32w+i+1.

    pgvector stores binary-quantized vectors as a packed ``bit`` type
    (``bitutils.c``); the Spark-native equivalent is long columns — hamming
    then collapses to ``bit_count(xor)`` per word, i.e. 2 instructions per
    64 dims instead of a 64-element array zip. Same packing is expressible
    in DuckDB for the oracle.
    """
    sliced = F.slice(_c(bitarr), word * word_bits + 1, word_bits)
    # fold acc*2 + bit over the reversed slice ≡ sum(bit_i << i)
    return F.aggregate(
        F.reverse(sliced),
        F.lit(0).cast("long"),
        lambda acc, x: acc * F.lit(2).cast("long") + x.cast("long"),
    )


def hamming_packed(a0: ColumnOrName, a1: ColumnOrName, b0: ColumnOrName, b1: ColumnOrName) -> Column:
    """Hamming distance between two 64-dim signatures packed as 2×32-bit
    words: popcount of per-word xor."""
    return (
        F.bit_count(_c(a0).bitwiseXOR(_c(b0))) + F.bit_count(_c(a1).bitwiseXOR(_c(b1)))
    ).cast("long")


def md5_long(col: ColumnOrName, salt=None) -> Column:
    """Deterministic cross-engine 60-bit hash: first 15 hex digits of md5 as
    BIGINT. Matches DuckDB ``('0x' || substr(md5(x),1,15))::BIGINT`` — used
    wherever hash parity with the oracle matters (minhash, simhash, bands).
    """
    c = _c(col)
    if salt is not None:
        c = F.concat(F.lit(str(salt)), F.lit(":"), c)
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")
