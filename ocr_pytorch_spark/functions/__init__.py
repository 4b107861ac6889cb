"""Shared column-expression helpers (JVM-side, codegen'd — no UDFs).

Everything here is expressible identically in DuckDB SQL, which is what
makes the driver's cross-engine correctness checks exact: md5 returns the
same lowercase hex in both engines, and hex digits are decoded with
``instr('0123456789abcdef', c) - 1`` instead of engine-specific conv().
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

HEX = "0123456789abcdef"


def words(col) -> Column:
    """Whitespace tokens (single-space corpora; split/string_split agree)."""
    return F.split(col, " ")


def fan_out(df: DataFrame) -> DataFrame:
    """Repartition ONLY under-partitioned inputs up to the cluster's
    parallelism (small local files arrive as one split and would
    serialize every map-side stage).  A no-op whenever the scan already
    has enough splits — at real scale the input has thousands, so this
    never adds a shuffle there."""
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def word_rows(df: DataFrame, id_col: str = "doc_id",
              text_col: str = "text") -> DataFrame:
    """One row per (id, pos, word) — posexplode; DuckDB analogue is
    unnest + generate_subscripts."""
    return fan_out(df).select(
        id_col, F.posexplode(words(F.col(text_col))).alias("pos", "word"))


def quant4(col: Column) -> Column:
    """4dp quantizer: floor(x*10000 + 0.5)/10000.  Used instead of
    round(x, 4) because Spark (BigDecimal HALF_UP on the shortest
    decimal repr) and DuckDB (binary round) disagree on exact-half
    values; floor of an identical double is identical everywhere.
    SQL analogue: floor((x) * 10000 + 0.5) / 10000."""
    return F.floor(col * 10000 + F.lit(0.5)) / 10000


def quant4_sql(expr: str) -> str:
    return f"floor(({expr}) * 10000 + 0.5) / 10000"


# --- array-native vector helpers -------------------------------------
#
# Cosine / random-projection math on array columns, NOT exploded
# (vec_id, pos, val) rows: a 10^9-vector pair join must move ONE row
# per pair, not `dim` rows.  Bit-exact DuckDB parity holds because both
# sides accumulate float64 sequentially in component order:
#   Spark  aggregate(zip_with(a, b, (x,y)->x*y), 0D, (acc,x)->acc+x)
#   DuckDB list_dot_product(CAST(a AS DOUBLE[]), CAST(b AS DOUBLE[]))
# (verified element-for-element on the testdata embeddings).


def as_double_array(col) -> Column:
    """array<float> -> array<double> (exact widening, both engines)."""
    return F.transform(col, lambda x: x.cast("double"))


def array_dot(a: Column, b: Column) -> Column:
    """Sequential left-fold float64 dot product of two array<double>
    columns — higher-order functions, no Python, bit-identical to
    DuckDB list_dot_product.  (r9 note: HOF expressions evaluate
    interpreted, but an explicit a[0]*b[0] + ... term-sum rewrite was
    measured and REJECTED — at dim 64 it is no faster per row once
    the interpreter is JIT-warm, and at 32 planes x 64 terms it blows
    codegen's 64 KB method limit and falls back to something slower;
    see OPTIMIZATION_r09.md.)"""
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0.0), lambda acc, x: acc + x)


def plane_weight(p: int, i: int) -> float:
    """Hyperplane weight for (plane p, component i): first md5 hex digit
    of '{p}:{i}' minus 7.5 (symmetric around 0).  Computed driver-side
    with hashlib (== engine md5) so plans embed literal weight arrays
    instead of hashing per row."""
    import hashlib

    return float(int(hashlib.md5(f"{p}:{i}".encode())
                     .hexdigest()[0], 16)) - 7.5


def plane_weights(p: int, dim: int) -> list[float]:
    return [plane_weight(p, i) for i in range(dim)]


def weights_matrix(n_planes: int, dim: int) -> Column:
    """All hyperplanes as one array<array<double>> literal — pair with
    transform() to compute every projection in a single expression."""
    return F.lit([plane_weights(p, dim) for p in range(n_planes)])


def weight_array_sql(p: int, dim: int) -> str:
    """DuckDB literal for hyperplane p's weights."""
    return "[" + ",".join(repr(w) for w in plane_weights(p, dim)) \
        + "]::DOUBLE[]"
