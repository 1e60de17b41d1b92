"""Cosine columns for the similarity and dedup extensions.

Two kernel families:

- **Quantized integer kernel (the engine hot path)** — ``cosine`` runs
  ``kernels.qcosine`` in an Arrow UDF: elements rounded to 7 decimal
  places and scaled to integers, so dot products and squared norms are
  exact integer arithmetic and numpy, Spark and DuckDB produce
  bit-identical doubles (verified 0 mismatches over all 12,344
  same-label pairs at sf0.01). ``functions/kernels.py`` holds that
  format, its 2**53 exactness bound and the rule for shipping kernels
  to workers; the ``oracle_*`` fragments below are its DuckDB twins.

- **Exact-decimal referee kernel** (``dot``/``norm``) — the original
  Catalyst higher-order-function form with decimal(18,15) accumulation.
  Interpreted (not codegen), ~10x slower per pair; kept as the
  independent cross-check for tests, not used on the hot path.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from real_time_streaming_system_with_apache_kafka_spark.functions import kernels

# ---------------------------------------------------------------------------
# Quantized kernel (hot path)


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity (``kernels.qcosine`` in an Arrow UDF), rounded
    to 9 decimals.

    Rounding to 9 digits and ranking/thresholding on the rounded value
    keeps top-k sets engine-identical; the rounding itself runs JVM-side
    (Spark ``round``), the proven parity partner of DuckDB ``round``.
    """
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def qcosine(a, b):
        import pandas as pd

        if len(a) == 0:
            return pd.Series([], dtype="float64")
        return pd.Series(
            kernels.qcosine(kernels.stack_rows(a), kernels.stack_rows(b))
        )

    return F.round(qcosine(a, b), 9)


# ---------------------------------------------------------------------------
# Exact-decimal referee kernel (tests only; interpreted, slow)

# Precision <=18 stays in long-backed decimal arithmetic (both Spark and
# DuckDB), ~2x faster than int128/BigDecimal. Bounds: |element| < 1 =>
# |product| < 1 and |sum over 64 dims| < 64 << 10^3 integer digits.
_DEC = "decimal(18,15)"


def _dec_sum(arr: Column) -> Column:
    return F.aggregate(
        arr,
        F.lit(0).cast(_DEC),
        lambda acc, v: (acc + v).cast(_DEC),
    )


def _dec_to_double(c: Column) -> Column:
    # decimal -> string -> double: the string parse is correctly rounded
    # in every engine, whereas direct decimal->double conversion at
    # scale 15 double-rounds in some (observed: DuckDB off by 1 ulp).
    return c.cast("string").cast("double")


def dot(a: Column, b: Column) -> Column:
    """Exact-decimal dot product of two float arrays, as double.

    Referee kernel: decimal(18,15) accumulation of the raw (unquantized)
    products — independent of the quantized hot path, used by tests to
    bound the quantization error."""
    prods = F.zip_with(a, b, lambda x, y: (x.cast("double") * y.cast("double")).cast(_DEC))
    return _dec_to_double(_dec_sum(prods))


def norm(a: Column) -> Column:
    """Euclidean norm with exact-decimal sum of squares, as double."""
    sq = F.transform(a, lambda x: (x.cast("double") * x.cast("double")).cast(_DEC))
    return F.sqrt(_dec_to_double(_dec_sum(sq)))


# ---------------------------------------------------------------------------
# DuckDB twins (oracle SQL fragments) for the QUANTIZED kernel.
# `{a}`/`{b}` are list expressions.

def oracle_dot(a: str, b: str) -> str:
    # decimal(9,7) * decimal(9,7) -> decimal(18,14) products, exact
    # decimal sum, string-parsed to double (correctly rounded — equal to
    # the engine's float64(int)/1e14 IEEE division).
    return (
        f"cast(cast(list_sum(list_transform(list_zip({a}, {b}), "
        f"p -> cast(cast(p[1] AS double) AS decimal(9,7)) "
        f"* cast(cast(p[2] AS double) AS decimal(9,7)))) "
        f"AS varchar) AS double)"
    )


def oracle_norm(a: str) -> str:
    return f"sqrt({oracle_dot(a, a)})"


def oracle_cosine(a: str, b: str) -> str:
    return f"round({oracle_dot(a, b)} / ({oracle_norm(a)} * {oracle_norm(b)}), 9)"


def oracle_cosine_unrounded(a: str, b: str) -> str:
    """The quantized cosine WITHOUT the final 9dp round — bit-identical
    to the numpy kernels' exact Gram-matrix doubles, so ORDERING
    comparisons (argmax/rank) agree across engines with no rounding
    step. Shared by the k-means assignment twins and the kNN-join
    oracle."""
    return f"({oracle_dot(a, b)} / ({oracle_norm(a)} * {oracle_norm(b)}))"
