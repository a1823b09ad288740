"""As-of (time-travel) join — a custom operator Spark's builtins lack.

Semantics (DuckDB/kdb ASOF JOIN, RFC: for every left row, the single
right row with the greatest right.ts <= left.ts within the key group;
no match -> nulls). The naive formulation is a range self-join
(quadratic in dense groups); the scalable plan used here is the
union + ordered carry-forward trick:

  tag both sides -> unionByName -> one window per key ordered by
  (ts, side, seq) with right rows sorting BEFORE left rows at equal ts
  (<= semantics) -> last(value, ignorenulls) carries the latest right
  value forward -> keep left rows.

Cost: ONE shuffle on the key (the window), no join at all — survives
any key skew a range join would die on, and AQE-coalesces like any
window. Ties among right rows at the same ts are broken by the
caller's ``right_seq`` column (max wins), so output is deterministic
and oracle-able.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    ts: str,
    value_cols: list[str],
    right_seq: str,
) -> DataFrame:
    """left + {value_col}_asof columns from the as-of right row.

    left:  key, ts, ... (all columns preserved)
    right: key, ts, value_cols, right_seq — among right rows sharing
           (key, ts), the max ``right_seq`` wins. A unique column keeps
           the result a function of row content at any partition
           layout (the repo's total-order doctrine).
    """
    lcols = left.columns
    r = right.select(
        F.col(key),
        F.col(ts),
        F.lit(0).alias("_side"),  # right sorts first at equal ts (<=)
        F.col(right_seq).cast("long").alias("_seq"),
        *[F.col(c).alias(f"{c}_asof") for c in value_cols],
    )
    l = left.select(
        "*",
        F.lit(1).alias("_side"),
        F.lit(0).cast("long").alias("_seq"),
        *[F.lit(None).cast(r.schema[f"{c}_asof"].dataType).alias(f"{c}_asof")
          for c in value_cols],
    )
    both = l.unionByName(r, allowMissingColumns=True)
    w = (
        Window.partitionBy(key)
        .orderBy(F.col(ts).asc(), F.col("_side").asc(), F.col("_seq").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = both.select(
        "*",
        *[
            F.last(f"{c}_asof", ignorenulls=True)
            .over(w)
            .alias(f"_carry_{c}")
            for c in value_cols
        ],
    )
    out = carried.where(F.col("_side") == 1).select(
        *lcols,
        *[F.col(f"_carry_{c}").alias(f"{c}_asof") for c in value_cols],
    )
    return out
