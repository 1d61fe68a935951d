"""As-of (point-in-time) join without a native Spark primitive.

Spark SQL has no ASOF JOIN, and a naive range join degenerates to a
broadcast-nested-loop. This implementation uses the union + window
construction: tag both sides, union them, sort once per key, and carry
the latest right-side values forward onto the probes with
``last(..., ignorenulls=True)``. Cost = one shuffle on the key + one
sort — the same as a sort-merge join, with no row explosion, no skew
amplification beyond the key's own cardinality, and it scales to any
number of right rows per key (unlike ``pd.merge_asof`` inside
``applyInPandas``, which needs the whole key group in one executor's
memory).
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: Sequence[str],
    left_ts: str,
    right_ts: str,
    value_cols: Sequence[str],
    allow_exact_matches: bool = True,
    suffix: str = "_asof",
    direction: str = "backward",
    tolerance_seconds: Optional[float] = None,
) -> DataFrame:
    """For each left row, attach the ``value_cols`` of the matching right
    row within the same ``on`` key:

    * ``backward`` (default): latest right row with ``right_ts <=
      left_ts`` (``<`` when ``allow_exact_matches=False``);
    * ``forward``: earliest right row with ``right_ts >= left_ts``;
    * ``nearest``: whichever of the two is closer in time — ties prefer
      the backward row (documented tie policy; matches the union+window
      construction deterministically). With ``allow_exact_matches=False``
      equal-timestamp reference rows are excluded from BOTH candidate
      sides (pandas ``merge_asof`` parity), via range frames that end/
      start one microsecond away from the probe.

    ``tolerance_seconds`` (pandas ``merge_asof`` parity): a match whose
    time distance exceeds the tolerance yields null instead.

    All directions cost ONE shuffle + sort (the union+window trick); the
    nearest direction evaluates both fills inside the same window pass.
    Returns all left columns plus ``<value>_asof`` columns (null when no
    matching right row exists — caller decides the fill policy).
    """
    if direction not in ("backward", "forward", "nearest"):
        raise ValueError("direction must be 'backward', 'forward' or 'nearest'")
    on = list(on)
    value_cols = list(value_cols)

    # probe side keeps all of its columns packed in a struct so arbitrary
    # schemas survive the union untouched
    left_packed = left.select(
        *[F.col(c).alias(f"__k_{c}") for c in on],
        F.col(left_ts).alias("__ts"),
        F.lit(1).alias("__is_probe"),
        F.struct(*left.columns).alias("__row"),
        *[F.lit(None).cast(right.schema[c].dataType).alias(f"__v_{c}") for c in value_cols],
    )
    right_packed = right.select(
        *[F.col(c).alias(f"__k_{c}") for c in on],
        F.col(right_ts).alias("__ts"),
        F.lit(0).alias("__is_probe"),
        F.lit(None).cast(left_packed.schema["__row"].dataType).alias("__row"),
        *[F.col(c).alias(f"__v_{c}") for c in value_cols],
    )

    unioned = left_packed.unionByName(right_packed)
    need_back = direction in ("backward", "nearest")
    need_fwd = direction in ("forward", "nearest")
    if direction == "nearest" and not allow_exact_matches:
        # Both fills share one sort, so no row-frame tie order can exclude
        # equal-ts refs from BOTH sides at once (they always land inside
        # one of the two frames). Range frames over a numeric timestamp
        # exclude every equal-ts row structurally: the backward frame ends
        # 1 µs before the probe, the forward frame starts 1 µs after.
        unioned = unioned.withColumn(
            "__ts_num", F.unix_micros(F.col("__ts").cast("timestamp"))
        )
        base = Window.partitionBy(*[f"__k_{c}" for c in on]).orderBy("__ts_num")
        w_back = base.rangeBetween(Window.unboundedPreceding, -1)
        w_fwd = base.rangeBetween(1, Window.unboundedFollowing)
    else:
        # at equal timestamps: reference rows sort adjacent to probes so the
        # frame includes them iff exact matches are allowed
        tie_back = (
            F.col("__is_probe") if allow_exact_matches else (1 - F.col("__is_probe"))
        )
        # forward is the mirror image: refs AFTER probes when exact allowed
        tie_fwd = (
            (1 - F.col("__is_probe")) if allow_exact_matches else F.col("__is_probe")
        )
        order_tie = tie_back if direction == "backward" else tie_fwd
        base = Window.partitionBy(*[f"__k_{c}" for c in on]).orderBy(
            F.col("__ts"), order_tie
        )
        # nearest: both fills come from ONE sorted pass; probe rows carry
        # null values, so including the probe row itself is harmless
        w_back = base.rowsBetween(Window.unboundedPreceding, 0)
        w_fwd = base.rowsBetween(0, Window.unboundedFollowing)

    fill_cols = []
    for c in value_cols:
        if need_back:
            fill_cols.append(
                F.last(f"__v_{c}", ignorenulls=True).over(w_back).alias(f"__b_{c}")
            )
        if need_fwd:
            fill_cols.append(
                F.first(f"__v_{c}", ignorenulls=True).over(w_fwd).alias(f"__f_{c}")
            )
    ts_cols = []
    if direction == "nearest" or tolerance_seconds is not None:
        if need_back:
            ts_cols.append(
                F.last(
                    F.when(F.col("__is_probe") == 0, F.col("__ts")), ignorenulls=True
                ).over(w_back).alias("__b_ts")
            )
        if need_fwd:
            ts_cols.append(
                F.first(
                    F.when(F.col("__is_probe") == 0, F.col("__ts")), ignorenulls=True
                ).over(w_fwd).alias("__f_ts")
            )
    filled = unioned.select("__is_probe", "__row", F.col("__ts"), *fill_cols, *ts_cols)
    probes = filled.where(F.col("__is_probe") == 1)

    def _dist(ts_col: str) -> "F.Column":
        d = F.col("__ts").cast("timestamp").cast("double") - F.col(
            ts_col
        ).cast("timestamp").cast("double")
        return F.abs(d)

    def _tol_guard(expr, ts_col: str):
        if tolerance_seconds is None:
            return expr
        return F.when(_dist(ts_col) <= float(tolerance_seconds), expr)

    if direction == "backward":
        out_vals = [
            _tol_guard(F.col(f"__b_{c}"), "__b_ts").alias(f"{c}{suffix}")
            for c in value_cols
        ]
    elif direction == "forward":
        out_vals = [
            _tol_guard(F.col(f"__f_{c}"), "__f_ts").alias(f"{c}{suffix}")
            for c in value_cols
        ]
    else:
        bd = _dist("__b_ts")
        fd = _dist("__f_ts")
        use_back = F.col("__f_ts").isNull() | (
            F.col("__b_ts").isNotNull() & (bd <= fd)
        )
        out_vals = [
            F.when(use_back, _tol_guard(F.col(f"__b_{c}"), "__b_ts"))
            .otherwise(_tol_guard(F.col(f"__f_{c}"), "__f_ts"))
            .alias(f"{c}{suffix}")
            for c in value_cols
        ]
    return probes.select(
        *[F.col(f"__row.{c}").alias(c) for c in left.columns],
        *out_vals,
    )
