"""Temporal joins Spark lacks as built-ins: as-of join and
interval/range join — expressed as compositions of existing DataFrame
ops (union + window; bin + equi-join), never a theta-join.

Not present in the reference (pdfwf has no temporal relations); these
are the standard event-table companions of a transcript/event
pipeline (windowed aggs live in streaming/windows.py; this module is
their batch join-side).

Scale shapes:

- `asof_join`: the naive formulation is a per-row "max right.ts <=
  left.ts" correlated lookup — a range theta-join Spark executes as
  BroadcastNestedLoop/cartesian. Instead both sides are UNIONed with
  a side tag and ONE window per key (ordered by (ts, side)) carries
  the latest right payload forward with last(..., ignorenulls=True):
  one hash shuffle on the key, linear scan per key partition, no pair
  blowup — the classic distributed as-of shape (pandas merge_asof
  semantics, Spark execution).
- `range_join_binned`: points-in-interval via time BINNING — each
  interval explodes into the bins it covers, points compute one bin,
  and the join is a plain equi-join on (keys..., bin) + an exact
  range filter. Work is O(points + intervals * bins_per_interval +
  true matches); bin_width trades explode factor vs per-bin candidate
  count. A validate guard refuses intervals whose explode factor
  exceeds max_bins_per_interval (one cheap aggregate) so a degenerate
  open-ended interval can never cartesian the corpus.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _micros(c: Column) -> Column:
    """Timestamps compare as epoch micros (integer, engine-portable).
    Parquet NTZ timestamps cast through TIMESTAMP first (wall-clock
    identity under the repo-standard UTC session timezone, matching
    DuckDB's epoch_us on the same column)."""
    return F.unix_micros(c.cast("timestamp"))


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key_cols: list[str],
    ts_col: str = "ts",
    right_ts_col: str | None = None,
    direction: str = "backward",
    tolerance_s: float | None = None,
    suffix: str = "_r",
) -> DataFrame:
    """For every left row, attach the single right row that is nearest
    in time per key: the latest right.ts <= left.ts (backward, the
    merge_asof default) or the earliest right.ts >= left.ts (forward).
    Equal timestamps match. Left rows with no candidate keep NULL
    right columns (left-outer semantics). `tolerance_s` additionally
    NULLs matches farther than the tolerance.

    Right-side payload columns (everything except keys + ts) come back
    suffixed. If several right rows share (key, ts), the one with the
    greatest last payload-struct order wins — pre-aggregate the right
    side to one row per (key, ts) when that tie must be meaningful.

    One shuffle total (the window's hash partitioning on key_cols);
    ordering within a key partition is (ts, side) with right rows
    sorting BEFORE left at equal ts so equal-ts matches are inclusive.
    """
    if direction not in ("backward", "forward"):
        raise ValueError(f"direction must be backward|forward, got {direction!r}")
    rts = right_ts_col or ts_col
    payload_cols = [c for c in right.columns if c not in (*key_cols, rts)]
    if not payload_cols:
        raise ValueError("right side has no payload columns to attach")

    # one struct column carries the whole right payload through the
    # window (last() over N columns would be N window functions)
    r_tagged = right.select(
        *key_cols,
        _micros(F.col(rts)).alias("_t"),
        F.lit(0).alias("_side"),
        F.struct(
            _micros(F.col(rts)).alias("_rt"),
            *[F.col(c) for c in payload_cols],
        ).alias("_pay"),
    )
    l_tagged = left.select(
        *key_cols,
        _micros(F.col(ts_col)).alias("_t"),
        F.lit(1).alias("_side"),
        F.lit(None).cast(r_tagged.schema["_pay"].dataType).alias("_pay"),
        F.struct(*[F.col(c) for c in left.columns]).alias("_lrow"),
    )
    r_tagged = r_tagged.withColumn(
        "_lrow", F.lit(None).cast(l_tagged.schema["_lrow"].dataType)
    )
    unioned = r_tagged.select(l_tagged.columns).unionByName(l_tagged)

    if direction == "backward":
        w = (
            Window.partitionBy(*key_cols)
            .orderBy(F.col("_t").asc(), F.col("_side").asc(), F.col("_pay").asc())
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        matched = F.last("_pay", ignorenulls=True).over(w)
        dist_ok = (
            None
            if tolerance_s is None
            else (F.col("_t") - F.col("_m._rt"))
            <= F.lit(int(tolerance_s * 1_000_000))
        )
    else:
        # forward: earliest right at or after the left ts — the same
        # scan run from the other end (left sorts BEFORE right at
        # equal _t would EXCLUDE equal ts, so side still orders right
        # first within the reversed direction)
        w = (
            Window.partitionBy(*key_cols)
            .orderBy(F.col("_t").desc(), F.col("_side").asc(), F.col("_pay").asc())
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        matched = F.last("_pay", ignorenulls=True).over(w)
        dist_ok = (
            None
            if tolerance_s is None
            else (F.col("_m._rt") - F.col("_t"))
            <= F.lit(int(tolerance_s * 1_000_000))
        )

    out = (
        unioned.withColumn("_m", matched)
        .filter(F.col("_side") == 1)
        .withColumn(
            "_m",
            F.col("_m") if dist_ok is None else F.when(dist_ok, F.col("_m")),
        )
    )
    # the matched timestamp comes back as epoch MICROS (bigint): the
    # integer form every oracle/downstream distance computation wants
    return out.select(
        *[F.col("_lrow")[c].alias(c) for c in left.columns],
        F.col("_m._rt").alias(f"{rts}_us{suffix}"),
        *[F.col("_m")[c].alias(f"{c}{suffix}") for c in payload_cols],
    )


def range_join_binned(
    points: DataFrame,
    intervals: DataFrame,
    key_cols: list[str],
    ts_col: str = "ts",
    start_col: str = "start_ts",
    end_col: str = "end_ts",
    bin_width_s: int = 300,
    max_bins_per_interval: int = 64,
    validate: bool = True,
) -> DataFrame:
    """All (point, interval) matches with point.ts in [start, end] per
    key — executed as an EQUI-join on (keys..., time bin), never a
    range theta-join: intervals explode into the bins they cover
    (sequence over integer bin ids), points compute one bin, and the
    exact [start, end] filter runs after the hash join.

    bin_width_s trades explode factor (long intervals -> more bins)
    against per-bin candidate count (wide bins -> more false
    candidates for the post-filter). validate=True refuses inputs
    whose widest interval would explode into more than
    `max_bins_per_interval` bins (one aggregate over the interval
    side, which is the small side by construction).

    Output: all point columns + all interval columns.
    """
    if bin_width_s <= 0:
        raise ValueError(f"bin_width_s must be positive, got {bin_width_s}")
    width_us = bin_width_s * 1_000_000
    s_us, e_us = _micros(F.col(start_col)), _micros(F.col(end_col))
    if validate:
        worst = intervals.agg(
            F.max(F.floor(e_us / width_us) - F.floor(s_us / width_us) + 1).alias("b")
        ).collect()[0]["b"]
        if worst is not None and worst > max_bins_per_interval:
            raise ValueError(
                f"widest interval covers {worst} bins of {bin_width_s}s "
                f"(cap {max_bins_per_interval}); raise bin_width_s or split "
                "the interval upstream"
            )
    iv = intervals.withColumn(
        "_bin",
        F.explode(F.sequence(F.floor(s_us / width_us), F.floor(e_us / width_us))),
    )
    pt = points.withColumn("_bin", F.floor(_micros(F.col(ts_col)) / width_us))
    cond = [pt[k] == iv[k] for k in key_cols] + [pt["_bin"] == iv["_bin"]]
    joined = pt.join(iv, cond).filter(
        (_micros(pt[ts_col]) >= _micros(iv[start_col]))
        & (_micros(pt[ts_col]) <= _micros(iv[end_col]))
    )
    return joined.select(
        *[pt[c] for c in points.columns],
        *[iv[c] for c in intervals.columns if c not in key_cols],
    )
