"""Quantile sketches and scale-path ordered statistics.

The reference's timer notebooks summarize distributions with exact
percentiles over driver-collected CSVs (examples/strong_scaling.ipynb
cell 0 quantile calls); on a 10^12-row corpus "sort it all" is not an
algorithm, so this module carries two scale paths:

1. histogram_quantiles — EXACT interpolated quantiles with no global
   sort: one map-side-combined groupBy over the (small-domain) value
   column + a cumulative-rank window over the *distinct values only*.
   Shuffle volume is O(distinct values), not O(rows). For integer
   stats like tokens-per-doc (domain ~1e4) this is strictly better
   than `percentile` and still bit-for-bit oracle-able.
2. hash_sample_quantiles — deterministic md5-bucket sampling, then
   exact quantiles over the sample. Partitioning-invariant (the sample
   predicate depends only on the row key), merge-free, and the
   identical predicate is valid DuckDB SQL, so it is oracle-able too.

It also holds exact two-pass heavy hitters (Misra-Gries candidates,
then an exact recount) and HyperLogLog register states.
"""

from __future__ import annotations

import math
from typing import Callable, Iterator, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _check_qs(qs: Sequence[float]) -> None:
    if not qs or any(not (0.0 <= q <= 1.0) for q in qs):
        raise ValueError(f"quantiles must be within [0,1], got {qs!r}")


def _milli_label(q: float) -> str:
    return f"p{int(round(q * 100))}_milli"


def histogram_quantiles(
    df: DataFrame, value_col: str, qs: Sequence[float]
) -> DataFrame:
    """Exact type-7 (linear-interpolated) quantiles via value histogram.

    Plan shape: groupBy(value).count() — partial aggregation makes the
    shuffle O(distinct values) — then one ordered window over the
    distinct-value table for cumulative ranks, then each requested q
    picks its two bracketing order statistics (x[floor(h)], x[floor(h)+1],
    h = (n-1)q; x[k] = min value whose cumulative count exceeds k) with
    conditional aggregates and interpolates. No global row sort
    anywhere; the only single-reducer step touches the distinct-value
    table (bounded by the value domain, e.g. ~1e4 for tokens-per-doc),
    which survives a 100× row-count scale-up unchanged.

    Two Spark jobs (n first, then the rank pass) — both O(distinct).
    Returns one row: p<q>_milli (value × 1000, long) per quantile +
    n_rows; matches DuckDB quantile_cont bit-for-bit on integer
    columns.
    """
    _check_qs(qs)
    from pyspark.sql import Window

    hist = (
        df.groupBy(F.col(value_col).alias("v"))
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=False)
    )
    n = hist.agg(F.sum("c")).collect()[0][0] or 0
    if n == 0:
        schema = T.StructType(
            [T.StructField(_milli_label(q), T.LongType(), True) for q in qs]
            + [T.StructField("n_rows", T.LongType(), False)]
        )
        return df.sparkSession.createDataFrame(
            [tuple([None] * len(qs) + [0])], schema
        )
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    cum = hist.select("v", F.sum("c").over(w).alias("cum"))
    sel = []
    for q in qs:
        h = (n - 1) * q
        k_lo = int(math.floor(h))
        frac = h - math.floor(h)
        lo = F.min(F.when(F.col("cum") > k_lo, F.col("v"))).cast("double")
        hi = F.min(F.when(F.col("cum") > k_lo + 1, F.col("v"))).cast("double")
        val = lo + F.lit(frac) * (F.coalesce(hi, lo) - lo)
        sel.append(F.round(1000 * val).cast("long").alias(_milli_label(q)))
    return cum.agg(*sel, F.lit(n).cast("long").alias("n_rows"))


def grouped_histogram_quantiles(
    df: DataFrame, group_cols: Sequence[str], value_col: str, qs: Sequence[float]
) -> DataFrame:
    """histogram_quantiles PER GROUP (per-domain length percentiles,
    per-language token budgets — the grouped form curation reports
    actually need), with NO driver-side count: the global version
    collects n once, which cannot work per group, so here n is a
    whole-partition window sum and every interpolation input
    (k_lo = floor((n-1)q), frac) is a per-row column constant within
    its group.

    Plan shape: groupBy(group, value).count() -> two windows over the
    (group, distinct-value) table (whole-partition n + running
    cumulative count; both share the group hash partitioning) -> one
    conditional-aggregate pass per group. Shuffle is O(groups x
    distinct-values-per-group); no global order anywhere (the window
    sorts within a group's distinct values only). Same type-7
    interpolation as histogram_quantiles — matches DuckDB's grouped
    quantile_cont bit-for-bit on integer columns.

    Output: one row per group: group_cols, p<q>_milli..., n_rows.
    Empty input -> empty output (there are no groups to report).
    """
    _check_qs(qs)
    if not group_cols:
        raise ValueError("group_cols must be non-empty; use "
                         "histogram_quantiles for the global form")
    from pyspark.sql import Window

    gcols = [F.col(c) for c in group_cols]
    hist = df.groupBy(*gcols, F.col(value_col).alias("v")).agg(
        F.count(F.lit(1)).alias("c")
    )
    wg = Window.partitionBy(*group_cols)
    wcum = wg.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    e = hist.withColumn("n", F.sum("c").over(wg)).withColumn(
        "cum", F.sum("c").over(wcum)
    )
    aggs = []
    finals = [*group_cols]
    for i, q in enumerate(qs):
        h = (F.col("n") - 1) * F.lit(float(q))
        k_lo = F.floor(h)
        frac = h - k_lo
        aggs += [
            F.min(F.when(F.col("cum") > k_lo, F.col("v"))).cast("double")
            .alias(f"_lo{i}"),
            F.min(F.when(F.col("cum") > k_lo + 1, F.col("v"))).cast("double")
            .alias(f"_hi{i}"),
            F.max(frac).alias(f"_fr{i}"),  # constant within the group
        ]
        val = F.col(f"_lo{i}") + F.col(f"_fr{i}") * (
            F.coalesce(F.col(f"_hi{i}"), F.col(f"_lo{i}")) - F.col(f"_lo{i}")
        )
        finals.append(F.round(1000 * val).cast("long").alias(_milli_label(q)))
    aggs.append(F.max("n").cast("long").alias("n_rows"))
    finals.append(F.col("n_rows"))
    return e.groupBy(*gcols).agg(*aggs).select(*finals)


def hash_sample_quantiles(
    df: DataFrame,
    value_col: str,
    key_col: str,
    qs: Sequence[float],
    sample_hex_digits: int = 2,
    sample_keep_below: int = 64,
) -> DataFrame:
    """Quantiles over a deterministic md5-bucket sample of the rows.

    The sample predicate — first `sample_hex_digits` hex chars of
    md5(key) parsed as an int, keep when < `sample_keep_below` —
    depends only on the row key: partitioning-invariant, replayable,
    and expressible verbatim in DuckDB, so the whole estimator is
    oracle-able despite being a sketch. Keep fraction = keep_below /
    16^digits (default 64/256 = 25%). At 100 TB you shrink the
    fraction (e.g. 16/65536 ≈ 0.02%); the exact percentile then runs
    over a bounded sample while rank error decays as 1/sqrt(sample).
    """
    _check_qs(qs)
    bucket = F.conv(
        F.substring(F.md5(F.col(key_col).cast("string")), 1, sample_hex_digits),
        16,
        10,
    ).cast("long")
    flagged = df.select(
        F.col(value_col).alias("v"),
        (bucket < sample_keep_below).alias("keep"),
    )
    sel = [
        F.round(1000 * F.expr(f"percentile(if(keep, v, null), {q!r})"))
        .cast("long")
        .alias(_milli_label(q))
        for q in qs
    ]
    return flagged.agg(
        *sel,
        F.sum(F.col("keep").cast("long")).alias("n_sampled"),
        F.count(F.lit(1)).alias("n_rows"),
    )


# ---------------------------------------------------------------------------
# Heavy hitters: two-pass exact Misra-Gries
# ---------------------------------------------------------------------------


def _mg_partials(value_col: str, capacity: int) -> Callable:
    """Per-partition batched Misra-Gries summary, emitted as candidate
    values only.

    Classic MG decrements (capacity+1) counters by 1 per step; the
    batched one-step variant subtracts t = the (len-capacity)-th
    smallest counter from ALL counters whenever the table exceeds
    capacity, dropping the <= t ones - equivalent to t classic rounds
    at once. Each one-step subtract removes >= t*(capacity+1) mass, so
    the total undercount of any value within a partition is bounded by
    n_p / (capacity + 1). A value can only be absent from the summary
    if its full local count was consumed by decrements, so any value
    with local count > n_p/(capacity+1) is guaranteed to survive.
    Nulls are ignored (they cannot equi-join downstream anyway).
    """

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        counters: dict = {}
        for pdf in batches:
            for v, c in pdf[value_col].value_counts().items():
                counters[v] = counters.get(v, 0) + int(c)
            if len(counters) > capacity:
                counts = np.fromiter(
                    counters.values(), dtype=np.int64, count=len(counters)
                )
                m = len(counts) - capacity  # m-th smallest zeroes >= m
                t = int(np.partition(counts, m - 1)[m - 1])
                counters = {v: c - t for v, c in counters.items() if c > t}
        if counters:
            yield pd.DataFrame({value_col: list(counters.keys())})

    return fn


def heavy_hitters(
    df: DataFrame,
    value_col: str,
    min_count: int,
    capacity: int | None = None,
) -> DataFrame:
    """EXACT heavy hitters: every value of `value_col` occurring at
    least `min_count` times, with its exact count - (value_col, n).

    The naive plan (groupBy(value).count() then HAVING) shuffles one
    row per DISTINCT value; at web scale the distinct-token domain is
    billions while the answer is tiny. Two passes bound the shuffle:

    1. mapInPandas Misra-Gries per input partition (capacity k) ->
       candidate values, <= partitions * k rows total. Union of
       partition summaries is a superset of the merged-MG support, so
       any value with GLOBAL count > N/(k+1) appears in at least one
       summary (per-partition undercounts sum to <= N/(k+1)).
    2. Exact confirm: broadcast the candidate set, left-semi join the
       input (only candidate rows survive the scan), one map-side-
       combined count, filter >= min_count. Deterministic and exact,
       so the whole operator oracles as GROUP BY ... HAVING.

    capacity=None auto-sizes k = ceil(N/min_count) from one count()
    (metadata-cheap on parquet), which makes pass 1 provably lossless
    for the requested threshold. An explicit smaller capacity is an
    approximate mode - caller owns the recall guarantee (documented,
    not oracled).

    Reference analog: the timer notebooks' pandas value_counts over
    collected CSVs (examples/strong_scaling.ipynb cell 0) - a driver-
    side plan that cannot exist at 10^12 rows.
    """
    if min_count <= 0:
        raise ValueError(f"min_count must be positive, got {min_count}")
    if capacity is None:
        n_rows = df.count()
        capacity = max(1, -(-n_rows // min_count))
    vals = df.select(value_col)
    schema = T.StructType([vals.schema[value_col]])
    candidates = vals.mapInPandas(
        _mg_partials(value_col, capacity), schema=schema
    ).distinct()
    return (
        vals.join(F.broadcast(candidates), value_col, "left_semi")
        .groupBy(value_col)
        .agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") >= min_count)
    )


#: md5 yields 60 usable bits (15 hex chars — the widest slice that
#: stays positive in a signed 64-bit cast on BOTH engines); 6 go to
#: the register index, 54 to the rank pattern.
HLL_HASH_BITS = 60


def hll_register_state(
    df: DataFrame,
    key_col: str,
    n_registers: int = 64,
    salt: str = "hll",
    group_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Deterministic HyperLogLog REGISTER STATE for the distinct count
    of `key_col`: (register, max_rho) with one row per non-empty
    register. This is the mergeable scale object — states from any
    partitioning, shard, or day union together with max() — and it is
    exactly reproducible (md5-based, no engine-private hashing), so
    unlike approx_count_distinct it hash-oracles cross-engine.

    Plan: scan-side integer codegen (md5 -> 60-bit int -> register /
    bit-length rho) then ONE map-side-combined max per register —
    shuffle volume is n_registers rows per map task, independent of
    row count. Derive the scalar estimate driver-side with
    hll_estimate() (the float harmonic mean lives OUTSIDE the
    relational plan on n_registers rows).

    group_cols: per-group sketches (distinct users per day/domain/
    split — the everyday shape). Output gains the group columns;
    shuffle is n_registers rows per (map task, group).
    """
    if n_registers < 2 or n_registers & (n_registers - 1):
        raise ValueError(f"n_registers must be a power of two >= 2, got {n_registers}")
    reg_bits = n_registers.bit_length() - 1
    w_bits = HLL_HASH_BITS - reg_bits
    u = F.conv(
        F.substring(F.md5(F.concat(F.lit(salt + "#"), F.col(key_col).cast("string"))), 1, 15),
        16, 10,
    ).cast("long")
    tagged = df.select(
        *[F.col(c) for c in group_cols],
        F.pmod(u, F.lit(n_registers)).cast("int").alias("register"),
        F.floor(u / F.lit(n_registers)).cast("long").alias("_w"),
    )
    # rho = leading zeros of the w_bits-wide pattern + 1; bit_length
    # via base-2 string length (integer-exact on both engines)
    rho = F.when(F.col("_w") == 0, F.lit(w_bits + 1)).otherwise(
        F.lit(w_bits + 1) - F.length(F.conv(F.col("_w").cast("string"), 10, 2))
    )
    return tagged.groupBy(*group_cols, "register").agg(
        F.max(rho).cast("int").alias("max_rho")
    )


def hll_estimate(state_rows, n_registers: int = 64) -> int:
    """Driver-side HLL estimate from hll_register_state() rows
    ((register, max_rho) tuples or Rows). Standard bias-corrected
    harmonic mean with the small-range linear-counting correction
    (Flajolet et al. 2007) — float math confined to n_registers
    values."""
    m = n_registers
    rhos = {int(r[0]): int(r[1]) for r in state_rows}
    z = sum(2.0 ** -rhos.get(i, 0) for i in range(m))
    alpha = 0.7213 / (1 + 1.079 / m) if m >= 128 else {16: 0.673, 32: 0.697, 64: 0.709}.get(m, 0.7213 / (1 + 1.079 / m))
    est = alpha * m * m / z
    zeros = m - len(rhos)
    if est <= 2.5 * m and zeros:
        est = m * math.log(m / zeros)
    return int(round(est))
