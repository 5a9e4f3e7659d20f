"""Stable turn ordering (SURVEY §2.5 W1).

The reference's reading-order lexsort (tensor_utils.py:1681-1743,
applied 661-669) made *blocks* totally ordered; the engine-level
analog required by the north rule is a total order over *turns*:
row_number() over (partition by conv_id order by turn_idx, ts, ...).

(turn_idx, ts) ties exist in real transcripts (and in our fixtures by
construction), so the sort key is extended with (role, clean_text
prefix) to a total order — any tie beyond that is between fully
identical rows, where order is immaterial. The reference's
nondeterministic JSONL shard order (UUID filenames, base.py:19-24) is
exactly what this fixes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

ORDER_COLS = ("turn_idx", "ts", "role")


def with_turn_rank(df: DataFrame) -> DataFrame:
    """Attach turn_rank: the stable 1-based position within the conv.

    Applied AFTER extraction so the window shuffle moves the smaller
    post-extraction rows, not raw payloads. The final tiebreak is
    `tie_key` (md5 of the raw text/tool payload, emitted by the
    extraction UDF) — a pure function of the input row that the golden
    generator recomputes identically in plain Python, so any
    (turn_idx, ts, role) tie still has one total order on both sides.
    Rows tied on the full key are byte-identical; their mutual order
    is immaterial.
    """
    keys = [F.col(c) for c in ORDER_COLS]
    if "tie_key" in df.columns:
        keys.append(F.col("tie_key"))
    elif "text" in df.columns:
        keys += [F.col("text"), F.col("tool")]
    w = Window.partitionBy("conv_id").orderBy(*keys)
    return df.withColumn("turn_rank", F.row_number().over(w))
