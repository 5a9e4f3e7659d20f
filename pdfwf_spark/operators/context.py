"""Conversation-context assembly: turn rows -> training examples.

The north-rule input is a turn table (conv_id, turn_idx, role, text,
tool, ts); what a dataloader wants is per-turn context windows,
(prompt, response) pairs, or whole rendered conversations. The
reference's analog is its per-document page-join/serialization step
(pdfwf/convert.py:249-257 joins parsed pages back into one document
record); here the "document" is a conversation and the join key is
the stable turn ordering (SURVEY §2.5 W1/W2).

All three operators are pure DataFrame compositions — window +
collect_list/concat_ws, groupBy + array_sort ordered concat — no
Python UDFs, fully inside whole-stage codegen.

Scale shapes (10^12 turns, mega-conversations):

- `assemble_context`: ONE hash shuffle on conv_id, one ordered window
  per conversation, frame bounded at k rows so state is O(k * entry)
  per row. Mega-conversations skew a conv_id-partitioned window (one
  task owns the whole conversation); `chunk_size` splits each
  conversation into turn-ranges processed independently, with the
  last k turns of each chunk DUPLICATED into the next chunk as
  context-only rows — the rolling frame then never needs cross-chunk
  state and the result is row-identical to the unchunked window.
  Exactness precondition: every non-final chunk holds >= k turns
  (guaranteed by dense per-conversation turn_idx, the shape
  ordering.with_turn_rank emits; `validate=True` asserts it with
  one cheap (conv, chunk) count aggregate when turn_idx gaps are
  possible).
- `prompt_response_pairs`: segment id = running count of response
  turns (window, frame-bounded), then ONE groupBy on the finer
  (conv_id, segment) key — skew strictly decreases vs conv_id.
- `render_conversations`: A1-shape ordered concat per conversation;
  per-group memory is the rendered conversation (callers truncate
  with max_chars_per_turn, applied BEFORE the shuffle so oversized
  turns never travel whole).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from pdfwf_spark.operators.dedup import DEFAULT_MAX_BUCKET, _capped_self_join

DEFAULT_ENTRY_SEP = "\n"
DEFAULT_ROLE_SEP = ": "


def _entry(
    role_col: str, text_col: str, max_chars_per_turn: int | None
) -> Column:
    """One rendered turn: 'role: text' (text optionally truncated —
    truncation happens scan-side, before any shuffle)."""
    text = F.col(text_col)
    if max_chars_per_turn is not None:
        text = F.substring(text, 1, max_chars_per_turn)
    return F.concat(F.col(role_col), F.lit(DEFAULT_ROLE_SEP), text)


def assemble_context(
    df: DataFrame,
    k: int,
    conv_col: str = "conv_id",
    order_cols: tuple[str, ...] = ("turn_idx", "ts"),
    role_col: str = "role",
    text_col: str = "text",
    sep: str = DEFAULT_ENTRY_SEP,
    max_chars_per_turn: int | None = None,
    chunk_size: int | None = None,
    validate: bool = False,
) -> DataFrame:
    """For every turn, the previous k turns of its conversation
    rendered as one `context` string (empty for a conversation's
    opening turn). Output: input columns + `context`.

    chunk_size: split each conversation into [turn_idx // chunk_size]
    ranges and run the window per (conv, chunk) — the skew-safe path
    for mega-conversations. Requires chunk_size >= k; see module
    docstring for the exactness precondition.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    entry = _entry(role_col, text_col, max_chars_per_turn)
    order = [F.col(c) for c in order_cols if c in df.columns]

    if chunk_size is None:
        w = Window.partitionBy(conv_col).orderBy(*order)
        ctx = F.collect_list(entry).over(w.rowsBetween(-k, -1))
        return df.withColumn("context", F.concat_ws(sep, ctx))

    if chunk_size < k:
        raise ValueError(
            f"chunk_size ({chunk_size}) must be >= k ({k}): the next "
            "chunk's frame needs the last k turns of this one"
        )
    order_col0 = order_cols[0]
    chunk = F.floor(F.col(order_col0) / F.lit(chunk_size))
    body = df.withColumn("_chunk", chunk).withColumn("_is_ctx", F.lit(False))

    if validate:
        # one count-only aggregate: every chunk that is not its
        # conversation's last must carry >= k turns, else the dup
        # rows cannot cover the next chunk's frame.
        sizes = body.groupBy(conv_col, "_chunk").agg(
            F.count(F.lit(1)).alias("_n")
        )
        w_last = Window.partitionBy(conv_col)
        bad = (
            sizes.withColumn("_maxc", F.max("_chunk").over(w_last))
            .filter((F.col("_chunk") < F.col("_maxc")) & (F.col("_n") < k))
            .limit(1)
            .count()
        )
        if bad:
            raise ValueError(
                "assemble_context(chunk_size=...): a non-final chunk "
                f"holds fewer than k={k} turns — turn_idx is too "
                "sparse for chunked assembly; densify with "
                "ordering.with_turn_rank first or raise chunk_size"
            )

    # last k rows of each chunk, re-tagged into the following chunk
    # as context-only rows (they render into frames, never output).
    w_desc = Window.partitionBy(conv_col, "_chunk").orderBy(
        *[c.desc() for c in order]
    )
    tail = (
        body.withColumn("_rd", F.row_number().over(w_desc))
        .filter(F.col("_rd") <= k)
        .drop("_rd")
        .withColumn("_chunk", F.col("_chunk") + 1)
        .withColumn("_is_ctx", F.lit(True))
    )
    unioned = body.unionByName(tail)
    # ctx rows come from a lower turn_idx range than every native row
    # of their chunk, so plain order-by puts them first — the frame
    # over the union is row-identical to the global frame.
    w = Window.partitionBy(conv_col, "_chunk").orderBy(*order)
    ctx = F.collect_list(entry).over(w.rowsBetween(-k, -1))
    return (
        unioned.withColumn("context", F.concat_ws(sep, ctx))
        .filter(~F.col("_is_ctx"))
        .drop("_chunk", "_is_ctx")
    )


def prompt_response_pairs(
    df: DataFrame,
    response_role: str = "assistant",
    conv_col: str = "conv_id",
    order_cols: tuple[str, ...] = ("turn_idx", "ts"),
    role_col: str = "role",
    text_col: str = "text",
    sep: str = DEFAULT_ENTRY_SEP,
    max_chars_per_turn: int | None = None,
) -> DataFrame:
    """(prompt, response) training pairs: each `response_role` turn
    becomes one pair whose prompt is the ordered render of every turn
    since the previous response (any role mix — user text, tool
    output). Trailing turns with no following response are dropped.

    Output: (conv_id, pair_idx, response_turn_idx, prompt, response)
    where pair_idx numbers a conversation's pairs from 0.
    """
    order = [F.col(c) for c in order_cols if c in df.columns]
    is_resp = F.col(role_col) == response_role
    w = Window.partitionBy(conv_col).orderBy(*order)
    # segment = number of response turns STRICTLY before this row:
    # prompt turns share the segment of the response that follows them.
    seg = F.coalesce(
        F.sum(is_resp.cast("int")).over(
            w.rowsBetween(Window.unboundedPreceding, -1)
        ),
        F.lit(0),
    )
    entry = _entry(role_col, text_col, max_chars_per_turn)
    tagged = df.select(
        F.col(conv_col),
        seg.alias("pair_idx"),
        is_resp.alias("_is_resp"),
        *[F.col(c).alias(f"_o{i}") for i, c in enumerate(order_cols) if c in df.columns],
        F.when(~is_resp, entry).alias("_prompt_entry"),
        F.when(is_resp, F.col(text_col)).alias("_resp_text"),
        F.when(is_resp, F.col(order_cols[0])).alias("_resp_idx"),
    )
    n_order = len([c for c in order_cols if c in df.columns])
    ordered = F.array_sort(
        F.filter(
            F.collect_list(
                F.struct(
                    *[F.col(f"_o{i}") for i in range(n_order)],
                    F.col("_prompt_entry").alias("e"),
                )
            ),
            lambda s: s["e"].isNotNull(),
        )
    )
    out = tagged.groupBy(conv_col, "pair_idx").agg(
        F.concat_ws(sep, F.transform(ordered, lambda s: s["e"])).alias("prompt"),
        F.max("_resp_text").alias("response"),
        F.max("_resp_idx").alias("response_turn_idx"),
    )
    return out.filter(F.col("response").isNotNull()).select(
        conv_col, "pair_idx", "response_turn_idx", "prompt", "response"
    )


def render_conversations(
    df: DataFrame,
    conv_col: str = "conv_id",
    order_cols: tuple[str, ...] = ("turn_idx", "ts"),
    role_col: str = "role",
    text_col: str = "text",
    sep: str = DEFAULT_ENTRY_SEP,
    max_chars_per_turn: int | None = None,
) -> DataFrame:
    """Whole conversations rendered to one training document each:
    (conv_id, n_turns, n_chars, rendered). Ordered concat per
    conversation (A1 shape); truncate per turn BEFORE the shuffle via
    max_chars_per_turn so mega-turns never travel whole."""
    entry = _entry(role_col, text_col, max_chars_per_turn)
    order_present = [c for c in order_cols if c in df.columns]
    slim = df.select(
        F.col(conv_col),
        *[F.col(c) for c in order_present],
        entry.alias("_entry"),
    )
    ordered = F.array_sort(
        F.collect_list(
            F.struct(*[F.col(c) for c in order_present], F.col("_entry").alias("e"))
        )
    )
    rendered = F.concat_ws(sep, F.transform(ordered, lambda s: s["e"]))
    return slim.groupBy(conv_col).agg(
        F.count(F.lit(1)).cast("int").alias("n_turns"),
        rendered.alias("rendered"),
    ).withColumn("n_chars", F.length("rendered").cast("long"))


def collapse_repeated_turns(
    df: DataFrame,
    conv_col: str = "conv_id",
    order_cols: tuple[str, ...] = ("turn_idx", "ts"),
    role_col: str = "role",
    text_col: str = "text",
) -> DataFrame:
    """Drop turns that exactly repeat the previous turn's (role, text)
    — retry storms / double-sends. Keeps each run's FIRST turn; output
    is the input schema. One lag window per conversation, comparison
    on a 64-bit xxhash of (role, text) so the window state never
    carries full text twice."""
    order = [F.col(c) for c in order_cols if c in df.columns]
    w = Window.partitionBy(conv_col).orderBy(*order)
    sig = F.xxhash64(F.col(role_col), F.col(text_col))
    return (
        df.withColumn("_sig", sig)
        .withColumn("_prev", F.lag("_sig").over(w))
        .filter(F.col("_prev").isNull() | (F.col("_prev") != F.col("_sig")))
        .drop("_sig", "_prev")
    )


def detect_tool_loops(
    df: DataFrame,
    min_run: int = 3,
    conv_col: str = "conv_id",
    order_cols: tuple[str, ...] = ("turn_idx", "ts"),
    role_col: str = "role",
    text_col: str = "text",
) -> DataFrame:
    """Runs of >= min_run CONSECUTIVE turns with identical
    (role, text) — stuck agent/tool loops that poison training data.
    Gaps-and-islands: island id = running count of signature CHANGES
    (a frame-bounded window, no row_number subtraction), then one
    groupBy on the finer (conv, island) key. Output:
    (conv_id, role, run_start_idx, run_len)."""
    if min_run < 2:
        raise ValueError(f"min_run must be >= 2, got {min_run}")
    order = [F.col(c) for c in order_cols if c in df.columns]
    w = Window.partitionBy(conv_col).orderBy(*order)
    sig = F.xxhash64(F.col(role_col), F.col(text_col))
    changed = (
        F.lag("_sig").over(w).isNull()
        | (F.lag("_sig").over(w) != F.col("_sig"))
    ).cast("int")
    island = F.sum("_chg").over(
        w.rowsBetween(Window.unboundedPreceding, 0)
    )
    tagged = (
        df.withColumn("_sig", sig)
        .withColumn("_chg", changed)
        .withColumn("_island", island)
    )
    return (
        tagged.groupBy(conv_col, "_island")
        .agg(
            F.min(order_cols[0]).alias("run_start_idx"),
            F.count(F.lit(1)).cast("int").alias("run_len"),
            # every turn in an island shares (role, text); min is the
            # deterministic pick
            F.min(role_col).alias("role"),
        )
        .filter(F.col("run_len") >= min_run)
        .select(conv_col, "role", "run_start_idx", "run_len")
    )


def dialogue_segment_pairs(
    df: DataFrame,
    w: int = 3,
    min_shared: int = 1,
    max_bucket: int | None = DEFAULT_MAX_BUCKET,
    conv_col: str = "conv_id",
    order_cols: tuple[str, ...] = ("turn_idx", "ts"),
    text_col: str = "text",
) -> DataFrame:
    """Cross-conversation verbatim dialogue borrowing: pairs of
    conversations sharing >= min_shared identical w-turn segments
    (scripted/templated exchanges, copy-pasted sessions) — the
    turn-granularity sibling of dedup.passage_pairs (8-gram token
    passages). Output: (conv_a, conv_b, n_shared).

    Shape: w-1 LEAD columns per turn build the segment inside the one
    conv-ordered window, md5 collapses it to a fixed-width signature
    BEFORE anything shuffles again, (conv, sig) is deduplicated, hot
    signatures are capped (dedup.cap_hot_groups — the same guard as
    every banded self-join), and the pair join is a plain equi-join
    on the signature. Work: O(turns) + O(sum of bucket^2) with
    bucket <= max_bucket (None disables the cap, as on every other
    capped operator)."""
    if w < 2:
        raise ValueError(f"w must be >= 2, got {w}")
    order = [F.col(c) for c in order_cols if c in df.columns]
    win = Window.partitionBy(conv_col).orderBy(*order)
    parts = [F.col(text_col)] + [
        F.lead(text_col, i).over(win) for i in range(1, w)
    ]
    sig = F.md5(F.concat_ws("\x01", *parts))
    # sig and the completeness flag evaluate in ONE projection over
    # the unfiltered turns (filtering first would make the leads
    # recompute over the survivor rows and corrupt the segments)
    shingles = (
        df.select(
            F.col(conv_col),
            sig.alias("seg_sig"),
            F.lead(text_col, w - 1).over(win).isNotNull().alias("_full"),
        )
        .filter(F.col("_full"))
        .select(conv_col, "seg_sig")
        .distinct()
    )
    return (
        _capped_self_join(shingles, conv_col, ["seg_sig"], max_bucket)
        .groupBy(F.col("id_a").alias("conv_a"), F.col("id_b").alias("conv_b"))
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def alternation_violations(
    df: DataFrame,
    conv_col: str = "conv_id",
    order_cols: tuple[str, ...] = ("turn_idx", "ts"),
    role_col: str = "role",
) -> DataFrame:
    """Conversation QA: turns whose role repeats the previous turn's
    role (degenerate alternation — double-sends, stuck tool loops).
    Output: (conv_id, turn_idx, role) of each offending turn. One
    lag window per conversation; emitted rows only."""
    order = [F.col(c) for c in order_cols if c in df.columns]
    w = Window.partitionBy(conv_col).orderBy(*order)
    prev_role = F.lag(role_col).over(w)
    return (
        df.withColumn("_prev", prev_role)
        .filter(F.col("_prev") == F.col(role_col))
        .select(conv_col, order_cols[0], role_col)
    )
