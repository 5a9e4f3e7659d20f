"""The curation pipeline as a library call: near-dup cluster dedup ->
repetition floor -> PII scrub -> quality/language floor.

Each stage is an independently-oracled operator (see
operators/dedup.py, operators/textstats.py); this module is the
composition a production training-data job runs, with every stage
individually toggleable. The driver query `curate_full`
(__spark_entry__.py) is a fixed-parameter instance of this pipeline,
hash-verified against a single DuckDB oracle.

Scale shape: one LSH-banded candidate pass + O(log n) large-star /
small-star component rounds (dup_clusters) for the dedup stage;
everything downstream is scan-side codegen except the top-2-gram mode
(two map-side-combining aggregates). Nothing quadratic, nothing collected to the driver.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from pdfwf_spark.config import CurateConfig


@dataclass
class CurateResult:
    curated: DataFrame
    #: rows surviving each stage, in application order — the audit
    #: trail a corpus job reports (counted only when collect_stats)
    stage_counts: dict = field(default_factory=dict)


def curate(
    docs: DataFrame,
    cfg: CurateConfig,
    collect_stats: bool = False,
) -> CurateResult:
    """Run the configured curation stages over a documents table.

    Returns the curated DataFrame (original columns + quality/PII
    columns from the enabled stages). With collect_stats, each
    enabled stage's surviving-row count is recorded (one count action
    per stage — leave off in production and derive counts from the
    written output instead).

    An under-split input is split once, here
    (partitioning.repartition_for_scan); the stage operators take the
    partitioning they are given.
    """
    from pdfwf_spark.operators.dedup import (
        dup_clusters,
        lsh_verified_neardups,
    )
    from pdfwf_spark.operators.partitioning import repartition_for_scan
    from pdfwf_spark.operators.textstats import (
        with_lang_id,
        with_pii_redacted,
        with_quality_score,
        with_repetition_stats,
    )

    id_col, text_col = cfg.id_col, cfg.text_col
    out = repartition_for_scan(docs)
    stage_counts: dict = {}

    def note(stage: str, df: DataFrame) -> DataFrame:
        if collect_stats:
            stage_counts[stage] = df.count()
        return df

    note("input", out)

    if cfg.blocked_domains:
        from pdfwf_spark.operators.textstats import filter_blocked_domains

        blocklist = docs.sparkSession.createDataFrame(
            [(d,) for d in cfg.blocked_domains], "domain string"
        )
        out = note(
            "blocklist",
            filter_blocked_domains(out, blocklist, text_col=text_col),
        )

    if cfg.near_dup_threshold is not None:
        pairs = lsh_verified_neardups(
            out, text_col=text_col, id_col=id_col,
            threshold=cfg.near_dup_threshold, cap_mode=cfg.cap_mode,
        )
        clusters = dup_clusters(out, pairs, id_col=id_col)
        if cfg.keeper_policy == "longest":
            from pdfwf_spark.operators.dedup import cluster_keepers_by_score
            from pdfwf_spark.operators.textstats import token_count

            scores = out.select(
                F.col(id_col),
                token_count(F.col(text_col)).cast("long").alias("score"),
            )
            clusters = cluster_keepers_by_score(clusters, scores, id_col=id_col)
        keepers = clusters.filter(F.col("is_keeper") == 1).select(id_col)
        out = note("dedup", out.join(keepers, id_col, "left_semi"))

    if cfg.top2gram_max is not None:
        ok = (
            with_repetition_stats(
                out.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("text"))
            )
            .filter(F.col("top2gram_milli") <= cfg.top2gram_max)
            .select(F.col("doc_id").alias(id_col))
        )
        out = note("repetition", out.join(ok, id_col, "left_semi"))

    if cfg.redact_pii:
        out = with_pii_redacted(out, text_col=text_col)

    if cfg.quality_min is not None or cfg.langs:
        out = with_lang_id(with_quality_score(out, text_col=text_col),
                           text_col=text_col)
        if cfg.quality_min is not None:
            out = out.filter(F.col("quality_milli") >= cfg.quality_min)
        if cfg.langs:
            out = out.filter(F.col("lang_pred").isin(*cfg.langs))
        out = note("quality", out)

    if cfg.max_tokens is not None:
        from pdfwf_spark.operators.textstats import truncate_tokens

        # truncate LAST: every floor above judged the full document
        out = truncate_tokens(out, cfg.max_tokens, text_col=text_col)

    if cfg.assign_splits:
        from pdfwf_spark.operators.sampling import split_assign

        out = split_assign(out, id_col)

    return CurateResult(curated=out, stage_counts=stage_counts)


def conversation_stats(
    turns: DataFrame,
    conv_col: str = "conv_id",
    order_cols: tuple[str, ...] = ("turn_idx", "ts"),
    role_col: str = "role",
    text_col: str = "text",
) -> DataFrame:
    """Per-conversation health metrics, all integer-unit:
    (conv_id, n_turns, n_chars, n_violations, max_run_len,
    tool_milli) where n_violations counts turns repeating the
    previous turn's role, max_run_len is the longest same-role run,
    and tool_milli is the tool-turn share in milli.

    Shape: ONE ordered window per conversation tags each turn with
    its same-role island (running sum of role changes), then a
    two-level aggregate (conv, island) -> conv with map-side combine
    — a mega-conversation costs one ordered partition scan, never a
    join."""
    order = [F.col(c) for c in order_cols if c in turns.columns]
    w = Window.partitionBy(conv_col).orderBy(*order)
    chg = (
        F.lag(role_col).over(w).isNull()
        | (F.lag(role_col).over(w) != F.col(role_col))
    ).cast("int")
    tagged = turns.select(
        F.col(conv_col),
        F.col(role_col),
        F.length(text_col).cast("long").alias("_len"),
        F.sum(chg).over(w.rowsBetween(Window.unboundedPreceding, 0)).alias("_island"),
    )
    islands = tagged.groupBy(conv_col, "_island").agg(
        F.count(F.lit(1)).alias("_cnt"),
        F.sum("_len").alias("_chars"),
        F.sum((F.col(role_col) == "tool").cast("int")).alias("_tool"),
    )
    return islands.groupBy(conv_col).agg(
        F.sum("_cnt").cast("int").alias("n_turns"),
        F.sum("_chars").cast("long").alias("n_chars"),
        (F.sum("_cnt") - F.count(F.lit(1))).cast("int").alias("n_violations"),
        F.max("_cnt").cast("int").alias("max_run_len"),
        F.expr("CAST((1000 * sum(_tool)) DIV sum(_cnt) AS BIGINT)").alias("tool_milli"),
    )


def curate_conversations(
    turns: DataFrame,
    min_turns: int = 2,
    max_violations: int | None = None,
    max_run_len: int | None = None,
    max_tool_milli: int | None = None,
    conv_col: str = "conv_id",
    order_cols: tuple[str, ...] = ("turn_idx", "ts"),
    role_col: str = "role",
    text_col: str = "text",
) -> DataFrame:
    """Conversation-level curation: keep only turns of conversations
    passing the health floors (enough turns, bounded double-sends,
    no stuck runs, bounded tool share). The turn table survives
    unchanged otherwise — the conversation is the unit of judgment,
    the turn is the unit of data. One left-semi join of the corpus
    against the O(conversations) keep list."""
    stats = conversation_stats(turns, conv_col, order_cols, role_col, text_col)
    keep = stats.filter(F.col("n_turns") >= min_turns)
    if max_violations is not None:
        keep = keep.filter(F.col("n_violations") <= max_violations)
    if max_run_len is not None:
        keep = keep.filter(F.col("max_run_len") <= max_run_len)
    if max_tool_milli is not None:
        keep = keep.filter(F.col("tool_milli") <= max_tool_milli)
    return turns.join(keep.select(conv_col), conv_col, "left_semi")
