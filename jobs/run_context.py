#!/usr/bin/env python
"""spark-submit entrypoint for conversation-context assembly: a
transcript turn table in; rolling k-turn context windows, (prompt,
response) pairs, or whole rendered conversations out — with optional
conversation-level health floors applied first.

    spark-submit --py-files /tmp/pdfwf_spark.zip jobs/run_context.py \
        --config context.yaml
    # or all-flags:
    spark-submit ... jobs/run_context.py \
        --input /warehouse/transcripts --output /warehouse/ctx \
        --mode pairs --max-run-len 4

Same YAML-first-flags-override precedence as the other jobs.
"""

from __future__ import annotations

import argparse
import json


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--config", default=None, help="YAML config file")
    ap.add_argument("--input", default=None)
    ap.add_argument("--output", default=None)
    ap.add_argument("--mode", choices=("context", "pairs", "render"), default=None)
    ap.add_argument("--k", type=int, default=None)
    ap.add_argument("--chunk-size", type=int, default=None)
    ap.add_argument("--max-chars-per-turn", type=int, default=None)
    ap.add_argument("--response-role", default=None)
    ap.add_argument("--min-turns", type=int, default=None)
    ap.add_argument("--max-violations", type=int, default=None)
    ap.add_argument("--max-run-len", type=int, default=None)
    ap.add_argument("--max-tool-milli", type=int, default=None)
    args = ap.parse_args(argv)

    from pdfwf_spark.config import ContextConfig, job_picker

    pick = job_picker(ContextConfig, args.config)
    cfg = ContextConfig(
        input=pick("input", args.input)
        or ap.error("--input or config 'input' required"),
        output=pick("output", args.output)
        or ap.error("--output or config 'output' required"),
        mode=pick("mode", args.mode),
        k=pick("k", args.k),
        chunk_size=pick("chunk_size", args.chunk_size),
        max_chars_per_turn=pick("max_chars_per_turn", args.max_chars_per_turn),
        response_role=pick("response_role", args.response_role),
        min_turns=pick("min_turns", args.min_turns),
        max_violations=pick("max_violations", args.max_violations),
        max_run_len=pick("max_run_len", args.max_run_len),
        max_tool_milli=pick("max_tool_milli", args.max_tool_milli),
    )

    from pdfwf_spark.config import read_input
    from pdfwf_spark.curation import curate_conversations
    from pdfwf_spark.operators.context import (
        assemble_context,
        prompt_response_pairs,
        render_conversations,
    )
    from pdfwf_spark.session import build_session

    spark = build_session(app_name="pdfwf_spark_context")

    turns = read_input(spark, cfg.input)
    floored = (
        cfg.min_turns > 1
        or cfg.max_violations is not None
        or cfg.max_run_len is not None
        or cfg.max_tool_milli is not None
    )
    if floored:
        turns = curate_conversations(
            turns,
            min_turns=cfg.min_turns,
            max_violations=cfg.max_violations,
            max_run_len=cfg.max_run_len,
            max_tool_milli=cfg.max_tool_milli,
        )

    if cfg.mode == "context":
        out = assemble_context(
            turns, k=cfg.k, chunk_size=cfg.chunk_size,
            max_chars_per_turn=cfg.max_chars_per_turn,
        )
    elif cfg.mode == "pairs":
        out = prompt_response_pairs(
            turns, response_role=cfg.response_role,
            max_chars_per_turn=cfg.max_chars_per_turn,
        )
    else:
        out = render_conversations(
            turns, max_chars_per_turn=cfg.max_chars_per_turn
        )
    out.write.mode("overwrite").parquet(cfg.output)
    n = spark.read.parquet(cfg.output).count()
    print(json.dumps({"mode": cfg.mode, "rows": n, "floors": floored,
                      "output": cfg.output}))
    spark.stop()


if __name__ == "__main__":
    main()
