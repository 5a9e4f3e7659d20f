#!/usr/bin/env python
"""spark-submit entrypoint for the corpus-curation job (near-dup
cluster dedup -> repetition floor -> PII scrub -> quality/language
floor over a documents table).

    python -m zipfile -c /tmp/pdfwf_spark.zip pdfwf_spark
    spark-submit --py-files /tmp/pdfwf_spark.zip jobs/run_curate.py \
        --config curate.yaml
    # or all-flags:
    spark-submit ... jobs/run_curate.py \
        --input /data/documents --output /warehouse/curated \
        --quality-min 500 --langs en,es

Same YAML-first-flags-override precedence as jobs/run_extract.py.
Prints one JSON stats line (per-stage surviving-row counts) on
completion.
"""

from __future__ import annotations

import argparse
import json


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--config", default=None, help="YAML config file")
    ap.add_argument("--input", default=None)
    ap.add_argument("--output", default=None)
    ap.add_argument("--id-col", default=None)
    ap.add_argument("--text-col", default=None)
    ap.add_argument("--near-dup-threshold", type=float, default=None)
    ap.add_argument("--no-dedup", action="store_true")
    ap.add_argument("--top2gram-max", type=int, default=None)
    ap.add_argument("--no-repetition-filter", action="store_true")
    ap.add_argument("--quality-min", type=int, default=None)
    ap.add_argument("--langs", default=None,
                    help="comma-separated language allowlist, e.g. en,es")
    ap.add_argument("--no-pii", action="store_true")
    ap.add_argument("--keeper-policy", choices=("min_id", "longest"), default=None)
    ap.add_argument("--blocked-domains", default=None,
                    help="comma-separated lowercase domain blocklist")
    ap.add_argument("--max-tokens", type=int, default=None)
    ap.add_argument("--assign-splits", action="store_true")
    args = ap.parse_args(argv)

    from pdfwf_spark.config import CurateConfig, job_picker

    # YAML loaded as a MAPPING (not constructed): a YAML holding only
    # stage knobs + --input/--output flags is valid — required fields
    # and validation apply to the post-merge config only
    pick = job_picker(CurateConfig, args.config)
    cfg = CurateConfig(
        input=pick("input", args.input)
        or ap.error("--input or config 'input' required"),
        output=pick("output", args.output)
        or ap.error("--output or config 'output' required"),
        id_col=pick("id_col", args.id_col),
        text_col=pick("text_col", args.text_col),
        near_dup_threshold=(
            None if args.no_dedup
            else pick("near_dup_threshold", args.near_dup_threshold)
        ),
        top2gram_max=(
            None if args.no_repetition_filter
            else pick("top2gram_max", args.top2gram_max)
        ),
        quality_min=pick("quality_min", args.quality_min),
        langs=args.langs.split(",") if args.langs else pick("langs", None),
        redact_pii=pick("redact_pii", None) and not args.no_pii,
        keeper_policy=pick("keeper_policy", args.keeper_policy),
        blocked_domains=(
            args.blocked_domains.split(",") if args.blocked_domains
            else pick("blocked_domains", None)
        ),
        max_tokens=pick("max_tokens", args.max_tokens),
        assign_splits=pick("assign_splits", args.assign_splits),
    )

    from pdfwf_spark.config import read_input
    from pdfwf_spark.curation import curate
    from pdfwf_spark.session import build_session

    spark = build_session(app_name="pdfwf_spark_curate")

    docs = read_input(spark, cfg.input)

    result = curate(docs, cfg, collect_stats=True)
    result.curated.write.mode("overwrite").parquet(cfg.output)
    print(json.dumps({"stages": result.stage_counts, "output": cfg.output}))
    spark.stop()


if __name__ == "__main__":
    main()
