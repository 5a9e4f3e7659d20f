#!/usr/bin/env python
"""spark-submit entrypoint for the extraction job.

Cluster usage (the north-rule deployment shape):

    python -m zipfile -c /tmp/pdfwf_spark.zip pdfwf_spark
    spark-submit --py-files /tmp/pdfwf_spark.zip \
        jobs/run_extract.py \
        --input  <iceberg table or parquet path of transcripts> \
        --output <warehouse path>  \
        --buckets 4096 [--partitions N] [--no-resume] [--run-id RID]

    # or, the reference's production UX (convert.py:185-224): every
    # flag from a YAML file, explicit CLI flags overriding
    spark-submit ... jobs/run_extract.py --config extract.yaml

Local smoke:

    spark-submit --master 'local[8]' --py-files /tmp/pdfwf_spark.zip \
        jobs/run_extract.py --input /tmp/t.parquet --output /tmp/out

The config surface mirrors the reference's WorkflowConfig
(reference pdfwf/convert.py:185-210: pdf_dir/out_dir/num_conversions/
chunk_size) re-expressed for a table pipeline: input table, output
path, bucket count (the chunk-size analog), resume toggle.
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--config", default=None,
                    help="YAML config file (reference convert.py:185-224 "
                         "UX); explicit CLI flags override its values")
    ap.add_argument("--input", default=None, help="transcripts table/path")
    ap.add_argument("--output", default=None, help="output warehouse dir")
    ap.add_argument("--buckets", type=int, default=None,
                    help="commit/resume buckets (conv-hash)")
    ap.add_argument("--partitions", type=int, default=None,
                    help="extract-stage partitions; an input scan with "
                         "fewer is hash-repartitioned on the turn key")
    ap.add_argument("--limit", type=int, default=None,
                    help="input limit (reference num_conversions analog)")
    ap.add_argument("--run-id", default=None)
    ap.add_argument("--no-resume", action="store_true")
    ap.add_argument("--markdown-compat", action="store_true",
                    help="F7 markdown repair pass on clean_text "
                         "(reference nougat --markdown flag analog)")
    ap.add_argument("--rebalance-rows", type=int, default=None,
                    help="post-run S9 rebalance: re-shard {output}/turns "
                         "to exactly N rows per file (balance.py analog)")
    args = ap.parse_args(argv)

    from pdfwf_spark.config import ExtractConfig, job_picker

    # YAML first, explicit CLI flags on top (pydantic-settings
    # precedence: reference utils.py:30-89). Loaded as a MAPPING, not
    # constructed: a YAML of only tuning knobs + --input/--output
    # flags is valid, so required-field validation happens post-merge.
    pick = job_picker(ExtractConfig, args.config)
    cfg = ExtractConfig(
        input=pick("input", args.input) or ap.error("--input or config 'input' required"),
        output=pick("output", args.output) or ap.error("--output or config 'output' required"),
        buckets=pick("buckets", args.buckets),
        partitions=pick("partitions", args.partitions),
        limit=pick("limit", args.limit),
        run_id=pick("run_id", args.run_id),
        resume=pick("resume", None) and not args.no_resume,
        markdown_compat=pick("markdown_compat", args.markdown_compat),
        rebalance_rows=pick("rebalance_rows", args.rebalance_rows),
    )

    from pdfwf_spark.pipeline import run_extraction
    from pdfwf_spark.session import build_session

    spark = build_session(app_name="pdfwf_spark_extract")

    from pdfwf_spark.config import read_input

    transcripts = read_input(spark, cfg.input)
    if cfg.limit:
        transcripts = transcripts.limit(cfg.limit)

    result = run_extraction(
        spark,
        transcripts,
        cfg.output,
        run_id=cfg.run_id,
        n_buckets=cfg.buckets,
        n_partitions=cfg.partitions,
        resume=cfg.resume,
        markdown_compat=cfg.markdown_compat,
    )
    if cfg.rebalance_rows:
        # rebalance the COMMITTED view (read_output hides orphan rows
        # from attempts that crashed between data and lineage appends)
        from pdfwf_spark.operators.rebalance import rebalance
        from pdfwf_spark.pipeline import read_output

        n_files = rebalance(
            read_output(spark, cfg.output),
            f"{cfg.output}/turns_balanced",
            cfg.rebalance_rows,
            order_by=["conv_id", "turn_rank"],
        )
        result.__dict__["balanced_file_groups"] = n_files
    json.dump(result.__dict__, sys.stdout)
    print()
    spark.stop()


if __name__ == "__main__":
    main()
