#!/usr/bin/env python
"""spark-submit entrypoint for the sequence-packing job: a documents
table in, a per-document (bucket, seq_idx, seq_offset) assignment
plus a fill/truncation stats line out.

    spark-submit --py-files /tmp/pdfwf_spark.zip jobs/run_pack.py \
        --config pack.yaml
    # or all-flags:
    spark-submit ... jobs/run_pack.py \
        --input /warehouse/curated --output /warehouse/packed \
        --budget 4096 --discipline greedy

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
    ap.add_argument("--budget", type=int, default=None)
    ap.add_argument("--discipline", choices=("concat", "greedy"), default=None)
    ap.add_argument("--n-buckets", type=int, default=None)
    ap.add_argument("--id-col", default=None)
    ap.add_argument("--text-col", default=None)
    args = ap.parse_args(argv)

    from pdfwf_spark.config import PackConfig, job_picker

    pick = job_picker(PackConfig, args.config)
    cfg = PackConfig(
        input=pick("input", args.input)
        or ap.error("--input or config 'input' required"),
        output=pick("output", args.output)
        or ap.error("--output or config 'output' required"),
        budget=pick("budget", args.budget),
        discipline=pick("discipline", args.discipline),
        n_buckets=pick("n_buckets", args.n_buckets),
        id_col=pick("id_col", args.id_col),
        text_col=pick("text_col", args.text_col),
    )

    from pyspark.sql import functions as F

    from pdfwf_spark.config import read_input
    from pdfwf_spark.operators.packing import pack_concat, pack_greedy, pack_stats
    from pdfwf_spark.operators.textstats import token_count
    from pdfwf_spark.session import build_session

    spark = build_session(app_name="pdfwf_spark_pack")

    docs = read_input(spark, cfg.input).select(
        F.col(cfg.id_col), token_count(F.col(cfg.text_col)).alias("n_tokens")
    )
    pack_fn = pack_greedy if cfg.discipline == "greedy" else pack_concat
    packed = pack_fn(
        docs, cfg.budget, key_col=cfg.id_col, n_col="n_tokens",
        n_buckets=cfg.n_buckets,
    )
    packed.write.mode("overwrite").parquet(cfg.output)
    stats = pack_stats(
        spark.read.parquet(cfg.output), cfg.budget
    ).collect()[0].asDict()
    print(json.dumps({"stats": stats, "output": cfg.output,
                      "discipline": cfg.discipline, "budget": cfg.budget}))
    spark.stop()


if __name__ == "__main__":
    main()
