#!/usr/bin/env python
"""spark-submit entrypoint for the DSIR data-selection job: a raw
document pool in, either every document with its importance score
(mode=score) or the exact-percentile top slice with original columns
plus scores (mode=select) out.

    spark-submit --py-files /tmp/pdfwf_spark.zip jobs/run_select.py \
        --config select.yaml
    # or all-flags:
    spark-submit ... jobs/run_select.py \
        --input /warehouse/pool --output /warehouse/selected \
        --target-filter "lang = 'en'" --q 0.9

Same YAML-first-flags-override precedence as the other jobs. The fit
(two bounded-shuffle count passes), the dense broadcast ratio table,
and the one-groupBy scoring are operators/selection.py; the threshold
is the lazy grouped-histogram exact quantile.
"""

from __future__ import annotations

import argparse
import json


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--config", default=None, help="YAML config file")
    ap.add_argument("--input", default=None)
    ap.add_argument("--output", default=None)
    ap.add_argument("--target", default=None)
    ap.add_argument("--target-filter", dest="target_filter", default=None)
    ap.add_argument("--mode", choices=("select", "score"), default=None)
    ap.add_argument("--q", type=float, default=None)
    ap.add_argument("--n-buckets", type=int, default=None)
    ap.add_argument("--id-col", default=None)
    ap.add_argument("--text-col", default=None)
    ap.add_argument("--salt", default=None)
    args = ap.parse_args(argv)

    from pdfwf_spark.config import SelectConfig, job_picker

    pick = job_picker(SelectConfig, args.config)
    cfg = SelectConfig(
        input=pick("input", args.input)
        or ap.error("--input or config 'input' required"),
        output=pick("output", args.output)
        or ap.error("--output or config 'output' required"),
        target=pick("target", args.target),
        target_filter=pick("target_filter", args.target_filter),
        mode=pick("mode", args.mode),
        q=pick("q", args.q),
        n_buckets=pick("n_buckets", args.n_buckets),
        id_col=pick("id_col", args.id_col),
        text_col=pick("text_col", args.text_col),
        salt=pick("salt", args.salt),
    )

    from pdfwf_spark.config import read_input
    from pdfwf_spark.operators.partitioning import repartition_for_scan
    from pdfwf_spark.operators.selection import (
        dsir_fit, dsir_scores, dsir_select,
    )
    from pdfwf_spark.session import build_session

    spark = build_session(app_name="pdfwf_spark_select")

    pool = repartition_for_scan(read_input(spark, cfg.input))
    target = (
        repartition_for_scan(read_input(spark, cfg.target))
        if cfg.target is not None
        else pool.filter(cfg.target_filter)
    )
    lr = dsir_fit(target, pool, cfg.text_col, cfg.n_buckets, cfg.salt)
    # localCheckpoint: dsir_select evaluates `scored` for the quantile
    # AND the filter, and the final join re-derives it again — without
    # the checkpoint that is three full fit+score passes over the pool
    # (r6, ADVICE item; the same idiom kmeans_cluster uses)
    scored = dsir_scores(
        pool, lr, cfg.id_col, cfg.text_col, cfg.n_buckets, cfg.salt
    ).localCheckpoint(eager=False)
    if cfg.mode == "score":
        # LEFT join (r6, ADVICE item): scores are total over the pool,
        # and an inner join would silently drop NULL-id rows; duplicate
        # ids still fan out — callers own id uniqueness (documented)
        out = pool.join(scored, cfg.id_col, "left")
    else:
        kept = dsir_select(scored, cfg.q)
        out = pool.join(kept, cfg.id_col)
    out.write.mode("overwrite").parquet(cfg.output)

    n_in = pool.count()
    n_out = spark.read.parquet(cfg.output).count()
    print(json.dumps({
        "mode": cfg.mode, "q": cfg.q, "n_buckets": cfg.n_buckets,
        "n_input": n_in, "n_output": n_out, "output": cfg.output,
    }))
    spark.stop()


if __name__ == "__main__":
    main()
