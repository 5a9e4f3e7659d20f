#!/usr/bin/env python
"""spark-submit entrypoint for the JSONL export: the committed rows of
an extraction output, written as line-capped JSONL shards (the
reference's per-document output, pdfwf/convert.py:65-71, re-sharded
at write time as pdfwf/balance.py:30-114 does offline).

    spark-submit --py-files /tmp/pdfwf_spark.zip jobs/export_jsonl.py \
        --output /warehouse/extract \
        --dest   /warehouse/extract_jsonl \
        --lines-per-file 1000

--output is the directory jobs/run_extract.py wrote ({output}/turns
and {output}/lineage). Only committed `ok` rows are exported
(pipeline.read_output): rows of runs that never committed their
lineage stay out of the shards. --dest is overwritten.
"""

from __future__ import annotations

import argparse


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--output", required=True,
                    help="extraction output dir (the run_extract --output)")
    ap.add_argument("--dest", required=True, help="JSONL shard directory")
    ap.add_argument("--lines-per-file", type=int, default=1000,
                    help="max lines per shard (default 1000)")
    args = ap.parse_args(argv)

    from pdfwf_spark.pipeline import read_output
    from pdfwf_spark.session import build_session
    from pdfwf_spark.sinks.jsonl import write_jsonl

    spark = build_session(app_name="pdfwf_spark_export_jsonl")
    try:
        write_jsonl(read_output(spark, args.output), args.dest, args.lines_per_file)
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
