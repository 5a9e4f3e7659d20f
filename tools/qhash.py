#!/usr/bin/env python
"""Order-insensitive result fingerprint per declared query — the
local identity check for optimization work: run BEFORE a change and
AFTER it at the same sf_dir; equal (count, hashsum, schema) per query
proves the rewrite computes the identical result set on that data.

Fully distributed (no driver collect): every row is rendered to one
canonical string (column-name-sorted, nulls tagged, floats repr'd by
Spark's cast-to-string), md5'd, truncated to 60 bits, and summed.

    python tools/qhash.py <sf_dir> [--only a,b] [--out f.json]
"""
from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402


def fingerprint(df) -> dict:
    cols = sorted(df.columns)
    row_str = F.concat_ws(
        "\x01",
        *[
            F.coalesce(F.col(c).cast("string"), F.lit("\x02NULL"))
            for c in cols
        ],
    )
    h = F.conv(F.substring(F.md5(row_str), 1, 15), 16, 10).cast("decimal(38,0)")
    r = df.select(h.alias("h")).agg(
        F.count(F.lit(1)).alias("n"), F.sum("h").alias("s")
    ).collect()[0]
    return {
        "n": r["n"],
        "sum": str(r["s"]),
        "schema": [f"{f.name}:{f.dataType.simpleString()}" for f in df.schema.fields],
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("sf_dir")
    ap.add_argument("--only", default=None)
    ap.add_argument("--out", default=None)
    args = ap.parse_args()

    import __spark_entry__ as em
    from pdfwf_spark.session import build_session

    spark = build_session(app_name="qhash")

    qs = em.queries()
    names = sorted(qs) if args.only is None else args.only.split(",")
    out: dict[str, dict] = {}
    for name in names:
        t0 = time.monotonic()
        try:
            out[name] = fingerprint(qs[name](spark, args.sf_dir))
            out[name]["sec"] = round(time.monotonic() - t0, 2)
        except Exception as e:  # noqa: BLE001 — record, keep sweeping
            out[name] = {"error": f"{type(e).__name__}: {e}"}
        print(f"{name}: {out[name]}", flush=True)
    if args.out:
        with open(args.out, "w") as f:
            json.dump(out, f, indent=1, sort_keys=True)
    spark.stop()


if __name__ == "__main__":
    main()
