"""Snapshot diff — what changed between two versions of a table.

An incremental 100 TB curation pipeline re-materializes tables every
run (recrawl, reparse with a new extractor version, policy refilter);
the operational question is always "what did this run actually
change?". The reference has no analog — its runs are append-only file
trees compared by eye (convert.py:144-182 checkpoint grep); here the
diff is a first-class relational operator.

Plan shape: ONE full-outer sort-merge join on the key columns — each
side shuffles once on the key, and when both snapshot versions are
written bucketed/partitioned by the same key (the natural layout for
a versioned table) the join is co-located with no exchange at all.
Change detection is null-safe column comparison (`eqNullSafe`) kept
JVM-side in whole-stage codegen — no digests, no UDFs, so the compare
is exact (digest variants trade false-negatives-on-collision for
narrower shuffles; with both sides already key-partitioned the width
saving buys nothing).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    key_cols: Sequence[str] | str,
    compare_cols: Sequence[str] | None = None,
    include_unchanged: bool = False,
) -> DataFrame:
    """Row-level diff of two snapshots keyed by `key_cols`.

    Output: key_cols + `change` ∈ {'added','removed','changed'}
    ('unchanged' rows are dropped unless `include_unchanged`). Keys
    must be unique per side — duplicate keys would fan out the join
    (the caller owns that invariant, same as any upsert contract).
    NULL compare values are handled null-safely: NULL -> NULL is
    unchanged, NULL -> value is changed.
    """
    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    if compare_cols is None:
        compare_cols = [c for c in old.columns if c not in keys]
        missing = [c for c in compare_cols if c not in new.columns]
        if missing:
            raise ValueError(f"compare columns absent from new side: {missing}")
    for side, df in (("old", old), ("new", new)):
        absent = [c for c in keys if c not in df.columns]
        if absent:
            raise ValueError(f"key columns absent from {side} side: {absent}")

    o = old.select(
        *[F.col(k) for k in keys],
        F.lit(True).alias("_in_old"),
        *[F.col(c).alias(f"_o_{c}") for c in compare_cols],
    )
    n = new.select(
        *[F.col(k) for k in keys],
        F.lit(True).alias("_in_new"),
        *[F.col(c).alias(f"_n_{c}") for c in compare_cols],
    )
    j = o.join(n, keys, "full_outer")

    differs: Column = F.lit(False)
    for c in compare_cols:
        differs = differs | ~F.col(f"_o_{c}").eqNullSafe(F.col(f"_n_{c}"))

    change = (
        F.when(F.col("_in_old").isNull(), F.lit("added"))
        .when(F.col("_in_new").isNull(), F.lit("removed"))
        .when(differs, F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    out = j.select(*keys, change.alias("change"))
    if not include_unchanged:
        out = out.where(F.col("change") != "unchanged")
    return out


def merge_upsert(
    base: DataFrame,
    updates: DataFrame,
    key_cols: Sequence[str] | str,
    version_cols: Sequence[str] | str = "ts",
    delete_col: str | None = None,
) -> DataFrame:
    """CDC latest-wins merge: apply an update batch to a base
    snapshot, keeping per key the row with the greatest
    `version_cols` (ties go to the update side — the MERGE
    convention). Rows whose winning version has `delete_col` true are
    dropped (tombstones). Output schema = base schema.

    Plan shape: unionByName + ONE row_number window on the key — a
    single hash shuffle carrying (key, version, payload); no join, so
    a mega-key degrades into one ordered partition scan rather than a
    pair blowup. At petabyte scale the base side is the big one and
    arrives partitioned by key from the previous merge, so AQE plans
    the exchange around the small update batch. Keys need not be
    unique on either side: the window picks one winner per key
    globally (so a batch carrying several versions of one key
    collapses to its newest — exactly-once replay semantics).
    """
    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    vers = [version_cols] if isinstance(version_cols, str) else list(version_cols)
    out_cols = base.columns
    for side, df in (("base", base), ("updates", updates)):
        absent = [c for c in keys + vers if c not in df.columns]
        if absent:
            raise ValueError(f"merge columns absent from {side} side: {absent}")
    missing = [c for c in out_cols if c not in updates.columns]
    if missing:
        raise ValueError(f"update batch lacks base columns: {missing}")

    if delete_col is not None and delete_col not in updates.columns:
        raise ValueError(
            f"delete_col {delete_col!r} absent from the update batch"
        )
    del_flag = F.col(delete_col) if delete_col is not None else F.lit(False)
    b = base.select(*out_cols, F.lit(0).alias("_src"), F.lit(False).alias("_del"))
    u = updates.select(
        *out_cols, F.lit(1).alias("_src"), F.coalesce(del_flag, F.lit(False)).alias("_del")
    )
    w = Window.partitionBy(*keys).orderBy(
        *[F.col(v).desc() for v in vers], F.col("_src").desc()
    )
    return (
        b.unionByName(u)
        .withColumn("_rn", F.row_number().over(w))
        .filter((F.col("_rn") == 1) & ~F.col("_del"))
        .select(*out_cols)
    )
