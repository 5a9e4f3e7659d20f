"""Continuous transcript ingest (Structured Streaming).

readStream(parquet dir) -> foreachBatch: each micro-batch runs the
batch pipeline's own pieces — pipeline.extract_df, append_data of all
statuses, then pipeline.commit_run — under
run_id = f"{run_id_prefix}-{epoch}-{uuid8}".

Delivery semantics: foreachBatch is AT-LEAST-ONCE (a crash between the
data/lineage appends and the offset commit replays the epoch). The
batch body makes the replay safe twice over:
- each ATTEMPT gets a fresh run_id f"{prefix}-{epoch}-{uuid8}", so
  data appended by an attempt that crashed before its lineage commit
  is an orphan under a never-committed run_id — hidden forever by
  read_output's committed-lineage semi-join (same protocol as the
  batch path's uuid run_ids);
- an epoch whose prefix-epoch tag already appears in committed lineage
  is skipped outright (idempotent no-op), so a replay after a fully
  committed attempt appends nothing.
Lineage append is the LAST write of the batch; its presence marks the
epoch committed. Lineage committed under another bucket count stops
the query at its first batch, as run_extraction's resume refuses it.

Driver-built frames (the committed run_ids, the per-conv offsets) are
pandas frames, which reach the JVM as Arrow batches: joining them
starts no Python worker.

Turn ranking across micro-batches: a conversation's turns may arrive
over many epochs (maxFilesPerTrigger bounds each batch), so per-batch
ranks are OFFSET by the committed max rank per conv_id. The driver
keeps the committed run_ids and per-conv max ranks in a dict, rebuilt
once at query (re)start from the committed rows of {out}/turns and
then advanced by each batch's per-conv turn counts (the batch ranks a
conv's turns 1..n, failures included, and every status is written, so
the max committed rank IS the running count). Steady-state per-batch
work is proportional to the batch: one per-conv count collect and a
broadcast of that batch's offsets. Driver memory is one (conv_id, int)
pair per conv ever touched. Ordering is therefore arrival-epoch-major,
(turn_idx, ts, role, tie_key) within an epoch: correct whenever turns
arrive in epoch order (the append-only ingest contract); cross-epoch
REORDERING would need an event-time watermark, which the reference
has no analog of (SURVEY §2.9 — batch-only).

Watermark/event-time aggregation is intentionally absent: extraction
is per-row, so there is no cross-row streaming state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

from pdfwf_spark.operators.partitioning import DEFAULT_BUCKETS
from pdfwf_spark.schemas import TRANSCRIPT_SCHEMA

# the only columns the restart rebuild reads back from {out}/turns
_RANKS_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), True),
        T.StructField("turn_rank", T.IntegerType(), True),
        T.StructField("run_id", T.StringType(), True),
    ]
)


def start_ingest(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    run_id_prefix: str = "stream",
    n_buckets: int = DEFAULT_BUCKETS,
    n_partitions: int | None = None,
    max_files_per_trigger: int = 16,
) -> StreamingQuery:
    """Start the ingest query; data lands at {out_dir}/turns and
    lineage at {out_dir}/lineage, exactly as run_extraction writes."""
    import uuid

    import pandas as pd

    from pdfwf_spark.operators.lineage import check_bucket_count, read_lineage, read_or_empty
    from pdfwf_spark.pipeline import commit_run, extract_df
    from pdfwf_spark.sinks.table import append_data

    stream = (
        spark.readStream.schema(TRANSCRIPT_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_dir)
    )

    # committed-state cache; 'ready' flips False on any failed batch so
    # the next attempt rebuilds from disk (disk is the source of truth,
    # the cache only ever mirrors fully committed epochs)
    cache: dict = {"ready": False, "run_ids": set(), "prior": {}}

    def _rebuild_cache() -> None:
        lineage = read_lineage(spark, f"{out_dir}/lineage")
        rows = lineage.select("run_id", "n_buckets").distinct().collect()
        # the same refusal as run_extraction's resume: the epoch skip
        # and the rank offsets trust what lineage committed
        check_bucket_count({r["n_buckets"] for r in rows}, n_buckets)
        run_ids = {r["run_id"] for r in rows}
        prior: dict[str, int] = {}
        if run_ids:
            # committed run_ids only: orphans of a crashed attempt
            # must not advance the offsets
            committed = spark.createDataFrame(
                pd.DataFrame({"run_id": sorted(run_ids)}), "run_id string"
            )
            rows = (
                read_or_empty(spark, f"{out_dir}/turns", _RANKS_SCHEMA)
                .join(F.broadcast(committed), "run_id", "left_semi")
                .groupBy("conv_id")
                .agg(F.max("turn_rank").alias("m"))
                .collect()
            )
            prior = {r["conv_id"]: r["m"] for r in rows}
        cache.update(ready=True, run_ids=run_ids, prior=prior)

    def process_batch(batch_df: DataFrame, epoch_id: int) -> None:
        epoch_tag = f"{run_id_prefix}-{epoch_id}-"
        if not cache["ready"]:
            _rebuild_cache()
        if any(r.startswith(epoch_tag) for r in cache["run_ids"]):
            return  # replayed epoch: already committed -> no-op
        counts = {
            r["conv_id"]: r["count"]
            for r in batch_df.groupBy("conv_id").count().collect()
        }
        # fresh run_id per ATTEMPT: a crash between the data append and
        # the lineage commit leaves orphans under a never-committed id
        run_id = epoch_tag + uuid.uuid4().hex[:8]
        try:
            ranked = extract_df(batch_df, n_buckets, n_partitions)
            # offsets for ONLY the convs present in this batch
            pairs = [(c, cache["prior"][c]) for c in counts if c in cache["prior"]]
            if pairs:
                prior = spark.createDataFrame(
                    pd.DataFrame(pairs, columns=["conv_id", "_prior_max"]),
                    "conv_id string, _prior_max int",
                )
                ranked = (
                    ranked.join(F.broadcast(prior), "conv_id", "left")
                    .withColumn(
                        "turn_rank",
                        F.col("turn_rank") + F.coalesce(F.col("_prior_max"), F.lit(0)),
                    )
                    .drop("_prior_max")
                )
            append_data(ranked.withColumn("run_id", F.lit(run_id)), f"{out_dir}/turns")
            commit_run(spark, out_dir, run_id, n_buckets)
        except BaseException:
            cache["ready"] = False  # force rebuild-from-disk next batch
            raise
        # update the cache ONLY after the lineage commit
        cache["run_ids"].add(run_id)
        for c, n in counts.items():
            cache["prior"][c] = cache["prior"].get(c, 0) + n

    return (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .start()
    )
