"""Optional Structured-Streaming ingest mode.

The reference is strictly batch (SURVEY §2.9: no watermarks, no
streaming state; its incremental behavior is restart-based resume).
The engine's contract is likewise batch + lineage resume. This package
holds two pieces:

- ingest.py: a continuous-ingest variant for deployments where
  transcript partitions land continuously: readStream + foreachBatch,
  where each micro-batch runs the batch pipeline's extract_df and
  commit (pipeline.commit_run), so resume/lineage semantics are
  identical. Export its output like a batch run's, with
  jobs/export_jsonl.py.
- windows.py: windowed_turn_stats, the watermarked per-window turn
  stats, which the stream_windowed_stats query runs in batch.

No stateful operator (sessions, streaming dedup, rolling context)
ships: their batch forms are the oracled queries.
"""
