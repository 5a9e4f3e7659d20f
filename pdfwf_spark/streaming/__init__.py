"""Optional Structured-Streaming ingest mode.

The reference is strictly batch (SURVEY §2.9: no watermarks, no
streaming state; its incremental behavior is restart-based resume).
The engine's contract is likewise batch + lineage resume. This module
adds a continuous-ingest variant for deployments where transcript
partitions land continuously: readStream + foreachBatch, where each
micro-batch runs the batch pipeline's extract_df and commit
(pipeline.commit_run), so resume/lineage semantics are identical.
"""
