"""pdfwf_spark — a PySpark-native main-content extraction engine.

A from-scratch reimplementation of the *capabilities* of
ramanathanlab/pdfwf (reference at /root/reference, read-only) as an
idiomatic PySpark batch pipeline over a table of multi-turn
conversation/agent transcripts:

    (conv_id string, turn_idx int, role string, text string,
     tool string, ts timestamp)

Each turn's payload is routed by content sniffing (the analog of the
reference's parser STRATEGIES registry, ``pdfwf/parsers/__init__.py:34-58``)
to one of three deterministic, model-free extractors:

- HTML boilerplate stripper  (DOM text-density / tag-class scoring)
- PDF-ish layout parser      (block segmentation, column detection by
  x-midpoint mode estimation, reading-order lexsort, overlap dedup —
  the semantics of ``pdfwf/parsers/oreo/tensor_utils.py``)
- plain-text normalizer      (the pymupdf/nougat fast path:
  ``pdfwf/parsers/pymupdf.py``, ``pdfwf/parsers/nougat_.py:250``)

The extraction core (``pdfwf_spark.core``) is pure Python/numpy and is
shared verbatim between the golden-fixture generator and the Spark
vectorized UDFs, so "golden" is well-defined (one normalization code
path — avoiding the reference's five-parsers-five-outputs divergence,
e.g. ``pymupdf.py:63`` vs ``pypdf.py:68-70``).

Spark-side structure (see ``pdfwf_spark.pipeline``): Iceberg/parquet
scan → filter out committed buckets (resume) → hash repartition on
the turn key (only when the scan splits are too few) →
mapInArrow(sniff→route→parse) → stable ordering window over
(conv_id, turn_idx, ts) → data + lineage write.
"""

__version__ = "0.1.0"
