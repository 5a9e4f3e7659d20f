"""Materialize a workload's input once per seed, untimed.

Inputs live under ``.e2ebench_work/inputs/<workload>-s<seed>/``:
``input.parquet`` (the table the program reads) and ``truth.pkl`` (what
the output checks compare against: the generated rows for transcripts,
the planted clusters for documents). Both are written by this module
only, so unpickling them is safe.
"""

from __future__ import annotations

import hashlib
import os
import pickle

import pyarrow as pa
import pyarrow.parquet as pq

import gen

TRANSCRIPT_ARROW = pa.schema([
    ("conv_id", pa.string()), ("turn_idx", pa.int32()), ("role", pa.string()),
    ("text", pa.string()), ("tool", pa.string()), ("ts", pa.timestamp("us", tz="UTC")),
])
DOCS_ARROW = pa.schema([("doc_id", pa.int64()), ("text", pa.string())])

KIND = {"transcripts_mixed": "extract", "neardup_docs": "curate"}


def materialize(work_root: str, workload: str, seed: int) -> tuple[str, object]:
    """Return (input parquet path, truth) for this workload and seed."""
    # the key covers the generator's code and parameters, so a changed
    # generator never reuses an input materialized by an older one
    with open(gen.__file__, "rb") as f:
        key = hashlib.sha1(f.read()).hexdigest()[:10]
    d = os.path.join(work_root, "inputs", f"{workload}-s{seed}-{key}")
    path, truth_path = os.path.join(d, "input.parquet"), os.path.join(d, "truth.pkl")
    if os.path.exists(truth_path):
        with open(truth_path, "rb") as f:
            return path, pickle.load(f)
    os.makedirs(d, exist_ok=True)
    if KIND[workload] == "extract":
        rows = getattr(gen, workload)(seed)
        cols = {f.name: [r[f.name] for r in rows] for f in TRANSCRIPT_ARROW}
        pq.write_table(pa.table(cols, schema=TRANSCRIPT_ARROW), path)
        truth = rows
    else:
        rows, truth = gen.neardup_docs(seed)
        cols = {f.name: [r[f.name] for r in rows] for f in DOCS_ARROW}
        pq.write_table(pa.table(cols, schema=DOCS_ARROW), path)
        truth["n_docs"] = len(rows)
    tmp = truth_path + ".tmp"
    with open(tmp, "wb") as f:
        pickle.dump(truth, f)
    os.replace(tmp, truth_path)
    return path, truth
