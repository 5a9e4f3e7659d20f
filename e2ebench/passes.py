"""One timed pass of each public entry point, and its untimed output check.

An extraction pass is what ``jobs/run_extract.py`` does: read the input
with ``config.read_input`` and call ``pipeline.run_extraction`` into a
fresh output directory (resume on, empty lineage). A curation pass is
what ``jobs/run_curate.py`` does: ``curation.curate`` with
``collect_stats=False``, the curated frame written as parquet.
"""

from __future__ import annotations

import os
import random
import threading
import time
from dataclasses import dataclass

from pyspark.sql import functions as F

from pdfwf_spark.config import CurateConfig, read_input
from pdfwf_spark.curation import curate
from pdfwf_spark.pipeline import run_extraction

#: the curation stages a documents job would enable: near-dup clusters,
#: repetition floor, PII scrub, quality and language floors
CURATE_KW = dict(near_dup_threshold=0.5, top2gram_max=150, quality_min=500,
                 langs=["en"], redact_pii=True)
#: commit/resume buckets of an extraction pass (the job's --buckets),
#: ~280 turns a bucket. With the library default of 64 a pass wrote 116
#: files, its wall was mostly driver-side commits and listings, and their
#: latency on a shared disk spread rows_per_s 28% between runs
N_BUCKETS = 16
#: conversations whose every turn is compared with the golden records
GOLDEN_SAMPLE_CONVS = 12


@dataclass
class PassResult:
    seconds: float
    out_bytes: int
    error: str = ""          # '' when the pass ran and its output checked out
    run_result: object = None  # RunResult of an extraction pass
    turns_files: int = 0     # parquet files under {out}/turns
    turns_bytes: int = 0
    lineage_rows: int = 0    # counted in the traced run only


def dir_bytes(path: str, suffix: str = ".parquet") -> tuple[int, int]:
    """(total bytes, file count) of the data files at or under path."""
    if os.path.isfile(path):
        return os.path.getsize(path), 1
    total = n = 0
    for d, _, files in os.walk(path):
        for f in files:
            if f.endswith(suffix):
                total += os.path.getsize(os.path.join(d, f))
                n += 1
    return total, n


def curate_config(in_path: str, out_path: str) -> CurateConfig:
    return CurateConfig(input=in_path, output=out_path, **CURATE_KW)


def extraction_pass(spark, in_path: str, out_dir: str) -> tuple[float, object]:
    t0 = time.perf_counter()
    res = run_extraction(spark, read_input(spark, in_path), out_dir, n_buckets=N_BUCKETS)
    return time.perf_counter() - t0, res


def curation_pass(spark, in_path: str, out_dir: str) -> float:
    t0 = time.perf_counter()
    cfg = curate_config(in_path, f"{out_dir}/curated")
    curate(read_input(spark, cfg.input), cfg).curated.write.mode("overwrite").parquet(cfg.output)
    return time.perf_counter() - t0


# ---------------------------------------------------------------- checks

class ExtractionCheck:
    """Expected output of an extraction pass, computed once per input."""

    def __init__(self, rows: list[dict], seed: int):
        from pdfwf_spark.fixtures.golden import golden_records

        self.n_rows = len(rows)
        self.per_conv: dict[str, int] = {}
        for r in rows:
            self.per_conv[r["conv_id"]] = self.per_conv.get(r["conv_id"], 0) + 1
        sample = random.Random(seed).sample(sorted(self.per_conv), GOLDEN_SAMPLE_CONVS)
        self.sample = sorted(sample)
        keep = set(sample)
        self.golden = {
            (g["conv_id"], g["turn_rank"]): (g["parse_status"], g["clean_text"] if g["parse_status"] == "ok" else None)
            for g in golden_records([r for r in rows if r["conv_id"] in keep])
        }

    def __call__(self, spark, out_dir: str, res) -> str:
        if not (res.input_rows == self.n_rows == res.ok_rows + res.failed_rows):
            return f"RunResult counts {res.input_rows}/{res.ok_rows}+{res.failed_rows} != {self.n_rows}"
        lin = spark.read.parquet(f"{out_dir}/lineage").agg(
            F.sum("input_count"), F.sum("ok_count"), F.sum("parse_failures")).first()
        if not (lin[0] == self.n_rows == lin[1] + lin[2]):
            return f"lineage counts {tuple(lin)} != {self.n_rows}"
        data = spark.read.parquet(f"{out_dir}/turns")
        ranks = data.groupBy("conv_id").agg(
            F.count(F.lit(1)).alias("n"), F.min("turn_rank").alias("lo"),
            F.max("turn_rank").alias("hi"), F.countDistinct("turn_rank").alias("nd"),
        ).collect()
        if sum(r["n"] for r in ranks) != self.n_rows:
            return f"rows written {sum(r['n'] for r in ranks)} != {self.n_rows}"
        for r in ranks:
            want = self.per_conv.get(r["conv_id"])
            if not (r["lo"] == 1 and r["hi"] == r["n"] == r["nd"] == want):
                return f"turn_rank of {r['conv_id']} is not 1..{want}"
        got = {
            (r["conv_id"], r["turn_rank"]): (r["parse_status"], r["clean_text"] if r["parse_status"] == "ok" else None)
            for r in data.filter(F.col("conv_id").isin(self.sample))
            .select("conv_id", "turn_rank", "parse_status", "clean_text").collect()
        }
        if got != self.golden:
            bad = sorted(k for k in set(got) | set(self.golden) if got.get(k) != self.golden.get(k))
            return f"{len(bad)} sampled turns differ from golden, first {bad[0]}"
        return ""


class CurationCheck:
    """Exactly one keeper (the min id) per planted cluster; every other
    document that is not filtered survives; PII is redacted."""

    def __init__(self, truth: dict):
        dup = {i for c in truth["clusters"] for i in c if i != min(c)}
        self.expected = set(range(1, truth["n_docs"] + 1)) - dup - set(truth["dropped"])
        self.pii = set(truth["pii"])

    def __call__(self, spark, out_dir: str, _res=None) -> str:
        rows = spark.read.parquet(f"{out_dir}/curated").select(
            "doc_id", "n_email", "redacted_text").collect()
        got = {r["doc_id"] for r in rows}
        if len(got) != len(rows):
            return "duplicate doc_id in curated output"
        if got != self.expected:
            return (f"curated ids differ: {len(got - self.expected)} unexpected, "
                    f"{len(self.expected - got)} missing")
        for r in rows:
            if r["doc_id"] in self.pii and (r["n_email"] < 1 or "@example.org" in r["redacted_text"]):
                return f"PII left in doc {r['doc_id']}"
        return ""


# ------------------------------------------------------------------- RSS

def _children(pid_root: int) -> list[int]:
    parent: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/stat") as f:
                    parent[int(name)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                pass
    out, frontier = [pid_root], [pid_root]
    while frontier:
        frontier = [p for p, pp in parent.items() if pp in frontier]
        out += frontier
    return out


def _pss_kb(pid: int) -> int:
    """Proportional set size: resident pages, each shared page split
    between the processes that map it. Summing RSS instead counts pages
    shared after a fork once per process (a short-lived child forked by
    the JVM once read as 2.7 GB extra)."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """Peak of the summed resident memory (PSS) of the driver JVM and
    every process under it (the Python worker daemon and its workers)."""

    def __init__(self, jvm_pid: int, interval: float = 0.2):
        self.jvm_pid, self.interval = jvm_pid, interval
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        tick = 0
        pids = _children(self.jvm_pid)
        while not self._stop.is_set():
            if tick % 10 == 0:  # workers come and go; rescan every 2 s
                pids = _children(self.jvm_pid)
            self.peak_kb = max(self.peak_kb, sum(_pss_kb(p) for p in pids))
            tick += 1
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
