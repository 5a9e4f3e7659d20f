"""The traced run: spans around each layer call, Spark's event log folded
into per-stage rows, and the per-layer metrics of METRICS.md.

Spans are recorded from the benchmark's own files around calls into the
program's public functions; each span tags its Spark jobs with a job
group, which is how the event log's stages are joined to it. Spans and
the ledger stay in memory and are written to
``.e2ebench_work/traces/<workload>-s<seed>.json`` when the run ends.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import sys
import time
from contextlib import contextmanager

#: the per-layer metrics and their units are BENCHMARK.json's; a layer the
#: workload does not run reports 0
BENCHMARK_JSON = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                              "BENCHMARK.json")


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.pass_idx = 0
        self.passes: list[dict] = []
        self.values: dict[str, float] = {}

    # ----------------------------------------------------------- spans
    @contextmanager
    def span(self, spark, name: str):
        group = f"layer:{name}"
        spark.sparkContext.setJobGroup(group, name)
        rec = {"name": name, "group": group, "parent": self._stack[-1] if self._stack else None,
               "start": time.time()}
        self._stack.append(len(self.spans))
        self.spans.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            print(f"[e2ebench] span {name}: {rec['end'] - rec['start']:.3f}s",
                  file=sys.stderr, flush=True)

    def group(self, spark, kind: str) -> None:
        """Tag the jobs that follow as the current pass's pass or check."""
        spark.sparkContext.setJobGroup(f"{kind}-{self.pass_idx}", kind)

    def begin_pass(self, i: int) -> None:
        self.pass_idx = i
        self._pass_start = time.time()

    def end_pass(self, r) -> None:
        self.spans.append({"name": "pass", "group": f"pass-{self.pass_idx}", "parent": None,
                           "start": self._pass_start, "end": self._pass_start + r.seconds})
        rec = {"group": f"pass-{self.pass_idx}", "seconds": r.seconds, "error": r.error,
               "files": r.turns_files, "turns_bytes": r.turns_bytes}
        if r.run_result is not None:
            rec.update(write_s=r.run_result.write_s, lineage_s=r.run_result.lineage_s,
                       lineage_rows=r.lineage_rows)
        self.passes.append(rec)

    # ---------------------------------------------------------- layers
    def layers(self, spark, kind: str, in_path: str, truth, session_s: float,
               rows_per_s: float) -> None:
        """Time each layer's public functions on this workload's input."""
        v = self.values
        v["session.start_s"] = session_s
        v["trace.rows_per_s"] = rows_per_s
        ok = [p for p in self.passes if not p["error"]]
        with self.span(spark, "layers"):
            if kind == "extract":
                self._core_and_kernel(spark, in_path, truth)
                self._pipeline(spark, in_path)
            else:
                self._curation(spark, in_path)
        if kind == "extract" and ok:
            v["pipeline.write_s"] = statistics.median(p["write_s"] for p in ok)
            v["pipeline.lineage_s"] = statistics.median(p["lineage_s"] for p in ok)
            v["lineage.rows"] = statistics.median(p["lineage_rows"] for p in ok)
        if ok:
            v["sinks.files_written"] = statistics.median(p["files"] for p in ok)
            v["sinks.mean_file_kb"] = statistics.median(
                p["turns_bytes"] / 1024 / max(1, p["files"]) for p in ok)

    def _core_and_kernel(self, spark, in_path: str, rows) -> None:
        """Sniff and parse in this process over every payload, then the
        Arrow kernel over the workload's batches with extract_payload
        timed inside it: kernel time minus parse time is the boundary
        (Arrow to Python, result assembly, Python to Arrow)."""
        from pdfwf_spark.core import route
        from pdfwf_spark.core.sniff import sniff
        from pdfwf_spark.operators import extract
        from pdfwf_spark.operators.partitioning import with_bucket

        v = self.values
        payloads = [route.route_payload(r["text"], r["tool"])[0] for r in rows]
        with self.span(spark, "core.sniff"):
            reps, t0 = 0, time.thread_time_ns()
            while reps < 1 or time.thread_time_ns() - t0 < 300_000_000:
                for p in payloads:
                    sniff(p)
                reps += 1
            v["core.sniff_us_per_row"] = (time.thread_time_ns() - t0) / 1000 / (reps * len(payloads))

        per_label: dict[str, list[int]] = {}  # label -> [ns, bytes]
        slowest = [0]
        real = route.extract_payload

        def timed(text, tool):
            t = time.thread_time_ns()
            res = real(text, tool)
            dt = time.thread_time_ns() - t
            acc = per_label.setdefault(res.parser, [0, 0])
            acc[0] += dt
            acc[1] += len(text) + len(tool)
            if dt > slowest[0]:
                slowest[0] = dt
            return res

        staged = (with_bucket(spark.read.parquet(in_path))
                  .select("conv_id", "turn_idx", "role", "text", "tool", "ts", "bucket")
                  .withColumn("tie_key", extract.tie_key_col()))
        with self.span(spark, "extract.collect_batches"):
            table = staged.toArrow()
        batch_rows = int(spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch"))
        batches = table.to_batches(max_chunksize=batch_rows)
        saved = extract._EXTRACT_PAYLOAD
        extract._EXTRACT_PAYLOAD = timed
        try:
            with self.span(spark, "extract.kernel"):
                t0 = time.thread_time_ns()
                n_out = sum(b.num_rows for b in extract._extract_batches_arrow(iter(batches)))
                kernel_ns = time.thread_time_ns() - t0
        finally:
            extract._EXTRACT_PAYLOAD = saved
        n = table.num_rows
        if n_out != n:
            raise RuntimeError(f"kernel returned {n_out} rows for {n}")
        parse_ns = sum(a[0] for a in per_label.values())
        v["extract.kernel_us_per_row"] = kernel_ns / 1000 / n
        v["extract.boundary_us_per_row"] = (kernel_ns - parse_ns) / 1000 / n
        v["core.parse_cpu_s"] = parse_ns / 1e9
        v["core.parse_max_ms"] = slowest[0] / 1e6
        for label in ("html", "pdfish", "plain"):
            ns, nbytes = per_label.get(label, (0, 0))
            v[f"core.{label}_us_per_kb"] = ns / 1000 / (nbytes / 1024) if nbytes else 0.0

    def _pipeline(self, spark, in_path: str) -> None:
        from pdfwf_spark.config import read_input
        from pdfwf_spark.pipeline import extract_df

        with self.span(spark, "pipeline.extract") as s:
            extract_df(read_input(spark, in_path)).write.format("noop").mode("overwrite").save()
        self.values["pipeline.extract_s"] = s["end"] - s["start"]

    def _curation(self, spark, in_path: str) -> None:
        from pdfwf_spark.config import read_input
        from pdfwf_spark.curation import curate
        from pdfwf_spark.operators import dedup, textstats

        import passes

        v = self.values
        docs = read_input(spark, in_path)
        thr = passes.CURATE_KW["near_dup_threshold"]

        def noop(df) -> None:
            df.write.format("noop").mode("overwrite").save()

        with self.span(spark, "dedup.neardup") as s:
            noop(dedup.lsh_verified_neardups(docs, threshold=thr))
        v["dedup.neardup_s"] = s["end"] - s["start"]
        with self.span(spark, "dedup.pair_counts"):
            cands = dedup.lsh_candidate_pairs(dedup.minhash_signatures(docs)).count()
            pairs = dedup.lsh_verified_neardups(docs, threshold=thr).localCheckpoint()
            verified = pairs.count()
        v["dedup.candidate_pairs"] = cands
        v["dedup.verified_pairs"] = verified
        v["dedup.pair_yield"] = verified / cands if cands else 0.0
        with self.span(spark, "dedup.clusters") as s:
            noop(dedup.dup_clusters(docs, pairs))
        v["dedup.clusters_s"] = s["end"] - s["start"]
        for name, fn in (
            ("textstats.repetition", lambda d: textstats.with_repetition_stats(d.select("doc_id", "text"))),
            ("textstats.pii", textstats.with_pii_redacted),
            ("textstats.quality", lambda d: textstats.with_lang_id(textstats.with_quality_score(d))),
        ):
            with self.span(spark, name) as s:
                noop(fn(docs))
            v[f"{name}_s"] = s["end"] - s["start"]
        with self.span(spark, "curation.stage_rows"):
            counts = curate(docs, passes.curate_config(in_path, "unused"), collect_stats=True).stage_counts
        for stage, c in counts.items():
            v[f"curation.stage_rows.{stage}"] = c

    # ---------------------------------------------------------- ledger
    def ledger(self, eventlog_dir: str, out_path: str) -> None:
        """Fold the event log (after the session stopped) into per-stage
        rows, attach them to spans by job group, and fill the per-pass
        Spark metrics."""
        stages, group_jobs = fold_event_log(eventlog_dir)
        v = self.values
        per_pass = []
        for p in self.passes:
            if p["error"]:
                continue
            rows = [s for s in stages if s["group"] == p["group"]]
            if not rows:
                continue
            udf = [s for s in rows if s["python_udf"]]
            # the stage that runs the UDF, or the heaviest stage when the
            # workload has no Python UDF
            hot = max(udf or rows, key=lambda s: s["task_run_s"])
            ordering = 0
            if udf:
                parents = {pid for s in udf for pid in s["parents"]}
                ordering = sum(s["shuffle_write_b"] for s in rows
                               if s in udf or s["stage_id"] in parents)
            per_pass.append({
                "spark.jobs_per_pass": group_jobs.get(p["group"], 0),
                "spark.task_cpu_s": sum(s["task_cpu_s"] for s in rows),
                "spark.task_run_s": sum(s["task_run_s"] for s in rows),
                "spark.gc_s": sum(s["gc_s"] for s in rows),
                "spark.spill_mb": sum(s["spill_b"] for s in rows) / 2**20,
                "spark.peak_exec_mem_mb": max(s["peak_exec_mem_b"] for s in rows) / 2**20,
                "ordering.shuffle_mb": ordering / 2**20,
                "partitioning.task_skew": hot["skew"],
            })
        for key in (per_pass[0] if per_pass else {}):
            v[key] = statistics.median(p[key] for p in per_pass)
        for i, sp in enumerate(self.spans):
            # self time: the span's wall minus the part its children cover
            sp["self_s"] = sp["end"] - sp["start"] - sum(
                c["end"] - c["start"] for c in self.spans if c["parent"] == i)
            rows = [s for s in stages if s["group"] == sp["group"]]
            sp["stages"] = len(rows)
            sp["task_run_s"] = sum(s["task_run_s"] for s in rows)
            sp["shuffle_write_mb"] = sum(s["shuffle_write_b"] for s in rows) / 2**20
        os.makedirs(os.path.dirname(out_path), exist_ok=True)
        with open(out_path, "w") as f:
            json.dump({"spans": self.spans, "stages": stages, "passes": self.passes,
                       "metrics": v}, f, indent=1)

    def metrics(self) -> dict[str, tuple[float, str]]:
        with open(BENCHMARK_JSON) as f:
            layers = json.load(f)["per_layer"]
        return {m["name"]: (float(self.values.get(m["name"], 0.0)), m["unit"]) for m in layers}


def fold_event_log(eventlog_dir: str) -> tuple[list[dict], dict[str, int]]:
    """One row per completed stage: its job group, task time, CPU, GC,
    shuffle read and write, spill, peak execution memory and skew
    (max / median task run time); and the number of jobs per group."""
    # Spark 4 writes rolling logs: eventlog_v2_<app>/events_<n>_<app>
    files = sorted((p for p in glob.glob(os.path.join(eventlog_dir, "**"), recursive=True)
                    if os.path.isfile(p) and not p.endswith(".crc")),
                   key=lambda p: [int(x) if x.isdigit() else x for x in os.path.basename(p).split("_")])
    job_group: dict[int, str] = {}
    stage_jobs: dict[int, list[int]] = {}
    tasks: dict[int, list[dict]] = {}
    info: dict[int, dict] = {}
    for path in files:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    job_group[ev["Job ID"]] = props.get("spark.jobGroup.id", "")
                    for sid in ev.get("Stage IDs", []):
                        stage_jobs.setdefault(sid, []).append(ev["Job ID"])
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics")
                    if m:
                        tasks.setdefault(ev["Stage ID"], []).append(m)
                elif kind == "SparkListenerStageCompleted":
                    si = ev["Stage Info"]
                    scopes = " ".join(r.get("Scope", "") + r.get("Name", "") for r in si.get("RDD Info", []))
                    info[si["Stage ID"]] = {"name": si.get("Stage Name", ""),
                                            "parents": si.get("Parent IDs", []),
                                            "python_udf": "Arrow" in scopes or "Python" in scopes}
    rows = []
    for sid, meta in sorted(info.items()):
        ts = tasks.get(sid, [])
        if not ts:
            continue
        jobs = stage_jobs.get(sid, [])
        run = [t.get("Executor Run Time", 0) / 1000 for t in ts]
        med = statistics.median(run)
        rows.append({
            "stage_id": sid, "job_id": jobs[0] if jobs else -1,
            "group": job_group.get(jobs[0], "") if jobs else "",
            "name": meta["name"], "parents": meta["parents"], "python_udf": meta["python_udf"],
            "tasks": len(ts), "task_run_s": sum(run),
            "task_cpu_s": sum(t.get("Executor CPU Time", 0) for t in ts) / 1e9,
            "gc_s": sum(t.get("JVM GC Time", 0) for t in ts) / 1000,
            "shuffle_read_b": sum(t.get("Shuffle Read Metrics", {}).get("Local Bytes Read", 0)
                                  + t.get("Shuffle Read Metrics", {}).get("Remote Bytes Read", 0) for t in ts),
            "shuffle_write_b": sum(t.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0) for t in ts),
            "spill_b": sum(t.get("Memory Bytes Spilled", 0) + t.get("Disk Bytes Spilled", 0) for t in ts),
            "peak_exec_mem_b": max(t.get("Peak Execution Memory", 0) for t in ts),
            "skew": max(run) / med if med > 0 else 1.0,
        })
    group_jobs: dict[str, int] = {}
    for g in job_group.values():
        group_jobs[g] = group_jobs.get(g, 0) + 1
    return rows, group_jobs
