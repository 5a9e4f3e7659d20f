#!/usr/bin/env python3
"""End-to-end benchmark of the extraction and curation jobs.

    python3 e2ebench/run.py --workload transcripts_mixed --seed 1 \
        --seconds 12 --trace 0

Run from the repository root. One driver process runs one workload as a
closed loop (one job at a time) on ``local[k]``, k = min(4, nproc):

1. materialize the seeded input (untimed, cached per seed);
2. set up: ``build_session`` plus a first pass of the workload's entry
   point over 64 rows (Python workers start, parsers, query compilation
   and the write path warm up) -- this wall time is ``setup_s``;
3. timed passes over the whole input until ``--seconds`` of pass time
   are spent, and at least two; every pass's output is checked, untimed.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs the same
loop with Spark's event log on, times each layer from the benchmark's
own files and prints the per-layer metrics (see METRICS.md). The last
line of stdout is one JSON object; progress goes to stderr.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("transcripts_mixed", "neardup_docs")
#: every session setting the benchmark passes; the rest are the
#: program's own defaults from session.build_session
CORES = min(4, os.cpu_count() or 1)
DRIVER_MEM = "2g"
SETUP_ROWS = 64
#: the first timed pass runs colder than the rest; never let it stand alone
MIN_PASSES = 2


def log(msg: str) -> None:
    print(f"[e2ebench] {msg}", file=sys.stderr, flush=True)


def session_conf(run_dir: str, trace: bool) -> dict[str, str]:
    conf = {
        "spark.driver.memory": DRIVER_MEM,
        # the whole heap committed and touched at start: resident memory
        # then does not depend on when the collector chose to grow it
        "spark.driver.extraJavaOptions": (f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch "
                                          f"-Djava.io.tmpdir={run_dir}/tmp -XX:-UsePerfData"),
        "spark.local.dir": f"{run_dir}/spark-local",
        "spark.sql.warehouse.dir": f"{run_dir}/warehouse",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"{run_dir}/eventlog",
            "spark.eventLog.compress": "false",
        })
    return conf


def prepare_env(run_dir: str) -> None:
    """Keep every file the run writes inside the checkout, and let the
    Python workers import the package from it."""
    for d in ("tmp", "spark-local", "eventlog"):
        os.makedirs(os.path.join(run_dir, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    sys.path[:0] = [ROOT, HERE]


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "pdfwf_spark", "pipeline.py")):
        log(f"no pdfwf_spark package under {ROOT}; run from a checkout of the repository")
        return 2

    work_root = os.path.join(ROOT, ".e2ebench_work")
    run_dir = os.path.join(work_root, f"run-{os.getpid()}")
    prepare_env(run_dir)
    try:
        result = run(args, work_root, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result))
    return 0


def run(args, work_root: str, run_dir: str) -> dict:
    import inputs
    import passes

    t = time.perf_counter()
    in_path, truth = inputs.materialize(work_root, args.workload, args.seed)
    in_bytes, _ = passes.dir_bytes(in_path)
    kind = inputs.KIND[args.workload]
    if kind == "extract":
        check = passes.ExtractionCheck(truth, args.seed)
        n_rows = check.n_rows
    else:
        check = passes.CurationCheck(truth)
        n_rows = truth["n_docs"]
    log(f"{args.workload} seed={args.seed}: {n_rows} rows, {in_bytes} input bytes, "
        f"ready in {time.perf_counter() - t:.1f}s")

    tracer = None
    if args.trace:
        import tracing

        tracer = tracing.Tracer()

    import pyarrow.parquet as pq

    from pdfwf_spark.session import build_session

    t0 = time.perf_counter()
    spark = build_session(master=f"local[{CORES}]",
                          extra_conf=session_conf(run_dir, bool(args.trace)))
    session_s = time.perf_counter() - t0
    jvm = spark.sparkContext._gateway.proc
    try:
        # set-up runs the workload's own entry point (write path
        # included) on the first rows of the input, written untimed
        setup_in = f"{run_dir}/setup-input.parquet"
        pq.write_table(pq.read_table(in_path).slice(0, SETUP_ROWS), setup_in)
        t1 = time.perf_counter()
        setup = one_pass(spark, kind, setup_in, f"{run_dir}/setup-out")
        setup_s = session_s + time.perf_counter() - t1
        log(f"setup {setup_s:.2f}s (session {session_s:.2f}s)")
        summary, e2e = measure(args, spark, kind, in_path, in_bytes, n_rows, check,
                               run_dir, tracer, setup, jvm.pid)
        if tracer is not None:
            tracer.layers(spark, kind, in_path, truth, session_s, e2e["rows_per_s"])
    finally:
        spark.stop()
        # the driver JVM exits when its stdin closes; wait for it (and
        # with it the Python workers) before reading the event log
        jvm.stdin.close()
        try:
            jvm.wait(timeout=60)
        except subprocess.TimeoutExpired:
            jvm.kill()
            jvm.wait()
    if tracer is None:
        metrics = {
            "rows_per_s": (e2e["rows_per_s"], "1/s"),
            "setup_s": (setup_s, "s"),
            "peak_rss_mb": (e2e["peak_rss_mb"], "MB"),
            "out_bytes_per_in_byte": (e2e["out_bytes_per_in_byte"], "B/B"),
            "ok_share": (1 - e2e["failed_share"], "share"),
        }
    else:
        tracer.ledger(f"{run_dir}/eventlog", os.path.join(
            work_root, "traces", f"{args.workload}-s{args.seed}.json"))
        metrics = tracer.metrics()
    summary["metrics"] = {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}
    return summary


def one_pass(spark, kind: str, in_path: str, out_dir: str, check=None, tracer=None):
    """Run one pass; with a check, also check its output (untimed)."""
    import passes

    if tracer is not None:
        tracer.group(spark, "pass")
    try:
        if kind == "extract":
            seconds, res = passes.extraction_pass(spark, in_path, out_dir)
        else:
            seconds, res = passes.curation_pass(spark, in_path, out_dir), None
    except Exception as exc:  # a failed pass is counted, not fatal
        log(f"pass failed: {type(exc).__name__}: {exc}")
        return passes.PassResult(0.0, 0, f"{type(exc).__name__}: {exc}")
    if check is None:
        return passes.PassResult(seconds, 0, "", res)
    if tracer is not None:
        tracer.group(spark, "check")
    out_bytes, _ = passes.dir_bytes(out_dir)
    turns_bytes, turns_files = passes.dir_bytes(f"{out_dir}/turns")
    lineage_rows = 0
    try:
        if tracer is not None and res is not None:
            lineage_rows = spark.read.parquet(f"{out_dir}/lineage").count()
        err = check(spark, out_dir, res)
    except Exception as exc:  # unreadable output fails the check
        err = f"{type(exc).__name__}: {exc}"
    if err:
        log(f"output check failed: {err}")
    return passes.PassResult(seconds, out_bytes, err, res, turns_files, turns_bytes, lineage_rows)


def measure(args, spark, kind, in_path, in_bytes, n_rows, check, run_dir, tracer, setup,
            jvm_pid):
    """Timed passes until --seconds of pass time are spent (at least
    MIN_PASSES); rows_per_s is rows over their total time. The set-up
    pass counts as attempted too."""
    from passes import RssSampler

    results = []
    spent = 0.0
    with RssSampler(jvm_pid) as rss:
        while spent < args.seconds or len(results) < MIN_PASSES:
            out_dir = f"{run_dir}/pass-{len(results)}"
            if tracer is not None:
                tracer.begin_pass(len(results))
            r = one_pass(spark, kind, in_path, out_dir, check, tracer)
            if tracer is not None:
                tracer.end_pass(r)
            shutil.rmtree(out_dir, ignore_errors=True)
            results.append(r)
            spent += r.seconds if not r.error else 1.0
            log(f"pass {len(results) - 1}: {r.seconds:.3f}s, {r.turns_files} files {r.error}")
    ok = [r for r in results if not r.error]
    failed = len(results) - len(ok) + (1 if setup.error else 0)
    attempted = len(results) + 1
    e2e = {
        "rows_per_s": n_rows * len(ok) / sum(r.seconds for r in ok) if ok else 0.0,
        "peak_rss_mb": rss.peak_kb / 1024,
        "out_bytes_per_in_byte": statistics.median(r.out_bytes / in_bytes for r in ok) if ok else 0.0,
        "failed_share": failed / attempted,
    }
    log(" ".join(f"{k}={v:.4g}" for k, v in e2e.items()) + f" ({failed}/{attempted} passes failed)")
    return {"correct": failed == 0, "attempted": attempted, "failed": failed}, e2e


if __name__ == "__main__":
    sys.exit(main())
