#!/usr/bin/env python3
"""Extraction benchmark: one seeded workload per invocation.

    python3 perfbench/run.py --workload extract_longtail --seed 1 --seconds 20 --trace 0

Run from the root of a checkout (the directory holding ``ocr_spark``).

Workloads (see perfbench/workloads.py):
  extract_longtail  pipeline.extract_documents -> noop over a seeded
                    long-tail span corpus (sources/corpus.write_corpus)
  pdf_ocr           pipeline.process_pdfs over seeded PDF bytes, a fifth of
                    them simulated scans taking the rasterize -> OCR branch

Load is a closed loop: this one driver process submits one job at a time to
a ``local[nproc]`` session made by ``ocr_spark.session.get_spark``. Inputs
are generated from ``--seed`` (cached per seed under ``.perfbench/cache``)
before any timer starts; the program reads only their parquet.

Each run first starts the session; setup_s is the time from process start
until the session is up and its Python workers have run a trivial job.
Then it executes the workload once and checks every output document against
the reference (tests/reference_impl.py, or the closed-form PDF rule). That
job also warms the JVM. Then:

  --trace 0  jobs back to back for --seconds (at least MIN_JOBS); reports
             the median job's throughput, peak RSS of the Spark JVM and its
             Python workers while those jobs run, and setup_s.
  --trace 1  rounds of cumulative plan prefixes under spans, each round
             followed by one untraced job, for --seconds (at least one
             round); on extract_longtail then one checkpointed crash/resume
             cycle, whose bucket output gets the same reference check.
             Reports every per-layer metric (0 where the workload does not
             run the layer) and writes the spans to .perfbench/traces/.

Human-readable lines (record, metrics with units, check) come first; the
last stdout line is one JSON object {correct, attempted, failed, metrics}.
``attempted``/``failed`` count documents: a document is failed when it is
missing from the output or differs from the reference. Documents lost to the
known all-boilerplate defect count as failed but keep ``correct`` true; any
other difference sets it false and the exit code to 1.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
STATE = os.path.join(ROOT, ".perfbench")
CACHE_KEEP = 6  # cached seeds kept on disk
MIN_JOBS = 3  # timed jobs per run, so one slow job does not set the median
DRIVER_MEM = "3g"  # spark.driver.memory; the session factory defaults to 32g
UI_PORT = "4050"  # pinned for the REST reader (Spark moves up if it is taken)


def declared_metrics() -> tuple[dict[str, str], dict[str, str]]:
    """(end-to-end, per-layer) metric name -> unit, as BENCHMARK.json at the
    checkout root declares them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    return tuple({m["name"]: m["unit"] for m in bench[k]} for k in ("end_to_end", "per_layer"))


def log(msg: str) -> None:
    """Progress on stderr, stamped with seconds since process start."""
    from perfbench.tracing import process_uptime_s

    print(f"perfbench [{process_uptime_s():6.1f}s] {msg}", file=sys.stderr, flush=True)


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of this machine so far, from /proc/stat."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def configure_env(work: str) -> None:
    """Keep every file Spark, the JVM and the Python workers write inside
    ``work``, and let the workers import the package."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", DRIVER_MEM)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_SUBMIT_OPTS"] = (
        # no hsperfdata file: the JVM would write it under /tmp
        os.environ.get("SPARK_SUBMIT_OPTS", "") + f" -Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    ).strip()
    sys.path.insert(0, ROOT)


def start_session(work: str):
    """The program's own session factory, then a trivial job on every core
    so the Python workers exist. Returns (spark, seconds since process start)."""
    from ocr_spark.session import get_spark

    from perfbench.tracing import process_uptime_s

    n = nproc()
    spark = get_spark(
        "perfbench",
        master=f"local[{n}]",
        shuffle_partitions=2 * n,
        extra_conf={
            "spark.ui.port": UI_PORT,
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    spark.sparkContext.parallelize(range(n), n).map(lambda x: x + 1).collect()
    return spark, process_uptime_s()


def stop_spark(spark) -> None:
    """Stop the session and its JVM, and wait until every process this one
    started (JVM, Python worker daemon and workers) has ended."""
    from pyspark import SparkContext

    from perfbench.tracing import descendants

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF of its stdin
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    me = os.getpid()
    deadline = time.monotonic() + 30
    while True:
        kids = descendants(me)
        if not kids:
            return
        if time.monotonic() > deadline:
            for pid in kids:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + 10
        time.sleep(0.2)
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            pass


def prune_cache(cache: str, keep: int) -> None:
    entries = sorted(
        (os.path.join(cache, e) for e in os.listdir(cache)),
        key=os.path.getmtime, reverse=True,
    )
    for old in entries[keep:]:
        shutil.rmtree(old, ignore_errors=True)


def record(spark, args, inp: dict) -> dict:
    conf = spark.sparkContext.getConf()
    return {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "inputs": {k: inp[k] for k in ("docs", "spans", "pages", "bytes") if k in inp},
        "nproc": nproc(),
        "master": spark.sparkContext.master,
        "spark": spark.version,
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
        "python": platform.python_version(),
        "driver_memory": conf.get("spark.driver.memory"),
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
    }


def run(args, work: str) -> tuple[dict, list[str]]:
    steal0, total0 = cpu_ticks()
    spark, setup_s = start_session(work)
    # imported once the session is up, so setup_s leaves out numpy and pyarrow
    from perfbench.tracing import RssSampler, Tracer
    from perfbench.workloads import WORKLOADS, Check, timed_loop

    wl = WORKLOADS[args.workload]
    end_to_end, per_layer = declared_metrics()
    log(f"session ready; preparing {args.workload} inputs for seed {args.seed}")
    lines = []
    metrics = {}
    try:
        cache = os.path.join(STATE, "cache")
        os.makedirs(cache, exist_ok=True)
        inp = wl.prepare(cache, args.seed)
        prune_cache(cache, CACHE_KEEP)
        rec = record(spark, args, inp)
        log("checking one job's output against the reference")
        try:
            chk = wl.check(spark, inp, work)
        except Exception:  # a failed job fails every document
            traceback.print_exc()
            chk = Check(attempted=inp["docs"], failed=inp["docs"], unexpected=["job failed"])
        log(f"check done; {'tracing' if args.trace else 'timing'} for {args.seconds} s")
        if chk.unexpected:
            log("output check failed; nothing timed")
        elif args.trace:
            tracer = Tracer(spark)
            metrics = wl.trace(spark, inp, work, tracer, args.seconds, chk)
            tracer.dump(os.path.join(STATE, "traces", f"{args.workload}-s{args.seed}.json"))
        else:
            with RssSampler() as rss:
                jobs = timed_loop(args.seconds, lambda: wl.job(spark, inp, work), MIN_JOBS)
            wall = statistics.median(j["wall_s"] for j in jobs)
            metrics["docs_per_s"] = inp["docs"] / wall
            for unit, n in inp["units"].items():
                if unit != "docs":
                    metrics[f"{unit}_per_s"] = n / wall
            metrics["peak_rss_mb"] = rss.peak / 2**20
            metrics["setup_s"] = setup_s
            rec["job_s"] = [j["wall_s"] for j in jobs]
    finally:
        stop_spark(spark)
    log("session stopped")
    steal1, total1 = cpu_ticks()
    # time the hypervisor ran other guests on our CPUs: a noisy-host indicator
    rec["cpu_steal_share"] = (steal1 - steal0) / max(total1 - total0, 1)

    if chk.unexpected:
        lines += [f"MISMATCH {u}" for u in chk.unexpected[:20]]
    elif args.trace:
        per_doc = {u: n / inp["docs"] for u, n in inp["units"].items()}
        untraced = metrics["trace.untraced_docs_per_s"]
        metrics.setdefault("pipeline.spans_per_s", untraced * per_doc.get("spans", 0))
        metrics.setdefault("pdf.pages_per_s", untraced * per_doc.get("pages", 0))
        metrics["pipeline.fail_ratio"] = chk.failed / chk.attempted
        metrics = {k: metrics.get(k, 0) for k in per_layer}
    units = {**end_to_end, **per_layer, "spans_per_s": "1/s", "pages_per_s": "1/s"}
    lines.insert(0, "record " + json.dumps(rec))
    lines += [f"metric {k} {v:.6g} {units[k]}" for k, v in metrics.items()]
    lines.append(
        f"check attempted={chk.attempted} failed={chk.failed} "
        f"all_boilerplate_docs_dropped={chk.known} fail_ratio={chk.failed / chk.attempted:.6f} "
        f"unexpected={len(chk.unexpected)}"
    )
    declared = per_layer if args.trace else end_to_end
    result = {
        "correct": not chk.unexpected,
        "attempted": chk.attempted,
        "failed": chk.failed,
        "metrics": {
            k: {"value": metrics[k], "unit": declared[k]} for k in declared if k in metrics
        },
    }
    return result, lines


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=("extract_longtail", "pdf_ocr"))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    program = [os.path.join(ROOT, "ocr_spark", "pipeline.py"),
               os.path.join(ROOT, "tests", "reference_impl.py")]
    missing = [p for p in program if not os.path.exists(p)]
    if missing:
        print(f"perfbench: program sources not found: {missing}; "
              "run from the root of a checkout", file=sys.stderr)
        return 2

    os.makedirs(STATE, exist_ok=True)
    work = tempfile.mkdtemp(prefix="run-", dir=STATE)
    try:
        configure_env(work)
        result, lines = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for line in lines:
        print(line)
    print(json.dumps(result), flush=True)
    if not result["correct"]:
        print("perfbench: output check FAILED", file=sys.stderr)
        return 1
    return 0


if __name__ == "__main__":
    sys.exit(main())
