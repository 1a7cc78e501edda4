#!/usr/bin/env python3
"""Crawl-engine benchmark.

    python3 crawlbench/run.py --workload bfs_extract_store --seed 1 --seconds 10 --trace 0

Runs from the repository root, on ``local[<cores>]`` in one process:

1. set-up: Spark session, then the workload's inputs built from
   ``--seed`` three times (the median build counts);
2. the oracle's answer for those inputs (untimed, not part of set-up);
3. one discarded warm-up iteration (part of set-up: ``setup_s`` is
   session + median build + warm-up);
4. iterations until ``--seconds`` have passed (at least one), each
   gated against the oracle outside its timed section.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` turns on the
Spark event log, runs plain iterations for the first half of the time
and traced ones (spans, job groups, counting probes) for the second,
and prints the per-layer metrics. The last stdout line is one JSON
object: ``correct``, ``attempted``, ``failed``, ``metrics``. Lines
before it report every metric by name and unit for people. Traces go to
``crawlbench/_traces/``; scratch state lives in ``crawlbench/_work/``
and is removed at exit.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import statistics
import sys
import time
import traceback

T_PROCESS = time.perf_counter()
BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
INPUT_BUILDS = 3

# Human-readable notes for metrics a workload cannot produce; the JSON
# reports them as 0.
ABSENT = {
    "bfs_extract_store": {
        "crawl_state.": "bfs_extract_store keeps its seen set in memory (no state store)",
        "politeness.": "bfs_extract_store has no politeness budget",
    },
    "polite_resume": {
        "spans.": "polite_resume parses links only, no span extraction",
        "merge.": "polite_resume commits only crawl state",
        "snaptable.": "polite_resume commits only crawl state (see crawl_state.*)",
    },
}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=["bfs_extract_store", "polite_resume"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def prepare_env(workdir: str) -> None:
    """Keep every file Spark, the JVM and Python write inside the
    checkout, and let the Python workers import the engine."""
    for d in ("tmp", "local"):
        os.makedirs(os.path.join(workdir, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(workdir, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(workdir, "local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    sys.path.insert(0, ROOT)


def spark_conf(workdir: str, trace: bool) -> dict:
    conf = {
        "spark.driver.memory": "2g",
        "spark.local.dir": os.path.join(workdir, "local"),
        "spark.sql.warehouse.dir": os.path.join(workdir, "warehouse"),
        "spark.driver.extraJavaOptions":
            # a fixed, pre-touched heap: the JVM's resident size no longer
            # depends on when the collector chose to grow the heap
            f"-Djava.io.tmpdir={os.path.join(workdir, 'tmp')} -XX:-UsePerfData "
            "-Xms2g -XX:+AlwaysPreTouch",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        events = os.path.join(workdir, "events")
        os.makedirs(events, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + events,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def stop_spark(spark, helpers: list[int]) -> None:
    """Stop Spark, end the JVM (it exits when its stdin closes) and wait
    until it and every worker it forked have ended."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    for pid in helpers:
        while _alive(pid):
            if time.monotonic() > deadline:
                try:
                    os.kill(pid, 9)
                except OSError:
                    pass
                time.sleep(0.1)
                break
            time.sleep(0.1)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def settle(sc) -> None:
    """Untimed, between timed iterations: collect the previous one's
    garbage in Python and the JVM, which also lets Spark clean up its
    checkpoints and shuffles."""
    gc.collect()
    sc._jvm.System.gc()


def median(xs):
    return statistics.median(xs) if xs else 0.0


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "course_scraper_spark")):
        print(f"crawlbench: no course_scraper_spark/ package beside {BENCH}; "
              "run from a checkout of the repository", file=sys.stderr)
        return 2
    workdir = os.path.join(BENCH, "_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    tracedir = os.path.join(BENCH, "_traces")
    prepare_env(workdir)

    from course_scraper_spark.session import get_spark

    from crawlbench.probes import descendants

    cores = len(os.sched_getaffinity(0))
    spark = get_spark(
        app_name=f"crawlbench-{args.workload}", master=f"local[{cores}]",
        shuffle_partitions=cores, extra_conf=spark_conf(workdir, bool(args.trace)),
    )
    spark.sparkContext.setLogLevel("ERROR")
    try:
        try:
            out = run(spark, args, cores, workdir, time.perf_counter() - T_PROCESS)
        finally:
            stop_spark(spark, descendants(os.getpid()))
        if out is None:
            return 1
        if args.trace:
            finish_trace(out, workdir, tracedir, args, cores)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)
    print(json.dumps(out["result"]))
    return 0


def run(spark, args, cores, workdir, session_s):
    from crawlbench.probes import RssSampler
    from crawlbench.trace import Tracer
    from crawlbench.workloads import WORKLOADS

    sc = spark.sparkContext
    rss = RssSampler()
    tracer = Tracer(sc, enabled=False)
    wl = WORKLOADS[args.workload](spark, args.seed, workdir, tracer)

    builds = []
    for _ in range(INPUT_BUILDS):
        t = time.perf_counter()
        wl.setup()
        builds.append(time.perf_counter() - t)
    rss.sample()

    t = time.perf_counter()
    wl.prepare_oracle()
    oracle_s = time.perf_counter() - t

    t = time.perf_counter()
    wl.iteration(-1, traced=False)
    wl.release()
    warmup_s = time.perf_counter() - t
    setup_s = session_s + median(builds) + warmup_s

    results, attempted, failed = [], 0, 0
    start = time.perf_counter()
    half = args.seconds / 2 if args.trace else args.seconds
    n_plain = 0
    while True:
        elapsed = time.perf_counter() - start
        traced = bool(args.trace) and (elapsed >= half and n_plain > 0)
        if elapsed >= args.seconds and (not args.trace or any(r["traced"] for r in results)):
            break
        it = attempted
        tracer.iteration = it
        tracer.enabled = traced
        attempted += 1
        res = None
        try:
            res = wl.iteration(it, traced)
            msgs = wl.check(res)
        except Exception:
            traceback.print_exc(file=sys.stderr)
            msgs = ["iteration raised"]
        finally:
            tracer.enabled = False
            wl.release()
            rss.sample()
            settle(sc)
        if msgs:
            failed += 1
            print(f"crawlbench: iteration {it} failed the oracle gate: {msgs}", file=sys.stderr)
        if res is not None:
            res["traced"] = traced
            res["iteration"] = it
            results.append(res)
            n_plain += not traced

    if not results:
        print("crawlbench: no iteration completed", file=sys.stderr)
        return None
    plain = [r for r in results if not r["traced"]]
    walls = [r["wall_s"] for r in plain]
    e2e = {
        "wall_s": (median(walls), "s"),
        "fetched_parsed_per_s": (median([r["work"] / r["wall_s"] for r in plain]), "1/s"),
        "setup_s": (setup_s, "s"),
        "peak_rss_mb": (rss.peak_mb(), "MB"),
    }
    context = {
        "crawl_urls_per_s": (
            median([r["seen_urls"] / r["crawl_s"] for r in plain if "crawl_s" in r]), "1/s"),
        "resume_s": (median([r["resume_s"] for r in plain if "resume_s" in r]), "s"),
        "failed_ops_ratio": (failed / attempted, "ratio"),
        "setup.session_s": (session_s, "s"),
        "setup.inputs_s": (median(builds), "s"),
        "setup.warmup_s": (warmup_s, "s"),
        "oracle_s": (oracle_s, "s"),
        "oracle_crawl_s": (wl.oracle_crawl_s, "s"),
    }
    print(f"crawlbench {args.workload} seed={args.seed} cores={cores} "
          f"iterations={len(plain)} (median of {len(plain)} untraced) "
          f"attempted={attempted} failed={failed}")
    for name, (v, unit) in {**e2e, **context}.items():
        print(f"  {name:<24} {v:>14.4f} {unit}")
    print("  (oracle_*: the single-process oracle on the same inputs; context, not gated)")
    print(f"  iteration walls: {[round(w, 3) for w in walls]}; "
          f"waves/rounds: {[r.get('waves', r.get('rounds')) for r in plain]}")
    return {
        "results": results,
        "spark_app": sc.applicationId,
        "result": {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()},
        },
        "spans": tracer.spans,
    }


def finish_trace(out, workdir, tracedir, args, cores):
    """Fold the event log and the probes' counters into the per-layer
    metrics, write the trace file, and make the per-layer metrics the
    JSON result's metrics."""
    from crawlbench.layers import layer_metrics

    metrics, absent, overhead = layer_metrics(
        out, os.path.join(workdir, "events", out["spark_app"]), cores,
        ABSENT[args.workload],
    )
    os.makedirs(tracedir, exist_ok=True)
    path = os.path.join(tracedir, f"{args.workload}-seed{args.seed}-{int(time.time())}.json")
    with open(path, "w") as f:
        json.dump({"workload": args.workload, "seed": args.seed, "cores": cores,
                   "metrics": metrics, "absent": absent, "spans": out["spans"]}, f)
    print(f"crawlbench trace: {path}")
    print(f"  tracing overhead: {overhead:+.4f} s per iteration (traced wall_s - untraced wall_s)")
    for name, (v, unit) in metrics.items():
        note = f"   absent: {absent[name]}" if name in absent else ""
        print(f"  {name:<36} {v:>14.4f} {unit}{note}")
    out["result"]["metrics"] = {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}


if __name__ == "__main__":
    sys.exit(main())
