#!/usr/bin/env python3
"""Benchmark of the intertext_spark engine, driven through its public API.

    python3 perfbench/run.py --workload planted_reuse --seed 1 --seconds 1 --trace 0

Run from the repository root.  One process, one Spark session on
``local[<cpus>]``, one client.  Set-up: session start, the seeded corpus
(built several times; setup_s takes the median build) and an untimed
warm-up query.  Then ops back to back until ``--seconds`` have passed; an
op always runs to completion, so with a short ``--seconds`` a run times
exactly one op.  Every op's output is checked: pair recall against the
planted golden pairs, match edges inside one CC group, a match digest that
must equal the digest of every earlier run on the same inputs in this
checkout, and no persistent RDD surviving the op.  ``--trace 1`` instead
runs one op with a span and a Spark job group per layer, with the event
log on, and reports the per-layer metrics of BENCHMARK.json.

Scratch data lives under ``.perfbench/`` and is removed on exit; span
files of traced runs stay in ``.perfbench/traces/``, match digests and
untraced op walls in ``.perfbench/record.json``.  The last stdout line is
one JSON object: correct, attempted, failed, metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DRIVER_MEM = "3g"
SETUP_REPEATS = 3   # corpus builds per run; setup_s takes their median
RECALL_FLOOR = 0.99
LAYERS = ("session", "sources", "windows", "signatures", "candidates",
          "matches", "clusters", "graph", "store", "incremental", "pipeline")
EVENT_METRICS = ("shuffle_write_mb", "spill_mb", "gc_s", "task_cpu_s",
                 "failed_tasks")
RECORD = os.path.join(ROOT, ".perfbench", "record.json")


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def configure_env(work: str) -> dict:
    """Session sizing for a small box, through the engine's own env hooks:
    a driver heap well under RAM, no heap pre-touch (so peak RSS shows
    what the run used), and a per-run local dir inside the work dir
    instead of RAM-backed /dev/shm."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    settings = {
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_GRAFT_PRETOUCH": "0",
        "SPARK_GRAFT_LOCAL_DIR": os.path.join(work, "local"),
    }
    os.environ.update(settings)
    # a set SPARK_LOCAL_DIRS would override spark.local.dir
    os.environ["SPARK_LOCAL_DIRS"] = settings["SPARK_GRAFT_LOCAL_DIR"]
    os.environ["TMPDIR"] = tmp
    # the spark-submit launcher JVM would write hsperfdata under /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    # Python workers import intertext_spark by module path
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    return settings


def persistent_ids(sc) -> set:
    return set(sc._jsc.getPersistentRDDs().keySet().toArray())


def released(spark, fn):
    """Run ``fn``, then release every RDD it left persistent and check
    that the persistent set is back to where it was (localCheckpoint
    blocks survive clearCache, and the groups frame drops its release
    handle).  Returns fn's result and the leak problems found."""
    from intertext_spark.operators.ckpt import release_rdd_ids

    sc = spark.sparkContext
    before = persistent_ids(sc)
    res = fn()
    spark.catalog.clearCache()
    release_rdd_ids(spark, persistent_ids(sc) - before)
    left = persistent_ids(sc) - before
    return res, [f"{len(left)} persistent RDDs survive release"] if left else []


def stop_session(spark) -> None:
    """Stop Spark and wait for the driver JVM and its Python workers."""
    from pyspark import SparkContext

    from measure import descendants

    kids = descendants(os.getpid())
    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    for pid in kids:
        while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
            time.sleep(0.1)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass


def load_record() -> dict:
    """What earlier runs in this checkout left: match digests per workload
    and inputs, and untraced op walls per workload."""
    if not os.path.exists(RECORD):
        return {"digests": {}, "op_walls": {}}
    with open(RECORD) as f:
        return json.load(f)


def save_record(record: dict) -> None:
    with open(RECORD, "w") as f:
        json.dump(record, f, indent=1, sort_keys=True)


def check_ops(wl, results: list, record: dict) -> list:
    """Output checks over a run's finished ops: recall floor, one match
    digest for all ops, and the same digest as earlier runs of this
    workload on the same inputs (recorded for later runs)."""
    problems = [p for r in results for p in r.problems]
    digests = {r.digest for r in results}
    if len(digests) > 1:
        problems.append(f"match digest differs between ops: {sorted(digests)}")
    elif digests:
        (digest,) = digests
        key = f"{wl.name}:{wl.seed}:{wl.input_sha}"
        first = record["digests"].setdefault(key, digest)
        if first != digest:
            problems.append(f"match digest {digest} differs from an earlier "
                            f"run of these inputs ({first})")
    recall = min((r.recall for r in results), default=0.0)
    if recall < RECALL_FLOOR:
        problems.append(f"pair_recall {recall:.4f} < {RECALL_FLOOR}")
    return problems


def timed(spark, wl, seconds: float) -> tuple[dict, list, int]:
    """Ops back to back until ``seconds`` have passed.  Returns the
    metrics, the finished ops and the number of failed ops."""
    from measure import MB, RssSampler

    rss = RssSampler()
    results, failed = [], 0
    rss.start()
    t0 = time.perf_counter()
    try:
        while True:
            try:
                res, leaks = released(spark, wl.op)
            except Exception:
                failed += 1
                traceback.print_exc()
            else:
                res.problems += leaks
                results.append(res)
            if time.perf_counter() - t0 >= seconds:
                break
    finally:
        rss.stop()
    turns = sum(r.turns for r in results)
    metrics = {
        "turns_per_cpu_s": turns / sum(r.cpu for r in results) if results else 0.0,
        "pair_recall": min((r.recall for r in results), default=0.0),
        "peak_rss_mb": rss.peak / MB,
    }
    return metrics, results, failed


def layer_metrics(m: dict, tracer, event_dir: str) -> dict:
    """Complete the traced op's numbers with span walls and the event-log
    task totals of each layer's job group (the session has stopped, so
    the log is complete)."""
    from measure import event_log_totals, task_skew

    totals, task_times = event_log_totals(event_dir)
    for layer in LAYERS:
        for f in EVENT_METRICS:
            m[f"{layer}.{f}"] = totals.get(layer, {}).get(f, 0.0)
    for layer in ("windows", "signatures", "candidates", "matches",
                  "clusters", "graph"):
        m[f"{layer}.wall_s"] = tracer.wall(layer)
    m["session.start_s"] = tracer.wall("session")
    m["sources.read_s"] = tracer.wall("sources")
    m["pipeline.self_s"] = tracer.self_time("pipeline")
    m["graph.jobs"] = totals.get("graph", {}).get("jobs", 0)
    pipeline_s = tracer.wall("pipeline")
    m["graph.wall_share"] = m["graph.wall_s"] / pipeline_s if pipeline_s else 0.0
    m["candidates.task_skew"] = task_skew(task_times.get("candidates", {}))
    sig_s, pairs_in = m["signatures.wall_s"], m.get("matches.pairs_in", 0)
    m["signatures.windows_per_s"] = (
        m.get("windows.rows_out", 0) / sig_s if sig_s else 0.0
    )
    m["matches.yield"] = m.get("matches.rows_out", 0) / pairs_in if pairs_in else 0.0
    return m


def measure(args, work: str, spec: dict, settings: dict) -> dict:
    from measure import Tracer, cpu_now
    from workloads import WORKLOADS

    tracer = Tracer(run_id=f"{args.workload}-seed{args.seed}")
    event_dir = os.path.join(work, "events")
    # no hsperfdata file under /tmp; JVM temp files in the work dir
    conf = {"spark.driver.extraJavaOptions":
            f"-XX:-UsePerfData -Djava.io.tmpdir={os.environ['TMPDIR']}"}
    if args.trace:
        os.makedirs(event_dir)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_dir,
            "spark.eventLog.compress": "false",
        })
    cpus = len(os.sched_getaffinity(0))
    record = load_record()
    t0, c0 = time.perf_counter(), cpu_now()
    with tracer.span("session"):
        from intertext_spark.session import get_spark

        spark = get_spark(app=f"perfbench-{args.workload}",
                          master=f"local[{cpus}]", shuffle_partitions=cpus,
                          extra_conf=conf)
        spark.sparkContext.setLogLevel("ERROR")
    session_s, session_cpu = time.perf_counter() - t0, cpu_now() - c0
    try:
        wl = WORKLOADS[args.workload](spark, work, args.seed)
        builds = []  # pure Python and pyarrow: this process's CPU time
        for _ in range(SETUP_REPEATS):
            c = time.process_time()
            wl.build_inputs()
            builds.append(time.process_time() - c)
        t, c = time.perf_counter(), cpu_now()
        _, problems = released(spark, wl.warm_up)
        warm_s, warm_cpu = time.perf_counter() - t, cpu_now() - c
        setup_cpu = session_cpu + statistics.median(builds) + warm_cpu
        print(f"settings: local[{cpus}] "
              + " ".join(f"{k}={v}" for k, v in settings.items()))
        print(f"setup: session {session_s:.2f}s wall {session_cpu:.2f}s cpu, "
              f"corpus build median of {SETUP_REPEATS} "
              f"{statistics.median(builds):.2f}s cpu, warm-up {warm_s:.2f}s "
              f"wall {warm_cpu:.2f}s cpu; setup_s {setup_cpu:.2f}s cpu")
        if args.trace:
            failed, metrics, results = 0, {}, []
            try:
                (metrics, res), leaks = released(spark, lambda: wl.traced(tracer))
            except Exception:
                failed = 1
                traceback.print_exc()
            else:
                res.problems += leaks
                results.append(res)
        else:
            metrics, results, failed = timed(spark, wl, args.seconds)
            metrics["setup_s"] = setup_cpu
    finally:
        stop_session(spark)
    problems += check_ops(wl, results, record)
    walls = record["op_walls"].setdefault(wl.name, [])
    attempted = len(results) + failed
    if args.trace:
        metrics = layer_metrics(metrics, tracer, event_dir)
        if walls:
            # traced minus untraced wall of the same op
            metrics["trace.overhead_s"] = (
                tracer.wall(wl.op_span) - statistics.median(walls)
            )
        tracer.dump(os.path.join(ROOT, ".perfbench", "traces",
                                 f"{tracer.run_id}.json"))
    else:
        op_walls = [r.wall for r in results]
        walls += op_walls
        turns = sum(r.turns for r in results)
        print(f"ops: {attempted} attempted, {failed} failed, error_rate "
              f"{failed / attempted:.4f}; median op wall "
              f"{statistics.median(op_walls or [0]):.2f}s, turns_per_s "
              f"{turns / (sum(op_walls) or 1):.2f}, op cpu_s "
              f"{','.join(f'{r.cpu:.1f}' for r in results)}; digests "
              f"{','.join(sorted({r.digest for r in results}))}")
    save_record(record)
    for p in problems:
        print(f"CHECK FAILED: {p}")
    wanted = spec["per_layer" if args.trace else "end_to_end"]
    return {
        "correct": not problems and failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {
            # layers a workload never calls report 0
            m["name"]: {"value": float(metrics.get(m["name"], 0.0)),
                        "unit": m["unit"]}
            for m in wanted
        },
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "intertext_spark", "__init__.py")):
        print(f"no intertext_spark package under {ROOT}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        print(f"unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    work = os.path.join(ROOT, ".perfbench", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        settings = configure_env(work)
        result = measure(args, work, spec, settings)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
