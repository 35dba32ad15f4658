#!/usr/bin/env python3
"""KG-construction benchmark.

    python3 perfbench/run.py --workload kg_batch --seed 1 --seconds 5 --trace 0

Run from the repository root. One process runs one workload on
``local[<cores>]`` (cores = CPUs this process may use). It sets up
SETUPS times (``set_up_repeated``), then runs a closed loop: one client,
units of work back to back for ``--seconds`` (at least one unit), every
unit's output compared with an independent oracle. ``--trace 0`` measures the
end-to-end metrics; ``--trace 1`` is a separate run that measures the
per-layer metrics (see BENCHMARK.json for both lists) and the tracing
overhead. Layers a workload does not run report 0.

The end-to-end times are CPU seconds (user + system) of the whole
process tree: this process, the Spark JVM and its Python workers.
``cpu_s`` is the median over the timed units, ``setup_s`` the median over
the set-ups. On a shared virtual machine the hypervisor steals CPU time
from the guest, and wall time then varies up to twofold between runs of
the same code; the guest kernel leaves stolen time out of CPU time.
Wall times are in the summary line.

The last stdout line is one JSON object: correct, attempted, failed and
metrics. The line before it (``perfbench-summary``) also shows the
sample count, error rate, oracle difference, wall times, sentences/s,
the share of CPU time stolen during the timed units and the load
average at the start and end of the run. Spans of a traced run are
written to .perfbench_out/. Scratch files live in a fresh directory
under .perfbench_work/ that is removed at exit.

``--smoke`` runs tiny inputs, for the benchmark's own tests.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import tempfile
import threading
import time
import traceback
from concurrent.futures import ThreadPoolExecutor

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
UNIT_TIMEOUT_S = 100.0
SETUPS = 3  # set-ups per run; setup_s is their median
PR_SET_CHILD_SUBREAPER = 36  # linux/prctl.h


def _driver_mem() -> str:
    """A quarter of the machine's memory, at most 8g: enough for these
    inputs, and leaves room for the Python workers and co-tenants."""
    with open("/proc/meminfo") as f:
        kb = int(f.readline().split()[1])
    return f"{max(1, min(8, kb // (4 << 20)))}g"


def _timed(fn, spark):
    """fn(spark), cancelling its Spark jobs after UNIT_TIMEOUT_S."""
    timer = threading.Timer(UNIT_TIMEOUT_S, spark.sparkContext.cancelAllJobs)
    timer.start()
    try:
        return fn(spark)
    finally:
        timer.cancel()


def _stop(spark) -> None:
    """Stop Spark and wait for the JVM (and with it the Python workers)
    to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)


def _become_subreaper() -> None:
    """Make this process the parent of its orphaned descendants, so that
    _reap_all can wait for a grandchild whose parent already ended (such
    as PySpark's Python worker daemon after the JVM)."""
    import ctypes

    try:
        prctl = ctypes.CDLL(None, use_errno=True).prctl
    except (OSError, AttributeError):  # not Linux: nothing to reparent
        return
    prctl.argtypes = [ctypes.c_int] + [ctypes.c_ulong] * 4
    prctl.restype = ctypes.c_int
    prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def _reap_all(grace_s: float = 10.0, limit_s: float = 30.0) -> None:
    """Stop every process this run started and wait until each has
    ended. The multiprocessing resource tracker (started by the oracle's
    process pool) is stopped first; it would otherwise outlive the run.
    Whatever else is left, which only an error path leaves, gets SIGTERM
    and, after grace_s, SIGKILL."""
    from multiprocessing import resource_tracker

    from perfbench.trace import descendants

    try:
        resource_tracker._resource_tracker._stop()
    except (AttributeError, OSError):  # a private API: the sweep below ends it
        pass
    start = time.monotonic()
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            pass
        pids = descendants(os.getpid())
        elapsed = time.monotonic() - start
        if not pids:
            return
        if elapsed > limit_s:
            print(f"perfbench: processes still running: {pids}", file=sys.stderr)
            return
        sig = signal.SIGKILL if elapsed > grace_s else signal.SIGTERM
        for pid in pids:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        time.sleep(0.1)


def set_up(wl, name: str, cores: int, conf: dict):
    """get_spark plus the workload's warm pass, each timed."""
    from perfbench.trace import tree_cpu_s
    from spanmarkerner_spark.session import get_spark

    c0 = tree_cpu_s(os.getpid())
    t0 = time.perf_counter()
    spark = get_spark(app_name=f"perfbench-{name}", cores=cores, extra_conf=conf)
    t1 = time.perf_counter()
    wl.warm(spark)
    return spark, {"get_spark_s": t1 - t0, "warm_pass_s": time.perf_counter() - t1,
                   "cpu_s": tree_cpu_s(os.getpid()) - c0}


def set_up_repeated(wl, name: str, cores: int, conf: dict, after_first):
    """SETUPS set-ups: the first in a fresh JVM, the others on a fresh
    SparkContext (so fresh Python workers) in the same JVM. after_first()
    runs between the first and the second. Returns the last session and
    the median of each time. setup_s is the median CPU time of a set-up
    and setup_wall_s the median of get_spark_s + warm_pass_s; both leave
    out most of the JVM start. The first set-up, which also pays for
    whatever runs beside it, is always the slowest, so the median is the
    slower of the other two."""
    times = []
    for i in range(SETUPS):
        if i:
            spark.stop()
        spark, t = set_up(wl, name, cores, conf)
        times.append(t)
        if i == 0:
            after_first()
    wall = [t["get_spark_s"] + t["warm_pass_s"] for t in times]
    setup = {k: statistics.median(t[k] for t in times)
             for k in ("get_spark_s", "warm_pass_s")}
    setup.update(setup_s=statistics.median(t["cpu_s"] for t in times),
                 setup_wall_s=statistics.median(wall), cold_setup_s=wall[0])
    return spark, setup


def measure(wl, spark, seconds: float, setup: dict) -> dict:
    from perfbench.trace import RssSampler, cpu_ticks, tree_cpu_s

    walls, cpus, attempted, failed, diff = [], [], 0, 0, 0
    steal0, total0 = cpu_ticks()
    with RssSampler() as rss:
        deadline = time.perf_counter() + seconds
        while True:
            attempted += 1
            c0 = tree_cpu_s(os.getpid())
            t0 = time.perf_counter()
            try:
                out = _timed(wl.unit, spark)
                dt = time.perf_counter() - t0
                dc = tree_cpu_s(os.getpid()) - c0
                d = wl.check(spark, out)
            except Exception:  # one failed unit must not end the run
                traceback.print_exc(file=sys.stderr)
                failed += 1
            else:
                diff += d
                if d:
                    failed += 1
                else:
                    walls.append(dt)
                    cpus.append(dc)
            if time.perf_counter() >= deadline:
                break
    steal1, total1 = cpu_ticks()
    m = {k: setup[k] for k in ("setup_s", "setup_wall_s", "cold_setup_s")}
    m["peak_rss_mb"] = rss.peak_mb
    # no samples: no cpu_s, so a run whose units all failed cannot read
    # as a speed-up
    if walls:
        m["cpu_s"] = statistics.median(cpus)
        m["wall_s"] = statistics.median(walls)
    return {
        "metrics": m,
        "attempted": attempted, "failed": failed, "samples": len(walls),
        "unit_s": walls, "unit_cpu_s": cpus, "oracle_diff_rows": diff,
        "steal_frac": (steal1 - steal0) / max(1, total1 - total0),
        "sentences_per_s": wl.sentences / m["wall_s"] if wl.sentences and walls else None,
    }


def measure_traced(wl, spark, setup: dict, work: str, run_id: str) -> dict:
    from perfbench.trace import RssSampler, Tracer, parse_perf_profile

    tracer = Tracer(run_id)
    m = {"session.get_spark_s": setup["get_spark_s"],
         "session.warm_pass_s": setup["warm_pass_s"],
         "cold_setup_s": setup["cold_setup_s"]}
    attempted, failed, diff = 0, 0, 0

    def unit(traced: bool) -> float:
        nonlocal attempted, failed, diff
        attempted += 1
        with tracer.span("unit" if traced else "unit.untraced") as s:
            out = _timed(lambda sp: wl.unit(sp, tracer if traced else None), spark)
        d = wl.check(spark, out, tracer)
        diff += d
        failed += bool(d)
        return s["end"] - s["start"]

    sc = spark.sparkContext
    with RssSampler() as rss:
        # untraced, traced, untraced: the overhead compares the traced
        # unit with the untraced one after it, both past the first unit
        # (the first graph_iter sweep pays about 10 s of code generation);
        # the layer passes come last, so they run warm
        unit(False)
        spark.conf.set("spark.sql.pyspark.udf.profiler", "perf")
        sc.setJobGroup("perfbench-traced", "traced unit")
        try:
            traced = unit(True)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            spark.conf.unset("spark.sql.pyspark.udf.profiler")
        untraced = unit(False)
        layer_metrics, layer_diff = wl.layers(spark, tracer)
        diff += layer_diff
        failed += bool(layer_diff)
        m.update(layer_metrics)
    m["mem.peak_rss_mb"] = rss.peak_mb
    m.update(wl.unit_metrics(tracer))
    prof = os.path.join(work, "profile")
    spark.profile.dump(prof, type="perf")
    m.update(parse_perf_profile(prof))
    m["trace.wall_s"] = traced
    m["trace.untraced_wall_s"] = untraced
    m["trace.overhead_s"] = traced - untraced
    m["ner.wall_frac"] = m.get("ner.self_s", 0.0) / untraced
    return {"metrics": m, "attempted": attempted, "failed": failed,
            "samples": 1, "oracle_diff_rows": diff, "tracer": tracer,
            "traced_wall": traced, "sentences_per_s": None}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="tiny inputs")
    args = ap.parse_args(argv)
    t_start = time.perf_counter()
    _become_subreaper()

    if not os.path.isdir(os.path.join(ROOT, "spanmarkerner_spark")):
        print(f"perfbench: no program sources under {ROOT}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    sys.path[:0] = [ROOT, os.path.join(ROOT, "scripts"), os.path.join(ROOT, "tools")]
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    cores = len(os.sched_getaffinity(0))
    os.makedirs(os.path.join(ROOT, ".perfbench_work"), exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=os.path.join(ROOT, ".perfbench_work"))
    for sub in ("tmp", "local", "events"):
        os.makedirs(os.path.join(work, sub))
    os.environ.update({
        "TMPDIR": os.path.join(work, "tmp"),
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "SPARK_DRIVER_MEM": _driver_mem(),
        "SPARK_GRAFT_CPUS": str(cores),
    })
    tempfile.tempdir = None  # re-read TMPDIR
    conf = {
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if args.trace:
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "false",
                     "spark.eventLog.dir": os.path.join(work, "events")})
    load_start = os.getloadavg()[0]
    run_id = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    try:
        wl = WORKLOADS[args.workload](args.seed, work, args.smoke, cores)
        wl.prepare()
        prepare_s = time.perf_counter() - t_start
        # the oracle is computed while the first set-up runs
        with ThreadPoolExecutor(1) as pool:
            expected = pool.submit(wl.oracle, bool(args.trace))
            spark, setup = set_up_repeated(wl, args.workload, cores, conf,
                                           expected.result)
        try:
            t0 = time.perf_counter()
            wl.stage(spark, bool(args.trace))
            stage_s = time.perf_counter() - t0
            if args.trace:
                res = measure_traced(wl, spark, setup, work, run_id)
            else:
                res = measure(wl, spark, args.seconds, setup)
        finally:
            _stop(spark)
        if args.trace:
            from perfbench.trace import parse_event_log

            res["metrics"].update(parse_event_log(
                os.path.join(work, "events"), "perfbench-traced",
                res["traced_wall"], cores))
            out_dir = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out_dir, exist_ok=True)
            res["tracer"].write(os.path.join(out_dir, f"{run_id}.json"))
    finally:
        _reap_all()
        shutil.rmtree(work, ignore_errors=True)

    kind = "per_layer" if args.trace else "end_to_end"
    metrics = {m["name"]: {"value": float(res["metrics"].get(m["name"], 0.0)),
                           "unit": m["unit"]} for m in bench[kind]
               if args.trace or m["name"] in res["metrics"]}
    summary = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "cores": cores, "samples": res["samples"], "unit_s": res.get("unit_s"),
        "unit_cpu_s": res.get("unit_cpu_s"), "steal_frac": res.get("steal_frac"),
        "error_rate": res["failed"] / res["attempted"],
        "oracle_diff_rows": res["oracle_diff_rows"],
        "sentences_per_s": res["sentences_per_s"],
        "loadavg_start": load_start, "loadavg_end": os.getloadavg()[0],
        "prepare_s": prepare_s, "stage_s": stage_s,
        "run_s": time.perf_counter() - t_start,
        **{k: v for k, v in res["metrics"].items() if k not in metrics},
    }
    print("perfbench-summary " + json.dumps(summary))
    print(json.dumps({
        "correct": res["failed"] == 0 and res["oracle_diff_rows"] == 0,
        "attempted": res["attempted"], "failed": res["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
