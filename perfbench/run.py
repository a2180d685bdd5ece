#!/usr/bin/env python3
"""Extraction benchmark.

    python3 perfbench/run.py --workload extract_joined --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Inputs are generated from --seed and
cached under .perfbench/inputs; everything else the run writes goes to
.perfbench/work (emptied each run) and .perfbench/out (trace files).

--trace 0 prints the end-to-end metrics; --trace 1 prints the per-layer
metrics (metrics.json lists them, with the end-to-end metric each should
move). The last stdout line is one JSON object
{"correct", "attempted", "failed", "metrics"}; the line before it holds
the details (quartiles, sample counts, checks, the input mix). Every
output is checked; a wrong output makes `correct` false and the exit code
1. `--workload all` runs every workload, one process each.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPS = 3
# a fixed, pre-touched heap (-Xms = -Xmx, AlwaysPreTouch): the JVM's share of
# peak RSS is then its heap size, not however much of it G1's sizing and
# collection timing happened to touch in a run
DRIVER_MEM = "3g"
KEEP_INPUTS = 12  # cached input sets kept, newest first

with open(os.path.join(HERE, "metrics.json")) as _f:
    SPEC = json.load(_f)


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


class Dirs:
    def __init__(self, root: str):
        base = os.path.join(root, ".perfbench")
        self.work = os.path.join(base, "work")
        self.inputs = os.path.join(base, "inputs")
        self.out = os.path.join(base, "out")
        shutil.rmtree(self.work, ignore_errors=True)
        for d in (self.work, self.inputs, self.out):
            os.makedirs(d, exist_ok=True)
        self.eventlog = os.path.join(self.work, "eventlog")
        os.makedirs(self.eventlog)
        # Spark, the JVM and the Python workers all write temp files here
        os.environ["TMPDIR"] = self.work
        tempfile.tempdir = self.work

    def evict_inputs(self) -> None:
        entries = sorted((os.path.join(self.inputs, e) for e in os.listdir(self.inputs)),
                         key=os.path.getmtime, reverse=True)
        for old in entries[KEEP_INPUTS:]:
            shutil.rmtree(old, ignore_errors=True)


class Session:
    """The Spark session, restarted per set-up; the JVM stays up until
    `close`, which also waits for every process the run started."""

    def __init__(self, dirs: Dirs, cpus: int):
        self.dirs, self.cpus = dirs, cpus
        self.spark = None

    def start(self, eventlog: bool):
        from openocr_spark.session import get_spark

        if self.spark is not None:
            self.spark.stop()
        conf = {
            "spark.local.dir": os.path.join(self.dirs.work, "spark-local"),
            # -XX:-UsePerfData: no hsperfdata files in the system temp dir
            "spark.driver.extraJavaOptions":
                f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch -XX:-UsePerfData "
                f"-Djava.io.tmpdir={self.dirs.work}",
            "spark.ui.showConsoleProgress": "false",
        }
        if eventlog:
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": self.dirs.eventlog,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
        os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
        self.spark = get_spark("perfbench", master=f"local[{self.cpus}]",
                               shuffle_partitions=2 * self.cpus, extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def close(self, tree) -> None:
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gateway = SparkContext._gateway
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            if proc is not None:
                proc.stdin.close()  # the JVM exits when its stdin closes
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
            SparkContext._gateway = None
            SparkContext._jvm = None
        deadline = time.monotonic() + 30
        while tree.descendants() and time.monotonic() < deadline:
            time.sleep(0.1)
        for pid in tree.descendants():
            try:
                os.kill(pid, 9)
            except ProcessLookupError:
                pass


def set_phase(spark, phase: str | None) -> None:
    from eventlog import PHASE_PROP

    spark.sparkContext.setLocalProperty(PHASE_PROP, phase)


def setup(session: Session, wl, eventlog: bool, first: bool) -> float:
    """One set-up: session start plus the first warm job. On the first,
    the inputs are built (or found in the cache) between the two, and that
    time is left out."""
    t0 = time.perf_counter()
    spark = session.start(eventlog)
    start_s = time.perf_counter() - t0
    if first:
        wl.prepare(spark)
    t1 = time.perf_counter()
    set_phase(spark, "warm")
    wl.warm(spark)
    set_phase(spark, None)
    return start_s + time.perf_counter() - t1


def timed_loop(spark, wl, seconds: float, tree, tracer=None, parent=None) -> list[dict]:
    """Closed loop: jobs back to back until `seconds` have passed, after
    one untimed full-size job that lets the JIT and the workers settle."""
    from harness import RssPeak

    set_phase(spark, "settle")
    wl.job(spark)
    jobs = []
    with RssPeak(tree) as rss:
        t_end = time.perf_counter() + seconds
        while not jobs or time.perf_counter() < t_end:
            set_phase(spark, f"timed:{len(jobs)}")
            c0, w0, t0 = tree.cpu_s(), time.time(), time.perf_counter()
            try:
                wl.job(spark)
                ok = True
            except Exception:  # a failed job counts all its items as failed
                traceback.print_exc()
                ok = False
            dt = time.perf_counter() - t0
            cpu = tree.cpu_s() - c0
            set_phase(spark, None)
            span = None if tracer is None else tracer.add("job", w0, w0 + dt, parent, ok=ok)
            jobs.append({"ok": ok, "wall_s": dt, "cpu_s": cpu, "items": wl.n_items,
                         "span": span})
    for j in jobs:
        j["peak_rss"] = rss.peak
    return jobs


def job_metrics(jobs: list[dict]) -> dict:
    from harness import summary

    ok = [j for j in jobs if j["ok"]] or jobs
    return {
        "items_per_s": summary([j["items"] / j["wall_s"] for j in ok]),
        "cpu_ms_per_item": summary([1e3 * j["cpu_s"] / j["items"] for j in ok]),
        "peak_rss_mb": jobs[0]["peak_rss"] / 2**20,
    }


def run_checks(spark, wl) -> tuple[int, dict]:
    report: dict = {}
    set_phase(spark, "check")
    try:
        failed = wl.check(spark, report)
    except Exception as e:  # a check that cannot run fails every item
        traceback.print_exc()
        report["error"] = repr(e)
        failed = wl.n_items
    set_phase(spark, None)
    return failed, report


def run_untraced(args, wl, dirs: Dirs, session: Session, tree) -> tuple[dict, dict]:
    setups = [setup(session, wl, False, first=(k == 0)) for k in range(SETUP_REPS)]
    jobs = timed_loop(session.spark, wl, args.seconds, tree)
    failed_checks, report = run_checks(session.spark, wl)
    m = job_metrics(jobs)
    e2e = {
        "items_per_s": m["items_per_s"]["median"],
        "cpu_ms_per_item": m["cpu_ms_per_item"]["median"],
        "setup_s": statistics.median(setups),
        "peak_rss_mb": m["peak_rss_mb"],
    }
    details = {**m, "setup_s": {"median": e2e["setup_s"], "samples": setups},
               "checks": report}
    return finish(wl, jobs, failed_checks, e2e, details)


def finish(wl, jobs, failed_checks, metrics, details) -> tuple[dict, dict]:
    attempted = sum(j["items"] for j in jobs)
    failed = min(attempted, sum(j["items"] for j in jobs if not j["ok"]) + failed_checks)
    details.update(jobs=[{k: j[k] for k in ("ok", "wall_s", "cpu_s")} for j in jobs],
                   attempted=attempted, failed=failed,
                   failed_frac=failed / attempted, **wl.info())
    units = {**SPEC["end_to_end"], **SPEC["per_layer"]}
    result = {"correct": failed == 0, "attempted": attempted, "failed": failed,
              "metrics": {k: {"value": float(v), "unit": units[k]["unit"]}
                          for k, v in metrics.items()}}
    return result, details


def run_traced(args, wl, dirs: Dirs, session: Session, tree) -> tuple[dict, dict]:
    """Untraced half, then the same loop with the event log on; per-layer
    numbers come from the traced half, the direct-call probes and the
    event log."""
    import probes
    import workloads as W
    from eventlog import EventLog
    from harness import Tracer

    tracer = Tracer()
    t_run = time.time()
    run_span = tracer.add("run", t_run, t_run)
    wl_span = tracer.add(f"workload.{wl.name}", t_run, t_run, run_span)
    for k in range(SETUP_REPS - 1):
        with tracer.span("setup", wl_span):
            setup(session, wl, False, first=(k == 0))
    plain = timed_loop(session.spark, wl, args.seconds / 2, tree)
    with tracer.span("setup", wl_span, eventlog=True):
        setup(session, wl, True, first=False)
    spark = session.spark
    app_id = spark.sparkContext.applicationId
    with tracer.span("timed", wl_span) as timed_span:
        jobs = timed_loop(spark, wl, args.seconds / 2, tree, tracer, timed_span)
    with tracer.span("checks", wl_span):
        failed_checks, report = run_checks(spark, wl)
    layers = {name: 0.0 for name in SPEC["per_layer"]}
    set_phase(spark, "aux")
    layers.update(wl.trace_extras(spark))
    set_phase(spark, None)
    with tracer.span("probes", wl_span) as probe_span:
        enc = W.load_encoders(os.path.join(ROOT, "tests"))
        layers.update(probes.decode_layer(tracer, probe_span, wl.start, enc))
        layers.update(probes.extract_layers(tracer, probe_span, wl.start))
    session.spark.stop()
    session.spark = None
    end = time.time()
    tracer.spans[run_span]["end"] = tracer.spans[wl_span]["end"] = end

    log_path = os.path.join(dirs.eventlog, app_id)
    ev = EventLog(log_path)
    timed_jobs = ev.phase_jobs("timed:")
    for jid in timed_jobs:
        job_span = jobs[int(ev.jobs[jid]["phase"].split(":")[1])]["span"]
        for sid in ev.jobs[jid]["stages"]:
            st = ev.stages.get(sid)
            if st is not None:  # stages AQE reused never ran
                tracer.add("stage", st["start"], st["end"], job_span, stage_id=sid,
                           tasks=st["tasks"])
    pm = ev.metrics(timed_jobs)
    layers.update(wl.layers(pm))
    coverage, self_times = executor_tree(tracer, timed_span, wl, pm)
    ips_plain = job_metrics(plain)["items_per_s"]["median"]
    ips_traced = job_metrics(jobs)["items_per_s"]["median"]
    layers["trace.layer_coverage"] = coverage
    layers["trace.overhead_frac"] = (ips_plain - ips_traced) / ips_plain
    trace_path = os.path.join(dirs.out, f"trace-{wl.name}-s{wl.seed}.json")
    tracer.dump(trace_path)
    details = {"checks": report, "trace_file": os.path.relpath(trace_path, ROOT),
               "items_per_s_untraced": ips_plain, "items_per_s_traced": ips_traced,
               "executor_self_s": self_times, "layers": layers}
    # the result line carries the layers every gated workload measures; the
    # ones specific to a workload are in the details line
    gated = {k: v for k, v in layers.items() if SPEC["per_layer"][k]["gated"]}
    return finish(wl, jobs, failed_checks, gated, details)


def executor_tree(tracer, parent: int, wl, pm) -> tuple[float, dict]:
    """Span tree of the timed jobs' executor time: the run time summed over
    tasks, with the layers' summed times laid end to end beneath it as
    `Workload.executor_layers` nests them. Returns the share of the run
    time the layers cover and each layer's self time with its share."""
    run_s = pm.task_sum("run_ms") / 1e3
    t0 = tracer.spans[parent]["start"]
    root = tracer.add("stage.executor_run", t0, t0 + run_s, parent)

    def lay(parent_id: int, start: float, layers: list) -> None:
        for name, secs, children in layers:
            if secs > 0:
                lay(tracer.add(name, start, start + secs, parent_id), start, children)
                start += secs

    lay(root, t0, wl.executor_layers(pm))
    self_times = tracer.self_times_by_name(root)
    share = {n: {"self_s": s, "share": s / run_s if run_s else 0.0}
             for n, s in self_times.items()}
    covered = run_s - self_times["stage.executor_run"]
    return (covered / run_s if run_s else 0.0), share


def run_one(args) -> int:
    sys.path.insert(0, HERE)
    sys.path.insert(0, ROOT)
    try:
        import openocr_spark  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as e:
        log(f"cannot import the program under test from {ROOT}: {e}")
        return 2
    from pyspark import cloudpickle

    import workloads as W
    from harness import ProcTree

    # the input generators run inside the Python workers, which can
    # import openocr_spark (shipped by get_spark) but not this directory
    cloudpickle.register_pickle_by_value(W)
    dirs = Dirs(ROOT)
    dirs.evict_inputs()
    wl = W.WORKLOADS[args.workload](ROOT, dirs.inputs, dirs.work, args.seed)
    cpus = len(os.sched_getaffinity(0))
    session = Session(dirs, cpus)
    tree = ProcTree()
    t0 = time.perf_counter()
    try:
        runner = run_traced if args.trace else run_untraced
        result, details = runner(args, wl, dirs, session, tree)
    finally:
        session.close(tree)
    details.update(cpus=cpus, seconds=args.seconds, trace=args.trace,
                   wall_s=time.perf_counter() - t0)
    print(json.dumps({"details": details}, default=float))
    print(json.dumps(result))
    return 0 if result["correct"] else 1


def run_all(args) -> int:
    """Every workload in its own process; one summary line each."""
    rc, combined = 0, {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for name in SPEC["workloads"]:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace)]
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
        rc = rc or proc.returncode
        lines = proc.stdout.strip().splitlines()
        if not lines:
            combined["correct"] = False
            continue
        res = json.loads(lines[-1])
        details = json.loads(lines[-2])["details"]
        combined["correct"] &= res["correct"]
        combined["attempted"] += res["attempted"]
        combined["failed"] += res["failed"]
        print(f"{name}: failed_frac={details['failed_frac']:.4f}")
        for metric, m in res["metrics"].items():
            print(f"  {metric:48s} {m['value']:14.4f} {m['unit']}")
            combined["metrics"][f"{name}.{metric}"] = m
    print(json.dumps(combined))
    return rc


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=[*SPEC["workloads"], "all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.workload == "all":
        return run_all(args)
    return run_one(args)


if __name__ == "__main__":
    sys.exit(main())
