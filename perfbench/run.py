"""Benchmark runner for the lineage pipeline on ``local[nproc]``: the
``lineage_ingest`` and ``lineage_impact`` workloads.

    python3 perfbench/run.py --workload lineage_ingest --seed 1 --seconds 8 --trace 0

Runs from the root of a checkout and builds nothing: the program is the
``kachess_spark`` package beside this directory.  Inputs are generated from
``--seed``; after a workload's untimed warm-up passes, timed passes repeat
until ``--seconds`` have been measured (at least one pass).  Everything
the run writes goes under ``.perfbench_work/`` in the checkout and is
removed at exit.

The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.  With ``--trace 0`` the
metrics are the end-to-end metrics of ``BENCHMARK.json``, in CPU seconds
of the program's processes (see ``cpuclock``) at the host's nominal speed
(see ``speed``); with ``--trace 1`` they are
its per-layer metrics, taken from one traced pass.  The tracer times its
own bookkeeping (``trace.overhead_s``); the traced pass's CPU
(``trace.cpu_s``) set against ``cpu_s`` of an untraced run with the same
seed gives the overhead by difference.
The line before it holds the same runs in wall time, the workload's own
figures, the host context and the failure messages.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import platform
import resource
import shlex
import shutil
import signal
import statistics
import sys
import tempfile
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# set-up runs SETUP_REPS times; setup_s is the median
SETUP_REPS = 3
DRIVER_MEM = "2g"


def _cpus() -> int:
    return len(os.sched_getaffinity(0))


def _loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def _environment(work: str) -> None:
    """Point every scratch location of Python, Spark and the JVM inside
    ``work``, and pin the core count (the session factory defaults to 32)."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_GRAFT_CPUS"] = str(_cpus())
    os.environ["KACHESS_DRIVER_MEM"] = DRIVER_MEM
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [
            "--driver-java-options", shlex.quote(java_opts),
            "--conf", shlex.quote(f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}"),
            "--conf", "spark.ui.showConsoleProgress=false",
            "pyspark-shell",
        ]
    )


def _steal_s() -> float:
    """CPU time the hypervisor gave to others while this host's CPUs
    wanted to run, summed over CPUs."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def _stop_spark(spark) -> None:
    """Stop the session, end the JVM it launched and wait for the JVM and
    its Python workers to exit."""
    from perfbench.cpuclock import children

    proc = spark.sparkContext._gateway.proc
    procs = children(proc.pid)
    try:
        spark.stop()
    except Exception:
        pass  # a signal broke the gateway; the JVM still exits on stdin EOF
    proc.stdin.close()  # the gateway JVM exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except Exception:
        proc.kill()
        proc.wait()
    deadline = time.time() + 20
    while any(_alive(p) for p in procs) and time.time() < deadline:
        time.sleep(0.1)
    for p in procs:
        if _alive(p):
            os.kill(p, signal.SIGKILL)


def at_speed(windows, probe) -> float:
    """CPU seconds of the program in ``windows`` (see cpuclock), at the
    host's nominal speed (see speed)."""
    return sum(cpu / probe.slowdown(t0, t1) for t0, t1, cpu in windows)


def end_to_end(passes, setups, probe) -> dict[str, float]:
    """The gated metrics."""
    return {
        "setup_s": statistics.median(at_speed([w], probe) for w in setups),
        "cpu_s": statistics.median(at_speed(p.windows, probe) for p in passes),
    }


def wall(passes, setup_wall: list[float]) -> dict[str, float]:
    """The same runs in wall time, which other tenants' load moves."""
    import numpy as np

    lat = [o.seconds for p in passes for o in p.ops]
    return {
        "setup_s": statistics.median(setup_wall),
        "wall_s": statistics.median(p.wall for p in passes),
        "op_p50_ms": 1000 * float(np.percentile(lat, 50)),
        # p95, not p99: Python and JVM collection pauses of 50-70 ms hit
        # 10-20 ingest scripts a pass, so p99 flips between pause-hit and
        # genuinely large scripts from run to run
        "op_p95_ms": 1000 * float(np.percentile(lat, 95)),
    }


def per_layer(tracer, traced, probe, engine, all_jobs, query_names) -> dict[str, float]:
    from perfbench import sparkmetrics as SM

    self_s = tracer.self_by_name()
    lookups = ("closure.impacted_by", "closure.feeds_into")
    # a column closure run inside a lookup belongs to the lookup
    total = tracer.total_by_name(top_level_only_of=("closure.column_lineage",) + lookups)
    c = traced.counts
    m = {
        "lineage.preprocess.self_s": sum(v for k, v in self_s.items() if k.startswith("preprocess.")),
        "lineage.preprocess.statements": tracer.counts["lineage.preprocess.statements"],
        "lineage.preprocess.unsupported": tracer.counts["lineage.preprocess.unsupported"],
        "lineage.planjson.self_s": self_s.get("planjson.parse_statement", 0.0),
        "lineage.planjson.calls": tracer.calls("planjson.parse_statement"),
        "lineage.planjson.parse_errors": tracer.errors("planjson.parse_statement"),
        "py4j.calls": tracer.counts["py4j.calls"],
        "lineage.extractor.self_s": self_s.get("extractor.extract_script", 0.0),
        "lineage.extractor.datasets": c.get("lineage.extractor.datasets", 0),
        "lineage.extractor.select_items": c.get("lineage.extractor.select_items", 0),
        "lineage.model.frames_s": self_s.get("model.frames", 0.0),
        "lineage.model.materialize_s": total.get("model.materialize", 0.0),
        "lineage.model.edges": c.get("lineage.model.edges", 0),
        "lineage.closure.column_s": total.get("closure.column_lineage", 0.0),
        "lineage.closure.table_s": total.get("closure.table_lineage", 0.0),
        "lineage.closure.lookup_s": sum(total.get(k, 0.0) for k in lookups),
        "lineage.closure.self_s": sum(
            (v for k, v in self_s.items() if k.startswith("closure.")), 0.0
        ),
        "lineage.closure.pairs": c.get("lineage.closure.pairs", 0),
        "lineage.closure.max_distance": c.get("lineage.closure.max_distance", 0),
        "lineage.closure.jobs": len(SM.jobs_in(all_jobs, tracer.windows("closure."))),
        "registry.self_s": sum((v for k, v in self_s.items() if k.startswith("query.")), 0.0),
    }
    for name in query_names:
        win = tracer.windows(f"query.{name}")
        jobs = SM.jobs_in(all_jobs, win) if win else []
        m[f"query.{name}.s"] = total.get(f"query.{name}", 0.0)
        m[f"query.{name}.jobs"] = len(jobs)
        m[f"query.{name}.tasks"] = sum(j.tasks for j in jobs)
    m.update(engine)
    m["trace.wall_s"] = traced.wall
    m["trace.cpu_s"] = at_speed(traced.windows, probe)
    m["trace.overhead_s"] = tracer.overhead_s()
    m["trace.overhead_pct"] = 100.0 * m["trace.overhead_s"] / traced.wall
    return m


def run(args) -> tuple[dict, dict]:
    from kachess_spark.session import get_spark

    from perfbench import sparkmetrics as SM
    from perfbench import cpuclock, workloads
    from perfbench.speed import Probe
    from perfbench.trace import Tracer

    load_start = _loadavg()
    t0 = time.perf_counter()
    spark = get_spark(f"perfbench-{args.workload}")
    spark.sparkContext.setLogLevel("ERROR")
    spark_start_s = time.perf_counter() - t0
    probe = None
    try:
        probe = Probe()
        for pid in probe.pids():
            cpuclock.exclude(pid)
        wl = workloads.WORKLOADS[args.workload](spark, args.seed, args.work)
        setups: list[tuple[float, float, float]] = []
        for _ in range(SETUP_REPS):
            t, c = time.time(), cpuclock.cpu_s()
            wl.setup()
            setups.append((t, time.time(), cpuclock.cpu_s() - c))
        t = time.perf_counter()
        wl.prepare()
        # untimed passes, checked like the timed ones
        warm = [wl.run_pass() for _ in range(wl.WARMUP_PASSES)]
        prepare_s = time.perf_counter() - t

        # start the timed part from a collected heap on both sides of py4j
        gc.collect()
        spark.sparkContext._jvm.java.lang.System.gc()
        passes = []
        steal_start = _steal_s()
        if args.trace:
            before = SM.snapshot(spark)
            tracer = Tracer()
            tracer.install(spark)
            try:
                traced = wl.run_pass(tracer)
            finally:
                tracer.uninstall()
            after = SM.snapshot(spark)
            passes = [traced]
            windows = [(o.start, o.start + o.seconds) for o in traced.ops]
            engine = SM.engine_counters(before, after, windows)
            new_jobs = {k: j for k, j in after.jobs.items() if k not in before.jobs}
            layer = per_layer(tracer, traced, probe, engine, new_jobs, workloads.REGISTRY)
        else:
            t = time.perf_counter()
            while not passes or time.perf_counter() - t < args.seconds:
                passes.append(wl.run_pass())

        timed_steal_s = _steal_s() - steal_start
        jvm_kb = _rss_kb(spark.sparkContext._gateway.proc.pid)
        py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        jvm = spark.sparkContext._jvm.java.lang.System
        host = {
            "cpus": _cpus(),
            "loadavg_start": load_start,
            "loadavg_end": _loadavg(),
            "timed_steal_s": timed_steal_s,
            "spark": spark.version,
            "python": platform.python_version(),
            "java": jvm.getProperty("java.version"),
        }
    finally:
        if probe:
            probe.stop()
        _stop_spark(spark)

    failures = [f for p in warm + passes for f in p.failures]
    figures = {
        k: {"value": statistics.median(p.figures[k] for p in passes if k in p.figures), "unit": _unit(k)}
        for k in sorted({k for p in passes for k in p.figures})
    }
    attempted = sum(len(p.ops) for p in warm + passes)
    # every failed operation or check leaves one message
    failed = len(failures)
    peak_rss_mb = (jvm_kb + py_kb) / 1024
    if args.trace:
        metrics = dict(layer, peak_rss_mb=peak_rss_mb)
    else:
        metrics = end_to_end(passes, setups, probe)
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "passes": len(passes),
        "ops_attempted": attempted,
        "ops_failed": failed,
        "figures": figures,
        "peak_rss_mb": peak_rss_mb,
        "op_median_s": {
            name: statistics.median(o.seconds for p in passes for o in p.ops if o.name == name)
            for name in dict.fromkeys(o.name for p in passes for o in p.ops)
        },
        "wall": wall(passes, [t1 - t0 for t0, t1, _ in setups]),
        "cpu_s": [p.cpu for p in passes],
        "slowdown": [probe.slowdown(p.windows[0][0], p.windows[-1][1]) for p in passes],
        "setup_cpu_s": [c for _, _, c in setups],
        "setup_slowdown": [probe.slowdown(t0, t1) for t0, t1, _ in setups],
        "prepare_s": prepare_s,
        "spark_start_s": spark_start_s,
        "host": host,
        "failures": failures[:10],
        "known_gaps": getattr(wl, "KNOWN_GAPS", []),
    }
    return detail, {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": _unit(k)} for k, v in metrics.items()},
    }


def _unit(name: str) -> str:
    for suffix, unit in (
        ("_ms", "ms"), ("_mb", "MB"), ("_pct", "%"), ("_per_s", "1/s"), ("_s", "s"), (".s", "s")
    ):
        if name.endswith(suffix):
            return unit
    return "count"


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=8)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    args.work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    # a terminated run still stops Spark and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    _environment(args.work)
    try:
        return _main(args)
    finally:
        shutil.rmtree(args.work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(args.work))
        except OSError:
            pass  # another run's directory is still there


def _main(args) -> int:
    sys.path.insert(0, ROOT)
    try:
        import kachess_spark  # noqa: F401
        import tools.profile_stages  # noqa: F401

        from perfbench import workloads
    except ImportError as exc:
        print(f"perfbench: the program is not importable from {ROOT}: {exc}", file=sys.stderr)
        return 2
    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    try:
        detail, result = run(args)
    except Exception:
        traceback.print_exc()
        return 1
    print(json.dumps(detail))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
