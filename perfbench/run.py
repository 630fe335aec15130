#!/usr/bin/env python3
"""Repository benchmark for igpm_pem_spark.

Usage, from the repository root:

    python3 perfbench/run.py --workload snapshot --seed 1 --seconds 10 --trace 0

Workloads: ``snapshot`` and ``replay_focus`` (see README.md).
One Spark JVM per run on ``local[<cores>]``; inputs come from the seed.
The last line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` — the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``. Lines before it start with
``#`` and carry the sizing, host probe and workload-specific figures.
Everything the run writes stays under this directory: scratch in
``.work/`` (cleared before and after the run), traces in ``out/``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
OUT = os.path.join(HERE, "out")
SETUP_REPS = 3

END_TO_END = {
    "setup_s": "s", "peak_rss_mb": "MB", "total_s": "s", "loop_op_s": "s", "join_op_s": "s",
}
# per-layer metrics present on every workload (README.md lists the rest,
# which go to the trace file for the layers a workload calls)
PER_LAYER = {
    "session.wall_s": "s", "session.cpu_s": "s", "session.gc_s": "s",
    "sources.wall_s": "s", "sources.cpu_s": "s",
    "sources.cpu_util": "ratio", "sources.jobs": "count",
    "sources.shuffle_read_mb": "MB", "sources.shuffle_write_mb": "MB",
    "sources.gc_s": "s",
    "lineage.supersteps": "count", "lineage.s_per_superstep": "s",
    "lineage.jobs_per_superstep": "count", "lineage.loop_wall_s": "s",
    "lineage.loop_cpu_s": "s", "lineage.loop_cpu_util": "ratio",
    "lineage.loop_shuffle_read_mb": "MB", "lineage.loop_shuffle_write_mb": "MB",
    "lineage.loop_gc_s": "s",
    "bench.unit_wall_s": "s", "bench.unit_self_s": "s", "bench.unit_cpu_s": "s",
    "bench.unit_jobs": "count", "bench.unit_shuffle_read_mb": "MB",
    "bench.unit_shuffle_write_mb": "MB", "bench.unit_gc_s": "s",
    "trace.probe_s": "s",
}


def host_resources() -> tuple[int, int]:
    """(cores, driver GiB). Cores are the CPUs this process may run on,
    which is what ``env -u OMP_NUM_THREADS nproc`` prints; the driver
    heap is an eighth of host RAM, between 1 and 4 GiB."""
    cores = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        total_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return cores, max(1, min(4, total_kb // (1024 * 1024) // 8))


def configure_env(driver_gb: int) -> None:
    """Environment the Spark JVM and its Python workers inherit."""
    path = os.environ.get("PYTHONPATH")
    # Python workers unpickle engine functions: make the package importable
    # from any working directory
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["SPARK_DRIVER_MEM"] = f"{driver_gb}g"
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    # the launcher JVM of spark-submit would write hsperfdata under /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    for d in ("spark-local", "tmp", "warehouse"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)


def host_probe(threads: int, mb_per_thread: int = 32) -> float:
    """Seconds for ``threads`` threads to each sha256 a fixed
    ``mb_per_thread`` MiB; hashlib drops the GIL, so on an idle host this
    time is flat in ``threads`` and it grows when other tenants take CPU."""
    block = b"\x5a" * (8 * 1024 * 1024)

    def work():
        for _ in range(mb_per_thread // 8):
            hashlib.sha256(block).digest()

    work()  # warm the code path and the block's pages
    pool = [threading.Thread(target=work) for _ in range(threads)]
    t0 = time.perf_counter()
    for t in pool:
        t.start()
    for t in pool:
        t.join()
    return time.perf_counter() - t0


def host_steal_s() -> float:
    """CPU time the hypervisor gave to other guests since boot, summed over
    CPUs (the ``steal`` column of ``/proc/stat``)."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait for it to exit."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def per_layer_metrics(tracer) -> dict[str, float]:
    layers = tracer.layers()
    out = {}
    for layer in ("session", "sources"):
        for key in ("wall_s", "cpu_s", "cpu_util", "jobs", "shuffle_read_mb",
                    "shuffle_write_mb", "gc_s"):
            name = f"{layer}.{key}"
            if name in PER_LAYER:
                out[name] = layers.get(layer, {}).get(key, 0.0)

    def total(spans, key):
        return sum(sp.counters.get(key, 0.0) for sp in spans)

    loops = [sp for sp in tracer.spans if "supersteps" in sp.counts]
    steps = sum(sp.counts["supersteps"] for sp in loops)
    loop_wall = sum(sp.wall_s for sp in loops)
    out["lineage.supersteps"] = steps
    out["lineage.s_per_superstep"] = loop_wall / steps
    out["lineage.jobs_per_superstep"] = total(loops, "jobs") / steps
    out["lineage.loop_wall_s"] = loop_wall
    out["lineage.loop_cpu_s"] = total(loops, "cpu_s")
    out["lineage.loop_cpu_util"] = out["lineage.loop_cpu_s"] / loop_wall
    for key in ("shuffle_read_mb", "shuffle_write_mb", "gc_s"):
        out[f"lineage.loop_{key}"] = total(loops, key)

    selfs = tracer.self_times()
    units = [i for i, sp in enumerate(tracer.spans) if sp.name == "bench" and sp.op == "unit"]
    unit_spans = [tracer.spans[i] for i in units]
    out["bench.unit_wall_s"] = sum(sp.wall_s for sp in unit_spans)
    out["bench.unit_self_s"] = sum(selfs[i] for i in units)
    for key in ("cpu_s", "jobs", "shuffle_read_mb", "shuffle_write_mb", "gc_s"):
        out[f"bench.unit_{key}"] = total(unit_spans, key)
    out["trace.probe_s"] = tracer.probe_s
    return out


def info(name: str, value, unit: str = "") -> None:
    print(f"# {name} {value} {unit}".rstrip(), flush=True)


def run(args, workload_cls) -> int:
    from spans import JvmCounters, Tracer

    from igpm_pem_spark.session import get_spark

    cores, driver_gb = host_resources()
    configure_env(driver_gb)
    info("cores", cores)
    info("driver_memory", f"{driver_gb}g")
    info("host_probe_before_s", round(host_probe(cores), 4), "s")
    steal0 = host_steal_s()

    tracer = Tracer(f"{args.workload}-seed{args.seed}-pid{os.getpid()}", args.trace == 1)
    spark = jvm = None
    try:
        with tracer.span("session") as sp:
            spark = get_spark(
                app_name="perfbench",
                cores=cores,
                extra_conf={
                    "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
                    "spark.driver.extraJavaOptions": (
                        # a fixed heap keeps VmHWM steady; no hsperfdata file in /tmp
                        f"-Xms{driver_gb}g -XX:-UsePerfData "
                        f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}"
                    ),
                },
            )
            jvm = JvmCounters(spark)
            tracer.attach(jvm)
        session_s = sp.wall_s
        wl = workload_cls(spark, args.seed, tracer, WORK, cores)
        setups = []
        for _ in range(SETUP_REPS):
            wl.release()
            with tracer.span("bench", "setup") as sp:
                wl.setup()
            setups.append(sp.wall_s)
        with tracer.span("bench", "prepare"):
            wl.prepare()
        t_start, k = time.perf_counter(), 0
        while k == 0 or time.perf_counter() - t_start < args.seconds:
            try:
                with tracer.span("bench", "unit"):
                    wl.unit(k)
            except Exception as exc:  # noqa: BLE001 — a failed unit is a counted failure
                wl.fail_unit(exc, wl.OPS_PER_UNIT)
                break
            k += 1
        if k:
            with tracer.span("bench", "check"):
                wl.check()
        peak_rss = jvm.peak_rss_mb()
    finally:
        stop_spark(spark)
        shutil.rmtree(WORK, ignore_errors=True)
    if not k:
        print("perfbench: no unit of work completed", file=sys.stderr)
        return 1

    info("host_steal_s", round(host_steal_s() - steal0, 2), "s")
    info("host_probe_after_s", round(host_probe(cores), 4), "s")
    info("units", k)
    info("session_s", round(session_s, 4), "s")
    info("setup_reps_s", [round(s, 4) for s in setups], "s")
    wm = wl.metrics()
    failed = len(wl.failures)
    for name, value in wm.items():
        if name not in END_TO_END:
            info(name, round(value, 4), "s")
    for name, value in wl.notes.items():
        info(name, f"{value:.4g}" if isinstance(value, float) else value)
    info("error_rate", failed / wl.attempted, "ratio")
    for what in sorted(set(wl.failures)):
        info("failure", what)

    if args.trace:
        metrics = per_layer_metrics(tracer)
        unit_of = PER_LAYER
        layers = tracer.layers()
        for layer, agg in sorted(layers.items()):
            info(f"layer {layer}", json.dumps({k: round(v, 4) for k, v in agg.items()}))
        os.makedirs(OUT, exist_ok=True)
        path = os.path.join(OUT, f"trace-{args.workload}-seed{args.seed}.json")
        with open(path, "w") as f:
            json.dump({**tracer.to_json(), "layers": layers, "metrics": metrics,
                       "cores": cores, "driver_memory_gb": driver_gb}, f, indent=1)
        info("trace_file", os.path.relpath(path, ROOT))
    else:
        metrics = {
            "setup_s": session_s + statistics.median(setups),
            "peak_rss_mb": peak_rss,
            **{k: wm[k] for k in ("total_s", "loop_op_s", "join_op_s")},
        }
        unit_of = END_TO_END
    print(json.dumps({
        "correct": failed == 0,
        "attempted": wl.attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": unit_of[k]} for k, v in metrics.items()},
    }))
    return 0


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import workloads  # imports the engine
    except ImportError as exc:
        print(f"perfbench: the engine is not importable from {ROOT}: {exc}", file=sys.stderr)
        return 2
    if args.workload not in workloads.WORKLOADS:
        p.error(f"--workload must be one of {sorted(workloads.WORKLOADS)}")
    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(WORK)
    return run(args, workloads.WORKLOADS[args.workload])


if __name__ == "__main__":
    sys.exit(main())
