"""Run one benchmark workload and print its result.

    python3 graftbench/run.py --workload dolar_ingest --seed 1 --seconds 4 --trace 0

Run from the root of a checkout.  Stdout ends with two JSON lines: the
run record (input properties, environment stamp, every number the run
took) and, last, the result ``{"correct", "attempted", "failed",
"metrics"}``.  ``--trace 0`` reports the end-to-end metrics of
``BENCHMARK.json``; ``--trace 1`` reports its per-layer metrics.  All
files, Spark's scratch space included, stay under
``.graftbench_work/`` in the checkout and are removed at exit; the JVM
and every process it started are stopped and waited for, on SIGTERM too.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import platform
import shutil
import signal
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SETUP_REPS = 3


def _env_stamp() -> dict:
    import pyspark

    return {
        "nproc": len(os.sched_getaffinity(0)),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "pyspark": pyspark.__version__,
        "python": platform.python_version(),
    }


def _cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs from ``/proc/stat``: the share of
    steal over the window shows time the hypervisor gave to others."""
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:]]
    return fields[7], sum(fields)


def _confine(work: str) -> None:
    """Point every scratch location of Python, Spark and the JVM into
    ``work`` before the JVM starts, and pin the clock's time zone."""
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # -XX:-UsePerfData: HotSpot writes its perf-data file to /tmp whatever
    # java.io.tmpdir says
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -Dderby.system.home={work} -XX:-UsePerfData"
    )
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    os.environ["TZ"] = "UTC"
    time.tzset()


def _descendants() -> list[int]:
    from graftbench.trace import _children

    out, stack = [], _children(os.getpid())
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack += _children(pid)
    return out


def _reap() -> bool:
    """Reap every child that has ended; True once none is left."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return True
        if pid == 0:
            return False


def _stop_processes(grace_s: float = 20.0) -> None:
    """Stop the py4j JVM and every process it started, and wait for each.

    ``spark.stop()`` leaves the JVM running until it reads EOF on its
    stdin, which otherwise happens only once Python has exited: the JVM
    would outlive the run.  Every descendant gets SIGTERM (SIGKILL after
    ``grace_s``); what the JVM leaves behind (Python workers) has been
    reparented to this process, a child subreaper, and is reaped here."""
    deadline = time.monotonic() + grace_s
    while not _reap():
        sig = signal.SIGTERM if time.monotonic() < deadline else signal.SIGKILL
        for pid in _descendants():
            try:
                os.kill(pid, sig)
            except OSError:
                pass
        time.sleep(0.05)


def _become_subreaper() -> None:
    """Make orphaned descendants (Spark's Python workers once the JVM has
    gone) children of this process, so ``_stop_processes`` can reap them."""
    PR_SET_CHILD_SUBREAPER = 36
    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def _on_signal(signum, _frame):
    raise SystemExit(128 + signum)  # runs the clean-up in main's finally


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    if not os.path.isdir(os.path.join(ROOT, "parcial_bigdata_spark")):
        print("engine package parcial_bigdata_spark not found next to the benchmark", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from graftbench.trace import Tracer, cpu_seconds, peak_rss_mb, retained_heap_mb
    from graftbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; known: {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".graftbench_work", f"{args.workload}-{os.getpid()}")
    _confine(work)
    _become_subreaper()
    for signum in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
        signal.signal(signum, _on_signal)
    tracer = Tracer(enabled=bool(args.trace))
    wl = WORKLOADS[args.workload](args.seed, work, tracer)
    phases: dict[str, float] = {}  # wall time of each phase of the run
    phases_cpu: dict[str, float] = {}  # CPU time of the process tree in each phase

    def phase(name: str, fn, *a):
        t0, c0 = time.perf_counter(), cpu_seconds()
        fn(*a)
        phases[name] = phases.get(name, 0.0) + time.perf_counter() - t0
        phases_cpu[name] = phases_cpu.get(name, 0.0) + cpu_seconds() - c0

    try:
        for rep in range(SETUP_REPS):
            phase(f"setup{rep}", wl.setup, rep)
        check_first = getattr(wl, "CHECK_FIRST", False)
        if check_first:
            phase("check", wl.check)
        load_before, ticks_before = os.getloadavg(), _cpu_ticks()
        phase("measure", wl.measure, args.seconds)
        load_after, ticks_after = os.getloadavg(), _cpu_ticks()
        if not check_first:
            phase("check", wl.check)
        e2e = {
            # CPU seconds, like cpu_ms_per_op: wall time on a shared host
            # carries the hypervisor's steal (see README)
            "setup_s": statistics.median(phases_cpu[f"setup{rep}"] for rep in range(SETUP_REPS)),
            "setup_wall_s": statistics.median(phases[f"setup{rep}"] for rep in range(SETUP_REPS)),
            **wl.end_to_end(),
            "cpu_ms_per_op": 1000.0 * phases_cpu["measure"] / max(len(wl.latencies_s), 1),
            "peak_rss_mb": peak_rss_mb(),
            "retained_heap_mb": retained_heap_mb(wl.spark),
        }
        layers = wl.layers() if args.trace else {}
        props = wl.properties()
    finally:
        for signum in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
            signal.signal(signum, signal.SIG_IGN)  # let the clean-up finish
        t0 = time.perf_counter()
        try:
            wl.close()
        finally:
            _stop_processes()
            shutil.rmtree(work, ignore_errors=True)
            try:
                os.rmdir(os.path.dirname(work))  # only when no other run is using it
            except OSError:
                pass
        phases["close"] = time.perf_counter() - t0

    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    values = layers if args.trace else e2e
    metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]} for m in wanted}
    record = {
        "record": "graftbench_run",
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "env": {
            **_env_stamp(),
            "loadavg_before": load_before,
            "loadavg_after": load_after,
            "window_steal_share": (ticks_after[0] - ticks_before[0]) / max(ticks_after[1] - ticks_before[1], 1),
        },
        "inputs": props,
        "phases_s": phases,
        "phases_cpu_s": phases_cpu,
        "latencies_ms": [round(x * 1000.0, 1) for x in wl.latencies_s],
        "failed_frac": wl.failed / max(wl.attempted, 1),
        "failures": wl.failures,
        "end_to_end": {k: [v, units.get(k)] for k, v in e2e.items()},
        "per_layer": layers,
    }
    print(json.dumps(record, default=str))
    result = {
        "correct": wl.failed == 0,
        "attempted": wl.attempted,
        "failed": wl.failed,
        "metrics": metrics,
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
