"""Benchmark entry point.

    python3 perfbench/run.py --workload {nightly,query_suite}
        --seed N --seconds S --trace {0,1} [--smoke]

Runs one workload in one process on ``local[<cores>]`` with the
library's own session defaults, closed loop with one client: each
operation starts after the previous one ended. Prints run context on
one line, then the result as the last line of stdout:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports
the end-to-end metrics, ``--trace 1`` the per-layer ones. Everything the
run writes lives under ``.perfbench_work/`` in the checkout and is
removed at exit. See perfbench/README.md.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import sys  # noqa: E402
from dataclasses import dataclass, field  # noqa: E402

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
LIBRARY = "fs_indexer_elasticsearch_spark"


def cpu_canary() -> float:
    """Seconds for a fixed single-thread md5 chain (no Spark, no IO)."""
    t0 = time.perf_counter()
    h = b"canary"
    for _ in range(200_000):
        h = hashlib.md5(h).digest()
    return time.perf_counter() - t0


def io_canary(work: str) -> float:
    """Seconds to create, hard-link, list and unlink 500 small files:
    the syscall mix of a snapshot commit."""
    d = os.path.join(work, "iocanary")
    os.makedirs(d)
    t0 = time.perf_counter()
    for i in range(500):
        p = os.path.join(d, f"f{i}")
        with open(p, "wb") as f:
            f.write(b"x" * 64)
        os.link(p, p + ".lnk")
    os.listdir(d)
    shutil.rmtree(d)
    return time.perf_counter() - t0


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status", encoding="ascii") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def tree_cpu_s() -> float:
    """User + system CPU seconds of this process and every process below
    it (the Spark JVM and its Python workers), reaped children included.
    Time the host hands to other tenants (steal) is not in it."""
    procs: dict[int, tuple[int, int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat", encoding="ascii", errors="replace") as f:
                stat = f.read()
        except OSError:  # the process ended while we listed
            continue
        fields = stat[stat.rindex(")") + 2 :].split()
        procs[int(d)] = (int(fields[1]), sum(int(x) for x in fields[11:15]))
    me, ticks = os.getpid(), 0
    for pid, (ppid, t) in procs.items():
        while pid != me and ppid in procs:
            pid, ppid = ppid, procs[ppid][0]
        if pid == me:
            ticks += t
    return ticks / os.sysconf("SC_CLK_TCK")


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) ticks of the whole machine from /proc/stat."""
    with open("/proc/stat", encoding="ascii") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks[:8])


def start_spark(work: str, cores: int, trace: bool):
    """The library's session (its own defaults), with scratch space,
    and for a traced run the event log, inside this run's work dir."""
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # Python workers import the library and the benchmark's fetcher.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, BENCH_DIR, os.environ.get("PYTHONPATH")) if p
    )
    from fs_indexer_elasticsearch_spark.session import get_spark

    conf = {
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Dderby.system.home={work}",
    }
    if trace:
        os.makedirs(os.path.join(work, "eventlog"))
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.compress": "false",
                "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
            }
        )
    spark = get_spark("perfbench", master=f"local[{cores}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()  # the JVM exits when its stdin closes
        gateway.proc.wait(timeout=60)


@dataclass
class Loop:
    """What the timed loop saw: per-operation wall times (split into
    traced and untraced in a traced run), the traced operations' root
    spans and layer counts, and the failures."""

    attempted: int = 0
    durations: list = field(default_factory=list)
    cpu_s: list = field(default_factory=list)
    traced_s: list = field(default_factory=list)
    untraced_s: list = field(default_factory=list)
    op_roots: list = field(default_factory=list)
    op_counts: list = field(default_factory=list)
    failures: list = field(default_factory=list)
    failed_ops: set = field(default_factory=set)


def measure(wl, tracer, seconds: float, trace: bool) -> Loop:
    """Run operations closed loop, one client, until ``seconds`` of
    operation time, and in a traced run at least two operations (one
    traced, one untraced). An operation
    whose prepare, run, check or layer count raises, or whose check
    reports a failure, counts as failed; the loop goes on. Traced runs
    alternate traced and untraced operations, so the difference between
    the two medians is the tracing overhead."""
    import workloads

    loop = Loop()
    measured = 0.0
    min_ops = 2 if trace else 1
    while measured < seconds or loop.attempted < min_ops:
        loop.attempted += 1
        n = loop.attempted
        tracer.active = trace and n % 2 == 1
        t0, timed = time.perf_counter(), False
        try:
            wl.prepare()
            watched = wl.watched_dir()
            before = workloads.tree_stats(watched) if tracer.active else {}
            t0, c0 = time.perf_counter(), tree_cpu_s()
            with tracer.span("op") as root:
                out = wl.op()
            dt = time.perf_counter() - t0
            tracer.active, timed = False, True
            measured += dt
            loop.durations.append(dt)
            loop.cpu_s.append(tree_cpu_s() - c0)
            (loop.traced_s if root is not None else loop.untraced_s).append(dt)
            bad = wl.check(out)
            if bad:
                loop.failed_ops.add(n)
                loop.failures.extend(f"op {n}: {b}" for b in bad)
            if root is not None:
                after = workloads.tree_stats(watched)
                written = {i: size for i, size in after.items() if i not in before}
                loop.op_counts.append(wl.layer_counts(out, written))
                loop.op_roots.append(root)
            wl.finish(out)
        except Exception as e:  # noqa: BLE001 - a failed op is counted, not fatal
            tracer.active = False
            if not timed:  # so a run whose every operation raises still ends
                measured += time.perf_counter() - t0
            loop.failed_ops.add(n)
            loop.failures.append(f"op {n}: {e!r}"[:500])
    return loop


def run(args, work: str) -> tuple[dict, dict]:
    import report
    import spans as tracing
    import workloads

    # Spark tasks get half the CPUs nproc reports. Each task keeps more
    # than its own thread busy (the Python worker it feeds, the JIT and GC
    # threads, the driver), and on all the CPUs those oversubscribe them:
    # passes then run slower and swing with the host's load.
    nproc = len(os.sched_getaffinity(0))
    cores = max(1, nproc // 2)
    context = {"workload": args.workload, "seed": args.seed, "nproc": nproc, "cores": cores}
    cpu, io = [cpu_canary()], [io_canary(work)]
    t_session = time.perf_counter()
    spark = start_spark(work, cores, args.trace)
    context["session_s"] = time.perf_counter() - t_session
    try:
        tracer = tracing.Tracer(spark.sparkContext)
        sizes = workloads.SIZES["smoke" if args.smoke else "full"]
        wl = workloads.WORKLOADS[args.workload](spark, work, args.seed, sizes, tracer)
        t_fixtures = time.perf_counter()
        wl.setup()
        # Warm-up operations: the JVM's JIT and Spark's codegen caches settle
        # over the first cycles, so they run untimed, as part of set-up.
        for _ in range(wl.WARMUP):
            wl.prepare()
            wl.finish(wl.op())
        context["fixtures_s"] = time.perf_counter() - t_fixtures
        setup_s = time.perf_counter() - T_START
        if args.trace:
            tracer.patch_library()

        steal0, total0 = cpu_ticks()
        loop = measure(wl, tracer, args.seconds, bool(args.trace))
        steal1, total1 = cpu_ticks()
        context["steal_frac"] = (steal1 - steal0) / max(1, total1 - total0)
        durations, op_roots = loop.durations, loop.op_roots

        walker = []
        if args.trace and hasattr(wl, "walker_probe"):
            walker = [wl.walker_probe() for _ in range(3)]
        amp = workloads.space_amp(wl.stores())
        jvm_pid = spark.sparkContext._jvm.ProcessHandle.current().pid()
        peak_rss = vm_hwm_mb(jvm_pid) + vm_hwm_mb("self")
    finally:
        stop_spark(spark)
    cpu.append(cpu_canary())
    io.append(io_canary(work))
    context.update(
        cpu_canary_s=cpu,
        io_canary_s=io,
        ops=len(durations),
        op_s_samples=durations,
        op_cpu_s_samples=loop.cpu_s,
        peak_rss_mb=peak_rss,
        failures=loop.failures[:20],
    )

    if args.trace:
        costs = tracing.fold_event_log(os.path.join(work, "eventlog"))
        tables, op_costs = [], []
        for root in op_roots:
            spans = tracer.tree_of(root)
            index = {s.sid: i for i, s in enumerate(spans)}
            rows = [
                {
                    "name": s.name,
                    "seconds": s.seconds,
                    "self_s": tracer.self_seconds(s),
                    "self_jobs": tracer.self_jobs(s),
                    "children": [index[c] for c in s.children],
                }
                for s in spans
            ]
            tables.append(report.span_table(rows))
            jobs = range(root.j0, root.j1)
            total = tracing.JobCost()
            for j in jobs:
                if j in costs:
                    total.add(costs[j])
            op_costs.append(
                {
                    "jobs": len(jobs),
                    "executor_s": total.executor_s,
                    "shuffle_bytes": total.shuffle_bytes,
                    "spill_bytes": total.spill_bytes,
                }
            )
        values = report.per_layer_metrics(
            tables, op_costs, loop.op_counts, loop.traced_s, loop.untraced_s, walker
        )
        context["layers"] = [
            {name: row for name, row in t.items() if row.get("calls", 1)} for t in tables
        ]
    else:
        values = {
            "op_s": report.median(durations),
            "setup_s": setup_s,
            "store_space_amp": amp,
        }
    return context, report.payload(
        attempted=loop.attempted,
        failed=len(loop.failed_ops),
        values=values,
        trace=bool(args.trace),
    )


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["nightly", "query_suite"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--smoke", action="store_true", help="tiny inputs, for a quick check")
    args = ap.parse_args(argv)
    # A terminated run still stops its JVM and removes its work dir.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isfile(os.path.join(ROOT, LIBRARY, "__init__.py")):
        print(f"perfbench: no {LIBRARY} package next to {BENCH_DIR}", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, BENCH_DIR]
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    try:
        context, result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"context": context}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
