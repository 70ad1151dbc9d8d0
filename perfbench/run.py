"""Benchmark of the engine: one workload per invocation.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads (closed loop: one client, one driver process, operations one
after another, ``local[nproc]``):

* ``headline``: a pass over headline queries, each driven to a noop sink;
* ``warehouse_load``: the six pipelines loaded into an empty warehouse;
* ``warehouse_delta``: a 1% delta merged into a pre-loaded warehouse.

A run generates its inputs from the seed, starts the session and warms
it up (set-up), then repeats passes until ``--seconds`` of pass time is
measured, then checks the outputs.  With ``--trace 0`` it reports the
end-to-end metrics.  With ``--trace 1`` it then measures the passes
again in a fresh session with Spark's event log on and spans around
every call into the program, and reports the per-layer metrics and the
tracing overhead (traced passes against the untraced ones before them).
The last line of standard output is the result as JSON; the first line
holds the host facts, the set-up phases and every operation's time.
Everything the run writes stays under ``perfbench/.work`` and is
removed at the end.

The run itself happens in a child process.  This process waits for it
(at most ``DEADLINE_S`` seconds), then stops and reaps every process
left below it, the driver JVM and Spark's Python workers included, so
that no process outlives the run.  See README.md.
"""

from __future__ import annotations

import argparse
import gc
import glob
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import time

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("headline", "warehouse_delta")
UNITS = {"setup_s": "s", "wall_s": "s", "cpu_s": "s"}
# a run may take 180 s; past this the supervisor stops it and fails
DEADLINE_S = 170.0
# set in the child process that does the run
WORKER_ENV = "PERFBENCH_WORKER"
PR_SET_CHILD_SUBREAPER = 36


class Context:
    """The run's seed, scratch directory and Spark session."""

    def __init__(self, seed: int, work: str):
        self.seed = seed
        self.work = work
        self.spark = None
        self.jvm_pid = 0
        self.event_dir = None

    def path(self, name: str) -> str:
        return os.path.join(self.work, name)

    def start(self, event_log: bool = False) -> float:
        """Start the session; returns the seconds it took."""
        from survivor_processing_spark import get_spark

        tmp = self.path("tmp")
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": self.path("spark-warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        }
        if event_log:
            self.event_dir = self.path("eventlog")
            os.makedirs(self.event_dir, exist_ok=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": f"file://{self.event_dir}",
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        t0 = time.perf_counter()
        self.spark = get_spark("perfbench", extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.jvm_pid = self.spark._jvm.ProcessHandle.current().pid()
        return time.perf_counter() - t0

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def shutdown(self) -> None:
        """Stop the session and the JVM it runs in, and wait for it."""
        from pyspark import SparkContext

        self.stop()
        gateway = SparkContext._gateway
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def _git_sha() -> str | None:
    """HEAD of the checkout, when it is a git repository."""
    git_dir = os.path.join(ROOT, ".git")
    if not os.path.isdir(git_dir):
        return None
    out = subprocess.run(["git", "--git-dir", git_dir, "rev-parse", "HEAD"],
                         capture_output=True, text=True)
    return out.stdout.strip() or None


def _proc_kb(pid: int | str, field: str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith(field + ":"):
                return int(line.split()[1])
    return 0


def host_facts(spark, calibrate: bool) -> dict:
    """Host facts; with ``calibrate``, also bench.py's two host-drift
    probes (about 5 s on a 4-core host)."""
    import bench

    with open("/proc/meminfo") as f:
        mem_kb = int(f.readline().split()[1])
    facts = {
        "nproc": len(os.sched_getaffinity(0)),
        "mem_total_gib": round(mem_kb / 2**20, 2),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "spark": spark.version,
        "java": spark._jvm.System.getProperty("java.version"),
        "python": platform.python_version(),
        "git_sha": _git_sha(),
    }
    if calibrate:
        facts["calibration_sec"] = bench._calibration(spark)
        facts["job_overhead_sec"] = bench._job_overhead(spark)
    return facts


def _cpu_ticks() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_share(start: list[int], end: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests."""
    d = [b - a for a, b in zip(start, end)]
    return d[7] / sum(d) if len(d) > 7 and sum(d) else 0.0


def peak_rss_mb(jvm_pid: int) -> float:
    """VmHWM of the driver JVM plus that of this Python process."""
    return (_proc_kb(jvm_pid, "VmHWM") + _proc_kb("self", "VmHWM")) / 1024.0


def cpu_seconds(jvm_pid: int) -> float:
    """CPU time used so far by this process, the driver JVM and the
    JVM's descendants (the Python workers), reaped children included.
    Time the hypervisor gives to other guests is not in it."""
    parent: dict[int, int] = {}
    ticks: dict[int, int] = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                rest = f.read().rsplit(")", 1)[1].split()
        except OSError:  # the process ended meanwhile
            continue
        parent[int(pid)] = int(rest[1])
        ticks[int(pid)] = sum(int(x) for x in rest[11:15])  # utime .. cstime
    tree, frontier = {jvm_pid}, [jvm_pid]
    while frontier:
        frontier = [p for p, pp in parent.items() if pp in frontier and p not in tree]
        tree.update(frontier)
    own = os.times()
    return sum(ticks.get(p, 0) for p in tree) / os.sysconf("SC_CLK_TCK") + own.user + own.system


def measure(wl, tracer, seconds: float, ctx: Context) -> tuple[list, list]:
    """Passes until ``seconds`` of pass time is measured; returns each
    pass's (wall seconds, CPU seconds) and the operations."""
    passes: list[tuple[float, float]] = []
    ops: list = []
    jvm_pid = ctx.jvm_pid
    while sum(w for w, _c in passes) < seconds:
        wl.before_pass()
        # every pass starts from collected heaps, so none pays for the
        # garbage of the set-up or of the pass before it
        gc.collect()
        ctx.spark._jvm.System.gc()
        c0 = cpu_seconds(jvm_pid)
        t0 = time.perf_counter()
        with tracer.span("pass"):
            wl.one_pass(tracer, ops)
        wall = time.perf_counter() - t0
        passes.append((wall, cpu_seconds(jvm_pid) - c0))
        wl.after_pass()
    return passes, ops


def run(workload: str, seed: int, seconds: float, trace: bool) -> tuple[dict, dict]:
    from headline import Headline
    from tracing import NO_TRACE, Tracer
    from warehouse import WarehouseDelta

    work = os.path.join(HERE, ".work", f"{workload}-{seed}-{os.getpid()}")
    ctx = Context(seed, work)
    os.makedirs(ctx.path("tmp"), exist_ok=True)
    # Spark's scratch space and the files queries stage with tempfile
    # stay inside the run
    os.environ["SPARK_LOCAL_DIRS"] = ctx.path("spark-local")
    os.environ["TMPDIR"] = ctx.path("tmp")
    import tempfile

    tempfile.tempdir = None
    try:
        wl = (Headline(ctx) if workload == "headline"
              else WarehouseDelta(ctx, replay=trace))
        load_start = os.getloadavg()
        cpu_start = _cpu_ticks()
        phases = {"imports": time.perf_counter() - T_START}
        t0 = time.perf_counter()
        wl.prepare()
        phases["inputs"] = time.perf_counter() - t0
        session_s = ctx.start()
        t0 = time.perf_counter()
        wl.warm()
        phases["warm"] = time.perf_counter() - t0
        setup_s = time.perf_counter() - T_START
        passes, ops = measure(wl, NO_TRACE, seconds, ctx)
        wall_s = statistics.median(w for w, _c in passes)
        if trace:
            # the traced passes run in a fresh session of the warm JVM,
            # the event log on; the passes above are the untraced ones
            ctx.stop()
            ctx.start(event_log=True)
            tracer = Tracer(ctx.spark.sparkContext)
            traced, ops = measure(wl, tracer, seconds, ctx)
        t0 = time.perf_counter()
        problems = wl.check()
        phases["check"] = time.perf_counter() - t0
        rss = peak_rss_mb(ctx.jvm_pid)
        facts = host_facts(ctx.spark, calibrate=trace)
        ctx.stop()
        facts["loadavg_start"] = [round(x, 2) for x in load_start]
        facts["loadavg_end"] = [round(x, 2) for x in os.getloadavg()]
        facts["cpu_steal_share"] = round(steal_share(cpu_start, _cpu_ticks()), 4)

        errors = [f"{name}: {err}" for name, _s, err in ops if err]
        if trace:
            import eventlog
            from layers import UNITS as LAYER_UNITS, per_layer

            (log,) = glob.glob(os.path.join(ctx.event_dir, "*"))
            jobs, execs = eventlog.read(log)
            fixed = {"session.start_s": session_s,
                     "session.peak_rss_mb": rss,
                     "trace.overhead_s": statistics.median(w for w, _c in traced) - wall_s,
                     **wl.layer_counts(wall_s)}
            values = per_layer(tracer, jobs, execs, len(traced), fixed)
            metrics = {k: {"value": v, "unit": LAYER_UNITS[k]} for k, v in values.items()}
        else:
            values = {
                "setup_s": setup_s,
                "wall_s": wall_s,
                "cpu_s": statistics.median(c for _w, c in passes),
            }
            metrics = {k: {"value": v, "unit": UNITS[k]} for k, v in values.items()}
        failed = min(len(ops), len(errors) + len(problems))
        detail = {
            "workload": workload, "seed": seed, "trace": trace,
            "host": facts, "session_s": session_s, "peak_rss_mb": round(rss, 1),
            "phases": {k: round(v, 3) for k, v in phases.items()},
            "passes": [[round(w, 4), round(c, 3)] for w, c in passes],
            **({"traced_passes": traced} if trace else {}),
            "ops": len(ops),
            "op_times": [[n, round(s, 4)] for n, s, _e in ops],
            "errors": errors[:20], "problems": problems[:20],
        }
        result = {"correct": not errors and not problems, "attempted": len(ops),
                  "failed": failed, "metrics": metrics}
        return detail, result
    finally:
        try:
            ctx.shutdown()
        finally:
            shutil.rmtree(work, ignore_errors=True)
            try:
                os.rmdir(os.path.dirname(work))
            except OSError:  # another run is still using it
                pass


def _descendants() -> list[int]:
    """Every process below this one, zombies included."""
    parent: dict[int, int] = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                parent[int(pid)] = int(f.read().rsplit(")", 1)[1].split()[1])
        except OSError:  # the process ended meanwhile
            continue
    tree: set[int] = set()
    frontier = {os.getpid()}
    while frontier:
        frontier = {p for p, pp in parent.items() if pp in frontier} - tree
        tree |= frontier
    return sorted(tree)


def _reap() -> None:
    """Collect the exit status of every child that has ended."""
    while True:
        try:
            pid, _status = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def stop_all(grace: float) -> None:
    """Stop every process below this one and wait until each has ended:
    SIGTERM, then SIGKILL for those still there after ``grace`` seconds.
    Orphans are re-parented to this process (a child subreaper), so
    they are all reaped here."""
    for sig, wait_s in ((signal.SIGTERM, grace), (signal.SIGKILL, 60.0)):
        end = time.monotonic() + wait_s
        signalled: set[int] = set()
        while True:
            _reap()
            pids = _descendants()
            if not pids:
                return
            if time.monotonic() > end:
                break
            for pid in set(pids) - signalled:
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
                signalled.add(pid)
            time.sleep(0.05)
    raise RuntimeError(f"processes still running: {_descendants()}")


def _raise_exit(signum, _frame):
    raise SystemExit(128 + signum)


def supervise(argv: list[str]) -> int:
    """Run the benchmark in a child process, at most ``DEADLINE_S``
    seconds, then stop and reap whatever it left running."""
    import ctypes

    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER) failed")
    for sig in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
        signal.signal(sig, _raise_exit)
    code = 1
    try:
        child = subprocess.Popen([sys.executable, os.path.abspath(__file__), *argv],
                                 env={**os.environ, WORKER_ENV: "1"})
        try:
            code = child.wait(timeout=DEADLINE_S - (time.perf_counter() - T_START))
        except subprocess.TimeoutExpired:
            print(f"run.py: no result within {DEADLINE_S:.0f} s; stopping the run",
                  file=sys.stderr)
    finally:
        # the child stops its session and JVM itself; this stops what
        # is left (Python workers still exiting, or everything on a
        # timeout or a signal)
        stop_all(grace=10.0)
    return code


def main(argv: list[str] | None = None) -> int:
    argv = sys.argv[1:] if argv is None else argv
    if os.environ.get(WORKER_ENV) != "1":
        return supervise(argv)
    # a signal ends the run through its clean-up
    for sig in (signal.SIGTERM, signal.SIGHUP):
        signal.signal(sig, _raise_exit)
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    sys.path[:0] = [HERE, ROOT]
    # Python workers import the program too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [x for x in os.environ.get("PYTHONPATH", "").split(os.pathsep) if x])
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    # no JVM perf-data files in /tmp from spark-submit's launcher JVM
    os.environ["SPARK_LAUNCHER_OPTS"] = " ".join(
        [os.environ.get("SPARK_LAUNCHER_OPTS", ""), "-XX:-UsePerfData"]).strip()

    detail, result = run(args.workload, args.seed, args.seconds, bool(args.trace))
    print(json.dumps(detail))
    for name, m in result["metrics"].items():
        print(f"{name} = {m['value']:.6g} {m['unit']}")
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
