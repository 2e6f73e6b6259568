"""Run-level plumbing shared by the three workloads: the process environment
the session is started in, op accounting and timing, resource readings and
clean-up. Nothing here imports pyspark or iodf_spark at module level, so a
checkout without the program still fails inside ``run.py``'s import of it.
"""

from __future__ import annotations

import math
import os
import shlex
import shutil
import statistics
import subprocess
import sys
import time
import traceback

# Task threads are held below the core count and the driver heap is fixed, so
# adjacent runs of the same code agree (see README, "Steadiness").
SPARK_CPUS = "2"
DRIVER_MEM = "2g"


def process_start_time() -> float:
    """Wall-clock start of this process (Linux /proc), so set-up time counts
    interpreter start and imports too."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return time.time() - uptime + start_ticks / os.sysconf("SC_CLK_TCK")


def configure_env(work: str, trace: bool) -> None:
    """Point every temporary file of Python, the JVM and Spark into ``work``
    and pin the session's size. Must run before the JVM is launched."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_GRAFT_CPUS"] = SPARK_CPUS
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    confs = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": tmp,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # the whole fixed heap is committed and touched at start, so peak RSS
        # does not depend on when the collector last grew the young
        # generation; what moves it is off-heap and Python memory
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{DRIVER_MEM} -XX:+AlwaysPreTouch"
        ),
    }
    if trace:
        ev = os.path.join(work, "eventlog")
        os.makedirs(ev, exist_ok=True)
        confs.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + ev,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
            # the status tracker is one of the two job counts the trace
            # cross-checks; keep every job of the run in it
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        })
    args = []
    for k, v in confs.items():
        args += ["--conf", f"{k}={v}"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])
    import tempfile

    tempfile.tempdir = tmp


def median(xs):
    return statistics.median(xs) if xs else 0.0


def dir_bytes(path: str) -> int:
    total = 0
    for dp, _dn, fn in os.walk(path):
        for f in fn:
            total += os.path.getsize(os.path.join(dp, f))
    return total


def _vm_hwm_kb(pid) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(spark) -> float:
    """Peak resident set of this Python process plus the session's JVM."""
    jvm = spark.sparkContext._gateway.proc.pid
    return (_vm_hwm_kb("self") + _vm_hwm_kb(jvm)) / 1024.0


def stop_spark(spark) -> None:
    """Stop streaming queries and the session, then end the JVM and wait
    for it, so no process outlives the run."""
    from pyspark import SparkContext

    for q in spark.streams.active:
        q.stop()
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def remove_tree(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)


class OpLog:
    """Counts and times the workload's operations.

    Each op is a call into the program plus whatever materialises its
    result, timed together; ``check`` then compares the result with a
    computation made apart from the program. An op that raises or whose
    check fails counts as failed, and a failed check also marks the run
    incorrect. Latencies are kept only while ``phase`` is set: "loop" for
    the timed rounds after the warm-up rounds, "post" for a workload's
    writes made after them; throughput counts the loop alone."""

    def __init__(self, tracer):
        self.tracer = tracer
        self.attempted = 0
        self.failed = 0
        self.correct = True
        self.phase = None
        self.lat_ms: dict[str, dict[str, list[float]]] = {"read": {}, "write": {}, "maint": {}}
        self.loop_ops = 0
        self.loop_ms = 0.0
        self.recall: list[float] = []
        self.loop_start = 0.0
        self.round = "setup"  # round number, or "post" after the rounds

    def run(self, name: str, kind: str, fn, check=None, call: str | None = None):
        """Run op ``name`` of ``kind`` (read/write/maint). ``call`` names
        the program function the op exercises (defaults to ``name``)."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            with self.tracer.op(call or name, self.phase is not None, self.round):
                result = fn()
        except Exception:  # noqa: BLE001 — a failing op is counted, not fatal
            self.failed += 1
            print(f"[perfbench] op {name} raised:", file=sys.stderr)
            traceback.print_exc(file=sys.stderr)
            return None
        dt_ms = (time.perf_counter() - t0) * 1000.0
        if check is not None:
            try:
                problem = check(result)
            except Exception as e:  # noqa: BLE001 — a crashing check is a failed one
                problem = f"check raised {e!r}"
            if problem:
                self.failed += 1
                self.correct = False
                print(f"[perfbench] op {name} check failed: {problem}", file=sys.stderr)
        if self.phase is not None:
            self.lat_ms[kind].setdefault(name, []).append(dt_ms)
        if self.phase == "loop":
            self.loop_ops += 1
            self.loop_ms += dt_ms
        return result

    def p50_ms(self, kind: str) -> float:
        """Typical latency of one ``kind`` of op: the geometric mean over op
        names of each name's median, so the figure does not jump with the
        number of whole rounds a run completes."""
        meds = [median(v) for v in self.lat_ms[kind].values()]
        return float(math.exp(sum(math.log(m) for m in meds) / len(meds))) if meds else 0.0

    def ops_per_s(self) -> float:
        """Loop ops per second of loop op time (checks excluded)."""
        return self.loop_ops / (self.loop_ms / 1000.0) if self.loop_ms else 0.0


def run_rounds(log: OpLog, seconds: float, round_fn, warmup_rounds: int) -> int:
    """``warmup_rounds`` untimed rounds, so the JIT and Spark's code caches
    settle on every path the rounds take, then whole timed rounds until
    ``seconds`` of wall time have passed. Rounds are numbered from 0 without
    a break, so a round's inputs never depend on the host's speed. Returns
    the number of timed rounds."""
    for r in range(warmup_rounds):
        log.round = r
        round_fn(r)
    log.loop_start = time.time()
    log.phase = "loop"
    start = time.perf_counter()
    r = warmup_rounds
    while True:
        before = log.loop_ms
        log.round = r
        round_fn(r)
        r += 1
        print(f"[perfbench] round {r - warmup_rounds}: {log.loop_ms - before:.0f} ms of op time",
              file=sys.stderr)
        if time.perf_counter() - start >= seconds:
            break
    log.phase = None
    log.round = "post"
    return r - warmup_rounds
