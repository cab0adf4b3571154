"""Session settings, the closed-loop op loop and the metric arithmetic
shared by every workload."""

from __future__ import annotations

import os
import resource
import shlex
import statistics
import sys
import time
import traceback

from spans import Tracer

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Session settings of every run, so both sides of a comparison match.
CPUS = len(os.sched_getaffinity(0))
DRIVER_MEMORY = "2g"


def prepare_env(tmp: str, event_dir: str | None) -> None:
    """Keep every file Spark, the JVM and Python write inside ``tmp``;
    enable the event log for traced runs only. Must run before pyspark
    launches its JVM."""
    for sub in ("local", "tmp", "warehouse"):
        os.makedirs(os.path.join(tmp, sub), exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(CPUS)
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "local")
    os.environ["TMPDIR"] = os.path.join(tmp, "tmp")
    confs = [
        f"spark.sql.warehouse.dir={os.path.join(tmp, 'warehouse')}",
        # a fixed-size heap: heap growth and its GC pauses otherwise vary
        # from run to run
        f"spark.driver.extraJavaOptions=-Xms{DRIVER_MEMORY} "
        f"-Djava.io.tmpdir={os.path.join(tmp, 'tmp')}",
        "spark.ui.showConsoleProgress=false",
    ]
    if event_dir is not None:
        os.makedirs(event_dir, exist_ok=True)
        confs += ["spark.eventLog.enabled=true", f"spark.eventLog.dir=file://{event_dir}",
                  "spark.eventLog.compress=false", "spark.eventLog.rolling.enabled=false"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {shlex.quote(c)}" for c in confs) + " pyspark-shell"
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(d))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


CLK_TCK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process and its
    descendants (the JVM, Python workers), including descendants that
    have exited and been waited for. The kernel leaves time stolen by the
    hypervisor out of these counts."""
    total = 0
    for pid in [os.getpid()] + descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return total / CLK_TCK


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb() -> float:
    """Peak RSS of this process plus its JVM child (call before stop)."""
    jvm = 0
    for pid in descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/comm") as f:
                if f.read().strip() == "java":
                    jvm += _hwm_kb(pid)
        except OSError:
            pass
    own = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss  # KiB on Linux
    return (own + jvm) / 1024


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


class Bench:
    """Drives one workload's ops as a single closed-loop client.

    Each op is prepared (inputs generated, DataFrames built) outside the
    clock, then timed as a whole; its check runs after the clock stops.
    The loop runs whole cycles of the workload's op mix until
    ``seconds`` have passed, so every run measures the same mix."""

    def __init__(self, spark, seconds: float, tracer: Tracer):
        self.spark = spark
        self.seconds = seconds
        self.tracer = tracer
        self.latencies: list[tuple[str, float]] = []
        self.cpu_s = 0.0  # CPU of the process tree inside timed ops
        self.attempted = 0
        self.failed = 0
        self.completed = 0  # timed ops that neither raised nor failed their check
        self._op = (None, None)

    def call(self, layer: str, fn, *args, **kwargs):
        """Time one public call of ``layer`` as a child span of the op."""
        op_id, kind = self._op
        with self.tracer.span(layer, op_id, kind):
            return fn(*args, **kwargs)

    def fail(self, what: str, detail: str = "") -> None:
        self.failed += 1
        log(f"FAILED {what} {detail}")

    def run(self, make_op, cycle_len: int) -> None:
        """``make_op(i)`` -> (kind, timed_fn, check_fn). ``check_fn``
        receives the timed call's result and returns False (or raises)
        when it is wrong."""
        t_start = time.perf_counter()
        i = 0
        while i % cycle_len or time.perf_counter() - t_start < self.seconds:
            kind, timed, check = make_op(i)
            self._op = (i, kind)
            self.attempted += 1
            ok, res = True, None
            c0 = tree_cpu_s()
            with self.tracer.span("op", i, kind):
                t0 = time.perf_counter()
                try:
                    res = timed()
                except Exception:
                    ok = False
                    log(f"op {i} ({kind}) raised:\n{traceback.format_exc()}")
                dt = time.perf_counter() - t0
            cpu = tree_cpu_s() - c0
            self.cpu_s += cpu
            self.latencies.append((kind, dt))
            log(f"op {i} {kind} {dt:.3f} s cpu {cpu:.2f} s")
            if not ok:
                self.fail(f"op {i} ({kind})")
            elif not self._check(check, res):
                self.fail(f"op {i} ({kind})", f"wrong result {res!r}"[:300])
            else:
                self.completed += 1
            self.spark.catalog.clearCache()
            i += 1
        self._op = (None, None)

    @staticmethod
    def _check(check, res) -> bool:
        if check is None:
            return True
        try:
            return check(res) is not False
        except Exception:
            log(f"check raised:\n{traceback.format_exc()}")
            return False

    def verify(self, what: str, fn) -> None:
        """Check engine output outside the timed loop (a snapshot read, an
        oracle comparison): attempted, and failed if ``fn`` raises or
        returns False."""
        self.attempted += 1
        try:
            ok = fn()
        except Exception:
            ok = False
            log(f"{what} raised:\n{traceback.format_exc()}")
        if ok is False:
            self.fail(what)

    def extra(self, kind: str, layer: str, fn, *args, **kwargs):
        """One traced call outside the timed ops (between them or after
        the loop): attempted, not timed as an op. Returns None if it
        raised."""
        self._op = (f"x{self.attempted}", kind)
        self.attempted += 1
        try:
            with self.tracer.span("op", self._op[0], kind):
                return self.call(layer, fn, *args, **kwargs)
        except Exception:
            self.fail(kind, traceback.format_exc())
            return None
        finally:
            self._op = (None, None)

    # ---------------------------------------------------------- metrics
    def op_stats(self) -> dict:
        lat = sorted(d for _, d in self.latencies)
        n = len(lat)
        # both count op time only: between ops the benchmark builds inputs
        # and checks results. CPU time, unlike wall time, leaves out the
        # time other tenants of the host hold its cores.
        out = {"ops_per_s": self.completed / sum(lat), "op_p50_s": statistics.median(lat),
               "cpu_s_per_op": self.cpu_s / max(1, self.completed), "n_ops": n}
        # highest percentile with at least 10 samples beyond it; with
        # fewer than 11 ops no such percentile exists and the maximum
        # stands in (percentile 100)
        if n >= 11:
            out["op_tail_s"], out["op_tail_pct"] = lat[n - 11], 100 * (n - 10) / n
        else:
            out["op_tail_s"], out["op_tail_pct"] = lat[-1], 100.0
        return out

    def kind_p50(self, kind: str) -> float:
        d = [t for k, t in self.latencies if k == kind]
        return statistics.median(d) if d else 0.0
