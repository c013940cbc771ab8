"""Benchmark harness shared by the workloads.

* ``Run`` -- one benchmark process: work directory, Spark session,
  set-up accounting, op recorder, tracer and the final report.
* ``Ops`` -- closed-loop op recorder (one client): latency per op,
  failures, and the timed wall clock.
* ``Tracer`` -- spans (name, start, end, parent, op id) kept in memory
  and written out at the end; in trace mode every span on the main
  thread runs under its own Spark job group, so Spark's own counters
  (status store) can be read back per span and per op.
"""

from __future__ import annotations

import contextlib
import gc
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import threading
import time
import traceback

from py4j.protocol import Py4JJavaError

from metrics import END_TO_END, PER_LAYER, with_units

SETUP_REPS = 3
HEAP_GC_ROUNDS = 8
SPARK_COUNTERS = (
    "jobs", "stages", "tasks", "shuffle_read_bytes", "shuffle_write_bytes",
    "spill_bytes", "executor_run_s", "executor_cpu_s", "gc_s",
)


def median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def tail(xs, beyond: int = 10) -> tuple[float | None, float | None, int]:
    """(value, percentile, n) of the highest percentile that still has
    ``beyond`` samples above it.  Below ``2 * beyond + 1`` samples that
    percentile is not above the median, and (None, None, n) is returned."""
    s = sorted(xs)
    n = len(s)
    if n < 2 * beyond + 1:
        return None, None, n
    i = n - beyond - 1
    return s[i], round(100.0 * (i + 1) / n, 2), n


def noop(df) -> None:
    """Run a DataFrame to completion into the ``noop`` sink."""
    df.write.format("noop").mode("overwrite").save()


def tree_bytes(path: str) -> int:
    """Bytes of every file under ``path``."""
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)


# --- host record --------------------------------------------------------------


def _steal_ticks() -> int | None:
    try:
        with open("/proc/stat") as fh:
            fields = fh.readline().split()
        return int(fields[8])  # cpu user nice system idle iowait irq softirq steal
    except (OSError, IndexError, ValueError):
        return None


def _loadavg() -> list[float] | None:
    try:
        with open("/proc/loadavg") as fh:
            return [float(x) for x in fh.read().split()[:3]]
    except (OSError, ValueError):
        return None


def tree_cpu_s(pid: int | None = None) -> float:
    """CPU seconds (user + system) used so far by process ``pid`` and all
    of its live descendants, including the children they have reaped:
    the Python driver, the Spark JVM and its Python workers.  Time the
    host takes away from the VM (steal) is not in it."""
    root = os.getpid() if pid is None else pid
    parent, used = {}, {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                rest = fh.read().rsplit(")", 1)[1].split()
        except (OSError, IndexError):
            continue  # exited while we looked
        parent[int(name)] = int(rest[1])
        used[int(name)] = sum(int(x) for x in rest[11:15])  # utime stime cutime cstime
    children: dict[int, list[int]] = {}
    for p, pp in parent.items():
        children.setdefault(pp, []).append(p)
    total, todo = 0, [root]
    while todo:
        p = todo.pop()
        total += used.get(p, 0)
        todo.extend(children.get(p, ()))
    return total / os.sysconf("SC_CLK_TCK")


def _git_commit(root: str) -> str:
    """HEAD of the checkout, read from ``.git`` when there is one."""
    head = os.path.join(root, ".git", "HEAD")
    try:
        with open(head) as fh:
            ref = fh.read().strip()
        if not ref.startswith("ref: "):
            return ref
        with open(os.path.join(root, ".git", ref[5:])) as fh:
            return fh.read().strip()
    except OSError:
        return "unknown"


class HostRecord:
    """nproc, SPARK_GRAFT_CPUS, CPU steal and load over the run, library
    versions and the commit -- enough to tell a noisy host from a
    regression."""

    def __init__(self, root: str):
        self.root = root
        self.steal0 = _steal_ticks()
        self.load0 = _loadavg()

    def finish(self) -> dict:
        import duckdb
        import pyspark

        steal1 = _steal_ticks()
        return {
            "nproc": len(os.sched_getaffinity(0)),
            "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
            "steal_ticks": (steal1 - self.steal0)
            if steal1 is not None and self.steal0 is not None else None,
            "loadavg_start": self.load0,
            "loadavg_end": _loadavg(),
            "python": platform.python_version(),
            "pyspark": pyspark.__version__,
            "duckdb": duckdb.__version__,
            "commit": _git_commit(self.root),
        }


# --- ops ----------------------------------------------------------------------


class Ops:
    """Closed-loop op recorder.  An op that raises is counted as failed
    (and as missing every latency limit); the loop goes on."""

    def __init__(self, tracer: "Tracer"):
        self.tracer = tracer
        self.samples: list[tuple[str, str, float, bool]] = []
        self.t_first: float | None = None
        self.t_last: float | None = None
        self.paused = 0.0
        self._next_id = 0

    def new_id(self) -> str:
        self._next_id += 1
        return f"op{self._next_id}"

    @contextlib.contextmanager
    def op(self, kind: str, name: str):
        """Time one op.  ``kind`` is ``read`` or ``write``."""
        op_id = self.new_id()
        t0 = time.perf_counter()
        if self.t_first is None:
            self.t_first = t0
        ok = True
        try:
            with self.tracer.span(f"op.{kind}", op_id=op_id, detail=name):
                yield op_id
        except Exception:
            ok = False
            traceback.print_exc(file=sys.stderr)
        t1 = time.perf_counter()
        self.t_last = t1
        self.samples.append((kind, name, t1 - t0, ok))
        self.tracer.collect_op(op_id, self)

    def add(self, kind: str, name: str, seconds: float, ok: bool = True) -> None:
        """Record an op timed elsewhere (a streaming micro-batch)."""
        self.samples.append((kind, name, seconds, ok))

    def mark(self, t_start: float, t_end: float) -> None:
        """Extend the timed interval over work recorded with ``add``."""
        self.t_first = t_start if self.t_first is None else min(self.t_first, t_start)
        self.t_last = t_end if self.t_last is None else max(self.t_last, t_end)

    @property
    def attempted(self) -> int:
        return len(self.samples)

    @property
    def failed(self) -> int:
        return sum(1 for s in self.samples if not s[3])

    def latencies(self, kind: str | None = None) -> list[float]:
        return [s[2] for s in self.samples if s[3] and (kind is None or s[0] == kind)]

    def wall(self) -> float:
        if self.t_first is None or self.t_last is None:
            return 0.0
        return self.t_last - self.t_first - self.paused

    def summary(self) -> dict:
        out: dict = {"n_ops": self.attempted, "n_failed": self.failed,
                     "timed_wall_s": self.wall()}
        for kind in (None, "write", "read"):
            lat = self.latencies(kind)
            if not lat:
                continue
            label = kind or "op"
            value, pct, n = tail(lat)
            out[f"{label}_n"] = n
            out[f"{label}_p50_s"] = median(lat)
            out[f"{label}_tail_s"] = value
            out[f"{label}_tail_pct"] = pct
        return out


# --- tracing ------------------------------------------------------------------


class Tracer:
    """Span recorder.  Disabled, every call is a no-op context."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[dict] = []
        self.op_counters: dict[str, dict] = {}
        self.overhead = 0.0
        self._local = threading.local()
        self._lock = threading.Lock()
        self._counted_stages: set[int] = set()

    def _stack(self) -> list[dict]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _set_group(self, group: str | None) -> None:
        sc = self.spark.sparkContext
        if group is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            sc.setJobGroup(group, group)

    @contextlib.contextmanager
    def span(self, name: str, op_id: str | None = None, detail: str | None = None):
        if not self.enabled:
            yield None
            return
        t_in = time.perf_counter()
        stack = self._stack()
        parent = stack[-1] if stack else None
        main = threading.current_thread() is threading.main_thread()
        with self._lock:
            rec = {
                "id": len(self.spans),
                "name": name,
                "parent": parent["id"] if parent else None,
                "op": op_id or (parent["op"] if parent else None),
                "detail": detail,
                "thread": threading.get_ident(),
                "start": None,
                "end": None,
            }
            self.spans.append(rec)
        if main:
            self._set_group(f"pb.{rec['id']}")
        stack.append(rec)
        rec["start"] = time.perf_counter()
        self.overhead += rec["start"] - t_in
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            if main:
                self._set_group(f"pb.{parent['id']}" if parent else None)
            self.overhead += time.perf_counter() - rec["end"]

    def wrap(self, module, attr: str, name: str, op_of=None) -> None:
        """Replace ``module.attr`` with a version timed by a ``name``
        span.  ``op_of(args, kwargs)`` names the op when the call runs
        on a thread without an open span (streaming callbacks)."""
        if not self.enabled:
            return
        inner = getattr(module, attr)
        tracer = self

        def traced(*args, **kwargs):
            op_id = op_of(args, kwargs) if op_of else None
            with tracer.span(name, op_id=op_id):
                return inner(*args, **kwargs)

        setattr(module, attr, traced)

    # --- Spark counters -------------------------------------------------------

    def group_counters(self, group: str) -> dict:
        """Sum Spark's own counters over the jobs of one job group.
        A stage shared by several jobs is counted once."""
        sc = self.spark.sparkContext
        tracker = sc.statusTracker()
        store = sc._jsc.sc().statusStore()
        out = dict.fromkeys(SPARK_COUNTERS, 0.0)
        for job_id in tracker.getJobIdsForGroup(group):
            info = tracker.getJobInfo(job_id)
            if info is None:
                continue
            out["jobs"] += 1
            for sid in info.stageIds:
                if sid in self._counted_stages:
                    continue
                try:
                    st = store.lastStageAttempt(sid)
                except Py4JJavaError:  # stage evicted or never attempted
                    continue
                if str(st.status().toString()) in ("SKIPPED", "PENDING"):
                    continue
                self._counted_stages.add(sid)
                out["stages"] += 1
                out["tasks"] += st.numTasks()
                out["shuffle_read_bytes"] += st.shuffleReadBytes()
                out["shuffle_write_bytes"] += st.shuffleWriteBytes()
                out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
                out["executor_run_s"] += st.executorRunTime() / 1e3
                out["executor_cpu_s"] += st.executorCpuTime() / 1e9
                out["gc_s"] += st.jvmGcTime() / 1e3
        return out

    def collect_op(self, op_id: str, ops: Ops) -> None:
        """Read the counters of every span of ``op_id`` into the span
        records and the per-op total.  The time spent here is excluded
        from the timed wall clock."""
        if not self.enabled:
            return
        t0 = time.perf_counter()
        total = dict.fromkeys(SPARK_COUNTERS, 0.0)
        for rec in [s for s in self.spans if s["op"] == op_id]:
            rec["spark"] = self.group_counters(f"pb.{rec['id']}")
            for k in SPARK_COUNTERS:
                total[k] += rec["spark"][k]
        self.op_counters[op_id] = total
        ops.paused += time.perf_counter() - t0

    def collect_shared(self, group: str, op_ids: list[str]) -> None:
        """Split one job group's counters evenly over ``op_ids`` -- the
        micro-batches of a streaming query, whose jobs all run under
        the query's run id."""
        if not self.enabled or not op_ids:
            return
        total = self.group_counters(group)
        for op_id in op_ids:
            self.op_counters[op_id] = {k: v / len(op_ids) for k, v in total.items()}

    # --- reports ----------------------------------------------------------------

    def self_times(self) -> dict[str, list[float]]:
        """Span name -> self time of each call (duration minus the part
        covered by child spans)."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, list[float]] = {}
        for s in self.spans:
            if s["end"] is not None:
                out.setdefault(s["name"], []).append(s["end"] - s["start"] - child[s["id"]])
        return out

    def spark_per_op(self) -> dict[str, float]:
        """Mean Spark counters per op."""
        n = len(self.op_counters)
        return {
            f"spark.{k}": (sum(c[k] for c in self.op_counters.values()) / n if n else 0.0)
            for k in SPARK_COUNTERS
        }

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")


# --- the run ------------------------------------------------------------------


class Run:
    """One benchmark process.  ``t0`` is the process start reference;
    set-up time is measured from it to the first timed op."""

    def __init__(self, root: str, workload: str, seed: int, seconds: int,
                 trace: bool, t0: float):
        self.root = root
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.t0 = t0
        self.work = os.path.join(root, ".perfbench_work", f"run-{os.getpid()}")
        self.host = HostRecord(root)
        self.spark = None
        self.session_start_s = 0.0
        self.tracer = Tracer(None, trace)
        self.ops = Ops(self.tracer)
        self.setup_reps: list[float] = []
        self.setup_cpu_reps: list[float] = []
        self.setup_s: float | None = None
        self.setup_wall_s: float | None = None
        self.cpu0 = 0.0
        self.timed_cpu_s = 0.0
        self.checks: dict[str, bool] = {}
        self.layers: dict[str, float] = {}
        self.detail: dict = {}

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def start_spark(self):
        from nasa_asteroid_data_lakehouse_spark.session import get_spark

        t = time.perf_counter()
        tmp = self.path("tmp")
        conf = {
            "spark.driver.memory": "2g",
            "spark.local.dir": self.path("spark-local"),
            "spark.sql.warehouse.dir": self.path("warehouse"),
            # no hsperfdata file under /tmp; JVM temp files in the work dir
            "spark.driver.extraJavaOptions": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
            "spark.ui.showConsoleProgress": "false",
        }
        cpus = len(os.sched_getaffinity(0))
        self.spark = get_spark(app_name=f"perfbench-{self.workload}",
                               master=f"local[{cpus}]", extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.tracer.spark = self.spark
        self.session_start_s = time.perf_counter() - t
        return self.spark

    def repeat_setup(self, fn):
        """Run one set-up step ``SETUP_REPS`` times; set-up time counts
        the median repetition instead of their sum.  Returns the last
        result."""
        result = None
        for _ in range(SETUP_REPS):
            t, c = time.perf_counter(), tree_cpu_s()
            result = fn()
            self.setup_reps.append(time.perf_counter() - t)
            self.setup_cpu_reps.append(tree_cpu_s() - c)
        return result

    def setup_done(self) -> None:
        """Call right before the first timed op.  Set-up is counted in
        CPU seconds of the process tree (the wall time is kept in the
        detail record)."""
        wall = time.perf_counter() - self.t0
        self.cpu0 = tree_cpu_s()
        reps, cpu_reps = self.setup_reps, self.setup_cpu_reps
        self.setup_wall_s = wall - (sum(reps) - median(reps) if reps else 0.0)
        self.setup_s = self.cpu0 - (sum(cpu_reps) - median(cpu_reps) if cpu_reps else 0.0)

    @contextlib.contextmanager
    def paused(self):
        """Trace-only bookkeeping between ops, kept off the timed clock."""
        t = time.perf_counter()
        try:
            yield
        finally:
            self.ops.paused += time.perf_counter() - t

    def layer_median(self, metric: str, values: list[float]) -> None:
        if values:
            self.layers[metric] = median(values)

    def check(self, name: str, ok: bool, detail=None) -> None:
        self.checks[name] = bool(ok)
        if not ok:
            print(f"CHECK FAILED {name}: {detail}", file=sys.stderr)

    def retained_heap_mb(self) -> float:
        """Heap in use in the Spark JVM after a full GC.  Called right
        after the last timed op, so it also closes the CPU count.

        Python's references to JVM objects go first; then full GCs
        repeat until the reading settles, because Spark's context
        cleaner drops broadcast blocks and shuffle state only after a GC
        has found their handles unreachable."""
        self.timed_cpu_s = tree_cpu_s() - self.cpu0
        gc.collect()
        jvm = self.spark._jvm
        bean = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
        used: list[int] = []
        for _ in range(HEAP_GC_ROUNDS):
            jvm.java.lang.System.gc()
            used.append(bean.getHeapMemoryUsage().getUsed())
            if len(used) >= 3 and max(used[-3:]) - min(used[-3:]) < 2**20:
                break
            time.sleep(0.2)
        return min(used) / 2**20

    def stop(self) -> None:
        """Stop Spark and wait for the JVM to exit."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            if proc is not None:
                if proc.stdin:
                    proc.stdin.close()
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
        self.spark = None

    def report(self, heap_mb: float) -> dict:
        """The final result object (last stdout line)."""
        ops = self.ops
        summary = ops.summary()
        wall = ops.wall()
        completed = ops.attempted - ops.failed
        ops_per_s = completed / wall if wall > 0 else 0.0
        cpu_per_op = self.timed_cpu_s / completed if completed else 0.0
        if self.trace:
            layers = {"session.start_s": self.session_start_s}
            layers.update(self.layers)
            layers.update(self.tracer.spark_per_op())
            layers["ops.p50_s"] = summary.get("op_p50_s", 0.0)
            layers["ops.write_p50_s"] = summary.get("write_p50_s", 0.0)
            layers["ops.read_p50_s"] = summary.get("read_p50_s", 0.0)
            layers["trace.overhead_s"] = self.tracer.overhead / max(1, ops.attempted)
            layers["trace.ops_per_s"] = ops_per_s
            layers["trace.cpu_s_per_op"] = cpu_per_op
            metrics = with_units(layers, PER_LAYER)
        else:
            metrics = with_units({
                "setup_s": self.setup_s or 0.0,
                "cpu_s_per_op": cpu_per_op,
                "retained_heap_mb": heap_mb,
            }, END_TO_END)
        self.detail.update(summary)
        self.detail.update(ops_per_s=ops_per_s, timed_cpu_s=self.timed_cpu_s,
                           cpu_s_per_op=cpu_per_op, setup_wall_s=self.setup_wall_s)
        self.detail["checks"] = self.checks
        self.detail["setup_reps_s"] = self.setup_reps
        self.detail["setup_cpu_reps_s"] = self.setup_cpu_reps
        self.detail["host"] = self.host.finish()
        return {
            "correct": bool(self.checks) and all(self.checks.values()),
            "attempted": max(1, ops.attempted),
            "failed": ops.failed if ops.attempted else 1,
            "metrics": metrics,
        }

    def cleanup(self) -> None:
        shutil.rmtree(self.work, ignore_errors=True)
