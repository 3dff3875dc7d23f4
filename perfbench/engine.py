"""Spark side of the benchmark: session lifetime, process-tree telemetry,
the py4j round-trip counter, and timed requests that split each call into
the engine's layers from outside (build, Catalyst, action, checkpoint unit).
"""

from __future__ import annotations

import os
import shutil
import signal
import time
from typing import Any, Callable, Optional

from pyspark.sql import DataFrame, SparkSession

import bench  # the frozen bench.py: its /proc telemetry helpers are reused
from harness import Tracer, classify_route, plan_counters
from json_schema_lean_spark.checkpointing import CheckpointedValidation

_CLK_TCK = os.sysconf("SC_CLK_TCK")


# -- process tree ---------------------------------------------------------------

def _proc_table() -> dict[int, tuple[int, str, float]]:
    """pid -> (ppid, comm, cpu seconds incl. reaped children)."""
    out = {}
    for p in os.listdir("/proc"):
        if not p.isdigit():
            continue
        try:
            with open(f"/proc/{p}/stat") as f:
                raw = f.read()
        except OSError:
            continue
        head, tail = raw.rsplit(")", 1)
        fields = tail.split()
        cpu = sum(int(fields[i]) for i in (11, 12, 13, 14)) / _CLK_TCK
        out[int(p)] = (int(fields[1]), head.split("(", 1)[1], cpu)
    return out


def descendants(root: int, table: Optional[dict] = None) -> list[int]:
    table = table if table is not None else _proc_table()
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _c, _cpu) in table.items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        for k in kids.get(todo.pop(), ()):
            out.append(k)
            todo.append(k)
    return out


def worker_cpu_sec() -> float:
    """CPU seconds of the Python worker processes below the JVM (the
    Arrow-batch interpreter runs there)."""
    table = _proc_table()
    return sum(table[p][2] for p in descendants(os.getpid(), table)
               if table[p][1].startswith("python"))


def peak_rss_mb() -> float:
    """Sum of each live process's peak resident set (VmHWM) over the
    driver, the JVM and the Python workers."""
    total_kb = 0
    for pid in [os.getpid()] + descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0


class Weather:
    """Host load around one interval, from bench.py's helpers: CPU the
    hypervisor stole and CPU burned outside our process tree, each in
    average cores."""

    def __init__(self) -> None:
        self.busy = bench._machine_busy_sec()
        self.steal = bench._steal_sec()
        self.tree = bench._tree_cpu_sec()
        self.t = time.perf_counter()

    def since(self) -> dict:
        wall = max(time.perf_counter() - self.t, 1e-6)
        tree = bench._tree_cpu_sec() - self.tree
        ext = max(0.0, bench._machine_busy_sec() - self.busy - tree)
        return {"tree_cpu_s": tree,
                "steal_cores": (bench._steal_sec() - self.steal) / wall,
                "external_cores": ext / wall}


# -- py4j ------------------------------------------------------------------------

class Py4jCounter:
    """Counts driver -> JVM round trips by wrapping the gateway client's
    send_command (every py4j call goes through it)."""

    def __init__(self, gateway: Any) -> None:
        self.calls = 0
        client = gateway._gateway_client
        send = client.send_command

        def counted(*a: Any, **k: Any) -> Any:
            self.calls += 1
            return send(*a, **k)

        client.send_command = counted


# -- core pinning ----------------------------------------------------------------------

#: name given to the JVM thread that serves the driver's py4j connection, so
#: that it can be found among the JVM's threads
PY4J_THREAD = "perfbench-py4j"


class CorePin:
    """Pins the driver's main thread and the JVM thread that serves its py4j
    connection to one core; Spark's task threads, the Python workers and
    every other JVM thread keep every core.

    Every engine call is a string of py4j round trips, thousands per build
    on schema_churn. On a virtual machine a round trip between two vCPUs
    waits for the hypervisor to wake the idle one, and that wait follows the
    host's load: on a shared 4-core VM a round trip took 190 us (median of
    ten blocks of 2,000; blocks ranged 127-253 us) with the two threads
    free and 50 us (38-59 us) with both on one core, and schema_churn builds
    took up to twice as long in runs with hypervisor steal. On one core a
    round trip is two context switches."""

    def __init__(self, spark: SparkSession) -> None:
        self.cores = os.sched_getaffinity(0)
        self.core = max(self.cores)
        # runs on the JVM thread that serves this Python thread, which renames
        # its native thread too
        spark._jvm.java.lang.Thread.currentThread().setName(PY4J_THREAD)
        table = _proc_table()
        self.tids = [int(t) for p in descendants(os.getpid(), table)
                     if table[p][1] == "java"
                     for t in os.listdir(f"/proc/{p}/task")
                     if _comm(f"/proc/{p}/task/{t}") == PY4J_THREAD]
        if len(self.tids) != 1:
            raise RuntimeError(f"found {len(self.tids)} JVM threads named "
                               f"{PY4J_THREAD}, expected one")

    def pin(self) -> None:
        # 0 is the calling (main) thread
        for tid in [0] + self.tids:
            os.sched_setaffinity(tid, {self.core})

    def unpin(self) -> None:
        """Every core again; processes started after this inherit them."""
        for tid in [0] + self.tids:
            os.sched_setaffinity(tid, self.cores)


def _comm(task: str) -> str:
    try:
        with open(f"{task}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


# -- session -------------------------------------------------------------------------

#: the JIT counts as settled once it has compiled nothing for this long
JIT_QUIET_S = 1.0
JIT_SETTLE_MAX_S = 20.0


class Session:
    """SparkSession on local[<cores>] whose scratch files stay under
    ``work``; stopping it stops the JVM and waits for every child."""

    def __init__(self, work: str, trace: bool) -> None:
        self.work = work
        self.trace = trace
        self.tracer = Tracer(trace)
        self.cpus = len(os.sched_getaffinity(0))
        self.spark: Optional[SparkSession] = None
        self.requests: list[dict] = []
        self.next_id = 0

    def __enter__(self) -> "Session":
        local = os.path.join(self.work, "spark-local")
        tmp = os.environ["TMPDIR"]
        self.spark = (
            SparkSession.builder.master(f"local[{self.cpus}]")
            .appName("perfbench")
            .config("spark.sql.shuffle.partitions", str(max(self.cpus, 8)))
            .config("spark.sql.adaptive.enabled", "true")
            .config("spark.sql.files.maxPartitionBytes", "4m")
            .config("spark.driver.memory", "2g")
            # a fixed heap (-Xms = -Xmx) keeps peak_rss_mb from following the
            # GC's heap resizing from run to run
            .config("spark.driver.extraJavaOptions",
                    f"-Xms2g -XX:ReservedCodeCacheSize=512m -Djava.io.tmpdir={tmp}")
            .config("spark.local.dir", local)
            .config("spark.sql.warehouse.dir",
                    os.path.join(self.work, "warehouse"))
            .config("spark.ui.enabled", "false")
            .config("spark.ui.showConsoleProgress", "false")
            .getOrCreate())
        self.spark.sparkContext.setLogLevel("ERROR")
        self.py4j = Py4jCounter(self.spark.sparkContext._gateway)
        self.core_pin = CorePin(self.spark)
        self.core_pin.pin()
        return self

    def __exit__(self, *exc: Any) -> None:
        if self.spark is None:
            return
        gateway = self.spark.sparkContext._gateway
        proc = getattr(gateway, "proc", None)
        self.spark.stop()
        gateway.shutdown()
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=30)
            except Exception:  # noqa: BLE001 - any failure here: kill it
                proc.kill()
                proc.wait(timeout=30)
        deadline = time.time() + 30
        left = descendants(os.getpid())
        while left and time.time() < deadline:
            time.sleep(0.1)
            left = descendants(os.getpid())
        for pid in left:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass

    def settle_jit(self) -> float:
        """Waits until the JVM's JIT compilers have stopped compiling: until
        their total compilation time has not grown for JIT_QUIET_S, and at
        most JIT_SETTLE_MAX_S. Returns the seconds waited.

        During warm-up the four task threads keep every core busy, so the
        compilers work off their queue slowly, and request walls kept falling
        for many rotations after the warm-up."""
        bean = self.spark._jvm.java.lang.management.ManagementFactory \
            .getCompilationMXBean()
        t0 = quiet_since = time.perf_counter()
        last = bean.getTotalCompilationTime()
        while True:
            time.sleep(0.1)
            now, total = time.perf_counter(), bean.getTotalCompilationTime()
            if total != last:
                last, quiet_since = total, now
            if now - quiet_since >= JIT_QUIET_S or now - t0 >= JIT_SETTLE_MAX_S:
                return now - t0

    # -- requests ---------------------------------------------------------------

    def new_record(self, kind: str, entry: str, docs: int, warm_up: bool) -> dict:
        rec = {"id": self.next_id, "kind": kind, "entry": entry,
               "docs": docs, "warm_up": warm_up, "failed": False}
        self.next_id += 1
        self.requests.append(rec)
        return rec

    def query(self, kind: str, entry: str, docs: int,
              build: Callable[[], DataFrame], warm_up: bool = False) -> dict:
        """One request: ``build()`` calls the engine's public function and
        returns a one-row aggregate; collecting it is the action. Traced,
        Catalyst planning is forced as its own span before the action and
        the plan is inspected after it, outside the request's wall time."""
        rec = self.new_record(kind, entry, docs, warm_up)
        tr = self.tracer
        weather = Weather()
        w_cpu = worker_cpu_sec() if self.trace else 0.0
        t0 = time.perf_counter()
        with tr.span(f"request.{kind}", rec["id"]):
            with tr.span("lowering.build"):
                calls = self.py4j.calls
                agg = build()
                rec["py4j_calls"] = self.py4j.calls - calls
            t1 = time.perf_counter()
            qe = None
            if self.trace:
                with tr.span("catalyst.plan"):
                    qe = agg._jdf.queryExecution()
                    qe.executedPlan()
            t2 = time.perf_counter()
            with tr.span("validation.action"):
                rec["result"] = tuple(agg.collect()[0])
            t3 = time.perf_counter()
        rec.update(wall=t3 - t0, build_s=t1 - t0, catalyst_s=t2 - t1,
                   exec_s=t3 - t2, **weather.since())
        if self.trace:
            rec["worker_cpu_s"] = worker_cpu_sec() - w_cpu
            with tr.span("trace.introspect", rec["id"]):
                rec.update(_introspect(qe))
        return rec

    def checkpoint(self, kind: str, entry: str, docs: int, input_dir: str,
                   schema: Any, files_per_unit: int,
                   warm_start: bool = False, warm_up: bool = False) -> dict:
        """One fresh CheckpointedValidation.run() into a new output
        directory; result is (rows, valid, violations) from its report."""
        rec = self.new_record(kind, entry, docs, warm_up)
        out_dir = os.path.join(self.work, "checkpoints", str(rec["id"]))
        weather = Weather()
        w_cpu = worker_cpu_sec() if self.trace else 0.0
        t0 = time.perf_counter()
        with self.tracer.span(f"request.{kind}", rec["id"]):
            cv = TracedCheckpoint(self.tracer, self.spark, input_dir, schema,
                                  out_dir, keep_cols=["doc_id"],
                                  files_per_unit=files_per_unit,
                                  warm_start=warm_start)
            rep = cv.run()
        rec.update(wall=time.perf_counter() - t0, **weather.since())
        if self.trace:
            rec["worker_cpu_s"] = worker_cpu_sec() - w_cpu
        rec["result"] = (rep.rows, rep.valid, rep.violations)
        rec["warmup_s"] = rep.warmup_sec
        rec["unit_s"] = [e["stage_sec"] for e in cv.manifest()]
        in_bytes = sum(os.path.getsize(f) for e in cv.manifest()
                       for f in e["input_files"])
        rec["write_bytes_per_input_byte"] = _tree_bytes(
            os.path.join(out_dir, "parts")) / in_bytes
        shutil.rmtree(out_dir)
        return rec


class TracedCheckpoint(CheckpointedValidation):
    """CheckpointedValidation with a span around each unit."""

    def __init__(self, tracer: Tracer, *a: Any, **k: Any) -> None:
        super().__init__(*a, **k)
        self._tracer = tracer

    def _process_unit(self, *a: Any) -> dict:
        with self._tracer.span("checkpointing.unit"):
            return super()._process_unit(*a)


def _tree_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _s, files in os.walk(path) for f in files
               if not f.startswith((".", "_")))


def _introspect(qe: Any) -> dict:
    """Catalyst phase times, plan-shape counters, route and shuffle bytes of
    an executed query."""
    phases = qe.tracker().phases()
    out = {f"{name}_ms": float(phases.get(name).get().durationMs())
           for name in ("analysis", "optimization", "planning")
           if phases.contains(name)}
    optimized = qe.optimizedPlan().toString()
    final = qe.executedPlan()
    physical = final.toString()
    out.update(plan_counters(optimized, physical))
    out["route"] = classify_route(optimized, physical)
    out["shuffle_bytes"] = _shuffle_bytes(final)
    return out


def _shuffle_bytes(plan: Any) -> int:
    """Sum of the ``dataSize`` metric over the exchanges of the final
    adaptive plan."""
    total, todo = 0, [plan]
    while todo:
        p = todo.pop()
        name = p.nodeName()
        if name.startswith("AdaptiveSparkPlan"):
            todo.append(p.executedPlan())
            continue
        if "QueryStage" in name:
            todo.append(p.plan())
            continue
        metrics = p.metrics()
        if "Exchange" in name and metrics.contains("dataSize"):
            total += int(metrics.apply("dataSize").value())
        children = p.children()
        todo.extend(children.apply(i) for i in range(children.size()))
    return total
