"""Run plumbing shared by every workload: the isolated scratch root, the
Spark session, peak-RSS sampling, session counters and the span tracer."""

from __future__ import annotations

import contextlib
import json
import math
import os
import statistics
import sys
import threading
import time
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def mem_total_mb() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_heap_mb() -> int:
    # an eighth of the host, within [1, 4] GiB: local mode runs driver,
    # executors and the shuffle in this one heap, and the host is shared;
    # a heap the workloads fill keeps the resident size from depending on
    # when the collector happens to run
    return max(1024, min(4096, mem_total_mb() // 8))


def prepare_env(root: str) -> None:
    """Point every directory Spark, the engine and Python write to at
    ``root`` (set before the JVM starts)."""
    for sub in ("local", "tmp", "ivf"):
        os.makedirs(os.path.join(root, sub), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(root, "local")
    os.environ["SPARK_GRAFT_IVF_CACHE"] = os.path.join(root, "ivf")
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{driver_heap_mb()}m"
    os.environ["TMPDIR"] = os.path.join(root, "tmp")
    # Python workers run the driver's interpreter, which has the engine's
    # dependencies
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)


def start_session(root: str):
    from big_data___knowledge_graph_construction_with_llm_spark.session import get_spark

    tmp = os.path.join(root, "tmp")
    spark = get_spark(
        app_name="kgspark-perfbench",
        master=f"local[{nproc()}]",
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(root, "warehouse"),
            # no hsperfdata file in the system temp dir: the run writes only
            # inside the checkout
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop the session, then the JVM it runs in (its Python workers exit
    with it), and wait for the JVM to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway exits on end of input
        proc.wait(timeout=60)


def warm_up(spark) -> None:
    """One JVM-only job and one Python-worker job, so the first timed
    call pays neither class loading nor worker start-up."""
    import pandas as pd

    spark.range(200_000).selectExpr("sum(id)").collect()

    def _ident(batches):
        for pdf in batches:
            yield pd.DataFrame({"id": pdf["id"]})

    spark.range(1000).mapInPandas(_ident, "id long").write.format("noop").mode(
        "overwrite"
    ).save()


def dir_bytes(path: str) -> tuple[int, int]:
    """(bytes, data files) under ``path``, ignoring checksum sidecars."""
    total = files = 0
    for d, _, names in os.walk(path):
        for n in names:
            if n.endswith(".crc"):
                continue
            total += os.path.getsize(os.path.join(d, n))
            if n.startswith("part-"):
                files += 1
    return total, files


class TreeSampler:
    """Memory of this process and every descendant (the JVM and its
    Python workers), sampled in the background because workers come and
    go. The figure is the peak over samples of the summed proportional
    set size (``Pss`` in ``/proc/<pid>/smaps_rollup``): forked Python
    workers share most of their pages with the daemon they fork from, so
    a sum of per-process ``VmHWM`` counts those pages once per worker and
    moves with how many workers happened to fork."""

    def __init__(self, period: float = 0.2):
        self._period = period
        self._peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def start(self) -> "TreeSampler":
        self._thread.start()
        return self

    @staticmethod
    def _descendants() -> list[int]:
        """This process and its descendants."""
        children: dict[int, list[int]] = {}
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            try:
                with open(f"/proc/{name}/stat") as fh:
                    ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            except OSError:
                continue
            children.setdefault(ppid, []).append(int(name))
        out, todo = [], [os.getpid()]
        while todo:
            pid = todo.pop()
            out.append(pid)
            todo.extend(children.get(pid, []))
        return out

    def sample(self) -> None:
        total_kb = 0
        for pid in self._descendants():
            try:
                with open(f"/proc/{pid}/smaps_rollup") as fh:
                    for line in fh:
                        if line.startswith("Pss:"):
                            total_kb += int(line.split()[1])
                            break
            except OSError:  # exited since the listing
                continue
        self._peak_kb = max(self._peak_kb, total_kb)

    def _loop(self) -> None:
        while not self._stop.wait(self._period):
            self.sample()

    def stop(self) -> float:
        """Stop sampling; the peak in MB."""
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()
        return self._peak_kb / 1024.0


def storage_bytes(spark) -> int:
    """Block-manager storage memory in use (cached and checkpointed data)."""
    execs = spark.sparkContext._jsc.sc().statusStore().executorList(True)
    return sum(int(execs.apply(i).memoryUsed()) for i in range(execs.size()))


class SessionCounters:
    """Job, stage and task counters of the session over a window: task
    totals are ``metrics.MetricsCollector`` diffs, job and stage counts
    and spill come from the status store."""

    def __init__(self, spark):
        from big_data___knowledge_graph_construction_with_llm_spark.metrics import MetricsCollector

        self.spark = spark
        self._mc = MetricsCollector(spark)

    def _store(self):
        return self.spark.sparkContext._jsc.sc().statusStore()

    def _stages(self):
        sc = self.spark.sparkContext
        no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)
        return self._store().stageList(None, False, False, no_quantiles, None)

    def start(self) -> None:
        self._t0 = time.perf_counter()
        self._jobs0 = self._store().jobsList(None).size()
        self._stages0 = self._stages().size()
        self._mc.start()

    def finish(self) -> dict[str, float]:
        wall = time.perf_counter() - self._t0
        rec = self._mc.finish("window")
        jobs = self._store().jobsList(None).size() - self._jobs0
        stages = self._stages()
        n_stages = stages.size()
        spilled = 0
        for i in range(n_stages - self._stages0):  # stageList is newest first
            st = stages.apply(i)
            spilled += int(st.memoryBytesSpilled()) + int(st.diskBytesSpilled())
        task_s = rec["task_time_ms"] / 1000.0
        return {
            "session.jobs": jobs,
            "session.stages": n_stages - self._stages0,
            "session.tasks": rec["tasks"],
            "session.task_s": task_s,
            "session.gc_s": rec["gc_time_ms"] / 1000.0,
            "session.busy_frac": task_s / max(wall * nproc(), 1e-9),
            "session.shuffle_write_bytes": rec["shuffle_write_bytes"],
            "session.spill_bytes": spilled,
        }


@dataclass
class Span:
    id: int
    parent: int | None
    op: int | None
    name: str
    start: float
    end: float = 0.0
    group: str = ""


class Tracer:
    """Spans around the benchmark's calls into each engine layer.

    Disabled, ``span`` is a no-op and ``force`` returns its argument, so
    untraced runs pay nothing. Enabled, every span records name, start,
    end, parent and the operation it belongs to, tags its Spark jobs with
    a job group of its own (jobs per span come from the status tracker),
    and ``force`` persists and counts a layer's output inside the span so
    the span times the work rather than plan building.
    """

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._held: list = []
        self.peak_storage = 0

    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def set_op(self, op: int) -> None:
        """Operation id for this thread's spans from now on."""
        self._local.op = op

    @contextlib.contextmanager
    def span(self, name: str, op: int | None = None):
        if not self.enabled:
            yield
            return
        stack = self._stack()
        parent = stack[-1] if stack else None
        if op is None:
            op = parent.op if parent else getattr(self._local, "op", None)
        with self._lock:
            sp = Span(len(self.spans), parent.id if parent else None, op, name, 0.0)
            self.spans.append(sp)
        sp.group = f"perfbench-span-{sp.id}"
        sc = self.spark.sparkContext
        sc.setJobGroup(sp.group, name)
        stack.append(sp)
        sp.start = time.perf_counter()
        try:
            yield
        finally:
            sp.end = time.perf_counter()
            stack.pop()
            used = storage_bytes(self.spark)
            with self._lock:
                self.peak_storage = max(self.peak_storage, used)
            if parent is not None:
                sc.setJobGroup(parent.group, parent.name)
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)

    def force(self, df):
        if not self.enabled:
            return df
        df = df.persist()
        df.count()
        with self._lock:
            self._held.append(df)
        return df

    def release(self) -> None:
        with self._lock:
            held, self._held = self._held, []
        for df in held:
            df.unpersist()

    def layer_stats(self, t0: float, t1: float) -> dict[str, dict[str, float]]:
        """Per span name within [t0, t1]: calls, self seconds, and the
        jobs, input bytes and shuffle bytes written of its own jobs."""
        tracker = self.spark.sparkContext.statusTracker()
        child_time: dict[int, float] = {}
        for sp in self.spans:
            if sp.parent is not None:
                child_time[sp.parent] = child_time.get(sp.parent, 0.0) + (sp.end - sp.start)
        out: dict[str, dict[str, float]] = {}
        for sp in self.spans:
            if sp.start < t0 or sp.end > t1:
                continue
            d = out.setdefault(
                sp.name,
                {"calls": 0, "self_s": 0.0, "jobs": 0, "input_bytes": 0, "shuffle_bytes": 0},
            )
            jobs = tracker.getJobIdsForGroup(sp.group)
            read, shuffled = self._job_bytes(jobs)
            d["calls"] += 1
            d["self_s"] += max(0.0, (sp.end - sp.start) - child_time.get(sp.id, 0.0))
            d["jobs"] += len(jobs)
            d["input_bytes"] += read
            d["shuffle_bytes"] += shuffled
        return out

    def _job_bytes(self, job_ids: list[int]) -> tuple[int, int]:
        """(input bytes, shuffle bytes written) of the stages these jobs ran."""
        sc = self.spark.sparkContext
        store = sc._jsc.sc().statusStore()
        no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)
        read = shuffled = 0
        stage_ids = set()
        for jid in job_ids:
            ids = store.job(jid).stageIds()
            stage_ids.update(ids.apply(i) for i in range(ids.size()))
        for sid in stage_ids:
            try:
                attempts = store.stageData(sid, False, None, False, no_quantiles)
            except Py4JJavaError:  # a skipped stage has no data
                continue
            for i in range(attempts.size()):
                st = attempts.apply(i)
                read += int(st.inputBytes())
                shuffled += int(st.shuffleWriteBytes())
        return read, shuffled

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for sp in self.spans:
                fh.write(json.dumps({
                    "id": sp.id, "parent": sp.parent, "op": sp.op, "name": sp.name,
                    "start": sp.start, "end": sp.end,
                }) + "\n")


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def percentile(xs: list[float], q: float) -> float:
    s = sorted(xs)
    if not s:
        return 0.0
    k = min(len(s) - 1, max(0, int(round(q * (len(s) - 1)))))
    return s[k]


def tail_percentile(xs: list[float]) -> tuple[float, float]:
    """(p, value) for the highest of p50/p90/p95/p99 that leaves at least
    ten samples beyond it."""
    best = (0.5, percentile(xs, 0.5))
    for p in (0.9, 0.95, 0.99):
        if len(xs) * (1 - p) >= 10:
            best = (p, percentile(xs, p))
    return best


@dataclass
class Result:
    """What a workload hands back to ``run.py``."""

    attempted: int = 0
    failed: int = 0
    setup_s: float = 0.0
    work_units: float = 0.0
    elapsed_s: float = 0.0
    op_ms: dict[str, list[float]] = field(default_factory=dict)  # latencies per kind
    info: dict[str, float] = field(default_factory=dict)
    layer: dict[str, float] = field(default_factory=dict)
    errors: list[str] = field(default_factory=list)

    def p50_ms(self) -> float:
        """Geometric mean, over the operation kinds, of each kind's median
        latency: every kind weighs the same however many of it a window
        fits, so the figure does not jump between the kinds' levels."""
        meds = [median(xs) for xs in self.op_ms.values() if xs]
        return math.exp(sum(math.log(m) for m in meds) / len(meds)) if meds else 0.0
