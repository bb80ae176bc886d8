"""Shared machinery for the perfbench workloads.

- Spark session start and full shutdown (JVM included), pinned to
  ``local[nproc]`` with the UI off and every scratch file inside the
  checkout.
- Host and process-tree readings from ``/proc``: CPU time, peak RSS,
  hypervisor steal, CPU pressure and load averages.
- The tracer.  With tracing off it is a thin pass-through: layer calls
  stay lazy and fuse into the query's own action.  With tracing on, each
  layer call runs under its own span and Spark job group and is forced
  with an action on the layer's own DataFrame, so the job, stage and task
  counts come from ``statusTracker`` and the Python, Arrow, shuffle and
  spill numbers from that DataFrame's executed (AQE) plan.
"""

from __future__ import annotations

import json
import math
import os
import statistics
import time

# SQL metric names read from executed plans, summed per span.
_PY_NODES = ("ArrowEvalPythonExec", "BatchEvalPythonExec", "MapInPandasExec",
             "MapInArrowExec", "FlatMapGroupsInPandasExec",
             "FlatMapCoGroupsInPandasExec", "AggregateInPandasExec",
             "WindowInPandasExec", "PythonMapInArrowExec")


# ---------------------------------------------------------------------------
# /proc readings
# ---------------------------------------------------------------------------

def _read(path: str) -> str | None:
    try:
        with open(path) as f:
            return f.read()
    except OSError:
        return None


def tree_pids() -> list[int]:
    """This process and all its live descendants (the JVM, the Python
    worker daemon and its workers are all children of the benchmark
    process)."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        stat = _read(f"/proc/{name}/stat")
        if not stat:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [os.getpid()]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, ()))
    return out


def tree_cpu_s() -> float:
    """User + system CPU seconds of the live process tree, plus what
    reaped children left in their parents' counters."""
    tck = os.sysconf("SC_CLK_TCK")
    total = 0
    for p in tree_pids():
        stat = _read(f"/proc/{p}/stat")
        if stat:
            f = stat.rsplit(")", 1)[1].split()
            total += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
    return total / tck


def tree_hwm_mb() -> float:
    """Sum of ``VmHWM`` (peak resident set) over the live process tree."""
    kb = 0
    for p in tree_pids():
        status = _read(f"/proc/{p}/status")
        for line in (status or "").splitlines():
            if line.startswith("VmHWM:"):
                kb += int(line.split()[1])
    return kb / 1024.0


def steal_ticks() -> int | None:
    """Cumulative hypervisor-steal clock ticks from ``/proc/stat``."""
    first = (_read("/proc/stat") or "").split("\n", 1)[0].split()
    return int(first[8]) if len(first) > 8 else None


def psi_cpu_us() -> int | None:
    """Cumulative CPU-pressure stall microseconds ('some' line)."""
    line = (_read("/proc/pressure/cpu") or "").split("\n", 1)[0]
    parts = dict(kv.split("=") for kv in line.split()[1:] if "=" in kv)
    return int(parts["total"]) if "total" in parts else None


def loadavg() -> list[float]:
    return [float(v) for v in (_read("/proc/loadavg") or "0 0 0").split()[:3]]


class HostWindow:
    """Steal and CPU-pressure deltas over the measured part of a run."""

    def __init__(self, nproc: int):
        self.nproc = nproc
        self.steal0, self.psi0, self.load0 = steal_ticks(), psi_cpu_us(), loadavg()

    def report(self) -> dict:
        s1, p1 = steal_ticks(), psi_cpu_us()
        return {
            "nproc": self.nproc,
            "loadavg_start": self.load0,
            "loadavg_end": loadavg(),
            "steal_ticks": None if s1 is None or self.steal0 is None
            else s1 - self.steal0,
            "psi_cpu_stall_s": None if p1 is None or self.psi0 is None
            else (p1 - self.psi0) / 1e6,
        }


# ---------------------------------------------------------------------------
# session
# ---------------------------------------------------------------------------

def start_session(root: str, work: str, nproc: int):
    """Start ``local[nproc]`` with the UI off.  Python workers find the
    package through ``PYTHONPATH``; Spark, the JVM and the workers keep
    their scratch files under ``work``."""
    import rasterframes_spark as rf

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = root + (
        os.pathsep + os.environ["PYTHONPATH"] if os.environ.get("PYTHONPATH") else "")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    spark = rf.create_rf_spark_session(master=f"local[{nproc}]", **{
        "spark.sql.shuffle.partitions": str(nproc),
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.memory": "2g",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # -XX:-UsePerfData: no hsperfdata file in the system temp dir
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}"
                                         f" -Dderby.system.home={tmp}"
                                         " -XX:-UsePerfData",
    })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, then the py4j gateway JVM, and wait for it to exit."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 — last resort: never leave the JVM behind
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


# ---------------------------------------------------------------------------
# statistics
# ---------------------------------------------------------------------------

def median(xs) -> float:
    return float(statistics.median(xs))


def nearest_rank(xs, q: float) -> float:
    """Nearest-rank percentile: a value that occurred, so a mix of query
    kinds never reports an average of two of them."""
    s = sorted(xs)
    return float(s[max(1, math.ceil(q * len(s))) - 1])


def tail(xs) -> tuple[float, float]:
    """The highest percentile with at least ten samples beyond it, as
    (value, percentile).  With fewer than eleven samples no percentile
    qualifies; the maximum is reported, as percentile 100."""
    s = sorted(xs)
    if len(s) < 11:
        return float(s[-1]), 100.0
    k = len(s) - 10            # 1-based rank with 10 samples above it
    return float(s[k - 1]), 100.0 * k / len(s)


RATE_MIN_S = 0.3


def rate(fn, units: float) -> float:
    """``units`` per second of ``fn()``, repeated for at least
    ``RATE_MIN_S`` seconds."""
    n, t0 = 0, time.perf_counter()
    while True:
        fn()
        n += 1
        dt = time.perf_counter() - t0
        if dt >= RATE_MIN_S:
            return units * n / dt


def tile_codec_rates(tiles) -> dict:
    """In-process tile struct codec throughput (``tiles_to_struct_pdf`` /
    ``decode_struct_pdf``) over ``tiles``, in cell MB/s."""
    from rasterframes_spark.tile import decode_struct_pdf, tiles_to_struct_pdf

    mb = sum(t.to_numpy().nbytes for t in tiles) / 1e6
    pdf = tiles_to_struct_pdf(tiles)
    return {"tile.encode_mb_per_s": rate(lambda: tiles_to_struct_pdf(tiles), mb),
            "tile.decode_mb_per_s": rate(lambda: decode_struct_pdf(pdf), mb)}


# ---------------------------------------------------------------------------
# closed-loop query runner
# ---------------------------------------------------------------------------

def run_queries(workload: str, tracer, pass_id, plan) -> dict:
    """Run ``plan`` — (kind, query) pairs — one query at a time.  A query
    builds and runs its DataFrames and returns a check callable; only the
    query is timed (wall and process-tree CPU seconds), the check runs
    after its span closes.  A query that raises or fails its check counts
    as failed."""
    out = {"pass_id": pass_id, "queries": [], "failed": 0, "attempted": 0}
    for kind, query in plan:
        check = None
        with tracer.span(f"query.{kind}", pass_id):
            cpu, t = tree_cpu_s(), time.perf_counter()
            try:
                check = query(tracer)
            except Exception as e:  # noqa: BLE001 — a failed query is counted, not fatal
                print(f"[{workload}] {kind} raised {e!r}", flush=True)
            dt, dcpu = time.perf_counter() - t, tree_cpu_s() - cpu
        ok = False
        if check is not None:
            try:
                ok = bool(check())
            except Exception as e:  # noqa: BLE001 — a broken result is a failed check
                print(f"[{workload}] {kind} check raised {e!r}", flush=True)
        if not ok:
            print(f"[{workload}] {kind} failed its check", flush=True)
        out["queries"].append({"kind": kind, "s": dt, "cpu_s": dcpu})
        out["attempted"] += 1
        out["failed"] += 0 if ok else 1
    out["pass_s"] = sum(q["s"] for q in out["queries"])
    out["pass_cpu_s"] = sum(q["cpu_s"] for q in out["queries"])
    return out


# ---------------------------------------------------------------------------
# tracing
# ---------------------------------------------------------------------------

class Span:
    """One layer call.  ``built()`` marks the end of DataFrame
    construction; ``materialize`` and ``collect`` run the action."""

    def __init__(self, tracer, name: str, pass_id, parent):
        self.tracer, self.name, self.pass_id, self.parent = \
            tracer, name, pass_id, parent
        self.id = tracer._next_id()
        self.group = f"perfbench-{os.getpid()}-{self.id}"
        self.start = self.end = self.built_at = None
        self.build_jobs = 0
        self.counts: dict[str, float] = {}

    # -- actions ----------------------------------------------------------
    def built(self) -> None:
        if self.tracer.on:
            self.built_at = time.perf_counter()
            self.build_jobs = len(self.tracer._jobs(self.group))

    def collect(self, df):
        rows = df.collect()
        if self.tracer.on:
            self.tracer._plan_metrics(df, self.counts)
        return rows

    def materialize(self, df):
        """Traced: run ``df`` to a local checkpoint so the next layer
        starts from its output.  Untraced: return ``df`` unchanged, so
        the layers fuse into the query's own action."""
        if not self.tracer.on:
            return df
        out = df.localCheckpoint(eager=True)
        self.tracer._plan_metrics(df, self.counts)
        return out

    def add(self, key: str, value: float) -> None:
        self.counts[key] = self.counts.get(key, 0.0) + value

    # -- context manager --------------------------------------------------
    def __enter__(self):
        t = self.tracer
        if t.on:
            t.spark.sparkContext.setJobGroup(self.group, self.name)
        t.stack.append(self)
        self.start = time.perf_counter()
        return self

    def __exit__(self, *exc):
        self.end = time.perf_counter()
        t = self.tracer
        t.stack.pop()
        if t.on:
            jobs = t._jobs(self.group)
            stages = [s for j in jobs for s in t._stages(j)]
            self.counts["jobs"] = float(len(jobs))
            self.counts["stages"] = float(len(stages))
            self.counts["tasks"] = float(sum(t._tasks(s) for s in stages))
            parent = t.stack[-1] if t.stack else None
            t.spark.sparkContext.setJobGroup(
                parent.group if parent else "perfbench", "perfbench")
            t.spans.append(self)
        return False


class Tracer:
    """Keeps spans in memory; ``dump`` writes them when the run ends."""

    def __init__(self, spark, on: bool):
        self.spark, self.on = spark, on
        self.spans: list[Span] = []
        self.stack: list[Span] = []
        self._n = 0

    def _next_id(self) -> int:
        self._n += 1
        return self._n

    def span(self, name: str, pass_id=None) -> Span:
        parent = self.stack[-1] if self.stack else None
        if pass_id is None and parent is not None:
            pass_id = parent.pass_id
        return Span(self, name, pass_id, parent)

    # -- statusTracker ----------------------------------------------------
    def _jobs(self, group: str) -> list[int]:
        return list(self.spark.sparkContext.statusTracker().getJobIdsForGroup(group))

    def _stages(self, job: int) -> list[int]:
        info = self.spark.sparkContext.statusTracker().getJobInfo(job)
        return list(info.stageIds) if info else []

    def _tasks(self, stage: int) -> int:
        info = self.spark.sparkContext.statusTracker().getStageInfo(stage)
        return int(info.numTasks) if info else 0

    # -- executed-plan metrics --------------------------------------------
    def _plan_metrics(self, df, acc: dict) -> None:
        """Sum the SQL metrics of ``df``'s executed plan into ``acc``:
        Python time and Arrow bytes on Python nodes, shuffle bytes and
        fetch wait on exchanges, spill on sorts and aggregates.  The walk
        enters AQE stages and cached relations; a metric object reached
        twice (a reused cache or exchange) counts once.

        Two derived counts are added.  ``python_s``: a node's
        ``pythonTotalTime`` is, per task, the time from the runner's start
        until its Python worker finished, so a UDF node pipelined on top of
        another includes the lower one's time; ``python_s`` therefore takes
        the largest ``pythonTotalTime`` of each pipelined segment (the part
        of the plan between exchanges, stages and cached relations) and
        sums the segments: task-seconds during which a Python worker ran,
        each counted once.  ``join_rows``: rows output by join nodes."""
        seen: set[int] = set()
        seg_py: dict[int, float] = {}
        n_seg = 0
        todo = [(df._jdf.queryExecution().executedPlan(), 0)]
        while todo:
            p, seg = todo.pop()
            cls = p.getClass().getSimpleName()
            if cls.endswith(("QueryStageExec", "ExchangeExec", "InMemoryTableScanExec")):
                n_seg += 1
                seg = n_seg
            if cls == "AdaptiveSparkPlanExec":
                todo.append((p.executedPlan(), seg))
            elif cls.endswith("QueryStageExec"):
                todo.append((p.plan(), seg))
            elif cls == "InMemoryTableScanExec":
                todo.append((p.relation().cachedPlan(), seg))
            ms = p.metrics()
            fresh = False
            it = ms.keysIterator()
            while it.hasNext():
                k = it.next()
                m = ms.apply(k)
                mid = m.id()
                if mid in seen:
                    continue
                seen.add(mid)
                fresh = True
                v, typ = float(m.value()), m.metricType()
                if typ == "timing":
                    v /= 1e3
                elif typ == "nsTiming":
                    v /= 1e9
                acc[k] = acc.get(k, 0.0) + v
                if k == "pythonTotalTime":
                    seg_py[seg] = max(seg_py.get(seg, 0.0), v)
                elif k == "numOutputRows" and "Join" in cls:
                    acc["join_rows"] = acc.get("join_rows", 0.0) + v
            if fresh and cls in _PY_NODES:
                acc["udf_sites"] = acc.get("udf_sites", 0.0) + (
                    p.udfs().size() if cls.endswith("EvalPythonExec") else 1)
            ch = p.children()
            todo.extend((ch.apply(i), seg) for i in range(ch.size()))
        acc["python_s"] = acc.get("python_s", 0.0) + sum(seg_py.values())

    # -- reporting --------------------------------------------------------
    def self_time(self, span: Span) -> float:
        """Span duration minus the part of it its child spans cover."""
        kids = sorted((c.start, c.end) for c in self.spans if c.parent is span)
        covered, cur = 0.0, span.start
        for a, b in kids:
            a, b = max(a, cur), min(b, span.end)
            if b > a:
                covered += b - a
                cur = b
        return (span.end - span.start) - covered

    def dump(self, path: str, t0: float) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({
                    "id": s.id, "name": s.name, "pass": s.pass_id,
                    "parent": s.parent.id if s.parent else None,
                    "start_s": round(s.start - t0, 6),
                    "end_s": round(s.end - t0, 6),
                    "self_s": round(self.self_time(s), 6),
                    "build_s": round(s.built_at - s.start, 6) if s.built_at else None,
                    "build_jobs": s.build_jobs,
                    "counts": s.counts,
                }, sort_keys=True) + "\n")
