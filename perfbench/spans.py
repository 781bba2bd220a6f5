"""Span tracer over Spark's status stores, plus process-level samplers.

A span wraps one call into a sparkrdf layer. With tracing off it only
measures wall time. With tracing on it also:

- runs the call under its own job group, so every Spark job the call starts
  is attributed to exactly one span (the innermost open one);
- after the call, waits for the listener bus to drain and reads, for the
  span's jobs, the stage data of ``sc._jsc.sc().statusStore()`` (task run
  time, shuffle bytes written, failed tasks, per-task times for skew) and
  the SQL executions of ``sharedState().statusStore()`` (the final physical
  plan of every action: Exchange nodes, Python-runner nodes, and which
  implementation ran).

Both stores are populated with ``spark.ui.enabled=false``. The read-back
happens after the span's clock stopped, so it never lands in ``self_s``;
it does land in the traced run's wall time, which is why end-to-end metrics
come from untraced runs only.
"""

from __future__ import annotations

import os
import re
import statistics
import threading
import time
from contextlib import contextmanager

# physical-plan node names that run Python code in a Python worker
PYTHON_NODES = {
    "ArrowEvalPython",
    "BatchEvalPython",
    "MapInPandas",
    "MapInArrow",
    "PythonMapInArrow",
    "FlatMapGroupsInPandas",
    "FlatMapCoGroupsInPandas",
    "AggregateInPandas",
    "WindowInPandas",
    "ArrowEvalPythonUDTF",
    "BatchEvalPythonUDTF",
}
_NODE = re.compile(r"^[\s:|+\-*]*([A-Za-z][A-Za-z0-9 ]*?) \(\d+\)")

def plan_nodes(plan: str) -> list[str]:
    """Operator names of the executed tree in a formatted plan description.

    Adaptive plans carry the final and the initial plan; only the final one
    ran, so the initial one is cut off."""
    tree = plan.split("\n\n", 1)[0]
    if "== Final Plan ==" in tree:
        tree = tree.split("== Final Plan ==", 1)[1].split("== Initial Plan ==", 1)[0]
    names = []
    for line in tree.splitlines():
        m = _NODE.match(line)
        if m:
            names.append(m.group(1))
    return names


class Span:
    __slots__ = ("name", "group", "start", "wall_s", "child_s", "jobs", "plans", "extra")

    def __init__(self, name: str, group: str | None):
        self.name = name
        self.group = group
        self.start = 0.0
        self.wall_s = 0.0
        self.child_s = 0.0
        self.jobs: list[int] = []
        self.plans: list[str] = []
        self.extra: dict = {}

    @property
    def self_s(self) -> float:
        return self.wall_s - self.child_s


class Tracer:
    """Creates spans; keeps the finished ones in memory (``self.spans``)."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._n = 0

    @contextmanager
    def span(self, name: str):
        sc = self.spark.sparkContext
        group = None
        if self.enabled:
            self._n += 1
            group = f"perfbench-{self._n}"
        sp = Span(name, group)
        parent = self._stack[-1] if self._stack else None
        if group:
            sql = self._sql_store()
            n_exec0 = sql.executionsCount()
            sc.setJobGroup(group, name)
        self._stack.append(sp)
        sp.start = time.perf_counter()
        try:
            yield sp
        finally:
            sp.wall_s = time.perf_counter() - sp.start
            self._stack.pop()
            if parent is not None:
                parent.child_s += sp.wall_s
            if group:
                if parent is not None and parent.group:
                    sc.setJobGroup(parent.group, parent.name)
                else:
                    sc.setLocalProperty("spark.jobGroup.id", None)
                    sc.setLocalProperty("spark.job.description", None)
                self._collect(sp, n_exec0)
            self.spans.append(sp)

    # -- read-back from the status stores -------------------------------
    def _sql_store(self):
        return self.spark._jsparkSession.sharedState().statusStore()

    def _drain(self):
        self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(60_000)

    def _collect(self, sp: Span, n_exec0: int):
        self._drain()
        tracker = self.spark.sparkContext.statusTracker()
        sp.jobs = sorted(tracker.getJobIdsForGroup(sp.group))
        job_set = set(sp.jobs)
        sql = self._sql_store()
        n_exec1 = sql.executionsCount()
        if n_exec1 > n_exec0:
            execs = sql.executionsList(n_exec0, n_exec1 - n_exec0)
            for k in range(execs.size()):
                ex = execs.apply(k)
                jobs = ex.jobs().keySet()
                it = jobs.iterator()
                ids = set()
                while it.hasNext():
                    ids.add(int(it.next()))
                if ids & job_set:
                    sp.plans.append(ex.physicalPlanDescription())

    def stage_data(self, sp: Span) -> list:
        """(stage_id, attempt) StageData of every stage the span's jobs ran
        (stages skipped because their shuffle output was reused are absent)."""
        store = self.spark.sparkContext._jsc.sc().statusStore()
        tracker = self.spark.sparkContext.statusTracker()
        out = []
        seen = set()
        for jid in sp.jobs:
            info = tracker.getJobInfo(jid)
            for sid in info.stageIds if info else ():
                if sid in seen:
                    continue
                seen.add(sid)
                try:
                    out.append(store.lastStageAttempt(sid))
                except Exception:  # py4j NoSuchElementException: never submitted
                    continue
        return out

    def counters(self, sp: Span) -> dict:
        """The six per-span counters (``self_s`` always; the rest when traced)."""
        c = {"self_s": sp.self_s}
        if sp.group is None:  # recorded with tracing off
            return c
        stages = self.stage_data(sp)
        nodes = [n for p in sp.plans for n in plan_nodes(p)]
        c["task_busy_s"] = sum(s.executorRunTime() for s in stages) / 1000.0
        c["jobs"] = len(sp.jobs)
        c["exchanges"] = sum(1 for n in nodes if n == "Exchange")
        c["shuffle_write_bytes"] = sum(s.shuffleWriteBytes() for s in stages)
        c["python_nodes"] = sum(1 for n in nodes if n in PYTHON_NODES)
        c["failed_tasks"] = sum(s.numFailedTasks() for s in stages)
        return c

    def skew_ratio(self, sp: Span) -> float:
        """max ÷ median task run time of the span's busiest stage (DS2: skew
        is measured before it is rebalanced)."""
        stages = self.stage_data(sp)
        if not stages:
            return 1.0
        busiest = max(stages, key=lambda s: s.executorRunTime())
        store = self.spark.sparkContext._jsc.sc().statusStore()
        tasks = store.taskList(busiest.stageId(), busiest.attemptId(), 1 << 30)
        times = []
        for k in range(tasks.size()):
            m = tasks.apply(k).taskMetrics()
            if m.isDefined():
                times.append(m.get().executorRunTime())
        med = statistics.median(times) if times else 0
        return max(times) / med if med > 0 else 1.0


def impl_labels(plan_text: str) -> dict:
    """Which implementation ran, read from executed plans: 1 for the JVM
    FarmHashKey UDF (0: pandas hash UDFs) and 1 for the JVM regex NER
    (0: mapInPandas NER); a key is absent when no plan shows either."""
    labels = {}
    if "sparkrdf_fh" in plan_text:
        labels["hashing.jvm"] = 1
    elif re.search(r"(farmhash_udf|term_keys_udf|edge_key_udf)", plan_text):
        labels["hashing.jvm"] = 0
    if "regexp_extract_all" in plan_text:
        labels["extract.ner.jvm"] = 1
    elif "MapInPandas" in plan_text:
        labels["extract.ner.jvm"] = 0
    return labels


# span name -> (label, test on (plan text, node names)) that is true when the
# threshold-gated driver fast path (or rdfs's literal-map single pass) ran.
# Each test names what only the other path's plans contain: the distributed
# loops join (pagerank, scc), anti-join the visited set (describe_cbd) or
# never upload a driver-closed table (owl_materialize's transitive closure);
# rdfs's broadcast rule tree joins where the literal-map pass explodes.
PATH_RULES = {
    "graphops.pagerank": ("driver_path", lambda text, nodes: "Join type" not in text),
    "graphops.scc": ("driver_path", lambda text, nodes: "Join type" not in text),
    "query.describe_cbd": ("driver_path", lambda text, nodes: "LeftAnti" not in text),
    "reason.owl_materialize": ("driver_path", lambda text, nodes: "LocalTableScan" in nodes),
    "reason.rdfs_materialize": (
        "literal_map_path",
        lambda text, nodes: "Generate" in nodes and "Join type" not in text,
    ),
}


def path_label(sp: Span) -> tuple[str, int] | None:
    rule = PATH_RULES.get(sp.name)
    if rule is None or sp.group is None:
        return None
    text = "\n".join(sp.plans)
    nodes = {n for p in sp.plans for n in plan_nodes(p)}
    return rule[0], int(rule[1](text, nodes))


# -- process-level samplers ------------------------------------------------

def _proc_table() -> dict[int, tuple[int, str]]:
    """pid -> (parent pid, command name) of every process in /proc."""
    table = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    head, tail = f.read().rsplit(")", 1)
            except OSError:
                continue
            table[int(d)] = (int(tail.split()[1]), head.split("(", 1)[1])
    return table


def alive(pid: int) -> bool:
    """True while ``pid`` runs (an exited, unreaped zombie counts as ended)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def descendants(root: int) -> dict[int, str]:
    """pid -> command name of every process below ``root``."""
    table = _proc_table()
    out = {}
    for pid, (_ppid, comm) in table.items():
        p = pid
        while p and p != root:
            p = table.get(p, (0, ""))[0]
        if p == root and pid != root:
            out[pid] = comm
    return out


def _tree_bytes(root: int) -> int:
    """Memory of ``root`` and all its descendants: the JVM's RSS plus the
    proportional set size of every Python process. PSS for Python: forked
    workers share pages with their daemon, and RSS would count those once
    per worker. RSS for the JVM: it shares nothing, and walking its page
    tables for PSS costs milliseconds per sample."""
    total = 0
    for pid, comm in {root: "python", **descendants(root)}.items():
        path, key = (f"/proc/{pid}/status", "VmRSS:") if comm == "java" else (f"/proc/{pid}/smaps_rollup", "Pss:")
        try:
            with open(path) as f:
                for line in f:
                    if line.startswith(key):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            continue
    return total


class MemSampler:
    """Peak memory of this process tree, sampled from /proc every ``period`` s."""

    def __init__(self, period: float = 0.5):
        self.period = period
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        root = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, _tree_bytes(root))
            self._stop.wait(self.period)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)
        return False


def steal_jiffies() -> int:
    """Machine-wide CPU steal from /proc/stat, in USER_HZ ticks."""
    try:
        with open("/proc/stat") as f:
            return int(f.readline().split()[8])
    except (OSError, IndexError, ValueError):
        return 0
