"""Measurement helpers that read only public interfaces: ``/proc`` for the
process tree, Spark's status tracker and local UI REST API, and each
DataFrame's ``queryExecution().tracker()``.

Nothing here changes what the measured program does; the traced run adds
the Spark-side reads after each op's timer has stopped.
"""

from __future__ import annotations

import json
import os
import re
import threading
import time
import urllib.request
from contextlib import contextmanager
from datetime import datetime, timezone

CLK_TCK = os.sysconf("SC_CLK_TCK")
PAGE = os.sysconf("SC_PAGE_SIZE")
RSS_INTERVAL_S = 0.1  # peak-RSS sampling period
PID_REFRESH = 10  # RSS samples between re-reads of the tree's pid list
SETTLE_TIMEOUT_S = 10.0
PYTHON_EVAL_NODES = ("ArrowEvalPython", "BatchEvalPython")
_SIZE_UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}


def process_age_s() -> float:
    """Seconds since this process started, from ``/proc`` (10 ms steps)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / CLK_TCK


def _proc_stats() -> dict[int, tuple[int, int, int]]:
    """pid -> (ppid, cpu ticks incl. reaped children, resident pages)."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            with open(f"/proc/{name}/statm") as f:
                rss = int(f.read().split()[1])
        except (FileNotFoundError, ProcessLookupError, IndexError):
            continue
        ticks = sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
        out[int(name)] = (int(fields[1]), ticks, rss)
    return out


def tree_pids(stats: dict[int, tuple[int, int, int]], root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in stats.items():
        children.setdefault(ppid, []).append(pid)
    pids, todo = [], [root]
    while todo:
        pid = todo.pop()
        pids.append(pid)
        todo.extend(children.get(pid, ()))
    return pids


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


class ProcTree:
    """Samples this process tree (driver, JVM, Python workers): peak RSS
    in a background thread, CPU on demand. The tree's pid list is
    refreshed every ``PID_REFRESH`` samples; in between only their
    ``statm`` files are read."""

    def __init__(self) -> None:
        self.root = os.getpid()
        self.peak_rss_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def __enter__(self) -> "ProcTree":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def _run(self) -> None:
        pids: list[int] = []
        n = 0
        while not self._stop.is_set():
            if n % PID_REFRESH == 0:
                pids = tree_pids(_proc_stats(), self.root)
            n += 1
            rss = 0
            for pid in pids:
                try:
                    with open(f"/proc/{pid}/statm") as f:
                        rss += int(f.read().split()[1])
                except (FileNotFoundError, ProcessLookupError):
                    pass
            self.peak_rss_bytes = max(self.peak_rss_bytes, rss * PAGE)
            self._stop.wait(RSS_INTERVAL_S)

    def cpu(self) -> dict[str, float]:
        """Busy CPU seconds of the whole box, of this tree and of this
        tree's Python workers (the ``pyspark.daemon`` subtree), and CPU
        seconds the hypervisor gave to other guests (steal)."""
        stats = _proc_stats()
        pids = [p for p in tree_pids(stats, self.root) if p in stats]
        with open("/proc/stat") as f:
            vals = [int(x) for x in f.readline().split()[1:]]
        steal = vals[7]
        busy = sum(vals[:8]) - vals[3] - vals[4] - steal  # minus idle, iowait, steal
        daemons = [p for p in pids if "pyspark.daemon" in _cmdline(p)]
        workers = set()
        for d in daemons:
            workers.update(tree_pids(stats, d))
        return {
            "box_s": busy / CLK_TCK,
            "steal_s": steal / CLK_TCK,
            "tree_s": sum(stats[p][1] for p in pids) / CLK_TCK,
            "pyworker_s": sum(stats[p][1] for p in workers if p in stats) / CLK_TCK,
        }

    def descendants(self) -> list[int]:
        stats = _proc_stats()
        return [p for p in tree_pids(stats, self.root) if p != self.root and p in stats]


class Tracer:
    """In-memory spans (name, epoch start ``t0`` and end ``t1``, parent, op
    id); written out once at exit. Disabled, ``span`` costs one branch."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, op: str | None = None, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "op": op,
            "parent": self._stack[-1] if self._stack else None,
            "t0": time.time(),
            "t1": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["t1"] = time.time()
            self._stack.pop()

    def self_time(self, span_id: int) -> float:
        rec = self.spans[span_id]
        covered = sum(s["t1"] - s["t0"] for s in self.spans if s["parent"] == span_id)
        return rec["t1"] - rec["t0"] - covered

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


def catalyst_phases_ms(df) -> dict[str, float]:
    """Analysis, optimization and planning time of ``df``'s own query
    execution. ``phases()`` is a Scala ``Map`` whose ``get`` returns an
    ``Option``; only ``analysis`` exists until the executed plan is
    forced, so force it first."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    out = {}
    for name in ("analysis", "optimization", "planning"):
        opt = phases.get(name)
        out[name] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
    return out


class SparkStatus:
    """Per-job-group scheduler counts (status tracker) and task metrics,
    job intervals and executed SQL plans (local UI REST API)."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        port = self.sc.uiWebUrl.rsplit(":", 1)[1]
        self.base = f"http://127.0.0.1:{port}/api/v1/applications/{self.sc.applicationId}"

    def get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as resp:
            return json.load(resp)

    def group_counts(self, group: str) -> dict:
        st = self.sc.statusTracker()
        job_ids = st.getJobIdsForGroup(group)
        stage_ids: list[int] = []
        for jid in job_ids:
            info = st.getJobInfo(jid)
            if info is not None:
                stage_ids.extend(info.stageIds)
        tasks = failed = 0
        for sid in stage_ids:
            info = st.getStageInfo(sid)
            if info is not None:
                tasks += info.numTasks
                failed += info.numFailedTasks
        return {"job_ids": list(job_ids), "stage_ids": stage_ids, "tasks": tasks,
                "failed_tasks": failed}

    def settle(self, job_ids: list[int]) -> None:
        """Wait until the REST store has every job in ``job_ids`` finished
        (the listener bus delivers asynchronously)."""
        want = set(job_ids)
        deadline = time.monotonic() + SETTLE_TIMEOUT_S
        while time.monotonic() < deadline:
            done = {j["jobId"] for j in self.get("/jobs") if j.get("completionTime")}
            if want <= done:
                return
            time.sleep(0.2)

    def stage_metrics(self) -> dict[int, dict]:
        return {s["stageId"]: s for s in self.get("/stages")}

    def job_intervals(self) -> dict[int, tuple[float, float]]:
        out = {}
        for j in self.get("/jobs"):
            if j.get("submissionTime") and j.get("completionTime"):
                out[j["jobId"]] = (_epoch(j["submissionTime"]), _epoch(j["completionTime"]))
        return out

    def sql_by_group(self, groups: dict[str, set[int]]) -> dict[str, list[dict]]:
        """The SQL executions (nodes with their metrics, edges and plan
        description) whose jobs belong to each group's job ids, oldest
        first."""
        out: dict[str, list[dict]] = {g: [] for g in groups}
        for e in sorted(self.get("/sql?details=true&planDescription=true&length=100000"),
                        key=lambda e: e["id"]):
            jids = set(e.get("successJobIds", [])) | set(e.get("failedJobIds", []))
            for g, gj in groups.items():
                if jids & gj:
                    out[g].append(e)
        return out



def metric_value(text: str) -> float:
    """A SQL node metric as the UI prints it: ``"9,960"``, ``"16.0 MiB"``,
    or a task-aggregated ``"total (min, med, max ...)\\n752.1 KiB (...)"``,
    as a number (sizes in bytes)."""
    if "\n" in text:
        text = text.split("\n", 1)[1].split(" (", 1)[0]
    num, _, unit = text.strip().partition(" ")
    return float(num.replace(",", "")) * _SIZE_UNITS.get(unit, 1)


def node_metric(node: dict, name: str) -> float:
    for m in node.get("metrics", []):
        if m["name"] == name:
            return metric_value(m["value"])
    return 0.0


def python_eval_rows(execution: dict, udf_name: str) -> float:
    """Rows that went through the Python-eval nodes of one SQL execution
    that evaluate the UDF called ``udf_name``.

    The REST nodes carry metrics but not arguments, and the plan
    description carries arguments but not metrics. Both list the final
    plan's nodes in pre-order, so the k-th Python-eval node of one is the
    k-th of the other. If the counts disagree, every Python-eval node of
    an execution whose plan names the UDF is counted."""
    desc = execution.get("planDescription", "")
    tree = desc.split("== Final Plan ==", 1)[-1].split("== Initial Plan ==", 1)[0]
    tree = tree.split("\n\n", 1)[0]
    ids = []
    for line in tree.splitlines():
        m = re.match(r"[\s:+*-]*(\w+).*\((\d+)\)", line)
        if m and m.group(1) in PYTHON_EVAL_NODES:
            ids.append(m.group(2))
    args = {}
    for m in re.finditer(r"^\((\d+)\) (\w+)[^\n]*\n(.*?)(?=^\(\d+\) |\Z)", desc, re.M | re.S):
        args[m.group(1)] = m.group(3)
    nodes = sorted((n for n in execution.get("nodes", []) if n["nodeName"] in PYTHON_EVAL_NODES),
                   key=lambda n: n["nodeId"])
    call = f"{udf_name}("
    if len(ids) == len(nodes):
        return sum(node_metric(n, "number of output rows")
                   for n, i in zip(nodes, ids) if call in args.get(i, ""))
    if call not in desc:
        return 0.0
    return sum(node_metric(n, "number of output rows") for n in nodes)


def broadcast_exchange_bytes(execution: dict) -> float:
    return sum(node_metric(n, "data size") for n in execution.get("nodes", [])
               if n["nodeName"] == "BroadcastExchange")


def python_broadcast_files(local_dir: str) -> dict[str, int]:
    """path -> size of the pickled Python broadcast variables under a
    Spark local dir: PySpark writes each ``sc.broadcast`` value to a file
    in its ``pyspark-*`` temp dir and keeps it until the variable is
    destroyed."""
    out = {}
    for root, _, files in os.walk(local_dir):
        if os.path.basename(root).startswith("pyspark-"):
            for f in files:
                try:
                    out[os.path.join(root, f)] = os.path.getsize(os.path.join(root, f))
                except OSError:
                    pass
    return out


def _epoch(stamp: str) -> float:
    return datetime.strptime(stamp, "%Y-%m-%dT%H:%M:%S.%f%Z").replace(
        tzinfo=timezone.utc
    ).timestamp()


def covered_s(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total
