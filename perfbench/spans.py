"""Spans around calls into the program, and the Spark status-store
readers that turn them into per-layer numbers.

A span tags the Spark jobs it starts with a job group of its own, so
every job, stage, task and SQL execution in Spark's in-process status
stores (populated with ``spark.ui.enabled=false`` too) can be charged
to exactly one span, the innermost open one in the submitting thread.
Spans stay in memory; ``Tracer.dump`` writes them out when the run ends.
"""

from __future__ import annotations

import json
import re
import threading
import time
from contextlib import contextmanager

GROUP_PREFIX = "perfbench-"

# SQL nodes that cross the JVM -> Arrow -> Python boundary
PYTHON_NODES = ("MapInPandas", "FlatMapGroupsInPandas", "ArrowEvalPython",
                "BatchEvalPython", "MapInArrow", "FlatMapCoGroupsInPandas")
WRITE_NODE = "Execute InsertIntoHadoopFsRelationCommand"


class Span:
    __slots__ = ("sid", "name", "parent", "start", "end", "group")

    def __init__(self, sid, name, parent, group):
        self.sid, self.name, self.parent, self.group = sid, name, parent, group
        self.start = time.time()
        self.end = None

    @property
    def wall(self) -> float:
        return (self.end or time.time()) - self.start


class Tracer:
    """Opens spans and sets the matching Spark job group in the calling
    thread. Pool threads start with no open span; their spans hang off
    ``root``, the top-level span the main thread opened last."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[Span] = []
        self.root: Span | None = None
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str):
        stack = self._stack()
        top = not stack and threading.current_thread() is threading.main_thread()
        parent = stack[-1] if stack else (None if top else self.root)
        with self._lock:
            sid = len(self.spans)
            sp = Span(sid, name, parent.sid if parent else None, f"{GROUP_PREFIX}{sid}")
            self.spans.append(sp)
        if top:
            self.root = sp
        stack.append(sp)
        self.sc.setLocalProperty("spark.jobGroup.id", sp.group)
        try:
            yield sp
        finally:
            sp.end = time.time()
            stack.pop()
            self.sc.setLocalProperty(
                "spark.jobGroup.id", stack[-1].group if stack else None
            )

    def children(self, sp: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == sp.sid]

    def subtree(self, sp: Span) -> list[Span]:
        out, todo = [], [sp]
        while todo:
            cur = todo.pop()
            out.append(cur)
            todo.extend(self.children(cur))
        return out

    def self_time(self, sp: Span) -> float:
        """Duration minus the part of it that child spans cover."""
        return sp.wall - union_length([(c.start, c.end) for c in self.children(sp)])

    def dump(self, path: str, jobs: dict) -> None:
        by_group: dict[str, list[int]] = {}
        for j in jobs.values():
            by_group.setdefault(j["group"], []).append(j["id"])
        rows = [
            {"id": s.sid, "name": s.name, "parent": s.parent,
             "start": s.start, "end": s.end, "self_s": self.self_time(s),
             "jobs": sorted(by_group.get(s.group, []))}
            for s in self.spans
        ]
        with open(path, "w") as f:
            json.dump(rows, f, indent=1)


def union_length(intervals) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(iv for iv in intervals if iv[1] is not None):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# -- status stores --------------------------------------------------------


def _seq(scala_seq):
    it = scala_seq.iterator()
    while it.hasNext():
        yield it.next()


def _opt_ms(opt):
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


def last_job_id(sc) -> int:
    ids = [j.jobId() for j in _seq(sc._jsc.sc().statusStore().jobsList(None))]
    return max(ids, default=-1)


def last_execution_id(spark) -> int:
    store = spark._jsparkSession.sharedState().statusStore()
    return max((e.executionId() for e in _seq(store.executionsList())), default=-1)


def read_jobs(sc, after_job: int) -> dict[int, dict]:
    """Jobs with id > after_job, each with its job group, stage ids and
    submit/complete wall times (seconds)."""
    out = {}
    for j in _seq(sc._jsc.sc().statusStore().jobsList(None)):
        jid = j.jobId()
        if jid <= after_job:
            continue
        grp = j.jobGroup()
        out[jid] = {
            "id": jid,
            "group": grp.get() if grp.isDefined() else None,
            "stages": [int(s) for s in _seq(j.stageIds())],
            "start": _opt_ms(j.submissionTime()),
            "end": _opt_ms(j.completionTime()),
            "status": j.status().toString(),
        }
    return out


def read_stages(sc, jobs: dict) -> dict[int, dict]:
    """Per-job totals of the stages each job actually ran. A stage id
    shared by several jobs (a reused shuffle) is charged to the first."""
    owner: dict[int, int] = {}
    for jid in sorted(jobs):
        for s in jobs[jid]["stages"]:
            owner.setdefault(s, jid)
    store = sc._jsc.sc().statusStore()
    empty = sc._gateway.new_array(sc._jvm.double, 0)
    per_job = {jid: dict.fromkeys(
        ("stages", "tasks", "run_s", "cpu_s", "gc_s", "shuffle_write_bytes",
         "spill_bytes"), 0.0) for jid in jobs}
    seen = set()
    for st in _seq(store.stageList(None, False, False, empty, None)):
        sid = st.stageId()
        jid = owner.get(sid)
        if jid is None:
            continue
        acc = per_job[jid]
        if sid not in seen and st.status().toString() != "SKIPPED":
            seen.add(sid)
            acc["stages"] += 1
        acc["tasks"] += st.numCompleteTasks()
        acc["run_s"] += st.executorRunTime() / 1e3
        acc["cpu_s"] += st.executorCpuTime() / 1e9
        acc["gc_s"] += st.jvmGcTime() / 1e3
        acc["shuffle_write_bytes"] += st.shuffleWriteBytes()
        acc["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
    return per_job


_UNITS = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0, "B": 1.0,
          "KiB": 2.0**10, "MiB": 2.0**20, "GiB": 2.0**30, "TiB": 2.0**40}


def parse_metric(text: str) -> float:
    """Spark's formatted SQL metric -> number (seconds, bytes or count).
    Distribution-style values ("total (min, med, max ...)\\n4.8 s (...)")
    are reduced to their total."""
    if "\n" in text:
        text = text.split("\n", 1)[1].split(" (", 1)[0]
    m = re.match(r"\s*([-0-9.,]+)\s*([A-Za-z]*)", text)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


def read_sql(spark, after_exec: int, job_owner: dict[int, str]) -> list[dict]:
    """SQL executions with id > after_exec, reduced to the nodes the
    per-layer numbers need: Python-boundary operators (time and bytes),
    file-write commands (files, rows, bytes) and the candidate stream
    into the linking rescore (its child's output rows).

    job_owner maps job id -> job group; an execution belongs to the
    group of its first job."""
    store = spark._jsparkSession.sharedState().statusStore()
    out = []
    for ex in _seq(store.executionsList()):
        eid = ex.executionId()
        if eid <= after_exec:
            continue
        job_ids = sorted(int(k) for k in _seq(ex.jobs().keys()))
        groups = [job_owner[j] for j in job_ids if j in job_owner]
        if not groups:
            continue
        rec = {"id": eid, "group": groups[0], "python_s": 0.0,
               "python_bytes_in": 0.0, "python_bytes_out": 0.0,
               "files_written": 0.0, "rows_written": 0.0,
               "rescore_in": 0.0, "rescore_out": 0.0}
        graph = store.planGraph(eid)
        values = store.executionMetrics(eid)
        nodes = {n.id(): n for n in _seq(graph.allNodes())}
        kids: dict[int, list[int]] = {}
        for e in _seq(graph.edges()):
            kids.setdefault(e.toId(), []).append(e.fromId())

        def metrics(node) -> dict[str, float]:
            got = {}
            for m in _seq(node.metrics()):
                v = values.get(m.accumulatorId())
                if v.isDefined():
                    got[m.name()] = parse_metric(v.get())
            return got

        for nid, node in nodes.items():
            name = node.name()
            if name in PYTHON_NODES:
                mt = metrics(node)
                rec["python_s"] += mt.get("time to run Python workers", 0.0)
                rec["python_bytes_in"] += mt.get("data sent to Python workers", 0.0)
                rec["python_bytes_out"] += mt.get("data returned from Python workers", 0.0)
                if name == "MapInPandas" and "cos_bc(" in node.desc():
                    rec["rescore_out"] += mt.get("number of output rows", 0.0)
                    todo = list(kids.get(nid, []))
                    while todo:
                        child = metrics(nodes[todo[0]])
                        if "number of output rows" in child:
                            rec["rescore_in"] += child["number of output rows"]
                            break
                        todo = kids.get(todo.pop(0), []) + todo
            elif name == WRITE_NODE:
                mt = metrics(node)
                rec["files_written"] += mt.get("number of written files", 0.0)
                rec["rows_written"] += mt.get("number of output rows", 0.0)
        out.append(rec)
    return out
