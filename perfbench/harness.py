"""Measurement plumbing shared by the workloads: the Spark session's
lifecycle, the process-tree RSS sampler, the span tracer, and the readers of
Spark's own metrics (streaming progress and the status store)."""

from __future__ import annotations

import ast
import json
import os
import signal
import subprocess
import threading
import time
from contextlib import contextmanager
from datetime import datetime


def percentile(values, q: float) -> float:
    """Nearest-rank percentile (``q`` in [0, 1]) of a non-empty sample."""
    s = sorted(values)
    return s[min(len(s) - 1, int(q * len(s)))]


def median(values) -> float:
    s = sorted(values)
    n = len(s)
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2


# ---------------------------------------------------------------------------
# Processes
# ---------------------------------------------------------------------------


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the command name may hold spaces; ppid is the 2nd field after ')'
        ppid = int(stat[stat.rindex(b")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children_map()
    out, todo = [], list(kids.get(pid, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def _pss_bytes(pid: int) -> int:
    """Proportional set size: resident pages, each shared page divided among
    the processes mapping it. Summed over a process tree this counts a
    forked Python worker's pages shared with its daemon once, and a
    just-spawned child still sharing the JVM's address space not at all,
    where plain RSS would count both twice."""
    try:
        with open(f"/proc/{pid}/smaps_rollup", "rb") as fh:
            for line in fh:
                if line.startswith(b"Pss:"):
                    return int(line.split()[1]) * 1024
    except (OSError, IndexError, ValueError):
        pass
    return 0


#: seconds between two samples of ``RssSampler``
RSS_INTERVAL_S = 0.2


class RssSampler:
    """Samples the resident memory (as PSS, see ``_pss_bytes``) of this
    process and its descendants (JVM and Python workers) every
    ``RSS_INTERVAL_S`` in a background thread and keeps the peak. Pids in
    ``exclude`` (the load generator) and their descendants are left out."""

    def __init__(self) -> None:
        self.exclude: set[int] = set()
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)

    def _sample(self) -> int:
        me = os.getpid()
        kids = _children_map()
        total, todo = _pss_bytes(me), list(kids.get(me, []))
        while todo:
            p = todo.pop()
            if p in self.exclude:
                continue
            total += _pss_bytes(p)
            todo.extend(kids.get(p, []))
        return total

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, self._sample())
            self._stop.wait(RSS_INTERVAL_S)

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> float:
        """Stops sampling; returns the peak in MB."""
        self._stop.set()
        self._thread.join(timeout=10)
        return self.peak / 2**20


def wait_gone(pids, timeout: float) -> None:
    """Waits until every pid has exited; SIGKILLs what is left at the
    deadline and waits for that too."""
    deadline = time.time() + timeout
    left = set(pids)
    while left:
        left = {p for p in left if os.path.exists(f"/proc/{p}") and not _is_zombie(p)}
        if not left:
            return
        if time.time() > deadline:
            for p in left:
                try:
                    os.kill(p, signal.SIGKILL)
                except OSError:
                    pass
            deadline = time.time() + timeout
        time.sleep(0.05)


def _is_zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat", "rb") as fh:
            stat = fh.read()
        return stat[stat.rindex(b")") + 2 : stat.rindex(b")") + 3] == b"Z"
    except OSError:
        return True


# ---------------------------------------------------------------------------
# Spark session lifecycle
# ---------------------------------------------------------------------------


def start_session(cpus: int):
    """``session.get_spark`` at this host's core count, plus the replay
    source registration. Returns (spark, session_s, register_s)."""
    from debezium_connector_vitess_spark import session
    from debezium_connector_vitess_spark.sources import replay

    t0 = time.perf_counter()
    spark = session.get_spark(cpus=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    t1 = time.perf_counter()
    replay.register(spark)
    t2 = time.perf_counter()
    return spark, t1 - t0, t2 - t1


def stop_jvm(spark) -> None:
    """Stops the SparkContext, then the JVM it ran in, and waits for the
    JVM and every process it started (Python workers) to exit."""
    from pyspark import SparkContext

    pids = descendants(os.getpid())
    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            # the gateway JVM exits when its stdin closes
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
    wait_gone(pids, timeout=20)


# ---------------------------------------------------------------------------
# Tracing
# ---------------------------------------------------------------------------


class Tracer:
    """In-memory spans: (id, name, layer, start, end, parent, run id,
    attributes). Times are epoch seconds so that spans folded in from
    Spark's progress reports line up with the benchmark's own. With
    ``enabled`` false every call is a no-op."""

    def __init__(self, run_id: str) -> None:
        self.run_id = run_id
        self.enabled = False
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, layer: str):
        if not self.enabled:
            yield None
            return
        sp = self.add(name, layer, time.time(), None)
        self._stack.append(sp["id"])
        try:
            yield sp
        finally:
            self._stack.pop()
            sp["end"] = time.time()

    def add(self, name, layer, start, end, parent=None, **attrs) -> dict:
        if parent is None and self._stack:
            parent = self._stack[-1]
        sp = {
            "id": len(self.spans),
            "name": name,
            "layer": layer,
            "start": start,
            "end": end,
            "parent": parent,
            "run_id": self.run_id,
            "attrs": attrs,
        }
        self.spans.append(sp)
        return sp

    def self_seconds(self, roots) -> dict[str, float]:
        """Per layer: the time its spans under ``roots`` cover minus the part
        covered by their child spans."""
        kids: dict[int, list[dict]] = {}
        for sp in self.spans:
            if sp["parent"] is not None:
                kids.setdefault(sp["parent"], []).append(sp)
        out: dict[str, float] = {}
        todo = list(roots)
        while todo:
            sp = todo.pop()
            children = kids.get(sp["id"], [])
            todo.extend(children)
            covered, cur_s, cur_e = 0.0, None, None
            for c in sorted(children, key=lambda c: c["start"]):
                s, e = max(c["start"], sp["start"]), min(c["end"], sp["end"])
                if e <= s:
                    continue
                if cur_e is None or s > cur_e:
                    covered += (cur_e - cur_s) if cur_e is not None else 0.0
                    cur_s, cur_e = s, e
                else:
                    cur_e = max(cur_e, e)
            covered += (cur_e - cur_s) if cur_e is not None else 0.0
            out[sp["layer"]] = out.get(sp["layer"], 0.0) + (sp["end"] - sp["start"]) - covered
        return out

    def write(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as fh:
            json.dump(self.spans, fh)


# the order MicroBatchExecution runs the timed phases of one trigger, and the
# layer each belongs to: latestOffset is the replay reader's driver-side
# boundary scan; addBatch runs the batch's Spark jobs (source read, decode,
# state, sink)
_TRIGGER_PHASES = (
    ("latestOffset", "sources.replay"),
    ("walCommit", "streaming"),
    ("getBatch", "streaming"),
    ("queryPlanning", "streaming"),
    ("addBatch", "spark"),
    ("commitOffsets", "streaming"),
)


def _epoch(ts: str) -> float:
    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def fold_progress(tracer: Tracer, progress: list[dict], parent: int) -> None:
    """Adds one ``trigger`` span per micro-batch under ``parent``, with its
    ``durationMs`` phases laid end to end as child spans and the batch's
    input rows and state-operator metrics as attributes."""
    for p in progress:
        d = p.get("durationMs", {})
        start = _epoch(p["timestamp"])
        trig = tracer.add(
            "trigger",
            "streaming",
            start,
            start + d.get("triggerExecution", 0) / 1000.0,
            parent=parent,
            batch_id=p.get("batchId"),
            num_input_rows=p.get("numInputRows"),
            state_operators=p.get("stateOperators", []),
        )
        t = start
        for phase, layer in _TRIGGER_PHASES:
            ms = d.get(phase)
            if ms is None:
                continue
            tracer.add(phase, layer, t, t + ms / 1000.0, parent=trig["id"])
            t += ms / 1000.0


def source_offsets(offset) -> dict[str, int]:
    """A replay-source offset from a progress report → {shard: line}."""
    if offset is None:
        return {}
    if isinstance(offset, str):
        offset = ast.literal_eval(offset)
    return {str(k): int(v) for k, v in offset.items()}


def streaming_metrics(progress: list[dict]) -> dict[str, float]:
    """The ``streaming`` layer's metrics from ``recentProgress``, plus the
    replay source's ``latestOffset`` time and the state operator's metrics."""

    def p50(key):
        vals = [p["durationMs"].get(key, 0) for p in progress]
        return median(vals) if vals else 0.0

    out = {
        "streaming.batches": float(len(progress)),
        "streaming.trigger_ms_p50": p50("triggerExecution"),
        "streaming.add_batch_ms_p50": p50("addBatch"),
        "streaming.query_planning_ms_p50": p50("queryPlanning"),
        "streaming.wal_commit_ms_p50": p50("walCommit"),
        "streaming.commit_offsets_ms_p50": p50("commitOffsets"),
        "sources.replay.latest_offset_ms": p50("latestOffset"),
    }
    states = [p["stateOperators"][0] for p in progress if p.get("stateOperators")]
    if states:
        out["materialize.state_rows"] = float(states[-1].get("numRowsTotal", 0))
        out["materialize.state_memory_bytes"] = float(states[-1].get("memoryUsedBytes", 0))
        out["materialize.state_commit_ms_p50"] = median(
            [s.get("commitTimeMs", 0) for s in states]
        )
        out["materialize.rows_updated_p50"] = median(
            [s.get("numRowsUpdated", 0) for s in states]
        )
    return out


# ---------------------------------------------------------------------------
# Status store
# ---------------------------------------------------------------------------


class StageCensus:
    """Job and stage totals from the SparkContext's status store for the
    jobs in an id range whose job group is one of ``groups`` or unset."""

    SUMS = (
        ("spark.executor_run_ms", "executorRunTime", 1.0),
        ("spark.executor_cpu_ms", "executorCpuTime", 1e-6),
        ("spark.gc_ms", "jvmGcTime", 1.0),
        ("spark.shuffle_write_bytes", "shuffleWriteBytes", 1.0),
        ("spark.shuffle_read_bytes", "shuffleReadBytes", 1.0),
    )

    def __init__(self, spark) -> None:
        self._sc = spark.sparkContext
        self._store = self._sc._jsc.sc().statusStore()

    def max_job_id(self) -> int:
        jobs = self._store.jobsList(None)
        return max((jobs.apply(i).jobId() for i in range(jobs.size())), default=-1)

    def collect(self, groups: set[str], after_job: int, upto_job: int) -> dict[str, float]:
        jobs = self._store.jobsList(None)
        stage_ids: set[int] = set()
        n_jobs = 0
        for i in range(jobs.size()):
            j = jobs.apply(i)
            jid = j.jobId()
            if not after_job < jid <= upto_job:
                continue
            grp = j.jobGroup()
            if grp.isDefined() and grp.get() not in groups:
                continue
            n_jobs += 1
            ids = j.stageIds()
            stage_ids.update(ids.apply(k) for k in range(ids.size()))
        gw = self._sc._gateway
        stages = self._store.stageList(
            None, False, False, gw.new_array(gw.jvm.double, 0), None
        )
        out = {name: 0.0 for name, _, _ in self.SUMS}
        out.update({"spark.jobs": float(n_jobs), "spark.stages": 0.0,
                    "spark.tasks": 0.0, "spark.spill_bytes": 0.0})
        for i in range(stages.size()):
            s = stages.apply(i)
            if s.stageId() not in stage_ids or str(s.status()) == "SKIPPED":
                continue
            out["spark.stages"] += 1
            out["spark.tasks"] += s.numCompleteTasks()
            out["spark.spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
            for name, field, scale in self.SUMS:
                out[name] += getattr(s, field)() * scale
        return out
