"""Measurement probes that sit outside the program under test.

* ``Spans``       — in-memory span recorder (name, start, end, parent, run id).
* ``RssSampler``  — peak resident memory (proportional set size) of this
                    process and all its descendants (the Spark JVM, the
                    Python daemon and its workers), read from ``/proc``.
* ``ProgressListener`` — the benchmark's own ``StreamingQueryListener``.
* ``wrap_sinks``  — times the streaming sink callables by wrapping them.
* ``read_event_log`` — task metrics from an uncompressed Spark event log.
"""

from __future__ import annotations

import contextlib
import json
import os
import threading
import time

from pyspark.sql.streaming import StreamingQueryListener


class Spans:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.records: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        rec = {"id": len(self.records), "name": name, "run_id": self.run_id,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.time(), "end": None}
        self.records.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def durations(self, name: str) -> list[float]:
        return [r["end"] - r["start"] for r in self.records
                if r["name"] == name and r["end"] is not None]

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for r in self.records:
                f.write(json.dumps(r) + "\n")


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue  # process ended while listing
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        p = todo.pop()
        out.extend(kids.get(p, []))
        todo.extend(kids.get(p, []))
    return out


def _pss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass  # the process has ended
    return 0


class RssSampler:
    """Peak resident memory of this process and all its descendants (the
    Spark JVM, the Python daemon and its workers), sampled every
    ``interval`` seconds on a thread.

    Each process counts its proportional set size, so pages shared between
    processes count once: a JVM child forked to run a shell command, or a
    Python worker forked from the daemon, does not count its parent twice.
    """

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.wait(self.interval):
            self.peak_kb = max(self.peak_kb, sum(map(_pss_kb, (me, *descendants(me)))))

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(10)


class ProgressListener(StreamingQueryListener):
    """Keeps every progress event, as parsed JSON, per query run id."""

    def __init__(self):
        self.progress: dict[str, list[dict]] = {}
        self.started: list[str] = []
        self.terminated: set[str] = set()
        self._cv = threading.Condition()

    def onQueryStarted(self, event):
        with self._cv:
            self.started.append(str(event.runId))

    def onQueryProgress(self, event):
        p = json.loads(event.progress.json)
        with self._cv:
            self.progress.setdefault(p["runId"], []).append(p)

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        with self._cv:
            self.terminated.add(str(event.runId))
            self._cv.notify_all()

    def settle(self, timeout: float = 30.0) -> list[dict]:
        """Block until every query started so far has terminated; return the
        progress events of the last one. The bus delivers a query's events in
        order, so its list is complete once its termination has arrived."""
        with self._cv:
            if not self._cv.wait_for(lambda: set(self.started) <= self.terminated, timeout):
                raise TimeoutError("no query-terminated event from the listener bus")
            return self.progress.get(self.started[-1], []) if self.started else []


@contextlib.contextmanager
def wrap_sinks(spans: Spans):
    """Time ``TallyForeachBatch.__call__`` and each of its three
    ``ExactlyOnceParquetSink.__call__`` writes (classified / tallies /
    mismatches, named after the sink directory)."""
    from spanner_data_validator_spark.streaming import sink as sink_mod

    tally_call = sink_mod.TallyForeachBatch.__call__
    table_call = sink_mod.ExactlyOnceParquetSink.__call__

    def timed_tally(self, batch_df, batch_id):
        with spans.span("streaming.sink.call"):
            return tally_call(self, batch_df, batch_id)

    def timed_table(self, batch_df, batch_id):
        with spans.span(f"streaming.sink.{os.path.basename(self.out_dir)}"):
            return table_call(self, batch_df, batch_id)

    sink_mod.TallyForeachBatch.__call__ = timed_tally
    sink_mod.ExactlyOnceParquetSink.__call__ = timed_table
    try:
        yield
    finally:
        sink_mod.TallyForeachBatch.__call__ = tally_call
        sink_mod.ExactlyOnceParquetSink.__call__ = table_call


def _plan_udf_row_accums(plan: dict, out: set[int]) -> None:
    if plan.get("nodeName", "").startswith("ArrowEvalPython"):
        for m in plan.get("metrics", []):
            if m["name"] == "number of output rows":
                out.add(m["accumulatorId"])
    for child in plan.get("children", []):
        _plan_udf_row_accums(child, out)


def read_event_log(log_dir: str, windows: list[tuple[float, float]]) -> dict:
    """Sum task metrics of tasks launched inside any ``(start, end)`` window
    (epoch seconds) from the plain-JSON event log(s) under ``log_dir``.

    Returns task CPU seconds, shuffle bytes written, bytes sent to and time
    spent in Python workers, rows returned by the Arrow UDF operator, and
    the number of Spark jobs submitted inside the windows.
    """
    ms = [(a * 1000.0, b * 1000.0) for a, b in windows]

    def inside(t: float) -> bool:
        return any(a <= t <= b for a, b in ms)

    out = {"cpu_s": 0.0, "shuffle_bytes": 0, "py_bytes": 0, "py_run_s": 0.0,
           "udf_rows": 0, "jobs": 0}
    udf_accums: set[int] = set()
    files = sorted(
        os.path.join(dp, f) for dp, _, fs in os.walk(log_dir) for f in fs
        if not f.startswith(".") and not f.startswith("appstatus"))
    if not files:
        raise FileNotFoundError(f"no Spark event log under {log_dir}")
    for path in files:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
                        "SparkListenerSQLAdaptiveExecutionUpdate"):
                    _plan_udf_row_accums(ev.get("sparkPlanInfo", {}), udf_accums)
                elif kind == "SparkListenerJobStart":
                    out["jobs"] += inside(ev["Submission Time"])
                elif kind == "SparkListenerTaskEnd":
                    info = ev["Task Info"]
                    if not inside(info["Launch Time"]):
                        continue
                    tm = ev.get("Task Metrics") or {}
                    out["cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
                    out["shuffle_bytes"] += (tm.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0)
                    for acc in info.get("Accumulables", []):
                        name, upd = acc.get("Name"), acc.get("Update")
                        if upd is None:
                            continue
                        if name == "data sent to Python workers":
                            out["py_bytes"] += int(upd)
                        elif name == "time to run Python workers":
                            out["py_run_s"] += int(upd) / 1000.0
                        elif acc.get("ID") in udf_accums:
                            out["udf_rows"] += int(upd)
    return out
