"""Layer probes for the traced run.

Everything here reads Spark's own bookkeeping -- the DAG scheduler's id
counters, the application and SQL status stores, the streaming query
listener bus -- or ``/proc``.  Nothing is read from inside the package.
During a pass the tracer only takes id watermarks and the pinned-block
count after each call; the status stores are dumped once, when the run
has finished, and attributed to calls by job and stage id ranges.
"""

from __future__ import annotations

import json
import re
import time
from datetime import datetime

MB = 1 << 20
_LOG_ERROR = re.compile(r"^\d\d/\d\d/\d\d \d\d:\d\d:\d\d ERROR ")
_SIZE = re.compile(r"([\d.,]+)\s*(B|KiB|MiB|GiB|TiB)\b")
_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}


def count_error_lines(log_path: str) -> int:
    """Spark ERROR log lines in the driver's captured stderr."""
    with open(log_path, errors="replace") as f:
        return sum(1 for line in f if _LOG_ERROR.match(line))


def _proc_tree(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        try:
            with open(f"/proc/{p}/task/{p}/children") as f:
                todo.extend(int(c) for c in f.read().split())
        except OSError:
            pass
    return out


def peak_rss_mb(pid: int) -> float:
    """Sum of the resident-memory high-water marks of ``pid`` and every
    live descendant (the driver JVM and the Python workers)."""
    total_kb = 0
    for p in _proc_tree(pid):
        try:
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            pass
    return total_kb / 1024


def write_bytes(pid: int) -> int:
    """Bytes the process has caused to be written to storage."""
    try:
        with open(f"/proc/{pid}/io") as f:
            for line in f:
                if line.startswith("write_bytes:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _epoch(ms: int | None) -> float | None:
    # status-store dates serialise as epoch milliseconds
    return None if ms is None else ms / 1e3


def _size_bytes(text: str) -> float:
    # SQL size metrics read "total (min, med, max ...)\n12.3 KiB (...)"
    m = _SIZE.search(text.split("\n")[-1])
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS[m.group(2)]


def _seconds(text: str) -> float:
    # SQL timing metrics read "total (...)\n4.1 s (...)" or "627 ms (...)"
    m = re.search(r"([\d.,]+)\s*(ms|s|m|h)\b", text.split("\n")[-1])
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}[m.group(2)]


class Tracer:
    """Per-call watermarks plus an end-of-run dump of the status stores."""

    def __init__(self, spark) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        jvm = spark._jvm
        self._jsc_sc = self.sc._jsc.sc()
        self._dag = self._jsc_sc.dagScheduler()
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        self._mapper.registerModule(getattr(scala, "MODULE$"))
        self.jvm_pid = int(jvm.java.lang.ProcessHandle.current().pid())
        self.progress: list[dict] = []
        self.busy_s = 0.0  # time spent in tracer code during passes
        self._listener = None

    # -- during a pass ----------------------------------------------------

    def mark(self) -> tuple[int, int]:
        t = time.perf_counter()
        out = (int(self._dag.nextJobId()), int(self._dag.nextStageId()))
        self.busy_s += time.perf_counter() - t
        return out

    def pinned(self) -> tuple[int, float]:
        """(persistent RDDs, MB they hold) -- read before the sweep."""
        t = time.perf_counter()
        n = int(self.sc._jsc.getPersistentRDDs().size())
        rdds = json.loads(self._dump(self._jsc_sc.statusStore().rddList(True)))
        mb = sum(r.get("memoryUsed", 0) + r.get("diskUsed", 0) for r in rdds) / MB
        self.busy_s += time.perf_counter() - t
        return n, mb

    def disk_written(self) -> int:
        t = time.perf_counter()
        out = write_bytes(self.jvm_pid)
        self.busy_s += time.perf_counter() - t
        return out

    # -- streaming listener ------------------------------------------------

    def listen_streams(self) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        sink = self.progress

        class _Progress(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                sink.append(
                    {
                        "t": datetime.strptime(
                            p.timestamp.replace("Z", "+0000"), "%Y-%m-%dT%H:%M:%S.%f%z"
                        ).timestamp(),
                        "ms": dict(p.durationMs),
                        "state": [(s.numRowsTotal, s.memoryUsedBytes) for s in p.stateOperators],
                        "query": str(p.id),
                    }
                )

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self._listener = _Progress()
        self.spark.streams.addListener(self._listener)

    # -- after the run -----------------------------------------------------

    def _dump(self, obj) -> str:
        return self._mapper.writeValueAsString(obj)

    def drain(self) -> None:
        bus = self._jsc_sc.listenerBus()
        try:
            bus.waitUntilEmpty(30_000)
        except Exception:  # the one-argument overload is absent on some builds
            bus.waitUntilEmpty()

    def stores(self) -> tuple[list, list, list]:
        """(jobs, stages, SQL executions) as plain dicts."""
        self.drain()
        store = self._jsc_sc.statusStore()
        jvm, gw = self.spark._jvm, self.sc._gateway
        jobs = json.loads(self._dump(store.jobsList(None)))
        stages = json.loads(
            self._dump(
                store.stageList(
                    jvm.java.util.ArrayList(), False, False, gw.new_array(jvm.double, 0), jvm.java.util.ArrayList()
                )
            )
        )
        sql = self.spark._jsparkSession.sharedState().statusStore()
        execs = json.loads(self._dump(sql.executionsList()))
        for e in execs:
            # metric values live in a map keyed by accumulator id
            vals = e.get("metricValues") or json.loads(self._dump(sql.executionMetrics(e["executionId"])))
            e["values"] = {int(k): v for k, v in vals.items()}
        return jobs, stages, execs


def _union_s(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def attribute(calls: list[dict], jobs: list, stages: list, execs: list) -> None:
    """Add Spark job/stage/SQL figures to each traced call record.

    A call owns the jobs and stages whose ids fall between the watermarks
    taken when it started and when it ended (one submitting thread, so no
    other call runs in between)."""
    jobs_by_id = {j["jobId"]: j for j in jobs}
    stages_by_id: dict[int, list] = {}
    for s in stages:
        stages_by_id.setdefault(s["stageId"], []).append(s)
    job_owner: dict[int, dict] = {}
    for c in calls:
        j0, s0 = c["mark_start"]
        jb, _ = c.get("mark_built", c["mark_start"])
        j1, s1 = c["mark_end"]
        own_jobs = [jobs_by_id[i] for i in range(j0, j1) if i in jobs_by_id]
        for i in range(j0, j1):
            job_owner[i] = c
        spans = [
            (_epoch(j["submissionTime"]), _epoch(j.get("completionTime")) or _epoch(j["submissionTime"]))
            for j in own_jobs
            if j.get("submissionTime")
        ]
        busy = _union_s(spans)
        c["spark"] = {
            "jobs": j1 - j0,
            "build_jobs": jb - j0,
            "job_busy_s": busy,
            "job_gap_s": max(0.0, c["wall_s"] - busy),
            "failed_tasks": sum(j.get("numFailedTasks", 0) for j in own_jobs),
            "stages": 0,
            "tasks": 0,
            "executor_run_s": 0.0,
            "executor_cpu_s": 0.0,
            "gc_s": 0.0,
            "shuffle_write_mb": 0.0,
            "shuffle_read_mb": 0.0,
            "spill_mb": 0.0,
            "scan_mb": 0.0,
            "scan_rows": 0,
            "output_mb": 0.0,
            "pyworker_run_s": 0.0,
            "pyworker_bytes": 0.0,
        }
        sp = c["spark"]
        for sid in range(s0, s1):
            for s in stages_by_id.get(sid, []):
                if s["status"] not in ("COMPLETE", "FAILED"):
                    continue
                sp["stages"] += 1
                sp["tasks"] += s["numCompleteTasks"] + s["numFailedTasks"]
                sp["executor_run_s"] += s["executorRunTime"] / 1e3
                sp["executor_cpu_s"] += s["executorCpuTime"] / 1e9
                sp["gc_s"] += s["jvmGcTime"] / 1e3
                sp["shuffle_write_mb"] += s["shuffleWriteBytes"] / MB
                sp["shuffle_read_mb"] += s["shuffleReadBytes"] / MB
                sp["spill_mb"] += s["diskBytesSpilled"] / MB
                sp["scan_mb"] += s["inputBytes"] / MB
                sp["scan_rows"] += s["inputRecords"]
                sp["output_mb"] += s["outputBytes"] / MB
    for e in execs:
        owners = {id(job_owner[int(j)]): job_owner[int(j)] for j in e.get("jobs", {}) if int(j) in job_owner}
        if len(owners) != 1:
            continue
        sp = next(iter(owners.values()))["spark"]
        for m in e.get("metrics", []):
            name, text = m["name"], e["values"].get(int(m["accumulatorId"]))
            if text is None or "Python workers" not in name:
                continue
            if name.startswith("data "):  # data sent to / returned from
                sp["pyworker_bytes"] += _size_bytes(text)
            elif name == "time to run Python workers":
                sp["pyworker_run_s"] += _seconds(text)
