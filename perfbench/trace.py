"""Spans, percentiles and the Spark-side readings the traced run
attributes to them.

A span is (name, start, end, parent, trace id), the trace id being a qid
or a micro-batch id. Spans stay in memory and are written as JSON lines
when the run ends; each carries its self time (its duration minus its
children's).
"""

from __future__ import annotations

import json
import math
import re
import statistics
import time
from contextlib import contextmanager
from pathlib import Path


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, trace: str = "", **attrs):
        """Time the enclosed block; a no-op when tracing is off."""
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "trace": trace,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.time(),
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["dur_s"] = time.perf_counter() - t0
            rec["end"] = rec["start"] + rec["dur_s"]
            self._stack.pop()

    def add(self, name: str, trace: str, start: float, dur_s: float, parent: int | None, **attrs) -> int | None:
        """Record a span timed elsewhere (by Spark's progress reports);
        returns its id."""
        if not self.enabled:
            return None
        rec = {"id": len(self.spans), "name": name, "trace": trace, "parent": parent,
               "start": start, "dur_s": dur_s, "end": start + dur_s, **attrs}
        self.spans.append(rec)
        return rec["id"]

    def self_times(self) -> list[float]:
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["dur_s"]
        return [s["dur_s"] - c for s, c in zip(self.spans, child)]

    def self_by_name(self) -> dict[str, float]:
        out: dict[str, float] = {}
        for s, self_s in zip(self.spans, self.self_times()):
            out[s["name"]] = out.get(s["name"], 0.0) + self_s
        return out

    def write(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        with path.open("w") as f:
            for s, self_s in zip(self.spans, self.self_times()):
                f.write(json.dumps({**s, "self_s": self_s}) + "\n")


def tail(values: list[float]) -> tuple[float, int, int]:
    """(value, percentile, samples beyond it): the highest of p99, p95,
    p90, p75 with at least 10 samples beyond it; below 40 samples there
    is none, and p75 is reported with its (smaller) count beyond."""
    n = len(values)
    pct = next((p for p in (99, 95, 90, 75) if n * (100 - p) / 100 >= 10), 75)
    s = sorted(values)
    # linear interpolation between closest ranks (numpy's default)
    x = (n - 1) * pct / 100
    lo = math.floor(x)
    hi = min(lo + 1, n - 1)
    value = s[lo] + (s[hi] - s[lo]) * (x - lo)
    return value, pct, sum(1 for v in s if v > value)


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


# --- Spark observations --------------------------------------------------

_SIZE = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_TIME = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}


def sql_metric_value(text: str) -> float:
    """The total of one SQL UI metric string, in bytes or seconds
    ("12.5 MiB", "total (min, med, max ...)\\n1.2 s (...)", "3")."""
    line = text.strip().splitlines()[-1] if "\n" in text.strip() else text.strip()
    m = re.match(r"([0-9][0-9,.]*)\s*([A-Za-z]*)", line)
    if not m:
        return 0.0
    v = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    return v * _SIZE.get(unit, _TIME.get(unit, 1.0))


# Python-node SQL metrics (ArrowEvalPython, BatchEvalPython, MapInArrow,
# ...) -> per-layer name
PYTHON_METRICS = {
    "time to run Python workers": "exec.python_s",
    "time to start Python workers": "exec.python_boot_s",
    "time to initialize Python workers": "exec.python_boot_s",
    "data sent to Python workers": "exec.python_bytes",
    "data returned from Python workers": "exec.python_bytes",
}


class SparkProbe:
    """Job, stage, SQL and storage readings of one application, taken
    through the status tracker and the monitoring REST API."""

    def __init__(self, spark):
        from perfbench.harness import Rest

        self.sc = spark.sparkContext
        self.rest = Rest(spark)

    def group_jobs(self, group: str) -> list[int]:
        return list(self.sc.statusTracker().getJobIdsForGroup(group))

    def jobs_since(self, t_epoch: float) -> list[int]:
        return [j["jobId"] for j in self.rest.get("jobs") if epoch(j["submissionTime"]) >= t_epoch]

    def jobs(self, job_ids: list[int]) -> dict:
        """Counts and executor totals of the given jobs."""
        out = {
            "jobs": len(job_ids), "stages": 0, "tasks": 0,
            "executor_run_s": 0.0, "executor_cpu_s": 0.0,
            "shuffle_read_bytes": 0, "shuffle_write_bytes": 0,
            "spill_bytes": 0, "input_bytes": 0, "result_bytes": 0,
            "end": 0.0,
        }
        if not job_ids:
            return out
        wanted = set(job_ids)
        jobs = [j for j in self.rest.get("jobs") if j["jobId"] in wanted]
        stage_ids = {s for j in jobs for s in j.get("stageIds", [])}
        for j in jobs:
            if j.get("completionTime"):
                out["end"] = max(out["end"], epoch(j["completionTime"]))
        for st in self.rest.get("stages"):
            if st["stageId"] not in stage_ids or st.get("status") == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += st.get("numCompleteTasks", 0)
            out["executor_run_s"] += st.get("executorRunTime", 0) / 1e3
            out["executor_cpu_s"] += st.get("executorCpuTime", 0) / 1e9
            out["shuffle_read_bytes"] += st.get("shuffleReadBytes", 0)
            out["shuffle_write_bytes"] += st.get("shuffleWriteBytes", 0)
            out["spill_bytes"] += st.get("memoryBytesSpilled", 0) + st.get("diskBytesSpilled", 0)
            out["input_bytes"] += st.get("inputBytes", 0)
            out["result_bytes"] += st.get("resultSize", 0)
        return out

    def python(self, job_ids: list[int]) -> dict[str, float]:
        """Python-node SQL metrics of the SQL executions that ran the
        given jobs."""
        out = {"exec.python_s": 0.0, "exec.python_boot_s": 0.0, "exec.python_bytes": 0.0}
        if not job_ids:
            return out
        wanted = set(job_ids)
        for ex in self.rest.get("sql?details=true&planDescription=false&offset=0&length=100000"):
            ran = set(ex.get("successJobIds", [])) | set(ex.get("failedJobIds", []))
            if not ran & wanted:
                continue
            for node in ex.get("nodes", []):
                for m in node.get("metrics", []):
                    key = PYTHON_METRICS.get(m.get("name"))
                    if key:
                        out[key] += sql_metric_value(m.get("value", ""))
        return out

    def storage(self) -> tuple[int, int]:
        """(cached entries resident, bytes they hold in memory and on disk)."""
        rdds = self.rest.get("storage/rdd")
        return len(rdds), sum(r.get("memoryUsed", 0) + r.get("diskUsed", 0) for r in rdds)


def epoch(ts: str) -> float:
    """REST and progress timestamps: 2026-10-17T03:05:40.123GMT or ...Z."""
    from datetime import datetime, timezone

    d = datetime.strptime(ts.replace("GMT", "").replace("Z", ""), "%Y-%m-%dT%H:%M:%S.%f")
    return d.replace(tzinfo=timezone.utc).timestamp()


def plan_phases(df, since: float) -> dict[str, float]:
    """Catalyst phase times (s) of a DataFrame's QueryExecution that
    began at or after epoch second ``since``: a DataFrame a qid's build
    function returns from a cache carries phases measured before the qid ran."""
    from py4j.protocol import Py4JError

    out = {"analysis": 0.0, "optimization": 0.0, "planning": 0.0}
    try:
        phases = df._jdf.queryExecution().tracker().phases()
        it = phases.iterator()
        while it.hasNext():
            kv = it.next()
            name, summary = kv._1(), kv._2()
            if name in out and summary.startTimeMs() >= since * 1e3:
                out[name] += summary.durationMs() / 1e3
    except (AttributeError, Py4JError):  # not a classic session: no tracker to read
        pass
    return out


def rss_peak_mb() -> float:
    """Peak resident set of the session's JVM plus this Python process,
    in MiB."""
    import resource

    from pyspark import SparkContext

    jvm_pid = getattr(getattr(SparkContext._gateway, "proc", None), "pid", None)
    mb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024
    if jvm_pid:
        try:
            for line in Path(f"/proc/{jvm_pid}/status").read_text().splitlines():
                if line.startswith("VmHWM:"):
                    mb += int(line.split()[1]) / 1024
        except OSError:
            pass
    return mb
