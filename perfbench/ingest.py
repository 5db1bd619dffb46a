"""The ``ingest_replay`` workload, run by hand and not listed in
BENCHMARK.json while its traffic mix is an assumption (see
``traffic.py``): seeded TNC2 replay files through
``read_packet_lines`` (one file per trigger) -> ``parsed_packet_stream``
-> ``dedup_30s`` -> ``upsert_stations_sink``, drained with
``run_available_now``; then the stations table is checked against the
generator's ground truth outside the timed region.
"""

from __future__ import annotations

import hashlib
import json
import math
import shutil
import time
from pathlib import Path

from perfbench import traffic
from perfbench.env import WORK
from perfbench.trace import SparkProbe, epoch, median, rss_peak_mb

LINES_PER_FILE = 2000
STATIONS = 500
# frozen latencies of the first and of a later micro-batch on a 4-core
# host: they size the file set so a replay fills about --seconds, and
# the set depends only on seed and seconds
FIRST_BATCH_S = 6.5
BATCH_S = 3.0

# units of the metrics only this workload reports (the rest are in
# BENCHMARK.json)
UNITS = {
    "batch_p50_s": "s",
    "batch_tail_s": "s",
    "ingest_rows_per_s": "1/s",
    "sink.s": "s",
    "sink.bytes_written_per_batch": "bytes",
    "sink.write_amp": "frac",
    "sink.state_rows": "count",
    "state.rows_total": "count",
    "state.memory_bytes": "bytes",
    "state.rows_dropped_by_watermark": "count",
    "dedup.drop_frac": "frac",
    "parse.rows_per_s": "1/s",
    "parse.error_frac": "frac",
}

STREAM_PHASES = {
    "latestOffset": "stream.latest_offset_ms",
    "getBatch": "stream.get_batch_ms",
    "queryPlanning": "stream.query_planning_ms",
    "addBatch": "stream.add_batch_ms",
    "walCommit": "stream.wal_commit_ms",
    "commitOffsets": "stream.commit_offsets_ms",
}
UNITS |= dict.fromkeys(STREAM_PHASES.values(), "ms")


def n_files(seconds: float) -> int:
    """Replay files for a pass of ``seconds``: the first batch warms the
    query and is not counted as steady."""
    return 1 + max(2, math.ceil((seconds - FIRST_BATCH_S) / BATCH_S))


def _dir_bytes(*dirs: Path) -> int:
    return sum(p.stat().st_size for d in dirs if d.exists() for p in d.rglob("*") if p.is_file())


def run(spark, seed: int, seconds: float, tracer, traced: bool) -> dict:
    from aprsdb_spark.streaming.ingest import (
        dedup_30s,
        parsed_packet_stream,
        read_packet_lines,
        run_available_now,
        upsert_stations_sink,
    )

    base = WORK / "ingest"
    shutil.rmtree(base, ignore_errors=True)
    files = n_files(seconds)
    tr = traffic.generate(seed, files, LINES_PER_FILE, stations=STATIONS)
    written = tr.write(base / "src", files)
    input_bytes = sum(p.stat().st_size for p in written)
    stations = base / "stations"
    ckpt = base / "checkpoint"
    probe = SparkProbe(spark) if traced else None

    sinks: list[dict] = []

    def timed_sink(batch, batch_id, **kw):
        with tracer.span("sink", f"batch-{batch_id}"):
            t0 = time.perf_counter()
            upsert_stations_sink(batch, batch_id, **kw)
            rec = {"batch": batch_id, "sink_s": time.perf_counter() - t0}
        if traced:
            rec["bytes_written"] = _dir_bytes(stations, Path(f"{stations}_next"))
        sinks.append(rec)

    error = None
    t_wall = time.time()
    t0 = time.perf_counter()
    with tracer.span("build", "replay"):
        stream = dedup_30s(parsed_packet_stream(read_packet_lines(spark, str(base / "src"), maxFilesPerTrigger=1)))
    build_s = time.perf_counter() - t0
    with tracer.span("replay", "replay") as replay:
        try:
            q = run_available_now(
                stream, str(ckpt), sink=timed_sink, stations_dir=str(stations), run_key=str(ckpt)
            )
            progress = [json.loads(p.json) if hasattr(p, "json") else p for p in q.recentProgress]
        except Exception as e:  # a failing replay is counted, not fatal
            error = f"{type(e).__name__}: {e}"[:500]
            progress = []
    pass_s = time.perf_counter() - t0
    if traced:  # batch spans from Spark's progress; each sink call is a child
        for p in progress:
            trace_id = f"batch-{p['batchId']}"
            dur = p["durationMs"]["triggerExecution"] / 1e3
            bid = tracer.add(
                "batch", trace_id, epoch(p["timestamp"]), dur, replay["id"], durations_ms=p["durationMs"]
            )
            for s in tracer.spans:
                if s["name"] == "sink" and s["trace"] == trace_id:
                    s["parent"] = bid
    data = [p for p in progress if p.get("numInputRows", 0) > 0]
    steady = [p for p in data if p["batchId"] > 0] or data
    out = {
        "traffic": tr,
        "files": [p.name for p in written],
        "files_sha256": hashlib.sha256(b"".join(p.read_bytes() for p in written)).hexdigest(),
        "kinds": tr.kinds,
        "progress": progress,
        "sinks": sinks,
        "error": error,
        "stations": str(stations),
        "attempted": files,
        "committed": len(data),
        "pass_s": pass_s,
        "build_s": build_s,
        "ops": [p["durationMs"]["triggerExecution"] / 1e3 for p in steady],
        "rows_per_s": sum(p["numInputRows"] for p in steady)
        / max(1e-9, sum(p["durationMs"]["triggerExecution"] / 1e3 for p in steady)),
        "input_bytes": input_bytes,
    }
    if traced:
        out["exec"] = probe.jobs(probe.jobs_since(t_wall))
        out["cache"] = probe.storage()
        out["peak_rss_mb"] = rss_peak_mb()
        out["parse"] = _static_parse(spark, str(base / "src"), tracer)
    return out


def _static_parse(spark, src: str, tracer) -> dict:
    """parse_packets over the replayed lines as a static frame."""
    from pyspark.sql import functions as F

    from aprsdb_spark.aprs.parse import parse_packets

    with tracer.span("parse", "static"):
        t0 = time.perf_counter()
        parts = F.split(F.col("value"), "\t", 2)
        lines = spark.read.text(src).select(parts[1].alias("raw"))
        row = parse_packets(lines).agg(
            F.count("*").alias("n"), F.count("parse_error").alias("errors")
        ).collect()[0]
        dt = time.perf_counter() - t0
    return {"rows": row["n"], "errors": row["errors"], "s": dt}


def check(spark, res: dict, corrupt: bool = False) -> dict[str, str]:
    """src -> reason for every station whose final row differs from the
    ground truth of the committed files (``"*"`` for a failed replay)."""
    if res["error"] or res["committed"] < res["attempted"]:
        return {"*": f"committed {res['committed']}/{res['attempted']} batches: {res['error']}"}
    want = traffic.expected_stations(res["traffic"].files[: res["committed"]])
    if corrupt:
        src = min(want)
        ts, n, lat, lon = want[src]
        want[src] = (ts, n + 1, lat, lon)
    got = {
        r["src"]: (r["ms"], r["n_packets"], r["last_lat"], r["last_lon"])
        for r in spark.read.parquet(res["stations"])
        .selectExpr("src", "unix_millis(last_heard) AS ms", "n_packets", "last_lat", "last_lon")
        .collect()
    }
    bad = {}
    for src in sorted(set(want) | set(got)):
        w, g = want.get(src), got.get(src)
        if w is None or g is None:
            bad[src] = f"expected {w}, got {g}"
        elif w[:2] != g[:2] or any(
            (a is None) != (b is None) or (a is not None and abs(a - b) > 1e-6) for a, b in zip(w[2:], g[2:])
        ):
            bad[src] = f"expected {w}, got {g}"
    return bad


def layers(res: dict, cpus: int) -> dict[str, float]:
    """Per-layer metrics of a traced replay."""
    steady = [p for p in res["progress"] if p.get("numInputRows", 0) > 0 and p["batchId"] > 0]
    ex = res["exec"]
    m: dict[str, float] = {f"exec.{k}": ex[k] for k in (
        "jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s",
        "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes", "input_bytes",
    )}
    m["build.s"] = res["build_s"]
    m["exec.s"] = res["pass_s"]
    m["exec.busy_frac"] = ex["executor_run_s"] / (res["pass_s"] * cpus)
    m["cache.entries_resident"], m["cache.resident_bytes"] = res["cache"]
    m["mem.peak_rss_mb"] = res["peak_rss_mb"]
    for phase, name in STREAM_PHASES.items():
        m[name] = median([p["durationMs"].get(phase, 0) for p in steady])
    ops = [p["stateOperators"][0] for p in res["progress"] if p.get("stateOperators")]
    last = ops[-1] if ops else {}
    inputs = sum(p.get("numInputRows", 0) for p in res["progress"])
    dropped_late = sum(o.get("numRowsDroppedByWatermark", 0) for o in ops)
    dropped_dup = sum(o.get("customMetrics", {}).get("numDroppedDuplicateRows", 0) for o in ops)
    m["state.rows_total"] = last.get("numRowsTotal", 0)
    m["state.memory_bytes"] = last.get("memoryUsedBytes", 0)
    m["state.rows_dropped_by_watermark"] = dropped_late
    m["dedup.drop_frac"] = (dropped_late + dropped_dup) / inputs if inputs else 0.0
    steady_ids = {p["batchId"] for p in steady}
    sinks = [s for s in res["sinks"] if s["batch"] in steady_ids]
    m["sink.s"] = median([s["sink_s"] for s in sinks])
    m["sink.bytes_written_per_batch"] = median([s.get("bytes_written", 0) for s in sinks])
    m["sink.write_amp"] = sum(s.get("bytes_written", 0) for s in res["sinks"]) / res["input_bytes"]
    m["sink.state_rows"] = _state_rows(res["stations"])
    parse = res.get("parse", {})
    m["parse.rows_per_s"] = parse["rows"] / parse["s"] if parse.get("s") else 0.0
    m["parse.error_frac"] = parse["errors"] / parse["rows"] if parse.get("rows") else 0.0
    return m


def _state_rows(stations: str) -> int:
    try:
        import pyarrow.dataset as ds

        return ds.dataset(stations, format="parquet").count_rows()
    except (OSError, ValueError):  # no table was committed
        return 0
