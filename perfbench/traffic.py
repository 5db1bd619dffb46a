"""Seeded APRS-IS traffic for the ``ingest_replay`` workload, and the
stations table the ingest chain must end with.

Lines are built with the encoders of ``tests/fixtures/gen_aprs.py`` and
written as replay files (``epoch_ms<TAB>tnc2`` lines, one file per
micro-batch). Traffic dimensions: station count (the size of the state),
the share of igate duplicates inside 30 s, a small share of rows behind
the watermark, and a packet-type mix. Their values are assumptions (see
``MIX``).

The expected table follows the ingest chain's contract, not its code:
per file in order, rows at or behind the watermark the previous batch
ran under are dropped (Spark filters late rows one batch behind) and
the first frame per
(src, payload) within 30 s is kept. Kept rows with a source are folded
per source into last_heard, n_packets and the position of the latest
row.
"""

from __future__ import annotations

import functools
import importlib.util
import os
import random
import time
from dataclasses import dataclass, field
from pathlib import Path

from perfbench.env import ROOT

BASE_MS = 1704067200000
DEDUP_MS = 30_000


@functools.cache
def _gen_aprs():
    """The fixture generator's encoders (``tests/fixtures`` is no package)."""
    spec = importlib.util.spec_from_file_location("gen_aprs", ROOT / "tests" / "fixtures" / "gen_aprs.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod

# ASSUMPTIONS, not measurements. No published APRS-IS statistic and no
# capture in this repository backs the packet-type weights below, the
# igate duplicate share (``generate``'s ``dup_share``) or the late share
# (``late_share``). They set the dedup state size, the drop fraction and
# each batch's station fan-out into the sink, so ``ingest_replay`` stays
# out of BENCHMARK.json until they are taken from a capture.
#
# Packet-type mix (weights); every kind but the two malformed ones is a
# well-formed APRS frame.
MIX = {
    "uncompressed": 40,
    "compressed": 12,
    "mic-e": 12,
    "wx": 8,
    "telemetry": 8,
    "message": 8,
    "status": 8,
    "bad-header": 2,
    "bad-position": 2,
}


@dataclass
class Row:
    ts: int
    line: str
    src: str | None  # None: the header does not parse, so no station
    payload: str
    lat: float | None = None  # set only for uncompressed positions
    lon: float | None = None


@dataclass
class Traffic:
    files: list[list[Row]] = field(default_factory=list)
    kinds: dict[str, int] = field(default_factory=dict)

    def write(self, directory: Path, n_files: int) -> list[Path]:
        """Write the first ``n_files`` replay files. The file source
        takes files oldest first by modification time, so the files get
        one second apart, in replay order."""
        directory.mkdir(parents=True, exist_ok=True)
        out = []
        now = time.time()
        for i, rows in enumerate(self.files[:n_files]):
            p = directory / f"part-{i:05d}.txt"
            p.write_text("".join(f"{r.ts}\t{r.line}\n" for r in rows))
            mtime = now - n_files + i
            os.utime(p, (mtime, mtime))
            out.append(p)
        return out


def _uncompressed_decoded(s: str) -> tuple[float, float]:
    """Degrees the engine decodes from an ``enc_uncompressed`` string."""
    lat = int(s[0:2]) + float(s[2:7]) / 60
    lon = int(s[9:12]) + float(s[12:17]) / 60
    return (-lat if s[7] == "S" else lat), (-lon if s[17] == "W" else lon)


def _frame(rng: random.Random, kind: str, src: str, n: int, home: tuple[float, float]) -> Row:
    gen_aprs = _gen_aprs()
    line = gen_aprs.line
    path = f"WIDE1-1,qAR,IG{rng.randrange(40):02d}"
    lat = home[0] + rng.uniform(-0.2, 0.2)
    lon = home[1] + rng.uniform(-0.2, 0.2)
    if kind == "uncompressed":
        pos = gen_aprs.enc_uncompressed(lat, lon)
        info = f"!{pos}n{n}"
        dlat, dlon = _uncompressed_decoded(pos)
        return Row(0, line(src, "APRS", path, info), src, info, dlat, dlon)
    if kind == "compressed":
        info = "=" + gen_aprs.enc_compressed(lat, lon) + f"n{n}"
    elif kind == "mic-e":
        dst, info = gen_aprs.enc_mice(lat, lon, speed_knots=rng.randrange(60), course=rng.randrange(360))
        info += f"n{n}"
        return Row(0, line(src, dst, path, info), src, info)
    elif kind == "wx":
        info = (
            f"_07250357c{rng.randrange(360):03d}s{rng.randrange(40):03d}g{rng.randrange(60):03d}"
            f"t{rng.randrange(20, 100):03d}r000p010P020h{rng.randrange(10, 99):02d}b{9900 + rng.randrange(300):05d}"
            f"n{n}"
        )
    elif kind == "telemetry":
        info = f"T#{n % 1000:03d},{rng.randrange(256)},{rng.randrange(256)},{rng.randrange(256)},0,{n % 256},10110000n{n}"
    elif kind == "message":
        to = f"S{rng.randrange(10000):04d}"
        info = f":{to:<9}:msg {n}{{{n % 100:02d}"
    elif kind == "status":
        info = f">status {n}"
    elif kind == "bad-position":
        info = f"!9999.99X/89999.99Q-n{n}"
    else:  # bad-header: no '>' and no ':' — nothing to key a station on
        text = f"garbage frame {n} no header"
        return Row(0, text, None, text)
    return Row(0, line(src, "APRS", path, info), src, info)


def generate(
    seed: int,
    n_files: int,
    lines_per_file: int,
    stations: int = 500,
    dup_share: float = 0.15,
    late_share: float = 0.01,
    file_span_ms: int = 20_000,
) -> Traffic:
    """Build ``n_files`` files of about ``lines_per_file`` lines each.

    File ``f`` holds the frames received in
    ``[f * file_span_ms, (f + 1) * file_span_ms)``. Every frame has a
    unique payload; an igate duplicate repeats it on another path under
    30 s later, in the same file (same receive time) or a later one.
    Late rows are stamped 5-120 s behind the watermark their file is
    filtered with."""
    rng = random.Random(seed)
    homes = [(rng.uniform(30, 60), rng.uniform(-125, -70)) for _ in range(stations)]
    kinds, weights = zip(*MIX.items())
    tr = Traffic(files=[[] for _ in range(n_files)])
    n_orig = round(lines_per_file / (1 + dup_share + late_share))
    step = file_span_ms // n_orig
    n = 0
    for f in range(n_files):
        for i in range(n_orig):
            kind = rng.choices(kinds, weights)[0]
            st = rng.randrange(stations)
            row = _frame(rng, kind, f"S{st:04d}-{st % 16}", n, homes[st])
            n += 1
            row.ts = BASE_MS + f * file_span_ms + i * step + rng.randrange(step)
            tr.kinds[kind] = tr.kinds.get(kind, 0) + 1
            tr.files[f].append(row)
            if row.src is not None and rng.random() < dup_share:
                ts = row.ts + rng.randrange(1_000, DEDUP_MS)
                g = (ts - BASE_MS) // file_span_ms
                if g >= n_files:
                    continue
                if g == f:
                    ts = row.ts
                dup = row.line.replace(",qAR,IG", ",qAO,GW", 1)
                tr.files[g].append(Row(ts, dup, row.src, row.payload, row.lat, row.lon))
                tr.kinds["duplicate"] = tr.kinds.get("duplicate", 0) + 1
    # the late-row filter of batch f uses the watermark batch f-1 ran
    # under: the max event time of files before f-1, minus 30 s
    max_ts = max(r.ts for r in tr.files[0])
    for f in range(2, n_files):
        for _ in range(max(1, round(lines_per_file * late_share))):
            st = rng.randrange(stations)
            row = _frame(rng, "uncompressed", f"S{st:04d}-{st % 16}", n, homes[st])
            n += 1
            row.ts = max_ts - DEDUP_MS - rng.randrange(5_000, 120_000)
            tr.files[f].append(row)
            tr.kinds["late"] = tr.kinds.get("late", 0) + 1
        max_ts = max(max_ts, max(r.ts for r in tr.files[f - 1]))
    for rows in tr.files:
        rows.sort(key=lambda r: r.ts)
    return tr


def _on_time(files: list[list[Row]]):
    """Yield (row, on time?) in replay order. Batch f drops rows at or
    behind the watermark batch f-1 ran under (max event time of the
    files before f-1, minus 30 s); a duplicate inside 30 s of an on-time
    frame is always on time, so the lag never changes a dedup verdict."""
    watermark = None  # of the previous batch
    top = None  # max event time before the previous batch
    for rows in files:
        for r in rows:
            yield r, watermark is None or r.ts > watermark
        watermark = None if top is None else top - DEDUP_MS
        batch_max = max(r.ts for r in rows)
        top = batch_max if top is None else max(top, batch_max)


def expected_stations(files: list[list[Row]]) -> dict[str, tuple[int, int, float | None, float | None]]:
    """src -> (last_heard_ms, n_packets, last_lat, last_lon) after the
    ingest chain has committed ``files`` in order. Payloads are unique
    and duplicates trail their frame by under 30 s, so a key is always
    still in the dedup state when its duplicate arrives on time."""
    seen: set[tuple[str | None, str]] = set()
    kept: dict[str, list[Row]] = {}
    for r, on_time in _on_time(files):
        key = (r.src, r.payload)
        if not on_time or key in seen:
            continue
        seen.add(key)
        if r.src is not None:
            kept.setdefault(r.src, []).append(r)
    out = {}
    for src, rows in kept.items():
        last = max(rows, key=lambda r: r.ts)
        out[src] = (last.ts, len(rows), last.lat, last.lon)
    return out


def late_rows(files: list[list[Row]]) -> int:
    """Rows at or behind the watermark their file is processed under."""
    return sum(1 for _, on_time in _on_time(files) if not on_time)
