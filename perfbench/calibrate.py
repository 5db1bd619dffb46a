"""Measure the qids and freeze the samplers' inputs into ``pools.json``.

    python3 perfbench/calibrate.py --sf 0.01 --out warm_sf0.01.jsonl
    python3 perfbench/calibrate.py --sf 0.1 --out warm_sf0.1.jsonl
    python3 perfbench/calibrate.py --freeze warm_sf0.01.jsonl warm_sf0.1.jsonl
    python3 perfbench/calibrate.py --fresh 1 --workload sweep_sf0.01 --out fresh_sf0.01.jsonl
    python3 perfbench/calibrate.py --fresh 2 --workload heavy_sf0.1 --out fresh_sf0.1.jsonl
    python3 perfbench/calibrate.py --freeze-fresh fresh_sf0.01.jsonl fresh_sf0.1.jsonl
    python3 perfbench/calibrate.py --hashes 0.01
    python3 perfbench/calibrate.py --hashes 0.1

Measuring runs every eligible qid in one warm session and writes one
JSON line per qid: module, build and execute seconds, rows. Freezing
takes from the two passes each qid's row count, the sweep pool (every
eligible qid) and the heavy pool. A qid runs slower in a benchmark run's
young session than in a long warm one, and by a factor that differs
from qid to qid, so the cost a sampler matches on is measured in that
context: ``--fresh N`` runs a workload's pool N times over, shuffled
into fresh sessions of a sample's size, and ``--freeze-fresh`` sets each
qid's ``cost_s`` to its median latency there. ``--hashes SF`` runs the DuckDB
oracle twin of every pooled qid at that scale and freezes its result
hash, the value a run's check compares against; each scale needs its
own process, since the literal-model oracles train from the scale's
tables when their module is imported.

Run it alone on the host; concurrent load skews the costs. Re-freezing
changes every workload's inputs, so it is a change of the benchmark,
not of the program.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import random  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
from pathlib import Path  # noqa: E402

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from perfbench import env  # noqa: E402


# heavy_sf0.1 pool rule: the qid's execution (collect) time at sf0.1 is
# at least this multiple of its sf0.01 time, and at least HEAVY_MIN_S
HEAVY_SCALING = 2.5
HEAVY_MIN_S = 1.0
# share of --seconds a sample's frozen cost fills
SWEEP_FILL = 0.85
HEAVY_FILL = 0.8


def freeze(small: Path, large: Path) -> None:
    def costs(path: Path) -> dict:
        out = {}
        for line in path.read_text().splitlines():
            r = json.loads(line)
            if "error" not in r:
                out[r["qid"]] = {
                    "module": r["module"],
                    "cost_s": round(r["build_s"] + r["exec_s"], 4),  # until --freeze-fresh
                    "exec_s": round(r["exec_s"], 4),
                    "rows": r["rows"],
                }
        return out

    c01, c1 = costs(small), costs(large)
    heavy = sorted(
        q for q in c1
        if q in c01 and c1[q]["exec_s"] >= HEAVY_SCALING * c01[q]["exec_s"] and c1[q]["exec_s"] >= HEAVY_MIN_S
    )
    pools = {
        "host": {"cpus": env.cpus(), "frozen": time.strftime("%Y-%m-%d")},
        "modules": sorted({v["module"] for v in c01.values()}),
        "workloads": {
            "sweep_sf0.01": {
                "sf": "0.01",
                "tolerance": 0.03,
                "fill": SWEEP_FILL,
                "rule": "every qid that runs inside the checkout (all but harness.OUTSIDE_WRITERS)",
                "pool": sorted(c01),
            },
            "heavy_sf0.1": {
                "sf": "0.1",
                "tolerance": 0.05,
                "fill": HEAVY_FILL,
                "rule": f"exec_s(sf0.1) >= {HEAVY_SCALING} * exec_s(sf0.01) and exec_s(sf0.1) >= {HEAVY_MIN_S} s",
                "pool": heavy,
            },
        },
        "costs": {"0.01": c01, "0.1": {q: c1[q] for q in heavy}},
    }
    (env.HERE / "pools.json").write_text(json.dumps(pools, indent=1, sort_keys=True) + "\n")
    print(f"{len(c01)} qids at sf0.01, heavy pool {len(heavy)}", file=sys.stderr)


def freeze_hashes(sf: str) -> None:
    sf_dir = env.isolate(sf, env.cpus())
    import duckdb

    from aprsdb_spark.registry import ORACLE, load_all
    from aprsdb_spark.tables import TABLE_NAMES
    from perfbench.qids import result_hash

    load_all()
    pools = json.loads((env.HERE / "pools.json").read_text())
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    for qid, entry in sorted(pools["costs"][sf].items()):
        entry.pop("oracle_hash", None)
        if qid in ORACLE:
            rel = con.execute(ORACLE[qid])
            entry["oracle_hash"] = result_hash([c[0] for c in rel.description], rel.fetchall())
    con.close()
    (env.HERE / "pools.json").write_text(json.dumps(pools, indent=1, sort_keys=True) + "\n")


def fresh_sessions(workload: str, passes: int, out: Path) -> None:
    from perfbench import qids

    pool = json.loads((env.HERE / "pools.json").read_text())["workloads"][workload]
    size = len(qids.sample(workload, 0, json.loads((env.ROOT / "BENCHMARK.json").read_text())["run_seconds"]))
    rng = random.Random(0)
    out.write_text("")
    for _ in range(passes):
        order = list(pool["pool"])
        rng.shuffle(order)
        for i in range(0, len(order), size):
            cmd = [sys.executable, __file__, "--sf", pool["sf"], "--out", str(out), "--qids", ",".join(order[i : i + size])]
            subprocess.run(cmd, check=True)


def freeze_fresh(*paths: Path) -> None:
    pools = json.loads((env.HERE / "pools.json").read_text())
    for path in paths:
        seen: dict[tuple[str, str], list[float]] = {}
        for line in path.read_text().splitlines():
            r = json.loads(line)
            if "error" not in r:
                seen.setdefault((r["sf"], r["qid"]), []).append(r["build_s"] + r["exec_s"])
        for (sf, qid), v in seen.items():
            pools["costs"][sf][qid]["cost_s"] = round(statistics.median(v), 4)
    (env.HERE / "pools.json").write_text(json.dumps(pools, indent=1, sort_keys=True) + "\n")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", choices=sorted(env.SCALES))
    ap.add_argument("--out")
    ap.add_argument("--freeze", nargs=2, type=Path, metavar=("SF001_JSONL", "SF01_JSONL"))
    ap.add_argument("--hashes", choices=sorted(env.SCALES))
    ap.add_argument("--fresh", type=int, default=0, metavar="PASSES")
    ap.add_argument("--workload", choices=("sweep_sf0.01", "heavy_sf0.1"))
    ap.add_argument("--freeze-fresh", nargs="+", type=Path, metavar="JSONL")
    ap.add_argument("--qids", help="comma-separated qids to run in one fresh session, appending to --out")
    args = ap.parse_args()
    if args.freeze:
        freeze(*args.freeze)
        return
    if args.hashes:
        freeze_hashes(args.hashes)
        return
    if args.freeze_fresh:
        freeze_fresh(*args.freeze_fresh)
        return
    out = Path(args.out).resolve()
    if args.fresh:
        fresh_sessions(args.workload, args.fresh, out)
        return
    sf_dir = str(env.isolate(args.sf, env.cpus()))
    from perfbench import harness

    spark, phases = harness.setup(sf_dir, "perfbench-calibrate", T_START)
    print(json.dumps(phases), file=sys.stderr)
    from aprsdb_spark.registry import QUERIES

    todo = sorted(set(QUERIES) - harness.OUTSIDE_WRITERS)
    if args.qids:  # a sample's context: registry order, as qids.run
        rank = {q: i for i, q in enumerate(QUERIES)}
        todo = sorted(args.qids.split(","), key=rank.__getitem__)
    with out.open("a" if args.qids else "w") as f:
        for qid in todo:
            fn = QUERIES[qid]
            rec = {"qid": qid, "module": fn.__module__.rsplit(".", 1)[-1], "sf": args.sf}
            t0 = time.perf_counter()
            try:
                df = fn(spark, sf_dir)
                t1 = time.perf_counter()
                rows = df.collect()
                t2 = time.perf_counter()
                rec.update(build_s=t1 - t0, exec_s=t2 - t1, rows=len(rows))
            except Exception as e:  # recorded, never sampled
                rec["error"] = f"{type(e).__name__}: {e}"[:300]
            f.write(json.dumps(rec) + "\n")
            f.flush()
    harness.stop(spark)


if __name__ == "__main__":
    main()
