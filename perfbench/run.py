"""Run one benchmark workload and print its result as the last line of
standard output:

    python3 perfbench/run.py --workload sweep_sf0.01 --seed 1 --seconds 15 --trace 0

``--trace 0`` reports the end-to-end metrics of BENCHMARK.json;
``--trace 1`` records spans and reports the per-layer metrics. Every run
also appends a provenance-stamped record to
``.bench_build/perfbench/records/``, one file per configuration.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
from pathlib import Path  # noqa: E402

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from perfbench import env  # noqa: E402

# workload -> scale of its tables
WORKLOADS = {"sweep_sf0.01": "0.01", "heavy_sf0.1": "0.1", "ingest_replay": "0.01"}


def _spec() -> dict:
    return json.loads((env.ROOT / "BENCHMARK.json").read_text())


def _commit() -> str | None:
    try:
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=env.ROOT, capture_output=True, text=True, timeout=10
        )
        return out.stdout.strip() or None if out.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


def _source_digest() -> str:
    """Hash of the program and benchmark sources: identifies the code
    when the checkout is not a git repository."""
    h = hashlib.sha256()
    for d in ("aprsdb_spark", "perfbench"):
        for p in sorted((env.ROOT / d).rglob("*.py")):
            h.update(str(p.relative_to(env.ROOT)).encode())
            h.update(p.read_bytes())
    return h.hexdigest()[:16]


def record_path(workload: str, sf: str, cpus: int, traced: bool, code: str) -> Path:
    """One append-only file per configuration: a run never rewrites a
    record made under another one."""
    return env.WORK / "records" / workload / f"sf{sf}-cpus{cpus}-trace{int(traced)}-{code}.jsonl"


def _untraced_median(prov: dict, code: str) -> float | None:
    """Median pass of the untraced runs recorded with the same code,
    configuration and --seconds."""
    import statistics

    p = record_path(prov["workload"], WORKLOADS[prov["workload"]], prov["cpus"], False, code)
    if not p.exists():
        return None
    recs = [json.loads(line) for line in p.read_text().splitlines() if line]
    vals = [
        r["end_to_end"]["sweep_s"] for r in recs
        if r["seconds"] == prov["seconds"] and r["source"] == prov["source"]
    ]
    return statistics.median(vals) if vals else None


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cpus", type=int, default=None, help="local[N] cores (default: all available)")
    # self-test hook: flip one expected value so the check must fail
    ap.add_argument("--corrupt-expected", action="store_true", help=argparse.SUPPRESS)
    args = ap.parse_args()

    if not (env.ROOT / "aprsdb_spark" / "registry.py").is_file():
        print(f"perfbench: no aprsdb_spark package under {env.ROOT}", file=sys.stderr)
        return 2

    workload, traced = args.workload, bool(args.trace)
    sf = WORKLOADS[workload]
    cpus = args.cpus or env.cpus()
    sf_dir = str(env.isolate(sf, cpus))
    from perfbench import harness, ingest, qids
    from perfbench.trace import Tracer, median, tail

    spec = _spec()
    prov = {
        "workload": workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "cpus": cpus,
        "sf": float(sf),
        "commit": _commit(),
        "source": _source_digest(),
        "traced": traced,
        "loadavg_start": os.getloadavg(),
        "started": time.time(),
    }

    if workload == "ingest_replay":
        prov["files"] = ingest.n_files(args.seconds)
    else:
        prov["qids"] = qids.sample(workload, args.seed, args.seconds)

    spark, phases = harness.setup(sf_dir, f"perfbench-{workload}", T_START)
    prov["canary_before_s"] = harness.canary(spark, sf_dir)
    tracer = Tracer(traced)
    if workload == "ingest_replay":
        res = ingest.run(spark, args.seed, args.seconds, tracer, traced)
        t_check = time.perf_counter()
        bad = ingest.check(spark, res, corrupt=args.corrupt_expected)
        prov.update(file_set=res["files"], files_sha256=res["files_sha256"], traffic=res["kinds"])
        attempted = res["attempted"]
        failed = min(attempted, attempted - res["committed"] + bool(bad))
        ops, op = res["ops"], "batch"
    else:
        res = qids.run(spark, sf_dir, prov["qids"], tracer, traced)
        t_check = time.perf_counter()
        bad = qids.check(prov["qids"], res["hashes"], sf, corrupt=args.corrupt_expected)
        attempted, failed = len(prov["qids"]), len(bad)
        ops, op = [o["latency_s"] for o in res["ops"] if "error" not in o], "query"
    prov["check_s"] = time.perf_counter() - t_check
    prov["canary_after_s"] = harness.canary(spark, sf_dir)
    prov["loadavg_end"] = os.getloadavg()

    op_tail, pct, beyond = tail(ops) if ops else (0.0, 0, 0)
    e2e = {
        "setup_s": phases["setup_s"],
        "sweep_s": res["pass_s"],
        f"{op}_p50_s": median(ops),
        f"{op}_tail_s": op_tail,
    }
    if workload == "ingest_replay":
        e2e["ingest_rows_per_s"] = res["rows_per_s"]
    code = prov["commit"] or prov["source"]
    rec = {
        **prov,
        "end_to_end": e2e,
        "tail": {"percentile": pct, "samples": len(ops), "beyond": beyond},
        "session": phases,
        "failed_frac": failed / attempted,
        "failures": bad,
        "ops": res.get("ops"),
    }
    if workload == "ingest_replay":
        rec["progress"] = res["progress"]
        rec["sinks"] = res["sinks"]
    if traced:
        layer = {f"session.{k}": phases[k] for k in ("import_s", "start_s", "warm_s")}
        layer.update((ingest if workload == "ingest_replay" else qids).layers(res, cpus))
        untraced = _untraced_median(prov, code)
        layer["trace.pass_s"] = res["pass_s"]
        layer["trace.overhead_frac"] = res["pass_s"] / untraced - 1 if untraced else 0.0
        rec["per_layer"] = layer
        rec["span_self_s"] = tracer.self_by_name()
        spans = env.WORK / "traces" / f"{workload}-sf{sf}-cpus{cpus}-{code}-seed{args.seed}.jsonl"
        tracer.write(spans)
        rec["spans_file"] = str(spans.relative_to(env.ROOT))
    out = record_path(workload, sf, cpus, traced, code)
    out.parent.mkdir(parents=True, exist_ok=True)
    with out.open("a") as f:
        f.write(json.dumps(rec, default=str) + "\n")
    t_stop = time.perf_counter()
    harness.stop(spark)
    print(f"perfbench: check {prov['check_s']:.1f} s, stop {time.perf_counter() - t_stop:.1f} s, "
          f"total {time.perf_counter() - T_START:.1f} s", file=sys.stderr)

    for qid, why in sorted(bad.items()):
        print(f"perfbench: FAILED {qid}: {why}", file=sys.stderr)
    # ingest_replay is not in BENCHMARK.json: its own metrics carry their units
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]} | ingest.UNITS
    values = rec["per_layer"] if traced else e2e
    result = {
        "correct": not bad and failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
