"""Self-test of the benchmark.

    python3 perfbench/selftest.py          # unit checks + every workload at minimal size
    python3 perfbench/selftest.py --quick  # unit checks only (no Spark)

Checks that the samplers and the traffic generator are seeded, that
numbers compare by value in the result hash, that every metric of
BENCHMARK.json appears with its unit in both modes, that a corrupted
expected hash or station row is reported as a failure, that records made
with two core counts both survive, and that the command fails without
printing a result when the program is missing.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
from decimal import Decimal
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from perfbench import env, ingest, qids, traffic  # noqa: E402
from perfbench.run import record_path  # noqa: E402
from perfbench.trace import tail  # noqa: E402

SPEC = json.loads((env.ROOT / "BENCHMARK.json").read_text())
RUN = [sys.executable, str(env.HERE / "run.py")]


def unit_checks() -> None:
    a = qids.sample("sweep_sf0.01", 3, 15)
    assert a == qids.sample("sweep_sf0.01", 3, 15), "sweep sample is not seeded"
    assert a != qids.sample("sweep_sf0.01", 4, 15), "sweep sample ignores the seed"
    pools = qids.load_pools()
    mods = {pools["costs"]["0.01"][q]["module"] for q in a}
    assert mods == set(pools["modules"]), f"modules missing from the sample: {set(pools['modules']) - mods}"
    h = qids.sample("heavy_sf0.1", 3, 30)
    assert h and set(h) <= set(pools["workloads"]["heavy_sf0.1"]["pool"])
    bands = qids._strata({q: pools["costs"]["0.1"][q] for q in pools["workloads"]["heavy_sf0.1"]["pool"]}, len(h), False)
    assert all(len(set(h) & set(band)) == 1 for band in bands), "heavy sample misses a cost band"

    assert qids.result_hash(["b", "a"], [(1, 2.0)]) == qids.result_hash(["a", "b"], [(2, Decimal("1.00"))])
    assert qids.result_hash(["a"], [(1,), (2,)]) == qids.result_hash(["a"], [(2,), (1,)])
    assert qids.result_hash(["a"], [(1,)]) != qids.result_hash(["a"], [(1.5,)])
    assert qids.result_hash(["a"], [(1,), (1,)]) != qids.result_hash(["a"], [(1,)])
    assert qids.result_hash(["a"], [(0.1,)]) != qids.result_hash(["a"], [(Decimal("0.1"),)])

    t1, t2 = traffic.generate(5, 4, 300), traffic.generate(5, 4, 300)
    assert [[r.line for r in f] for f in t1.files] == [[r.line for r in f] for f in t2.files]
    want = traffic.expected_stations(t1.files)
    assert want and traffic.late_rows(t1.files) == t1.kinds["late"]
    assert sum(n for _, n, _, _ in want.values()) < sum(len(f) for f in t1.files)

    v, pct, beyond = tail([float(i) for i in range(200)])
    assert pct == 95 and beyond == 10, (v, pct, beyond)
    assert tail([1.0, 2.0, 3.0])[1] == 75

    assert record_path("w", "0.01", 2, False, "x") != record_path("w", "0.01", 4, False, "x")
    print("unit checks: ok")


def run(*args: str, cwd: Path = env.ROOT) -> tuple[int, dict | None, str]:
    p = subprocess.run([*RUN, *args], cwd=cwd, capture_output=True, text=True, timeout=600)
    lines = p.stdout.strip().splitlines()
    result = None
    if lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            pass
    return p.returncode, result, p.stderr


def check_metrics(result: dict, names: list[dict], what: str) -> None:
    got = result["metrics"]
    for m in names:
        assert m["name"] in got, f"{what}: metric {m['name']} missing"
        assert got[m["name"]]["unit"] == m["unit"], f"{what}: {m['name']} unit {got[m['name']]['unit']}"
        assert isinstance(got[m["name"]]["value"], (int, float))
    assert isinstance(result["attempted"], int) and result["attempted"] >= 1
    assert isinstance(result["failed"], int)


def workload_checks() -> None:
    seconds = "1"
    # ingest_replay is not in BENCHMARK.json but stays runnable, with
    # its own metrics
    ingest_e2e = [{"name": n, "unit": u} for n, u in ingest.UNITS.items() if n.startswith(("batch_", "ingest_"))]
    ingest_layer = [{"name": n, "unit": u} for n, u in ingest.UNITS.items() if "." in n]
    workloads = [(m["name"], SPEC["end_to_end"], SPEC["per_layer"]) for m in SPEC["workloads"]]
    for w, e2e, layer in workloads + [("ingest_replay", ingest_e2e, ingest_layer)]:
        for trace, names in (("0", e2e), ("1", layer)):
            rc, res, err = run("--workload", w, "--seed", "11", "--seconds", seconds, "--trace", trace)
            assert rc == 0 and res is not None, f"{w} trace {trace}: rc={rc}\n{err[-2000:]}"
            assert res["correct"] and res["failed"] == 0, f"{w} trace {trace}: {res}\n{err[-2000:]}"
            check_metrics(res, names, f"{w} trace {trace}")
            print(f"{w} trace {trace}: ok ({res['attempted']} attempted)")

    # a corrupted expected value must count as a failure; the sweep runs
    # on another core count, and both core counts' records must survive
    cpus = env.cpus()
    other = 2 if cpus != 2 else 1
    for w, extra in (("sweep_sf0.01", ["--cpus", str(other)]), ("ingest_replay", [])):
        rc, res, err = run("--workload", w, "--seed", "11", "--seconds", seconds, "--trace", "0",
                           "--corrupt-expected", *extra)
        assert rc == 0 and res is not None, f"{w} corrupt: rc={rc}\n{err[-2000:]}"
        assert not res["correct"] and res["failed"] >= 1, f"{w}: corrupted expectation not reported: {res}"
        print(f"{w} corrupted expectation: reported")
    recs = {p.name for p in (env.WORK / "records" / "sweep_sf0.01").glob("*-trace0-*.jsonl")}
    for c in (cpus, other):
        assert any(f"-cpus{c}-" in n for n in recs), f"no cpus={c} record among {recs}"
    print("records of two core counts: both kept")

    # the command alone, without the program, must fail without a result
    bare = env.WORK / "bare"
    shutil.rmtree(bare, ignore_errors=True)
    bare.mkdir(parents=True)
    shutil.copy(env.ROOT / "BENCHMARK.json", bare)
    for p in SPEC["paths"]:
        shutil.copytree(env.ROOT / p, bare / p, ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "sweep_sf0.01", "--seed", "1",
         "--seconds", seconds, "--trace", "0"],
        cwd=bare, capture_output=True, text=True, timeout=180,
    )
    assert p.returncode != 0 and not p.stdout.strip(), (p.returncode, p.stdout[-500:])
    shutil.rmtree(bare)
    print("bare directory: fails without a result")


if __name__ == "__main__":
    os.chdir(env.ROOT)
    unit_checks()
    if "--quick" not in sys.argv:
        workload_checks()
    print("selftest: ok")
