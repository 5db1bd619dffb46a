"""The two qid workloads: a seeded sample of registered qids, built and
collected back to back in one session with no ``clearCache()``, as a
``__spark_entry__.queries()`` caller runs them; then the outputs are
checked against the DuckDB oracle twin's frozen hash (or the frozen row
count) outside the timed region.

``sweep_sf0.01`` samples every eligible qid at the verify scale, with at
least one qid per query module; ``heavy_sf0.1`` samples the frozen pool
of data-scaling qids at the bench scale, one qid per band of the pool
ranked by cost. Both samples are cost-matched:
among the seed's draws, the first whose frozen costs (total, median,
upper quartile) sit near those of a typical draw is taken, so the
sample changes with the seed while the pass length stays put.
"""

from __future__ import annotations

import hashlib
import json
import math
import random
import statistics
import time
from decimal import Decimal

from perfbench.env import HERE
from perfbench.trace import SparkProbe, plan_phases, rss_peak_mb

POOLS = HERE / "pools.json"


def load_pools() -> dict:
    return json.loads(POOLS.read_text())


def _stats(costs: list[float]) -> tuple[float, float, float]:
    s = sorted(costs)
    return sum(s), statistics.median(s), s[min(len(s) - 1, math.ceil(0.75 * len(s)) - 1)]


def _strata(pool: dict[str, dict], n: int, per_module: bool) -> list[list[str]]:
    """The groups a draw takes one qid from each of: the query modules,
    or else ``n`` bands of the pool ranked by frozen cost, so every
    sample spans the pool's cost range alike."""
    if per_module:
        by_mod: dict[str, list[str]] = {}
        for q in sorted(pool):
            by_mod.setdefault(pool[q]["module"], []).append(q)
        return [by_mod[m] for m in sorted(by_mod)]
    ranked = sorted(pool, key=lambda q: (pool[q]["cost_s"], q))
    return [ranked[i * len(ranked) // n : (i + 1) * len(ranked) // n] for i in range(n)]


def _draw(rng: random.Random, pool: dict[str, dict], strata: list[list[str]], n: int) -> list[str]:
    """``n`` qids: one per stratum first, the rest uniformly from the
    remaining pool."""
    chosen = [rng.choice(group) for group in strata]
    rest = [q for q in sorted(pool) if q not in chosen]
    chosen += rng.sample(rest, max(0, n - len(chosen)))
    return sorted(chosen)


def sample(workload: str, seed: int, seconds: float) -> list[str]:
    """The seed's cost-matched qid sample for a pass of ``seconds``: a
    fixed number of qids whose frozen costs add up to about the
    workload's fill share of ``seconds``."""
    pools = load_pools()
    spec = pools["workloads"][workload]
    costs = pools["costs"][spec["sf"]]
    pool = {q: costs[q] for q in spec["pool"]}
    per_module = workload.startswith("sweep")
    mean_cost = statistics.fmean(v["cost_s"] for v in pool.values())
    n = max(len(pools["modules"]) if per_module else 1, round(spec["fill"] * seconds / mean_cost))
    n = min(n, len(pool))
    # what a typical draw looks like, from a fixed reference stream
    ref_rng = random.Random(0)
    strata = _strata(pool, n, per_module)
    ref = [_stats([pool[q]["cost_s"] for q in _draw(ref_rng, pool, strata, n)]) for _ in range(400)]
    target = [statistics.median(col) for col in zip(*ref)]
    rng = random.Random(seed)
    best, best_err = None, math.inf
    for _ in range(20000):
        cand = _draw(rng, pool, strata, n)
        got = _stats([pool[q]["cost_s"] for q in cand])
        err = max(abs(g - t) / t for g, t in zip(got, target))
        if err < best_err:
            best, best_err = cand, err
        if err <= spec["tolerance"]:
            break
    return best


def _real(v):
    if v != v:
        return "NaN"
    if math.isinf(v):
        return str(float(v))
    return ("#", *v.as_integer_ratio())


def _canon(v):
    """One cell, canonical for the order-insensitive value hash. Cells
    equal under tests/conftest.py:canonical_rows hash alike: numbers of
    any type compare by exact value (1 == 1.0 == Decimal("1.00")), as
    the reduced ratio of two integers."""
    t = type(v)
    if t is str or t is bool or v is None:
        return v
    if t is int:
        return ("#", v, 1)
    if t is float or t is Decimal:
        return _real(v)
    if isinstance(v, bool):
        return v
    if isinstance(v, int):
        return ("#", int(v), 1)
    if isinstance(v, (float, Decimal)):
        return _real(v)
    if isinstance(v, (list, tuple)):  # nested Row too
        return tuple(_canon(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _canon(x)) for k, x in v.items()))
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    return v


def result_hash(cols: list[str], rows: list[tuple]) -> str:
    """Hash of the rows as a multiset: columns sorted by name, cells
    canonical, each row digested and the digests sorted."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    digests = sorted(hashlib.sha256(repr(tuple(_canon(r[i]) for i in order)).encode()).digest() for r in rows)
    h = hashlib.sha256(repr([cols[i] for i in order]).encode())
    h.update(b"".join(digests))
    return h.hexdigest()


def run(spark, sf_dir: str, qids: list[str], tracer, traced: bool) -> dict:
    """Build and collect each qid once, back to back, in registration
    order. Returns per-qid timings (and,
    traced, per-layer readings) plus the collected rows' hashes for the
    check."""
    from aprsdb_spark.registry import QUERIES

    rank = {q: i for i, q in enumerate(QUERIES)}
    qids = sorted(qids, key=rank.__getitem__)

    sc = spark.sparkContext
    probe = SparkProbe(spark) if traced else None
    ops, collected = [], {}
    for qid in qids:
        fn = QUERIES[qid]
        rec = {"qid": qid, "module": fn.__module__.rsplit(".", 1)[-1]}
        with tracer.span("qid", qid) as sp:
            start_wall = time.time()
            t0 = time.perf_counter()
            try:
                if traced:
                    sc.setJobGroup(f"{qid}/build", qid)
                with tracer.span("build", qid):
                    df = fn(spark, sf_dir)
                t1 = time.perf_counter()
                if traced:
                    sc.setJobGroup(f"{qid}/exec", qid)
                with tracer.span("collect", qid):
                    rows = df.collect()
                t2 = time.perf_counter()
                end_wall = time.time()
                rec.update(build_s=t1 - t0, exec_collect_s=t2 - t1, latency_s=t2 - t0, rows=len(rows))
            except Exception as e:  # a failing qid is counted, not fatal
                rec.update(latency_s=time.perf_counter() - t0, error=f"{type(e).__name__}: {e}"[:500])
                ops.append(rec)
                continue
        ops.append(rec)
        collected[qid] = (list(df.columns), rows)
        if traced:  # outside the timed region
            sc.setJobGroup("perfbench", "perfbench")
            rec["plan"] = plan_phases(df, start_wall - 0.001)
            build_jobs = probe.group_jobs(f"{qid}/build")
            exec_jobs = probe.group_jobs(f"{qid}/exec")
            rec["build_jobs"] = len(build_jobs)
            rec["exec"] = probe.jobs(exec_jobs)
            rec["python"] = probe.python(exec_jobs)
            job_end = rec["exec"]["end"] or end_wall
            rec["collect_s"] = min(max(0.0, end_wall - job_end), rec["exec_collect_s"])
            rec["exec_s"] = rec["exec_collect_s"] - rec["collect_s"]
            rec["cache_entries"], rec["cache_bytes"] = probe.storage()
            sp["jobs"] = rec["exec"]["jobs"] + len(build_jobs)
    # hashed after the pass so the check costs nothing inside it
    hashes = {q: (cols, result_hash(cols, [tuple(r) for r in rows]), len(rows)) for q, (cols, rows) in collected.items()}
    out = {"ops": ops, "hashes": hashes, "pass_s": sum(o["latency_s"] for o in ops)}
    if traced:
        out["peak_rss_mb"] = rss_peak_mb()
    return out


def check(qids: list[str], hashes: dict, sf: str, corrupt: bool = False) -> dict[str, str]:
    """qid -> reason, for every sampled qid whose output is wrong: a
    hash mismatch against the DuckDB oracle twin's hash, frozen in
    ``pools.json`` by ``calibrate.py --hashes`` (an oracle at sf0.1 can
    take minutes), or a row count off the frozen one when the qid has
    no oracle."""
    costs = load_pools()["costs"][sf]
    bad: dict[str, str] = {}
    for i, qid in enumerate(qids):
        if qid not in hashes:
            bad[qid] = "raised"
            continue
        _, got, n = hashes[qid]
        want = costs[qid].get("oracle_hash")
        if corrupt and i == 0:
            want = "0" * 64 if want else None
            n = -1
        if want is not None and got != want:
            bad[qid] = "oracle hash mismatch"
        elif want is None and n != costs[qid]["rows"]:
            bad[qid] = f"row count {n} != {costs[qid]['rows']}"
    return bad


def layers(res: dict, cpus: int) -> dict[str, float]:
    """Per-layer metrics of a traced pass."""
    ops = [o for o in res["ops"] if "error" not in o]
    m: dict[str, float] = {}

    def tot(key, sub=None):
        return sum((o[key][sub] if sub else o[key]) for o in ops if key in o)

    m["build.s"] = tot("build_s")
    m["build.jobs"] = tot("build_jobs")
    for phase in ("analysis", "optimization", "planning"):
        m[f"plan.{phase}_s"] = sum(o["plan"][phase] for o in ops if "plan" in o)
    for k in ("jobs", "stages", "tasks"):
        m[f"exec.{k}"] = tot("exec", k)
    m["exec.s"] = tot("exec_s")
    m["exec.executor_run_s"] = tot("exec", "executor_run_s")
    m["exec.executor_cpu_s"] = tot("exec", "executor_cpu_s")
    m["exec.busy_frac"] = m["exec.executor_run_s"] / (res["pass_s"] * cpus)
    for k in ("shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes", "input_bytes"):
        m[f"exec.{k}"] = tot("exec", k)
    for k in ("exec.python_s", "exec.python_boot_s", "exec.python_bytes"):
        m[k] = tot("python", k)
    m["collect.s"] = tot("collect_s")
    m["collect.rows"] = tot("rows")
    m["collect.bytes"] = tot("exec", "result_bytes")
    last = res["ops"][-1] if res["ops"] else {}
    m["cache.entries_resident"] = last.get("cache_entries", 0)
    m["cache.resident_bytes"] = last.get("cache_bytes", 0)
    m["mem.peak_rss_mb"] = res.get("peak_rss_mb", 0.0)
    for mod in load_pools()["modules"]:
        m[f"build.s.{mod}"] = sum(o["build_s"] for o in ops if o["module"] == mod)
        m[f"exec.s.{mod}"] = sum(o.get("exec_s", 0.0) for o in ops if o["module"] == mod)
    return m
