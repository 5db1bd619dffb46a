"""The exactly-once state protocol (streaming/ingest._merge_store and
_apply_once), pinned once for every foreachBatch sink: after batch 0
and batch 1, a re-delivery of batch 1 under the same run_key leaves
every store, alert dir and sidecar byte-unchanged; and every state view
serves its pre-crash rows after a crash mid-swap (each main dir lost
its `_SUCCESS` and a part file while `_next` still holds the complete
state)."""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import functions as F

from aprsdb_spark.streaming import ingest as S
from tests.conftest import SF_DIR

SF = os.path.join(os.path.dirname(SF_DIR), "sf0.001")


def _halves(df, key, *cols):
    return [df.where(F.col(key) % 2 == k).select(*cols) for k in range(2)]


def _events(spark):
    from aprsdb_spark.tables import load

    return load(spark, SF).events


def _docs(spark):
    return spark.read.parquet(SF + "/documents.parquet")


def _emb(spark):
    return spark.read.parquet(SF + "/embeddings.parquet")


def _stations(spark):
    ev = _events(spark).select(
        "event_id",
        F.concat(F.lit("U"), F.col("user_id").cast("string")).alias("src"),
        F.col("ts").alias("recv_ts"),
        F.col("value").alias("latitude"),
        (-F.col("value")).alias("longitude"),
    )
    halves = _halves(ev, "event_id", "src", "recv_ts", "latitude", "longitude")
    return S.upsert_stations_sink, {}, halves, None


def _rollup(spark):
    ev = _events(spark).select(
        "event_id", F.expr("CAST(ts AS DATE)").alias("day"), "value"
    )
    return S.incremental_rollup_sink, {}, _halves(ev, "event_id", "day", "value"), None


def _cdc(spark):
    ev = _events(spark).select(
        "user_id",
        "ts_ms",
        "event_id",
        "value",
        F.when(F.col("event_type") == "signup", "I")
        .when(F.col("event_type") == "error", "D")
        .otherwise("U")
        .alias("op"),
    )
    halves = _halves(ev, "event_id", "user_id", "ts_ms", "event_id", "value", "op")
    return S.cdc_apply_sink, {}, halves, S.cdc_current_view


def _dedup(spark):
    return S.dedup_ingest_sink, {}, _halves(_docs(spark), "doc_id", "doc_id", "text"), None


def _ann(spark):
    from aprsdb_spark.operators.similarity import pq_train_local

    books = pq_train_local(SF, n_blocks=8, k=32, iters=4)
    halves = _halves(_emb(spark), "vec_id", "vec_id", "embedding")
    return S.ann_ingest_sink, {"books": books}, halves, None


def _leakage(spark):
    halves = _halves(_docs(spark), "doc_id", "doc_id", "text")
    return S.leakage_monitor_sink, {}, halves, None


def _drift(spark):
    ev = _events(spark)
    v6 = F.floor(F.col("value") * 1000000 + F.lit(0.5)).cast("long")
    lo, hi = ev.select(F.min(v6), F.max(v6)).collect()[0]
    halves = _halves(ev, "event_id", "ts_ms", "value")
    return S.drift_monitor_sink, {"lo": lo, "hi": hi}, halves, S.drift_current_view


def _quality(spark):
    halves = _halves(_docs(spark), "doc_id", "source", "n_chars", "text")
    return S.quality_gate_sink, {}, halves, S.quality_gate_view


def _card(spark):
    halves = _halves(_docs(spark), "doc_id", "source", "lang", "n_chars", "text")
    return S.card_monitor_sink, {}, halves, S.card_current_view


def _cms(spark):
    return S.cms_monitor_sink, {}, _halves(_docs(spark), "doc_id", "text"), S.cms_current_view


def _hll(spark):
    halves = _halves(_events(spark), "event_id", "user_id")
    return S.hll_monitor_sink, {}, halves, S.hll_current_view


def _ivf(spark):
    from aprsdb_spark.operators.similarity import kmeans_train_local

    cents = kmeans_train_local(SF, k=16, iters=2)
    halves = _halves(_emb(spark), "vec_id", "vec_id", "label", "embedding")
    return (
        S.ivf_occupancy_sink,
        {"cents": cents},
        halves,
        lambda spark, state: S.ivf_balance_view(spark, state, k=16),
    )


def _lateness(spark):
    halves = _halves(_events(spark), "event_id", "ts_ms")
    return S.lateness_monitor_sink, {}, halves, S.lateness_view


def _volume(spark):
    halves = _halves(_events(spark), "event_id", "ts_ms", "event_type")
    return S.volume_monitor_sink, {}, halves, S.ewma_current_view


def _lifetime(spark):
    halves = _halves(_events(spark), "event_id", "ts_ms", "user_id")
    return S.lifetime_monitor_sink, {}, halves, S.km_current_view


# sink name -> case(spark) -> (sink, extra kwargs, [batch 0, batch 1], view or None)
CASES = {
    "upsert_stations": _stations,
    "incremental_rollup": _rollup,
    "cdc_apply": _cdc,
    "dedup_ingest": _dedup,
    "ann_ingest": _ann,
    "leakage_monitor": _leakage,
    "drift_monitor": _drift,
    "quality_gate": _quality,
    "card_monitor": _card,
    "cms_monitor": _cms,
    "hll_monitor": _hll,
    "ivf_occupancy": _ivf,
    "lateness_monitor": _lateness,
    "volume_monitor": _volume,
    "lifetime_monitor": _lifetime,
}


def _rows(df):
    return sorted(repr(tuple(r)) for r in df.collect())


def _snapshot(root):
    """The bytes of every file under ``root``: stores, `_next` staging,
    alert dirs and sidecars. A skipped re-delivery touches none of
    them, so equal snapshots imply equal rows."""
    return {
        str(p.relative_to(root)): p.read_bytes() for p in root.rglob("*") if p.is_file()
    }


@pytest.mark.parametrize("name", list(CASES))
def test_redelivery_is_a_noop_and_views_survive_crash_mid_swap(spark, tmp_path, name):
    sink, kw, halves, view = CASES[name](spark)
    root = tmp_path / "stores"
    root.mkdir()
    state = str(root / name)
    sink(halves[0], 0, state, run_key="rk", **kw)
    sink(halves[1], 1, state, run_key="rk", **kw)
    applied = _snapshot(root)
    sink(halves[1], 1, state, run_key="rk", **kw)  # at-least-once re-delivery
    assert _snapshot(root) == applied, f"{name}: re-delivered batch re-applied"

    if view is None:
        return
    want = _rows(view(spark, state))
    mains = [str(root / d[: -len("_next")]) for d in os.listdir(root) if d.endswith("_next")]
    assert mains, f"{name}: no overwrite store to crash"
    for main in mains:  # crash mid-overwrite: truncated main dir, no _SUCCESS
        os.remove(os.path.join(main, "_SUCCESS"))
        os.remove(sorted(glob.glob(os.path.join(main, "part-*")))[0])
    assert _rows(view(spark, state)) == want, f"{name}: view served truncated state"
