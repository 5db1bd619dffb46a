"""Structured Streaming ingest: the aprsdb capability surface
("collects APRS packets into DB") rebuilt on Spark's incremental
execution — readStream → parse → dedup → window/sessionize →
foreachBatch upsert.

Sources: file-replay (deterministic tests; each line `epoch_ms<TAB>raw`)
and socket (dev against a live APRS-IS feed: a feeder handles the
`user CALL pass N filter r/...` login line — the TCP login belongs to
the feeder process, not the query). At scale the source is Kafka with
the same downstream plan.

State at 100 TB/day: dedup + window state lives in the state store —
key it narrowly (src, md5(payload)) not (src, raw), watermark
aggressively (30 s dedup, minutes for windows), and use RocksDB state
store on real clusters. Every query below is watermarked: unbounded
state is an outage, not a feature.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..aprs.parse import parse_packets, parse_tnc2


def _read_state(spark: SparkSession, path: str) -> DataFrame:
    """Load a sink's parquet state, first completing a swap that crashed
    mid-overwrite (_recover_incomplete_swap) — a sink self-heals only on
    its next micro-batch, so a view refreshed in between would otherwise
    serve truncated state (ADVICE r15). Raises AnalysisException when
    the path does not exist."""
    _recover_incomplete_swap(spark, path)
    # drop is a no-op for absent columns: states written with the
    # embedded replay marker (_run_key/_batch_id, see
    # _last_applied_batch) and legacy marker-less states both come
    # back in the sink's logical schema
    return spark.read.parquet(path).drop("_run_key", "_batch_id")


def _read_state_or_none(spark: SparkSession, path: str) -> DataFrame | None:
    """_read_state, returning None ONLY when the path does not exist yet
    (first batch). Any other failure — transient IO, a
    partially-written/corrupt store — propagates so the micro-batch
    fails and Structured Streaming retries it; swallowing those here
    would silently reset additive state to just the current batch's
    partial (ADVICE r6)."""
    try:
        return _read_state(spark, path)
    except AnalysisException as e:
        cond = getattr(e, "getCondition", lambda: None)() or ""
        if "PATH_NOT_FOUND" in cond or "Path does not exist" in str(e):
            return None
        raise


def read_packet_lines(spark: SparkSession, path: str, **options) -> DataFrame:
    """File-replay source: text lines `epoch_ms<TAB>tnc2` → (recv_ts, raw).
    maxFilesPerTrigger=1 gives per-file micro-batches for deterministic
    watermark tests."""
    lines = spark.readStream.options(**options).text(path)
    parts = F.split(F.col("value"), "\t", 2)
    return lines.select(
        F.timestamp_millis(
            F.try_element_at(parts, F.lit(1)).try_cast("long")
        ).alias("recv_ts"),
        F.try_element_at(parts, F.lit(2)).alias("raw"),
    )


def read_socket_lines(spark: SparkSession, host: str, port: int) -> DataFrame:
    """Dev source: live APRS-IS line stream (arrival-stamped here)."""
    return (
        spark.readStream.format("socket")
        .option("host", host)
        .option("port", port)
        .load()
        .select(F.current_timestamp().alias("recv_ts"), F.col("value").alias("raw"))
    )


def read_kafka_lines(
    spark: SparkSession,
    bootstrap: str,
    topic: str,
    starting_offsets: str = "latest",
    **options,
) -> DataFrame:
    """Production source: a Kafka topic of APRS-IS lines → (recv_ts, raw),
    the same downstream plan as socket/file-replay. recv_ts is the broker
    append timestamp (Kafka `timestamp` column) — the closest analogue of
    APRS-IS arrival time, and stable under replay (unlike
    current_timestamp()).

    Needs the spark-sql-kafka connector on the classpath
    (`--packages org.apache.spark:spark-sql-kafka-0-10_2.13:<spark ver>`);
    this container has no connector jar and no broker, so the unit test
    asserts the wiring reaches kafka source resolution. Scale config
    (SCALE.md): one input partition per Kafka partition — size the topic
    at ≥ 2-3× executor cores; cap per-trigger intake with
    maxOffsetsPerTrigger so a backlog replay cannot blow state-store
    memory."""
    raw = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
        .options(**options)
        .load()
    )
    return raw.select(
        F.col("timestamp").alias("recv_ts"),
        F.col("value").cast("string").alias("raw"),
    )


def parsed_packet_stream(lines: DataFrame) -> DataFrame:
    """Parse stage + dedup key: payload = info field (APRS-IS dedups on
    (src, payload) ignoring the digi path)."""
    parsed = parse_packets(lines, recv_ts_col="recv_ts")
    return parsed.withColumn("payload", parse_tnc2(F.col("raw")).getField("info"))


def dedup_30s(parsed: DataFrame) -> DataFrame:
    """APRS-IS 30-second duplicate suppression: first frame per
    (src, payload) kept, repeats within 30 s dropped, repeats after the
    window are new packets. State is evicted by the watermark — the
    textbook dropDuplicatesWithinWatermark use."""
    return parsed.withWatermark("recv_ts", "30 seconds").dropDuplicatesWithinWatermark(
        ["src", "payload"]
    )


def packets_per_station(parsed: DataFrame, window: str = "1 hour") -> DataFrame:
    """Tumbling per-station rate (packets/hour per callsign)."""
    return (
        parsed.withWatermark("recv_ts", "10 minutes")
        .groupBy(F.window("recv_ts", window).alias("w"), F.col("src"))
        .agg(F.count("*").alias("n_packets"))
        .select(F.col("w.start").alias("w_start"), F.col("w.end").alias("w_end"), "src", "n_packets")
    )


def sliding_rate(parsed: DataFrame, length: str = "5 minutes", slide: str = "1 minute") -> DataFrame:
    """Sliding global packet rate."""
    return (
        parsed.withWatermark("recv_ts", "10 minutes")
        .groupBy(F.window("recv_ts", length, slide).alias("w"))
        .agg(F.count("*").alias("n_packets"))
        .select(F.col("w.start").alias("w_start"), "n_packets")
    )


def station_sessions(parsed: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Session per station: closes after `gap` of silence
    (session_window — the streaming twin of e_win_sessionize)."""
    return (
        parsed.withWatermark("recv_ts", "10 minutes")
        .groupBy(F.session_window("recv_ts", gap).alias("w"), F.col("src"))
        .agg(F.count("*").alias("n_packets"))
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "src",
            "n_packets",
        )
    )


def enrich_with_stations(parsed: DataFrame, stations: DataFrame) -> DataFrame:
    """Stream-static join: live packets against the stations dimension
    (dim re-read per micro-batch — self-updating enrichment)."""
    dim = stations.select(
        F.col("src").alias("dim_src"),
        F.col("last_heard").alias("prev_last_heard"),
        F.col("n_packets").alias("prev_n_packets"),
    )
    return parsed.join(F.broadcast(dim), parsed.src == dim.dim_src, "left").drop("dim_src")


def message_ack_stream(parsed: DataFrame, within: str = "10 minutes") -> DataFrame:
    """Stream-stream join: message↔ack correlation live, both sides
    watermarked, join bounded by event time (unbounded stream joins
    accumulate state forever)."""
    msgs = (
        parsed.where(F.col("msg").isNotNull() & ~F.col("msg.is_ack") & ~F.col("msg.is_rej"))
        .select(
            F.col("src").alias("m_from"),
            F.col("msg.addressee").alias("m_to"),
            F.col("msg.msg_no").alias("msg_no"),
            F.col("recv_ts").alias("sent_ts"),
        )
        .withWatermark("sent_ts", "10 minutes")
    )
    acks = (
        parsed.where(F.col("msg.is_ack"))
        .select(
            F.col("src").alias("a_from"),
            F.col("msg.addressee").alias("a_to"),
            F.regexp_extract(F.col("msg.text"), r"^ack([A-Za-z0-9]{1,5})$", 1).alias("ack_no"),
            F.col("recv_ts").alias("ack_ts"),
        )
        .withWatermark("ack_ts", "10 minutes")
    )
    return msgs.join(
        acks,
        (F.col("m_from") == F.col("a_to"))
        & (F.col("m_to") == F.col("a_from"))
        & (F.col("msg_no") == F.col("ack_no"))
        & (F.col("ack_ts") >= F.col("sent_ts"))
        & (F.col("ack_ts") <= F.col("sent_ts") + F.expr(f"INTERVAL {within}")),
        "inner",
    )


def _last_applied_batch(stations_dir: str, run_key: str) -> int:
    """Highest batch_id already applied for ``run_key``, from BOTH
    markers (max of the two):

    - EMBEDDED: the merge sinks write _run_key/_batch_id literal
      columns into the state parquet itself, so the marker commits in
      the same write as the data — a retry after a completed swap but
      before the sidecar write (the r7 ADVICE double-apply window)
      still sees the batch as applied. Read via a lazy pyarrow dataset
      scan of the FIRST non-empty record batch only (every row carries
      the same literals), so the probe cost is one row group of two
      small columns, independent of state size. Trusted ONLY alongside
      the committer's `_SUCCESS` completion marker (the r8 ADVICE
      window): a crash mid-overwrite leaves PARTIAL state whose first
      row already carries the new marker, and trusting it would freeze
      the truncated state by skipping the retry.
    - SIDECAR: `<dir>_meta/last_batch.json`, kept as the fast path and
      for append-only sinks (dedup_ingest) whose store rows span many
      batches.

    Unreadable/missing/legacy-schema markers mean "not yet applied for
    this run_key" — the safe direction, since every guarded sink's
    re-apply is then caught by the OTHER marker or (dedup_ingest) is
    naturally idempotent."""
    import json
    import os

    last = -1
    try:
        with open(os.path.join(stations_dir + "_meta", "last_batch.json")) as f:
            meta = json.load(f)
        if meta.get("run_key") == run_key:
            last = int(meta["batch_id"])
    except (OSError, ValueError, KeyError, TypeError):
        pass
    if not os.path.exists(os.path.join(stations_dir, "_SUCCESS")):
        return last  # state incomplete/absent: embedded marker untrustworthy
    try:
        import pyarrow.dataset as ds

        dset = ds.dataset(stations_dir, format="parquet")
        if {"_run_key", "_batch_id"} <= set(dset.schema.names):
            for rb in dset.to_batches(columns=["_run_key", "_batch_id"], batch_size=1):
                if rb.num_rows:
                    if rb.column("_run_key")[0].as_py() == run_key:
                        last = max(last, int(rb.column("_batch_id")[0].as_py()))
                    break
    except Exception:
        # the embedded probe is an OPTIMIZATION over the sidecar: any
        # probe failure (pyarrow missing, Arrow-internal errors — not
        # just the IO/shape errors previously listed) must degrade to
        # the sidecar answer, never fail the micro-batch
        pass
    return last


def _recover_incomplete_swap(spark: SparkSession, state_dir: str) -> None:
    """Complete a swap that crashed mid-overwrite of ``state_dir``.

    The overwrite sinks write the merged state to `<dir>_next` first
    (committer-atomic: `_SUCCESS` appears only on commit), then copy
    `_next` over the main dir. A crash DURING that second write leaves
    the main dir partial — and, with the embedded replay marker, its
    surviving rows already carry the new batch_id, so a naive retry
    would skip the batch and freeze truncated state. Recovery is
    deterministic because `_next` still holds the complete intended
    state: if the main dir lacks `_SUCCESS` while `_next` has one,
    redo the copy before anything reads the state. Runs ahead of the
    replay guard in _merge_store and ahead of every state read in
    _read_state; a completed main dir makes it a no-op stat call."""
    import os

    nxt = state_dir + "_next"
    if not os.path.exists(os.path.join(nxt, "_SUCCESS")):
        return  # no completed staging state to recover from
    if os.path.exists(os.path.join(state_dir, "_SUCCESS")):
        return  # last swap completed; _next is just the previous staging
    spark.read.parquet(nxt).write.mode("overwrite").parquet(state_dir)


def _record_applied_batch(stations_dir: str, run_key: str, batch_id: int) -> None:
    import json
    import os

    meta_dir = stations_dir + "_meta"
    os.makedirs(meta_dir, exist_ok=True)
    tmp = os.path.join(meta_dir, ".last_batch.tmp")
    with open(tmp, "w") as f:
        json.dump({"run_key": run_key, "batch_id": int(batch_id)}, f)
    os.replace(tmp, os.path.join(meta_dir, "last_batch.json"))


def _with_marker(df: DataFrame, run_key: str | None, batch_id: int) -> DataFrame:
    """Embed the replay marker into the state rows themselves (see
    _last_applied_batch) — a no-op when the guard is off."""
    if run_key is None:
        return df
    return df.withColumn("_run_key", F.lit(run_key)).withColumn(
        "_batch_id", F.lit(int(batch_id)).cast("long")
    )


def _apply_once(
    state_dir: str, run_key: str | None, batch_id: int, apply: Callable[[], None]
) -> None:
    """Run ``apply()`` unless ``(run_key, batch_id)`` is already applied
    to ``state_dir``, then record it in the sidecar — the replay guard
    of every sink here (see _merge_store). The append-only sinks
    (dedup_ingest, ann_ingest) use it directly: their store rows span
    many batches, so only the sidecar marks them."""
    if run_key is not None and batch_id <= _last_applied_batch(state_dir, run_key):
        return
    apply()
    if run_key is not None:
        _record_applied_batch(state_dir, run_key, batch_id)


def _merge_store(
    spark: SparkSession,
    state_dir: str,
    run_key: str | None,
    batch_id: int,
    merge: Callable[[DataFrame | None], DataFrame | None],
) -> None:
    """The exactly-once state protocol of every overwrite sink here:
    ``state_dir`` := ``merge(existing state, or None on the first
    batch)``, applied at most once per ``(run_key, batch_id)``. A
    ``merge`` that returns None skips the write but still records the
    batch as applied.

    foreachBatch is at-least-once — after a crash the restarted query
    re-delivers the last micro-batch with the SAME batch_id, and a blind
    re-apply double-counts every additive store. Pass ``run_key`` (the
    query's checkpoint path — batch_ids are only unique per checkpoint):
    a batch_id <= the last one applied for the same run_key is skipped,
    a different run_key is a deliberate reprocessing run and always
    applies, and run_key=None turns the guard off. The steps, in an
    order each one depends on:

    1. _recover_incomplete_swap, BEFORE the guard: it restores the main
       dir's `_SUCCESS`, and only then is the embedded marker trusted —
       guarding first would re-apply a batch `_next` already holds.
    2. The guard (_apply_once): skip if already applied. Sinks build
       their batch partial lazily and launch Spark jobs only inside
       ``merge``, so a skipped re-delivery does no work (the one
       exception is lateness_monitor_sink's watermark read, which the
       panel partial is classified against).
    3. Read the state (missing path only -> None), merge, and write it
       with the marker embedded in the rows (_with_marker) to
       `<dir>_next` — committer-atomic: `_SUCCESS` appears on commit.
    4. Swap: overwrite the main dir from `_next`. The swap read
       re-validates `_next`, so a corrupt `_next` fails here with the
       old state intact; a crash during the overwrite is step 1's case.
    5. Record the sidecar (`<dir>_meta/last_batch.json`). A crash
       between 4 and 5 (the r7 ADVICE window) does not re-apply: the
       marker already committed with the data (_last_applied_batch).

    A sink with several stores calls this once per store, each with its
    own marker, so a crash between store swaps re-applies only the
    stores that missed the batch."""
    _recover_incomplete_swap(spark, state_dir)

    def swap() -> None:
        merged = merge(_read_state_or_none(spark, state_dir))
        if merged is None:
            return
        nxt = state_dir + "_next"
        _with_marker(merged, run_key, batch_id).write.mode("overwrite").parquet(nxt)
        spark.read.parquet(nxt).write.mode("overwrite").parquet(state_dir)

    _apply_once(state_dir, run_key, batch_id, swap)


def _sum_merge(part: DataFrame, *keys: str) -> Callable[[DataFrame | None], DataFrame]:
    """The additive merge law for _merge_store: the batch ``part`` on the
    first batch, else (state ∪ part) grouped by ``keys`` with every
    other column of ``part`` summed as BIGINT."""
    cols = [c for c in part.columns if c not in keys]
    return lambda existing: (
        part
        if existing is None
        else existing.unionByName(part)
        .groupBy(*keys)
        .agg(*[F.sum(c).cast("long").alias(c) for c in cols])
    )


def upsert_stations_sink(
    batch: DataFrame, batch_id: int, stations_dir: str, run_key: str | None = None
) -> None:
    """foreachBatch upsert of the stations dimension — the collector's
    'DB write': per src, the latest last_heard and position, and summed
    n_packets. Parquet read-merge-overwrite here (_merge_store); on a
    real deployment this is a Delta/Iceberg MERGE keyed on src (same
    shape, transactional). Without ``run_key`` a re-delivered batch
    inflates n_packets."""
    agg = (
        batch.where(F.col("src").isNotNull())
        .groupBy("src")
        .agg(
            F.max("recv_ts").alias("last_heard"),
            F.count("*").alias("n_packets"),
            F.max_by("latitude", "recv_ts").alias("last_lat"),
            F.max_by("longitude", "recv_ts").alias("last_lon"),
        )
    )

    def merge(existing):
        if existing is None:
            return agg
        return (
            existing.unionByName(agg)
            .groupBy("src")
            .agg(
                F.max("last_heard").alias("last_heard"),
                F.sum("n_packets").alias("n_packets"),
                F.max_by("last_lat", "last_heard").alias("last_lat"),
                F.max_by("last_lon", "last_heard").alias("last_lon"),
            )
        )

    _merge_store(batch.sparkSession, stations_dir, run_key, batch_id, merge)


def run_available_now(stream_df: DataFrame, checkpoint: str, sink=None, **foreach_kwargs):
    """Drain everything currently available, then stop (deterministic
    test driver; also the cron-batch deployment mode)."""
    w = stream_df.writeStream.option("checkpointLocation", checkpoint).trigger(
        availableNow=True
    )
    if sink is not None:
        q = w.foreachBatch(lambda b, i: sink(b, i, **foreach_kwargs)).outputMode("update").start()
    else:
        q = w.format("memory").queryName("_test_sink").outputMode("append").start()
    q.awaitTermination()
    return q


def incremental_rollup_sink(
    batch: DataFrame, batch_id: int, state_dir: str, run_key: str | None = None
) -> None:
    """foreachBatch incremental-view maintenance of a daily rollup —
    the STREAMING twin of queries/timeseries.j_incremental_agg, sharing
    its algebraic contract: each micro-batch contributes (day, n, sum)
    PARTIALS and the sink merges partials with the stored state, so
    state ⊕ delta == full recompute at every point in time (the batch
    qid's driver-checked fact; tests/test_streaming.py asserts the
    streamed state equals the one-shot batch aggregate after replay).
    The value sum stays DECIMAL, so the merge is exact in any batch
    split. Input schema: any frame with (day, value) columns."""
    part = batch.groupBy("day").agg(
        F.count("*").cast("long").alias("n"),
        F.sum(F.col("value").cast("decimal(20,6)")).alias("s"),
    )

    def merge(existing):
        if existing is None:
            return part
        return (
            existing.unionByName(part)
            .groupBy("day")
            .agg(F.sum("n").cast("long").alias("n"), F.sum("s").alias("s"))
        )

    _merge_store(batch.sparkSession, state_dir, run_key, batch_id, merge)


def cdc_apply_sink(
    batch: DataFrame, batch_id: int, state_dir: str, run_key: str | None = None
) -> None:
    """foreachBatch CDC apply — the STREAMING twin of
    queries/governance.j_cdc_apply: maintain the last-change-wins
    snapshot of an insert/update/delete log, keyed by user_id with the
    (ts_ms, event_id) total order. Input schema: (user_id, ts_ms,
    event_id, value, op) with op in ('I','U','D').

    State keeps TOMBSTONES: a key whose last change is a delete stays
    in the store as an op='D' row (cdc_current_view filters it out) —
    dropping it instead would let a late-arriving OLDER update
    resurrect the key on the next merge, the classic CDC compaction
    bug. n_changes accumulates across batches, so the streamed state
    matches the batch operator's change count after full replay
    (tests/test_streaming.py proves equality).

    Merge shape: the batch collapses to one row per key (max_by on the
    order struct + a count partial) BEFORE touching the store, so the
    merge handles |keys| rows, not |changes|."""
    ordk = F.struct("ts_ms", "event_id")
    part = batch.groupBy("user_id").agg(
        F.count("*").cast("long").alias("n_changes"),
        F.max_by(F.struct("ts_ms", "event_id", "value", "op"), ordk).alias("last"),
    )

    def merge(existing):
        merged = part
        if existing is not None:
            prev = existing.select(
                "user_id",
                "n_changes",
                F.struct("ts_ms", "event_id", "value", "op").alias("last"),
            )
            merged = (
                prev.unionByName(part)
                .groupBy("user_id")
                .agg(
                    F.sum("n_changes").cast("long").alias("n_changes"),
                    F.max_by(
                        F.col("last"), F.struct("last.ts_ms", "last.event_id")
                    ).alias("last"),
                )
            )
        return merged.select(
            "user_id",
            F.col("last.ts_ms").alias("ts_ms"),
            F.col("last.event_id").alias("event_id"),
            F.col("last.value").alias("value"),
            F.col("last.op").alias("op"),
            "n_changes",
        )

    _merge_store(batch.sparkSession, state_dir, run_key, batch_id, merge)


def cdc_current_view(spark: SparkSession, state_dir: str) -> DataFrame:
    """The queryable snapshot over cdc_apply_sink's store: surviving
    keys only (tombstones filtered), in the batch operator's column
    contract."""
    s = _read_state(spark, state_dir)
    return s.where(F.col("op") != "D").select(
        "user_id",
        F.col("op").alias("last_op"),
        F.col("value").alias("last_value"),
        F.col("ts_ms").alias("last_ts_ms"),
        "n_changes",
    )


def dedup_ingest_sink(
    batch: DataFrame, batch_id: int, store_dir: str, run_key: str | None = None
) -> None:
    """foreachBatch corpus-dedup ingestion — the streaming form of the
    training-data front door: each micro-batch of documents is checked
    against the accumulated store by exact text hash, and ONLY novel
    documents append (first-seen wins; later duplicates never touch
    the store). The batch twin is j_dedup_exact's keeper rule.

    Scale shape: the batch collapses to one candidate per text hash
    (min doc_id — the deterministic first-seen under ordered replay)
    BEFORE probing the store; the probe is an anti equi-join on the
    16-byte hash; and the store write is APPEND-only — the store grows
    by |novel| rows per batch and nothing rewrites, which is what
    makes this viable when the store is 10^10 documents (at that size
    the store is a bucketed table on h and the anti join is
    exchange-free on the store side). Without ``run_key`` (_apply_once)
    a re-delivered batch double-ingests."""
    cand = (
        batch.select(F.md5("text").alias("h"), "doc_id", "text")
        .groupBy("h")
        .agg(F.min_by(F.struct("doc_id", "text"), F.col("doc_id")).alias("first"))
        .select("h", F.col("first.doc_id").alias("doc_id"), F.col("first.text").alias("text"))
    )

    def append() -> None:
        existing = _read_state_or_none(batch.sparkSession, store_dir)
        novel = (
            cand.join(existing.select("h"), "h", "left_anti") if existing is not None else cand
        )
        novel.write.mode("append").parquet(store_dir)

    _apply_once(store_dir, run_key, batch_id, append)


def ann_ingest_sink(
    batch: DataFrame,
    batch_id: int,
    index_dir: str,
    books: list,
    run_key: str | None = None,
    store_table: str | None = None,
) -> None:
    """foreachBatch similarity-INDEX maintenance — the streaming twin
    of j_ann_pq_sink's write leg, completing the §2.I sink-template
    set (dedup store, CDC snapshot, IVM rollup, and now the ANN code
    table). Each micro-batch of (vec_id, embedding) rows snaps to PQ
    codes against the SAME driver-literal codebooks the batch sink
    uses (best_code_expr — argmax (v·c − |c|²/2), tie → smallest
    code), and ONLY novel vec_ids append to the code store:
    first-seen wins, because an index row is immutable once written —
    re-coding an existing vector would silently fork the index from
    the vectors already served from it. tests/test_streaming.py pins
    multi-micro-batch replay ≡ the one-shot batch assignment.

    Scale shape (the dedup_ingest_sink discipline): the batch
    collapses to one candidate per vec_id BEFORE probing (duplicate
    ties broken by the embedding digest, not arrival order, so replay
    is deterministic even for conflicting duplicates); the probe is a
    vec_id anti equi-join against the store; the write is APPEND-only
    — the store grows by |novel| ~5-byte code rows per batch, nothing
    rewrites. With ``store_table`` set, the store IS the vec_id-
    bucketed catalog table j_ann_pq_sink writes (created with the
    same 8-bucket spec if absent): the probe anti-join reads the
    bucketed table scan directly — ZERO Exchange on the store side,
    only the micro-batch side shuffles to the bucket partitioning —
    and each append lands as additional bucket files in the SAME
    table the ADC search serves, so there is no separate compaction
    step between "index maintained" and "index served".
    tests/test_streaming.py pins both the plan (no store-side
    Exchange) and replay ≡ batch-assignment equivalence in table
    mode; ``index_dir`` then carries only the replay-guard sidecar
    (_apply_once — without ``run_key`` a re-delivered batch
    double-ingests)."""
    from ..operators.similarity import as_double, best_code_expr

    spark = batch.sparkSession
    d = len(books[0][0][1])
    # In-batch duplicate vec_ids break on md5 of the JSON rendering of
    # the vector, NOT md5(cast(embedding AS string)): array-to-string is
    # a Spark-INTERNAL format free to change between releases, which
    # would fork a replayed store from the historical one after an
    # upgrade (r10 ADVICE). to_json is a public, spec-governed
    # serialization — stable across versions for identical float values.
    cand = (
        batch.groupBy("vec_id")
        .agg(
            F.min_by(
                F.struct("embedding"),
                F.md5(F.to_json(F.struct(F.col("embedding")))),
            ).alias("first")
        )
        .select("vec_id", F.col("first.embedding").alias("embedding"))
    )
    codes = cand.select(
        "vec_id",
        *[
            (-best_code_expr(
                books[b], F.slice(as_double("embedding"), b * d + 1, d)
            )["ncid"]).cast("int").alias(f"c{b}")
            for b in range(len(books))
        ],
    )

    def append() -> None:
        if store_table is not None:
            existing = (
                spark.table(store_table)
                if spark.catalog.tableExists(store_table)
                else None
            )
        else:
            existing = _read_state_or_none(spark, index_dir)
        novel = (
            codes.join(existing.select("vec_id"), "vec_id", "left_anti")
            if existing is not None
            else codes
        )
        if store_table is not None:
            (
                novel.write.mode("append")
                .bucketBy(8, "vec_id")
                .sortBy("vec_id")
                .saveAsTable(store_table)
            )
        else:
            novel.write.mode("append").parquet(index_dir)

    _apply_once(index_dir, run_key, batch_id, append)


def leakage_monitor_sink(
    batch: DataFrame, batch_id: int, state_dir: str, run_key: str | None = None
) -> None:
    """foreachBatch cross-split duplicate-leakage MONITOR — the
    streaming twin of queries/curation.j_split_leakage's 'exact' kind:
    as documents arrive, each batch's (md5(text), split) pairs merge
    into a per-(hash, split) count store, and every arrival whose text
    hash is ALREADY present under a DIFFERENT split appends an alert
    row (h, arriving split, prior splits) — catching an eval-set
    poisoning the moment it happens rather than at the next batch
    audit. The split is the identical md5-prefix CASE as
    j_split_train_val, so the monitor and the batch audit agree on
    every document by construction (equivalence pinned in
    tests/test_streaming.py: after any replay, the store equals the
    one-shot batch (hash, split) counts and the alerted hash set
    equals the batch audit's spanning groups).

    Scale shape: the batch collapses to (h, split) partials BEFORE
    touching state (shuffle carries 16-byte digests + counts, never
    text); the store merges by addition; alerts are APPEND-only, written
    to `<state_dir>_alerts` before the store swap and deduped per
    (h, split) by the anti join against already-alerted pairs, so
    re-deliveries cannot re-alert. Input schema: (doc_id, text)."""
    spark = batch.sparkSession
    prefix = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)
    split = (
        F.when(prefix < "cd", "train").when(prefix < "e6", "val").otherwise("test")
    )
    part = (
        batch.select(F.md5("text").alias("h"), split.alias("split"))
        .groupBy("h", "split")
        .agg(F.count("*").cast("long").alias("n"))
    )
    alerts_dir = state_dir + "_alerts"

    def alert_then_merge(existing):
        # alerts: arriving (h, split) pairs whose hash exists under a
        # DIFFERENT split in the prior store OR elsewhere in this same
        # batch (a cross-split pair can arrive together — both sides
        # alert, deterministically), minus pairs already alerted
        known = (
            existing.select("h", "split").unionByName(part.select("h", "split"))
            if existing is not None
            else part.select("h", "split")
        ).distinct()
        crossed = (
            part.alias("p")
            .join(
                known.alias("e"),
                (F.col("p.h") == F.col("e.h"))
                & (F.col("p.split") != F.col("e.split")),
            )
            .groupBy(F.col("p.h").alias("h"), F.col("p.split").alias("split"))
            .agg(F.sort_array(F.collect_set("e.split")).alias("prior_splits"))
        )
        prior_alerts = _read_state_or_none(spark, alerts_dir)
        if prior_alerts is not None:
            crossed = crossed.join(
                prior_alerts.select("h", "split"), ["h", "split"], "left_anti"
            )
        crossed.write.mode("append").parquet(alerts_dir)
        return _sum_merge(part, "h", "split")(existing)

    _merge_store(spark, state_dir, run_key, batch_id, alert_then_merge)


def drift_monitor_sink(
    batch: DataFrame,
    batch_id: int,
    state_dir: str,
    lo: int,
    hi: int,
    run_key: str | None = None,
) -> None:
    """foreachBatch distribution-drift MONITOR — the streaming twin of
    queries/timeseries.j_drift_timeslices: as events arrive, each
    batch's values quantize to the 1e-6 grid and bucket against a
    FROZEN ten-bin equi-width reference grid ([lo, hi] scaled BIGINTs
    — in production frozen from a calibration snapshot; the batch
    audit derives the same grid from its own MIN/MAX, so with lo/hi
    taken from the corpus extrema the streamed state reproduces the
    audit exactly, which is what the equivalence test pins). State is
    the (day_idx, bucket) count matrix; drift_current_view() turns it
    into the IDENTICAL output relation via the shared
    drift_from_counts rollup.

    Out-of-reference values (possible live, impossible in the frozen
    test) clamp into the edge buckets rather than inventing new ones
    — a drifted tail lands in bucket 0/9 and raises chi-square, which
    is the correct alarm semantics for a frozen grid.

    Scale shape: the batch collapses to ≤ |days|·10 (day, bucket)
    partials BEFORE touching state (shuffle carries two small ints);
    the store merges by addition. Input schema: (ts_ms long, value
    double)."""
    v6 = F.floor(F.col("value") * 1000000 + F.lit(0.5)).cast("long")
    part = (
        batch.select(
            F.expr("ts_ms div 86400000").alias("day_idx"), v6.alias("v6")
        )
        .select(
            "day_idx",
            F.least(
                F.lit(9),
                F.greatest(
                    F.lit(0),
                    F.expr(f"((v6 - {int(lo)}) * 10) div ({int(hi)} - {int(lo)} + 1)"),
                ),
            ).alias("bucket"),
        )
        .groupBy("day_idx", "bucket")
        .agg(F.count("*").cast("long").alias("oc"))
    )
    _merge_store(
        batch.sparkSession,
        state_dir,
        run_key,
        batch_id,
        _sum_merge(part, "day_idx", "bucket"),
    )


def drift_current_view(spark: SparkSession, state_dir: str) -> DataFrame:
    """The accumulated drift state as the j_drift_timeslices relation
    (day_idx, n_events, chi2, top_bucket, top_dev) — one shared rollup
    (queries/timeseries.drift_from_counts), so streamed ≡ batch is an
    identity over equal count matrices, not a reimplementation."""
    from ..queries.timeseries import drift_from_counts

    state = _read_state(spark, state_dir).select("day_idx", "bucket", "oc")
    return drift_from_counts(state)


def quality_gate_sink(
    batch: DataFrame, batch_id: int, state_dir: str, run_key: str | None = None
) -> None:
    """foreachBatch per-source QUALITY-GATE monitor — the streaming
    twin of queries/governance.j_wilson_ci: as documents arrive, each
    batch collapses to per-source (count, defect-count) partials under
    the SHARED structural defect predicate (wilson_defect_col — one
    definition for the batch gate and the monitor), merged into state
    by addition. quality_gate_view() serves the accumulated state through the SAME
    wilson_from_counts rollup as the batch audit, so streamed ≡ batch
    after ordered replay is shared code, not a reimplementation — an
    ingestion operator can threshold live on ci_low (the
    small-slice-safe bound) instead of waiting for the nightly audit.

    Scale shape: the batch collapses to |sources| rows of two BIGINTs
    BEFORE touching state. Input schema: (source, n_chars, text)."""
    from ..queries.governance import wilson_defect_col

    part = (
        batch.select("source", wilson_defect_col().alias("defect"))
        .groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum("defect").cast("long").alias("x"),
        )
    )
    _merge_store(
        batch.sparkSession, state_dir, run_key, batch_id, _sum_merge(part, "source")
    )


def quality_gate_view(spark: SparkSession, state_dir: str) -> DataFrame:
    """The accumulated quality state as the j_wilson_ci relation
    (source, n_docs, n_defects, defect_rate, ci_low, ci_high) — one
    shared rollup (queries/governance.wilson_from_counts)."""
    from ..queries.governance import wilson_from_counts

    return wilson_from_counts(
        _read_state(spark, state_dir).select("source", "n", "x")
    )


def card_monitor_sink(
    batch: DataFrame, batch_id: int, state_dir: str, run_key: str | None = None
) -> None:
    """foreachBatch DATA-CARD maintenance — the streaming twin of
    queries/governance.j_data_card, and the state-shape counterpart of
    the additive monitors (drift/quality): a data card's distinct
    counts (languages, distinct texts, vocabulary) cannot merge as
    scalars, so the sink maintains the three ADDITIVE part stores from
    data_card_parts — (source, lang), (source, text-digest,
    char/token mass), (source, token) — each merged by plain summation,
    and card_current_view() derives the card through the SAME
    data_card_from_parts rollup as the batch qid. Distinct-counts
    become row counts of summed stores: the release dashboard updates
    per micro-batch without ever re-scanning the corpus.

    Scale shape: the lang store is |sources|·|langs| rows; the digest
    store is one 16-byte row per DISTINCT text (the dedup_ingest store
    scale argument — viable at 10^10 docs bucketed by digest); the
    token store is Heaps-law-small. Each batch collapses to its
    partials map-side before touching any store. Each store carries
    its OWN replay marker — one shared guard would either double-count
    the early stores or freeze the late ones after a crash between
    store swaps. Input schema: (source, n_chars, text)."""
    from ..queries.governance import data_card_parts

    for part, name in zip(data_card_parts(batch), ("lang", "digest", "token")):
        _merge_store(
            batch.sparkSession,
            f"{state_dir}_{name}",
            run_key,
            batch_id,
            _sum_merge(part, "source", name),
        )


def card_current_view(spark: SparkSession, state_dir: str) -> DataFrame:
    """The accumulated part stores as the j_data_card relation — one
    shared rollup (queries/governance.data_card_from_parts)."""
    from ..queries.governance import data_card_from_parts

    a = _read_state(spark, state_dir + "_lang").select("source", "lang", "n")
    b = _read_state(spark, state_dir + "_digest").select(
        "source", "digest", "n", "sum_chars", "sum_toks"
    )
    c = _read_state(spark, state_dir + "_token").select("source", "token", "n")
    return data_card_from_parts(a, b, c)


def cms_monitor_sink(
    batch: DataFrame, batch_id: int, state_dir: str, run_key: str | None = None
) -> None:
    """foreachBatch COUNT-MIN maintenance — the streaming twin of
    queries/sketches.j_cms_sketch: each micro-batch of documents
    collapses to its depth-4 x width-256 counter partials and exact
    token-count partials through the SHARED cms_cells/cms_truth
    builders, and both stores merge BY ADDITION (the CMS merge law —
    counters of any stream split sum to the whole stream's counters).
    cms_current_view() serves the accumulated state through the SAME
    cms_relation rollup as the batch qid, so the live heavy-hitter
    panel and the nightly audit are one definition.

    Each of the two stores carries its OWN replay marker (the
    card_monitor_sink design).

    Scale shape: the cells store is a CONSTANT 4x256 rows at any
    corpus scale (the point of CMS); the truth store is vocab-sized
    (Heaps-law-small) and exists so the view can audit the sketch
    against exact counts — a pure-production deployment would keep
    only the cells store. Input schema: (text)."""
    from ..operators.dedup import tokens_col
    from ..queries.sketches import cms_cells, cms_truth

    spark = batch.sparkSession
    tok = batch.select(F.explode(tokens_col("text")).alias("tok"))
    tok.persist()  # consumers: cells partial + truth partial
    # try/finally, not straight-line: foreachBatch retries re-enter this
    # function after a store-write failure, and an unpersist skipped on
    # the exception path would leak one cached token frame per retry
    # into executor storage until the stream dies.
    try:
        cells = _sum_merge(cms_cells(tok), "d", "bucket")
        _merge_store(spark, state_dir + "_cells", run_key, batch_id, cells)
        truth = _sum_merge(cms_truth(tok), "tok")
        _merge_store(spark, state_dir + "_truth", run_key, batch_id, truth)
    finally:
        tok.unpersist()


def cms_current_view(spark: SparkSession, state_dir: str) -> DataFrame:
    """The accumulated CMS state as the j_cms_sketch relation
    (tok, true_count, cms_est, overcount, never_undercounts) — one
    shared rollup (queries/sketches.cms_relation)."""
    from ..queries.sketches import cms_relation

    cms = _read_state(spark, state_dir + "_cells").select("d", "bucket", "c")
    truth = _read_state(spark, state_dir + "_truth").select("tok", "true_count")
    return cms_relation(cms, truth)


def hll_monitor_sink(
    batch: DataFrame, batch_id: int, state_dir: str, run_key: str | None = None
) -> None:
    """foreachBatch HYPERLOGLOG maintenance — the streaming twin of
    queries/sketches.j_hll_portable: each micro-batch of events
    collapses to its 256-register partials through the SHARED
    hll_registers builder, and the register store merges BY MAX (the
    HLL merge law — max of maxes; a re-seen user cannot raise a
    register). hll_current_view() serves the state through the SAME
    hll_relation rollup as the batch qid.

    The register MAX-merge is IDEMPOTENT, so a replayed batch could
    never corrupt the registers — the per-store replay guard here
    skips redundant work and keeps one store-swap design across merge
    laws. The distinct-user truth store (merged by DISTINCT union —
    also idempotent) exists so the view can audit the estimate against
    the exact count; a pure-production deployment keeps only the
    256-row register store. Input schema: (user_id)."""
    from ..queries.sketches import hll_registers

    spark = batch.sparkSession
    regs = hll_registers(batch)
    users = batch.select("user_id").distinct()
    _merge_store(
        spark,
        state_dir + "_regs",
        run_key,
        batch_id,
        lambda existing: regs
        if existing is None
        else existing.unionByName(regs).groupBy("reg").agg(F.max("r").alias("r")),
    )
    _merge_store(
        spark,
        state_dir + "_users",
        run_key,
        batch_id,
        lambda existing: users
        if existing is None
        else existing.unionByName(users).distinct(),
    )


def hll_current_view(spark: SparkSession, state_dir: str) -> DataFrame:
    """The accumulated HLL state as the j_hll_portable relation
    (n_true, n_registers_hit, est, rel_err, within_bounds) — one
    shared rollup (queries/sketches.hll_relation)."""
    from ..queries.sketches import hll_relation

    regs = _read_state(spark, state_dir + "_regs").select("reg", "r")
    truth = (
        _read_state(spark, state_dir + "_users")
        .agg(F.countDistinct("user_id").cast("long").alias("n_true"))
    )
    return hll_relation(regs, truth)


def cms_topk_view(spark: SparkSession, state_dir: str, k: int = 10) -> DataFrame:
    """Live HEAVY-HITTERS panel over the CMS monitor state: the top-k
    tokens by sketch estimate (tie -> token), with the exact count and
    overcount beside each — the dashboard row a streaming ingest
    watches for vocabulary takeover (one viral boilerplate string
    dominating the stream shows up here batches before a nightly
    audit). Deterministic: ranks on (cms_est DESC, tok) over the
    cms_relation rollup, so the panel is a pure function of the
    accumulated state. The plan is per-partition top-k heaps
    (TakeOrderedAndProject) over the vocab-sized estimate relation —
    never a global sort."""
    return (
        cms_current_view(spark, state_dir)
        .orderBy(F.col("cms_est").desc(), F.col("tok"))
        .limit(k)
    )


def ivf_occupancy_sink(
    batch: DataFrame,
    batch_id: int,
    state_dir: str,
    cents: list,
    run_key: str | None = None,
) -> None:
    """foreachBatch IVF OCCUPANCY maintenance — the streaming twin of
    queries/llm.j_ivf_balance: each micro-batch of vectors assigns to
    the FROZEN literal quantizer (the same cents list the batch audit
    trains; in production frozen from the index build, the
    drift_monitor frozen-grid convention) via the zero-shuffle
    ivf_assign map stage, collapses to per-cell count partials, and
    merges BY ADDITION. ivf_balance_view() serves the state through the SAME
    ivf_balance_from_occ rollup, so an index operator watches cell
    skew grow micro-batch by micro-batch — a hot cell shows up here
    batches before the nightly audit or a straggling probe query
    does. Input schema: (vec_id, label, embedding)."""
    from ..operators.similarity import ivf_assign

    assigned, _ = ivf_assign(batch, k_clusters=len(cents), cents=cents)
    part = assigned.groupBy("cluster_id").agg(
        F.count("*").cast("long").alias("n_vecs")
    )
    _merge_store(
        batch.sparkSession, state_dir, run_key, batch_id, _sum_merge(part, "cluster_id")
    )


def ivf_balance_view(spark: SparkSession, state_dir: str, k: int) -> DataFrame:
    """The accumulated occupancy state as the j_ivf_balance relation
    (cluster_id, n_vecs, share, load_factor, is_hot) over the FULL
    k-cell spine (cells no batch has touched yet read 0 — empty cells
    are wasted nprobe budget and must stay visible) — one shared
    rollup (queries/llm.ivf_balance_from_occ)."""
    from ..queries.llm import ivf_balance_from_occ

    # The state frame is metadata-sized BY CONSTRUCTION (<= k rows, one
    # per occupied cell — the sink pre-aggregates per batch), so collect
    # it ONCE and serve both the truncation guard and the returned plan
    # from that snapshot. The pre-r15 shape ran an eager max() job for
    # the guard and re-scanned the state directory when the returned
    # view was collected — a polling monitor paid two directory reads
    # per refresh, and the two scans could straddle a sink swap
    # (ADVICE r14). A snapshot is also the right monitor semantics: the
    # guard and the served rows describe the same state version.
    stored = _read_state(spark, state_dir).select("cluster_id", "n_vecs").collect()
    # A k smaller than the quantizer the sink actually used would DROP
    # occupied cells in the spine join below and silently renormalize
    # share/load_factor over the truncated spine — fail instead.
    top = max((r["cluster_id"] for r in stored), default=None)
    if top is not None and top >= k:
        raise ValueError(
            f"ivf_balance_view: k={k} is smaller than the quantizer the "
            f"sink used (stored max cluster_id={top}); pass the sink's k"
        )
    counts = {r["cluster_id"]: r["n_vecs"] for r in stored}
    occ = spark.createDataFrame(
        [(c, int(counts.get(c, 0))) for c in range(k)],
        "cluster_id int, n_vecs long",
    )
    return ivf_balance_from_occ(occ)


def lateness_monitor_sink(
    batch: DataFrame,
    batch_id: int,
    state_dir: str,
    delay_ms: int = 600_000,
    window_ms: int = 3_600_000,
    run_key: str | None = None,
) -> None:
    """foreachBatch WATERMARK-LATENESS panel (the r14 verdict's queued
    observability item): per event-time window, how many rows were
    ADMITTED vs DROPPED-LATE by the watermark — the number Spark's own
    watermarked aggregations silently eat (a late row never reaches
    foreachBatch, so the drop is invisible to any downstream monitor;
    this sink receives the PRE-aggregation stream and applies the
    watermark rule itself, making the drops a relation).

    Semantics mirror Spark's: a row is late iff its event time is
    older than the watermark PERSISTED from prior batches (max event
    time seen - delay); the watermark then advances monotonically.
    Both admitted and dropped counts attribute to the row's own
    window, so admitted + dropped per window EQUALS the batch twin's
    unwatermarked per-window counts — the conservation law the
    equivalence test pins.

    Store-swap ORDER is load-bearing: the panel store swaps FIRST, the
    watermark store SECOND. A crash between the two followed by
    at-least-once re-delivery re-applies only the watermark (a pure
    monotone MAX — idempotent and classification-free); the reverse
    order would re-classify the batch against a watermark its own rows
    advanced, double-dropping borderline rows. Each store carries its
    own replay marker.

    Scale shape: the panel is |windows| rows (calendar-sized), the
    watermark store is 1 row, and the per-batch work is one narrow
    classification map + one window_start hash agg with map-side
    partials. Input schema: (ts_ms BIGINT)."""
    spark = batch.sparkSession
    stored = _read_state_or_none(spark, state_dir + "_wm")
    wm = stored.agg(F.max("wm_ms")).head()[0] if stored is not None else None
    late = F.col("ts_ms") < F.lit(wm) if wm is not None else F.lit(False)
    part = (
        batch.select(
            (F.floor(F.col("ts_ms") / window_ms).cast("long") * window_ms).alias(
                "window_start_ms"
            ),
            late.cast("long").alias("is_late"),
        )
        .groupBy("window_start_ms")
        .agg(
            F.sum(1 - F.col("is_late")).cast("long").alias("admitted"),
            F.sum("is_late").cast("long").alias("dropped_late"),
        )
    )

    def advance(_existing):
        # monotone max(stored, batch max - delay); None: nothing to store
        mx = batch.agg(F.max("ts_ms")).head()[0]
        cand = [v for v in (wm, (mx - delay_ms) if mx is not None else None)
                if v is not None]
        if not cand:
            return None
        return spark.createDataFrame([(int(max(cand)),)], "wm_ms long")

    # panel FIRST, watermark SECOND (see docstring)
    panel = _sum_merge(part, "window_start_ms")
    _merge_store(spark, state_dir + "_panel", run_key, batch_id, panel)
    _merge_store(spark, state_dir + "_wm", run_key, batch_id, advance)


def lateness_view(spark: SparkSession, state_dir: str) -> DataFrame:
    """The accumulated lateness panel: (window_start, admitted,
    dropped_late, late_share) ordered facts plus the current watermark
    as a column — one glance says which windows are losing data and
    whether the delay budget is sized right."""
    panel = _read_state(spark, state_dir + "_panel").select(
        "window_start_ms", "admitted", "dropped_late"
    )
    wm = _read_state(spark, state_dir + "_wm").agg(
        F.max("wm_ms").alias("watermark_ms")
    )
    return panel.crossJoin(F.broadcast(wm)).select(
        "window_start_ms",
        "admitted",
        "dropped_late",
        (
            F.col("dropped_late")
            * 1.0
            / (F.col("admitted") + F.col("dropped_late"))
        ).alias("late_share"),
        "watermark_ms",
    )


def message_ack_outer_stream(parsed: DataFrame, within: str = "10 minutes") -> DataFrame:
    """Stream-stream LEFT OUTER message↔ack correlation — the variant
    that answers the question the inner join structurally cannot:
    WHICH messages were never acknowledged. Same legs and event-time
    bound as message_ack_stream; the preserved (message) side emits a
    null-extended row once the watermark proves no ack can still
    arrive (sent_ts + within is behind the watermark, so the state
    store evicts the unmatched row as a definitive non-ack — the
    classic stream-stream-outer correctness trap: the null row is a
    WATERMARK fact, not an absence-so-far fact).

    Operationally (pinned by the replay test): outer results are
    emitted only when a LATER micro-batch advances past the expired
    state — a finite replay that ends exactly at the last data batch
    holds unmatched rows in state rather than fabricating premature
    nulls, and the next batch (or the next availableNow run over the
    same checkpoint) releases them. At 100 TB this is the at-least-
    once contract every alerting pipeline on "unacked after N
    minutes" is built on."""
    msgs = (
        parsed.where(F.col("msg").isNotNull() & ~F.col("msg.is_ack") & ~F.col("msg.is_rej"))
        .select(
            F.col("src").alias("m_from"),
            F.col("msg.addressee").alias("m_to"),
            F.col("msg.msg_no").alias("msg_no"),
            F.col("recv_ts").alias("sent_ts"),
        )
        .withWatermark("sent_ts", "10 minutes")
    )
    acks = (
        parsed.where(F.col("msg.is_ack"))
        .select(
            F.col("src").alias("a_from"),
            F.col("msg.addressee").alias("a_to"),
            F.regexp_extract(F.col("msg.text"), r"^ack([A-Za-z0-9]{1,5})$", 1).alias("ack_no"),
            F.col("recv_ts").alias("ack_ts"),
        )
        .withWatermark("ack_ts", "10 minutes")
    )
    joined = msgs.join(
        acks,
        (F.col("m_from") == F.col("a_to"))
        & (F.col("m_to") == F.col("a_from"))
        & (F.col("msg_no") == F.col("ack_no"))
        & (F.col("ack_ts") >= F.col("sent_ts"))
        & (F.col("ack_ts") <= F.col("sent_ts") + F.expr(f"INTERVAL {within}")),
        "leftOuter",
    )
    return joined.select(
        "m_from",
        "m_to",
        "msg_no",
        "sent_ts",
        "ack_ts",
        F.col("ack_ts").isNotNull().alias("acked"),
    )


def volume_monitor_sink(
    batch: DataFrame,
    batch_id: int,
    state_dir: str,
    run_key: str | None = None,
) -> None:
    """foreachBatch per-type DAILY-VOLUME state — the shared substrate
    of the streaming CONTROL-CHART monitors (the batch twins are
    queries/timeseries.j_cusum_drift and j_ewma_chart, r16): as events
    arrive, each batch collapses to (event_type, day_idx) count
    partials and merges additively into the state matrix; the two
    views below turn the accumulated state into the IDENTICAL chart
    relations via the rollups the batch qids themselves call
    (cusum_from_daily / ewma_from_daily), so streamed ≡ batch is an
    identity over equal count matrices — the drift_monitor_sink
    pattern with a different shared rollup.

    Scale shape: the batch collapses to ≤ |types|·|days| partials
    BEFORE touching state (the shuffle carries a string and a small
    int). One state serves BOTH charts (and any future consumer of the daily-volume
    matrix) — the monitor cost is paid once per micro-batch, not per
    chart. Input schema: (ts_ms long, event_type string)."""
    part = (
        batch.select(
            "event_type", F.expr("ts_ms div 86400000").alias("day_idx")
        )
        .groupBy("event_type", "day_idx")
        .agg(F.count("*").cast("long").alias("c"))
    )
    _merge_store(
        batch.sparkSession,
        state_dir,
        run_key,
        batch_id,
        _sum_merge(part, "event_type", "day_idx"),
    )


def _volume_daily(spark: SparkSession, state_dir: str) -> DataFrame:
    """The accumulated state as the (event_type, day DATE, v) relation
    the shared chart rollups expect."""
    return _read_state(spark, state_dir).select(
        "event_type",
        F.date_from_unix_date(F.col("day_idx").cast("int")).alias("day"),
        F.col("c").cast("long").alias("v"),
    )


def cusum_current_view(spark: SparkSession, state_dir: str) -> DataFrame:
    """The accumulated volume state as the j_cusum_drift relation
    (event_type, n_days, mean/sd, one-sided CUSUM magnitudes in sd
    units, peak_day, drift) — one shared rollup
    (queries/timeseries.cusum_from_daily)."""
    from ..queries.timeseries import cusum_from_daily

    return cusum_from_daily(_volume_daily(spark, state_dir))


def ewma_current_view(spark: SparkSession, state_dir: str) -> DataFrame:
    """The accumulated volume state as the j_ewma_chart relation
    (event_type, day, n_events, ewma, ucl, lcl, anomaly) — one shared
    rollup (queries/timeseries.ewma_from_daily)."""
    from ..queries.timeseries import ewma_from_daily

    return ewma_from_daily(_volume_daily(spark, state_dir))


def lifetime_monitor_sink(
    batch: DataFrame,
    batch_id: int,
    state_dir: str,
    run_key: str | None = None,
) -> None:
    """foreachBatch per-user LIFETIME state — the shared substrate of
    the streaming SURVIVAL monitors (batch twins: queries/timeseries.
    j_kaplan_meier and queries/analytics.j_logrank_test, r16): each
    batch collapses to per-user (first_idx, last_idx) day-span
    partials and merges into state BY MIN/MAX — the third merge law
    on the shelf (addition for counts, MAX for HLL registers, MIN/MAX
    spans here), idempotent under replay by construction; the replay
    guard still skips redundant work. The two
    views below serve the state through the exact rollups the batch
    qids call (km_from_lifetimes / logrank_from_lifetimes), so
    streamed ≡ batch is an identity over equal lifetime tables.

    Scale shape: the batch collapses to ≤ |batch users| partials
    BEFORE touching state (the shuffle carries three small ints); the
    state is user-cardinality — the standard sessionization state
    class, partitioned parquet under read-merge-swap. Censoring is decided at VIEW time from the
    state's own max day (a user whose last event touches the newest
    observed day is censored), so the monitor needs no clock. Input
    schema: (ts_ms long, user_id long)."""
    part = (
        batch.select("user_id", F.expr("ts_ms div 86400000").alias("day_idx"))
        .groupBy("user_id")
        .agg(
            F.min("day_idx").cast("long").alias("first_idx"),
            F.max("day_idx").cast("long").alias("last_idx"),
        )
    )

    def merge(existing):
        if existing is None:
            return part
        return (
            existing.unionByName(part)
            .groupBy("user_id")
            .agg(
                F.min("first_idx").cast("long").alias("first_idx"),
                F.max("last_idx").cast("long").alias("last_idx"),
            )
        )

    _merge_store(batch.sparkSession, state_dir, run_key, batch_id, merge)


def _lifetimes(spark: SparkSession, state_dir: str) -> DataFrame:
    """The accumulated state as the per-user (user_id, dur, ld)
    relation the shared survival rollups expect."""
    return _read_state(spark, state_dir).select(
        "user_id",
        (F.col("last_idx") - F.col("first_idx")).cast("long").alias("dur"),
        F.date_from_unix_date(F.col("last_idx").cast("int")).alias("ld"),
    )


def km_current_view(spark: SparkSession, state_dir: str) -> DataFrame:
    """The accumulated lifetime state as the j_kaplan_meier relation
    (dur_days, n_risk, n_events, n_censored, survival) — one shared
    rollup (queries/timeseries.km_from_lifetimes)."""
    from ..queries.timeseries import km_from_lifetimes

    return km_from_lifetimes(_lifetimes(spark, state_dir).select("dur", "ld"))


def logrank_current_view(spark: SparkSession, state_dir: str) -> DataFrame:
    """The accumulated lifetime state as the j_logrank_test relation —
    one shared rollup (queries/analytics.logrank_from_lifetimes); the
    even/odd cohort tag derives from the state's own user_id."""
    from ..queries.analytics import logrank_from_lifetimes

    return logrank_from_lifetimes(
        _lifetimes(spark, state_dir).select(
            (F.col("user_id") % 2).alias("grp"), "dur", "ld"
        )
    )
