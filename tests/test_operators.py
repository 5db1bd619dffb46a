"""Operator-level invariants (SURVEY.md §5.4): dedup finds the planted
duplicates at sf0.1 and is idempotent; IVF recall vs brute force; as-of
lowering vs a naive quadratic reference; top-k ⊆ sort prefix."""

from __future__ import annotations

import pyarrow as pa
import pytest
from pyspark.sql import functions as F

SF01 = "/root/testdata/sf0.1"
SF001 = "/root/testdata/sf0.01"


def test_exact_dedup_finds_planted_dups_sf01(spark):
    """TESTDATA: sf0.1 documents contain 8 exact duplicate texts."""
    from aprsdb_spark.tables import load

    docs = load(spark, SF01).documents
    dups = (
        docs.groupBy("text").agg(F.count("*").alias("n")).where(F.col("n") > 1)
    ).collect()
    assert sum(r.n - 1 for r in dups) == 8


def test_lsh_finds_exact_dups_sf01(spark):
    """MinHash-LSH must catch all 8 planted exact duplicates (identical
    text ⇒ identical signature ⇒ same bucket in every band)."""
    from aprsdb_spark.registry import QUERIES, load_all

    load_all()
    pairs = QUERIES["j_dedup_near"](spark, SF01).collect()
    perfect = [p for p in pairs if p.jaccard >= 0.999999]
    assert len(perfect) >= 8


def test_dedup_idempotent(spark):
    """dedup(dedup(x)) == dedup(x) for the exact-dedup keeper set."""
    from aprsdb_spark.tables import load

    docs = load(spark, SF01).documents
    keep1 = docs.groupBy("text").agg(F.min("doc_id").alias("doc_id"))
    round1 = docs.join(keep1, "doc_id", "left_semi")
    keep2 = round1.groupBy("text").agg(F.min("doc_id").alias("doc_id"))
    round2 = round1.join(keep2, "doc_id", "left_semi")
    assert round1.count() == round2.count()
    assert round1.select("doc_id").subtract(round2.select("doc_id")).count() == 0


def test_ivf_top1_matches_brute(spark):
    """The query's own cluster is always probed → IVF top-1 == brute
    top-1 (the query vector itself, dot = 1)."""
    from aprsdb_spark.registry import QUERIES, load_all

    load_all()
    brute = QUERIES["j_sim_topk"](spark, SF001).collect()
    ivf = QUERIES["j_ann_ivf"](spark, SF001).collect()
    assert brute[0].vec_id == ivf[0].vec_id == 0
    # recall@10 sanity: IVF finds a meaningful share scanning ~1/4 of data
    brute_ids = {r.vec_id for r in brute}
    ivf_ids = {r.vec_id for r in ivf}
    assert len(brute_ids & ivf_ids) >= 3


def test_asof_matches_naive(spark):
    """Union+window as-of lowering == quadratic join+row_number on a
    small slice."""
    from pyspark.sql import Window

    from aprsdb_spark.operators.asof import asof_join
    from aprsdb_spark.tables import load

    ev = load(spark, SF001).events
    v = ev.where(F.col("event_type") == "view").select("user_id", "event_id", "ts_ms")
    p = ev.where(F.col("event_type") == "purchase").select("user_id", "event_id", "ts_ms")
    fast = asof_join(p, v, on="user_id", t="ts_ms", tiebreak="event_id",
                     right_cols=["event_id"]).select("event_id", "asof_event_id")

    pairs = p.alias("p").join(
        v.alias("v"),
        (F.col("p.user_id") == F.col("v.user_id")) & (F.col("v.ts_ms") <= F.col("p.ts_ms")),
    )
    w = Window.partitionBy("p.event_id").orderBy(F.col("v.ts_ms").desc(), F.col("v.event_id").desc())
    naive = (
        pairs.withColumn("rn", F.row_number().over(w))
        .where("rn = 1")
        .select(F.col("p.event_id").alias("event_id"), F.col("v.event_id").alias("asof_event_id"))
    )
    assert fast.subtract(naive).count() == 0
    assert naive.subtract(fast).count() == 0
    assert fast.count() == naive.count() > 0


def test_dedup_cluster_fixed_rounds_are_converged(spark):
    """j_dedup_cluster runs exactly 6 propagation rounds with no
    convergence action; this pins that a 7th round changes nothing on
    the fixture (component diameter <= 6), plus transitivity on a
    synthetic chain A~B~C with no direct A~C edge."""
    from aprsdb_spark.queries.curation import cluster_labels

    nodes = spark.range(8).select(F.col("id").cast("long").alias("doc_id"))
    # chain 0-1-2, pair 3-4, singleton 5, reversed-order chain 7-6: the
    # min label must flow AGAINST edge direction too
    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (3, 4), (6, 7)], "id_a long, id_b long"
    )
    l6 = {r.doc_id: r.label for r in cluster_labels(nodes, pairs, rounds=6).collect()}
    assert l6 == {0: 0, 1: 0, 2: 0, 3: 3, 4: 3, 5: 5, 6: 6, 7: 6}
    l7 = {r.doc_id: r.label for r in cluster_labels(nodes, pairs, rounds=7).collect()}
    assert l7 == l6
    # fixture-level convergence is pinned by the ORACLE hash-match:
    # test_oracle_match[j_dedup_cluster] compares the 6-round propagation
    # against DuckDB's true recursive-CTE transitive closure.


def test_within_radius_antimeridian_wrap(spark):
    """The bbox prefilter must not under-select when the padded box
    crosses ±180°: points on both sides of the antimeridian within the
    radius are found; far points are still excluded."""
    from aprsdb_spark.operators.geo import within_radius

    pts = spark.createDataFrame(
        [
            (1, 0.0, 179.95),    # ~10 km east of the query
            (2, 0.0, -179.95),   # ~12 km west, across the wrap
            (3, 0.0, 178.0),     # ~244 km — outside
            (4, 0.0, -178.0),    # across the wrap but outside
            (5, 0.0, 0.0),       # other side of the planet
        ],
        "id int, lat double, lon double",
    )
    got = {r.id for r in within_radius(pts, "lat", "lon", 0.0, 179.99, 50.0).collect()}
    assert got == {1, 2}

    # east-crossing box (query just west of -180)
    got2 = {r.id for r in within_radius(pts, "lat", "lon", 0.0, -179.99, 50.0).collect()}
    assert got2 == {1, 2}


def test_asof_null_payload_on_latest_right_row_wins(spark):
    """A right row whose payload VALUE is null must still win the as-of
    race — the struct-wrapped fill must return (match, null), not leak
    the older non-null payload forward."""
    from aprsdb_spark.operators.asof import asof_join

    right = spark.createDataFrame(
        [(1, 10, 1, "old"), (1, 20, 2, None)],
        "k int, t int, tb int, val string",
    )
    left = spark.createDataFrame([(1, 30, 3)], "k int, t int, tb int")
    out = asof_join(
        left, right, on="k", t="t", tiebreak="tb", right_cols=["val"], how="inner"
    ).collect()
    # the t=20 null-val row is the latest at-or-before t=30: it MATCHES
    # (inner keeps the row) and its null value is what comes back
    assert len(out) == 1
    assert out[0].asof_val is None

    # left row before any right row: no match, dropped by inner
    early = spark.createDataFrame([(1, 5, 9)], "k int, t int, tb int")
    assert not asof_join(
        early, right, on="k", t="t", tiebreak="tb", right_cols=["val"], how="inner"
    ).collect()


def test_topk_is_sort_prefix(spark):
    from aprsdb_spark.tables import load

    orders = load(spark, SF001).orders
    full_sorted = [
        r.o_orderkey
        for r in orders.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey")).collect()
    ]
    topk = [
        r.o_orderkey
        for r in orders.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(10)
        .collect()
    ]
    assert topk == full_sorted[:10]


def test_simhash_identical_and_perturbed(spark):
    """Identical texts → identical simhash; one-token change → small
    Hamming distance."""
    from aprsdb_spark.operators.dedup import simhash_col

    base = "the quick brown fox jumps over a lazy dog near the river bank today"
    variant = base.replace("river", "ocean")
    df = spark.createDataFrame(
        [(1, base), (2, base), (3, variant)], "id long, text string"
    ).select("id", simhash_col("text").alias("sig"))
    sigs = {r.id: r.sig for r in df.collect()}
    assert sigs[1] == sigs[2]
    ham = bin((sigs[1] ^ sigs[3]) & ((1 << 64) - 1)).count("1")
    assert 0 < ham <= 16


def test_multimodal_decode_parses_real_ppm(spark):
    """The decode kernel PARSES genuine P6 containers: dims recovered
    from bytes must equal the generation contract, and a non-media
    payload (plain text) lands on the null-format audit path."""
    from aprsdb_spark.operators.multimodal import (
        decode_payloads,
        media_dims,
        pack_media,
        pack_multimodal,
    )
    from aprsdb_spark.tables import load

    docs = load(spark, SF001).documents.limit(50)
    out = decode_payloads(pack_media(docs)).collect()
    assert len(out) == 50
    for r in out:
        w, h = media_dims(r.doc_id)
        assert (r.width, r.height, r.format) == (w, h, "ppm")
        assert r.n_bytes > w * h * 3  # header + pixels
    # text bytes are not a PPM: parse must refuse, not fabricate
    bad = decode_payloads(pack_multimodal(docs.limit(5))).collect()
    assert all(r.format is None and r.width is None for r in bad)


def test_multimodal_resize_resamples_pixels():
    """Nearest-neighbor resample, checked against a hand-computed 2x2:
    upscaling 1x2 -> 2x2 must replicate the correct source pixels."""
    from aprsdb_spark.operators.multimodal import ppm_decode, ppm_encode, resize_ppm

    src = ppm_encode(2, 1, bytes([255, 0, 0, 0, 255, 0]))  # red, green
    out = resize_ppm(src, 2, 2)
    w, h, off = ppm_decode(out)
    assert (w, h) == (2, 2)
    px = out[off:]
    # both rows map to source row 0: red green / red green
    assert px == bytes([255, 0, 0, 0, 255, 0] * 2)
    assert resize_ppm(b"not a ppm", 2, 2) is None


def test_multimodal_video_stream_roundtrip():
    """pack_video's stream splits back into exactly its frames, and the
    sampler's evenly-spaced picks are real frames from the stream."""
    from aprsdb_spark.operators.multimodal import (
        media_dims,
        ppm_decode,
        split_ppm_stream,
    )

    # build the same stream pack_video builds, driver-side
    from aprsdb_spark.operators.multimodal import VIDEO_FRAMES, _tile, ppm_encode

    doc_id, text = 7, "hello world tokens"
    w, h = media_dims(doc_id)
    stream = b"".join(
        ppm_encode(w, h, _tile(text.encode(), w * h * 3, shift=k))
        for k in range(VIDEO_FRAMES)
    )
    frames = split_ppm_stream(stream)
    assert len(frames) == VIDEO_FRAMES
    assert all(ppm_decode(f)[:2] == (w, h) for f in frames)
    assert b"".join(frames) == stream


def test_lsh_search_top1_and_pruning(spark):
    """LSH ANN: the query's own bucket is always probed, so top-1 is the
    query itself (score 1.0); every returned row's bucket is within the
    Hamming probe radius of the query's bucket."""
    from aprsdb_spark.operators.similarity import lsh_probe_buckets, lsh_search
    from aprsdb_spark.tables import load

    emb = load(spark, SF001).embeddings
    out = lsh_search(emb, query_id=0, k=10, n_planes=8, radius=2).collect()
    assert out[0].vec_id == 0 and out[0].score == 1.0
    qbucket = next(r.bucket for r in out if r.vec_id == 0)
    probe = set(lsh_probe_buckets(qbucket, 8, 2))
    assert all(r.bucket in probe for r in out)
    assert [r.score for r in out] == sorted((r.score for r in out), reverse=True)
    # probe set size: 1 + C(8,1) + C(8,2) = 37 of 256 buckets
    assert len(probe) == 37


def test_dedup_embed_keeper_invariants(spark):
    """Every non-keeper points at a smaller keeper and has >=1 neighbor;
    keepers point at themselves."""
    from aprsdb_spark.registry import QUERIES, load_all

    load_all()
    rows = QUERIES["j_dedup_embed"](spark, SF001).collect()
    assert len(rows) == 500
    for r in rows:
        assert r.keep_id <= r.vec_id
        assert r.is_keeper == (r.keep_id == r.vec_id)
        if not r.is_keeper:
            assert r.n_near >= 1
    assert any(not r.is_keeper for r in rows)  # τ=0.3 yields real dup groups


def test_kmeans_objective_improves(spark):
    """Lloyd iterations (pure DataFrame ops) must not decrease the mean
    best-dot objective; trained centroids beat the seed rows."""
    from aprsdb_spark.operators.similarity import kmeans_objective, kmeans_train
    from aprsdb_spark.tables import load

    emb = load(spark, SF001).embeddings
    seed = kmeans_train(emb, k=8, iters=0)
    trained = kmeans_train(emb, k=8, iters=2)
    o0 = kmeans_objective(emb, seed)
    o2 = kmeans_objective(emb, trained)
    assert o2 >= o0 - 1e-9, (o0, o2)
    assert o2 > o0 + 0.01  # random-normal data: real movement expected


def test_multimodal_stage_invariants(spark):
    """Frame sampling fans out exactly n_frames rows per doc with
    bounded frame size; extracted features are unit-norm."""
    from aprsdb_spark.operators.multimodal import (
        extract_features,
        pack_multimodal,
        sample_frames,
    )
    from aprsdb_spark.tables import load

    from aprsdb_spark.operators.multimodal import pack_video, ppm_decode

    docs = load(spark, SF001).documents
    frames = sample_frames(pack_video(docs), n_frames=4).collect()
    assert len(frames) == 4 * 500
    assert all(ppm_decode(r.frame) is not None for r in frames)  # real frames
    per_doc = {}
    for r in frames:
        per_doc.setdefault(r.doc_id, []).append(r.frame_idx)
    assert all(sorted(v) == [0, 1, 2, 3] for v in per_doc.values())

    mm = pack_multimodal(docs)
    feats = extract_features(mm).collect()
    assert len(feats) == 500
    for r in feats[:50]:
        assert len(r.features) == 16
        assert abs(sum(x * x for x in r.features) - 1.0) < 1e-9


def test_hashed_jaccard_equals_string_jaccard(spark):
    """The hashed-long shingle arrays used by j_dedup_ngram and the LSH
    verify stage must produce the same Jaccard as string shingles
    (collision probability ~2^-64 per pair; seeded random docs)."""
    import random

    from aprsdb_spark.operators.dedup import shingles_col

    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(30)]
    docs = [(i, " ".join(rng.choice(vocab) for _ in range(rng.randint(3, 40))))
            for i in range(40)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    s_str = shingles_col("text")
    s_hash = F.transform(s_str, lambda x: F.xxhash64(x))

    def pairs(s):
        sh = df.select("doc_id", s.alias("s"))
        a, b = sh.alias("a"), sh.alias("b")
        jac = F.size(F.array_intersect("a.s", "b.s")) / F.size(F.array_union("a.s", "b.s"))
        return sorted(
            tuple(r)
            for r in a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
            .select(F.col("a.doc_id"), F.col("b.doc_id"), jac.alias("j"))
            .where(F.col("j") > 0)
            .collect()
        )

    assert pairs(s_str) == pairs(s_hash)


def test_shingles_short_doc_edges(spark):
    """The slice+zip_with shingle rewrite must keep the short-doc
    semantics: < k tokens -> empty array (never negative-length slices),
    exactly k tokens -> one shingle, duplicates collapsed."""
    from aprsdb_spark.operators.dedup import shingles_col

    rows = spark.createDataFrame(
        [(0, ""), (1, "a"), (2, "a b"), (3, "a b c"), (4, "a b c d"),
         (5, "a b c a b c a b c")],
        "doc_id long, text string",
    ).select("doc_id", shingles_col("text").alias("s")).collect()
    got = {r.doc_id: sorted(r.s) for r in rows}
    assert got[0] == []  # split("") -> [""], 1 token < k -> no shingles
    assert got[1] == []
    assert got[2] == []
    assert got[3] == ["a b c"]
    assert got[4] == ["a b c", "b c d"]
    assert got[5] == sorted({"a b c", "b c a", "c a b"})


def test_fixture_text_is_printable_ascii(spark):
    """Precondition the byte-level media oracles rely on: utf-8 text
    bytes == SQL string chars only when every char is printable ASCII.
    If a future fixture breaks this, the oracles must switch to
    blob-based reconstruction — fail loudly here, not with a silent
    hash mismatch."""
    from aprsdb_spark.tables import load

    docs = load(spark, SF001).documents
    bad = docs.where(~F.col("text").rlike("^[ -~]+$")).count()
    assert bad == 0


def test_portable_hash_matches_python_reference(spark):
    """The portability contract under every r6 oracle: Spark's
    conv/substr lowering of portable_hash64/32/bucket must equal the
    direct Python interpretation of the md5 digest — signed two's
    complement for the 64-bit pack, unsigned words for hash32/bucket —
    for arbitrary token-ish strings including unicode."""
    import hashlib

    from aprsdb_spark.operators.dedup import (
        portable_bucket,
        portable_hash32,
        portable_hash64,
    )

    strs = [f"tok{i}" for i in range(50)] + [
        "", " ", "a b", "héllo", "日本語", "x" * 300, "0", "\t", "p6\n",
    ]
    df = spark.createDataFrame([(s,) for s in strs], "s string")
    got = {
        r.s: (r.h64, r.h32, r.b)
        for r in df.select(
            "s",
            portable_hash64(F.col("s")).alias("h64"),
            portable_hash32(F.col("s")).alias("h32"),
            portable_bucket(F.col("s"), 1024).alias("b"),
        ).collect()
    }
    for s in strs:
        d = hashlib.md5(s.encode("utf-8")).hexdigest()
        u64 = int(d[:16], 16)
        h64 = u64 - (1 << 64) if u64 >= (1 << 63) else u64
        h32 = int(d[:8], 16)
        b = int(d[8:16], 16) % 1024
        assert got[s] == (h64, h32, b), (s, got[s], (h64, h32, b))


@pytest.mark.parametrize(
    "exc", [OSError, pa.ArrowInvalid], ids=["OSError", "ArrowInvalid"]
)
def test_query_vector_and_panel_fall_back_to_spark_on_unreadable_path(
    spark, monkeypatch, exc
):
    """ADVICE r16: the driver-side pyarrow reads in query_vector /
    query_panel must degrade to the pre-r16 bounded Spark job on a
    non-local sf_dir (pyarrow only reads local paths) — and the fallback
    must return value-identical tuples. Both errors pyarrow raises for
    an unreadable path are covered: OSError, and ArrowInvalid (a
    ValueError) for a non-local URI."""
    from tests.conftest import SF_DIR

    from aprsdb_spark.operators import similarity as sim

    sim.query_vector.cache_clear()
    sim.query_panel.cache_clear()
    via_arrow_vec = sim.query_vector(SF_DIR)
    via_arrow_panel = sim.query_panel(SF_DIR, 16, with_label=True)
    sim.query_vector.cache_clear()
    sim.query_panel.cache_clear()

    import pyarrow.parquet as pq

    def _boom(*a, **k):
        raise exc("simulated remote sf_dir URI")

    monkeypatch.setattr(pq, "read_table", _boom)
    assert sim.query_vector(SF_DIR) == via_arrow_vec
    assert sim.query_panel(SF_DIR, 16, with_label=True) == via_arrow_panel
    sim.query_vector.cache_clear()
    sim.query_panel.cache_clear()
