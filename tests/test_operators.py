"""Unit tests: dedup, similarity, multimodal plumbing, metrics,
doc-context, lineage resume, and the later operator waves."""

from __future__ import annotations

import math
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from spanmarkerner_spark.config import KG_LABELS, SpanMarkerConfig


# ---------------- dedup ----------------

@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "the quick brown fox jumps over the lazy dog"),          # exact dup of 0
        (2, "The quick  brown fox jumps over the lazy dog"),         # ws/case dup of 0
        (3, "the quick brown fox jumps over the lazy cat today"),    # near dup
        (4, "completely different text about spark engines at scale"),
        (5, "another unrelated document mentioning nothing similar"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_duplicates(docs):
    from spanmarkerner_spark.operators.dedup import exact_duplicates

    got = {r["doc_id"]: (r["canonical_id"], r["dup_count"])
           for r in exact_duplicates(docs).collect()}
    assert got[0] == (0, 3) and got[1] == (0, 3) and got[2] == (0, 3)
    assert got[4] == (4, 1)


def test_minhash_lsh_finds_near_dups(docs):
    from spanmarkerner_spark.operators.dedup import minhash_lsh_pairs

    pairs = {(r["id_a"], r["id_b"]) for r in
             minhash_lsh_pairs(docs, jaccard_threshold=0.5).collect()}
    assert (0, 1) in pairs and (0, 2) in pairs
    assert not any(4 in p or 5 in p for p in pairs)


def test_ngram_jaccard_pairs(docs):
    from spanmarkerner_spark.operators.dedup import ngram_jaccard_pairs

    rows = {(r["id_a"], r["id_b"]): r["jaccard"]
            for r in ngram_jaccard_pairs(docs, threshold=0.3).collect()}
    assert rows[(0, 1)] == 1.0
    assert (0, 3) in rows and rows[(0, 3)] < 1.0


def test_simhash_similarity(spark, docs):
    from spanmarkerner_spark.operators.dedup import simhash64

    sigs = {r["doc_id"]: r["sig"] for r in
            docs.select("doc_id", simhash64(F.col("text")).alias("sig")).collect()}
    assert sigs[0] == sigs[1] == sigs[2]
    ham = bin(sigs[0] ^ sigs[3]).count("1")
    ham_far = bin(sigs[0] ^ sigs[4]).count("1")
    assert ham < ham_far


# ---------------- similarity search ----------------

def test_brute_force_topk_matches_numpy(spark):
    import numpy as np
    from spanmarkerner_spark.operators.similarity import brute_force_topk

    rng = np.random.RandomState(3)
    corpus = rng.randn(50, 8).astype(float)
    cdf = spark.createDataFrame(
        [(i, corpus[i].tolist()) for i in range(50)],
        "vec_id long, embedding array<double>",
    )
    qdf = spark.createDataFrame(
        [(0, corpus[7].tolist()), (1, corpus[21].tolist())],
        "query_id long, embedding array<double>",
    )
    got = brute_force_topk(cdf, qdf, k=3).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r["query_id"], []).append((r["rank"], r["neighbor_id"], r["cosine"]))
    # numpy oracle
    def cos(a, b):
        return float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))
    for qid, qv in [(0, corpus[7]), (1, corpus[21])]:
        sims = sorted(
            ((round(cos(qv, corpus[i]), 6), -i) for i in range(50)), reverse=True
        )[:3]
        expect = [(-i, s) for s, i in sims]
        got_q = [(nid, c) for _, nid, c in sorted(by_q[qid])]
        assert got_q == expect
        assert got_q[0][0] in (7, 21)  # self is nearest
        assert math.isclose(got_q[0][1], 1.0, abs_tol=1e-5)


# ---------------- multimodal plumbing ----------------

def test_multimodal_features_and_frames(spark):
    from spanmarkerner_spark.operators.multimodal import (
        extract_features,
        frame_sample,
        synth_media,
    )

    media = synth_media(spark, 30)
    feats = extract_features(media, dim=8).collect()
    assert len(feats) == 30
    assert all(len(r["feature"]) == 8 for r in feats)
    # deterministic across runs
    feats2 = extract_features(media, dim=8).collect()
    assert {(r["media_id"], tuple(r["feature"])) for r in feats} == {
        (r["media_id"], tuple(r["feature"])) for r in feats2
    }
    frames = frame_sample(media, every_ms=500)
    one = frames.filter(F.col("media_id") == 2).count()
    dur = media.filter(F.col("media_id") == 2).collect()[0]["duration_ms"]
    assert one == dur // 500 + 1


def test_frame_features_join_fanout(spark):
    """Per-frame decode: every sampled frame of every video gets a
    feature row; features are deterministic functions of
    (payload, ts) so two runs agree exactly."""
    from spanmarkerner_spark.operators.multimodal import (
        frame_features,
        frame_sample,
        synth_media,
    )

    media = synth_media(spark, 30)
    feats = frame_features(media, every_ms=500)
    n_frames = frame_sample(media, every_ms=500).count()
    rows = feats.collect()
    assert len(rows) == n_frames
    assert all(0 <= r["f0"] <= 255 for r in rows)
    again = {(r["media_id"], r["frame_ts_ms"]): r["f0"] for r in feats.collect()}
    assert {(r["media_id"], r["frame_ts_ms"]): r["f0"] for r in rows} == again


# ---------------- metrics ----------------

def test_seqeval_f1(spark):
    from spanmarkerner_spark.operators.metrics import seqeval_f1

    gold = spark.createDataFrame(
        [(1, "PER", 0, 2), (1, "LOC", 3, 4), (2, "ORG", 0, 1)],
        "sentence_key int, label string, word_start int, word_end int",
    )
    pred = spark.createDataFrame(
        [(1, "PER", 0, 2), (1, "LOC", 3, 5), (2, "ORG", 0, 1), (2, "PER", 2, 3)],
        "sentence_key int, label string, word_start int, word_end int",
    )
    per_label, overall = seqeval_f1(gold, pred)
    o = overall.collect()[0]
    assert o["tp"] == 2 and o["fp"] == 2 and o["fn"] == 1
    assert math.isclose(o["precision"], 0.5)
    assert math.isclose(o["recall"], 2 / 3, rel_tol=1e-5)
    pl = {r["label"]: r for r in per_label.collect()}
    assert pl["PER"]["tp"] == 1 and pl["PER"]["fp"] == 1 and pl["PER"]["fn"] == 0


# ---------------- doc-context (W1) ----------------

def test_context_merge_budget():
    from spanmarkerner_spark.operators.context import context_merge

    own = [1, 10, 11, 2]
    prevs = [[1, 20, 21, 2], [1, 30, 2]]
    nexts = [[1, 40, 2], [1, 50, 51, 52, 2]]
    merged, shift = context_merge(own, prevs, nexts, budget=10)
    # next first (40), then prev (20,21), then next (50,51,52) fits: 4+1+2+3=10
    assert merged == [1, 20, 21, 10, 11, 40, 50, 51, 52, 2]
    assert shift == 2


# ---------------- lineage / resume ----------------

def test_lineage_resume(spark):
    from spanmarkerner_spark.plans import lineage as L

    tmp = tempfile.mkdtemp(prefix="lineage_test_")
    try:
        df = spark.createDataFrame(
            [(f"u{i}", i) for i in range(20)], "url string, x int"
        )
        L.write_stage(df, tmp, "stage1", "run1", n_buckets=4)
        keyed = L.with_partition_key(df, n_buckets=4)
        pend = L.pending_partitions(keyed, spark, tmp, "stage1")
        assert pend.count() == 0  # everything processed
        pend2 = L.pending_partitions(keyed, spark, tmp, "stage2")
        assert pend2.count() == 20  # nothing processed for stage2
        back = L.read_stage(spark, tmp, "stage1")
        assert back.count() == 20
        lin = L.read_lineage(spark, tmp)
        assert lin.filter("stage = 'stage1'").count() == 4
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


# ---------------- segmentation / operator waves ----------------

def test_segment_blank_sentence_offsets(spark):
    """Blank segments are dropped from the output but still contribute
    len+3 to following sentences' char offsets (ADVICE round 1: the
    offset window must run before the blank filter)."""
    from spanmarkerner_spark.functions.text import segment_sentences

    text = "alpha beta .  . gamma delta"
    df = spark.createDataFrame([("u1", text)], ["url", "text"])
    rows = {r.sentence: r.char_offset for r in segment_sentences(df).collect()}
    assert rows == {"alpha beta": 0, "gamma delta": text.find("gamma")}


def test_minhash_xxhash_production_path(docs, spark):
    """The xxhash production signature must find the same confirmed
    near-dups as the md5 oracle path on the fixture, and high recall
    vs the exact-verified n-gram Jaccard pairs on real documents
    (LSH is probabilistic — band collisions differ per hash family)."""
    from spanmarkerner_spark.operators.dedup import (
        minhash_lsh_pairs,
        ngram_jaccard_pairs,
    )

    fast = {(r["id_a"], r["id_b"]) for r in
            minhash_lsh_pairs(docs, jaccard_threshold=0.5,
                              hash_fn="xxhash").collect()}
    assert (0, 1) in fast and (0, 2) in fast
    assert not any(4 in p or 5 in p for p in fast)

    real = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    exact = {(r["id_a"], r["id_b"]) for r in
             ngram_jaccard_pairs(real, threshold=0.5).collect()}
    found = {(r["id_a"], r["id_b"]) for r in
             minhash_lsh_pairs(real, jaccard_threshold=0.5, max_bucket=50,
                               hash_fn="xxhash").collect()}
    assert found <= exact                      # verification keeps it exact
    if exact:
        assert len(found & exact) / len(exact) >= 0.85


def test_connected_components_reliable_checkpoint(spark, session_checkpoint_dir):
    """Under a session checkpoint dir (spark.checkpoint.dir in a
    deployment) cc's cuts are reliable checkpoints written there, and
    the components are the same as with local cuts."""
    import os

    from spanmarkerner_spark.operators.components import connected_components

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (12, 10), (20, 20)],
        ["src", "dst"],
    )
    exp = {(1, 1), (2, 1), (3, 1), (4, 1), (10, 10), (11, 10), (12, 10),
           (20, 20)}
    got = {(r.node, r.component) for r in connected_components(edges).collect()}
    assert got == exp
    ckpt = session_checkpoint_dir.removeprefix("file:")
    assert any(files for _, _, files in os.walk(ckpt))


def test_pipeline_single_shuffle(spark):
    """The mentions plan is exactly one Exchange and one Sort — the
    segmentation window rides the pages repartition, and NER runs as
    one Python UDF on that same partitioning."""
    from spanmarkerner_spark import schemas as S
    from spanmarkerner_spark.datagen import gen_pages
    from spanmarkerner_spark.pipeline import run_pipeline

    pages = spark.createDataFrame(gen_pages(10, seed=1), schema=S.PAGES)
    plan = run_pipeline(pages, num_partitions=4)[
        "mentions"
    ]._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1
    # NER is one Python UDF: one worker per task, not one per stage
    assert plan.count("MapInPandas") == 1
    # two partition-local sorts ride that one exchange: the url-dedupe
    # window (pages level) and the segmentation window (whose order
    # doubles as the document-context window's order)
    assert plan.count("Sort ") == 2


def test_metrics_sink_roundtrip(spark, tmp_path):
    """S6: a run's metrics dict lands in the _metrics table and reads
    back typed."""
    from spanmarkerner_spark.plans.lineage import read_metrics, write_metrics

    base = str(tmp_path / "kg")
    write_metrics(
        spark, base, "spread", "run1",
        {"physical_samples": 3, "logical_sentences": 3},
    )
    got = {
        (r["stage"], r["metric"]): r["value"]
        for r in read_metrics(spark, base).collect()
    }
    assert got[("spread", "physical_samples")] == 3.0
    assert got[("spread", "logical_sentences")] == 3.0
    # append semantics: a second run adds rows, never overwrites
    write_metrics(spark, base, "spread", "run2", {"physical_samples": 5})
    assert read_metrics(spark, base).count() == 3


def test_ner_empty_token_keeps_word_indices(spark):
    """P6 (spacy_integration.py:100): an empty '' token (the
    reference's scrubbed whitespace token) still occupies its index,
    so NER word indices keep referring to the original sequence."""
    from spanmarkerner_spark import schemas as S
    from spanmarkerner_spark.datagen import gazetteer
    from spanmarkerner_spark.operators.ner import ner_mentions

    cfg = SpanMarkerConfig(labels=KG_LABELS)
    gaz = dict(gazetteer(cfg))
    ent = next(iter(gaz))  # a single- or multi-word gazetteer surface
    words = ["filler", "", *ent.split(" "), "tail"]
    sents = spark.createDataFrame(
        [("u1", 0, " ".join(words), words, 0)], schema=S.SENTENCES
    )
    ms = ner_mentions(sents, cfg, gaz).collect()
    spans = {(m["span"], m["word_start_index"], m["word_end_index"]) for m in ms}
    # the entity starts at index 2: the '' token still occupies index 1
    assert (ent, 2, 2 + len(ent.split(" "))) in spans


def test_asof_join_semantics(spark):
    """asof_join: latest right row with ts <= left ts per key; equal
    ts matches; ties among right rows at one ts -> greatest tiebreak;
    no prior right row -> nulls."""
    import datetime as dt

    from spanmarkerner_spark.operators.asof import asof_join

    T = dt.datetime
    left = spark.createDataFrame(
        [(1, T(2024, 1, 1, 10, 0), 100), (1, T(2024, 1, 1, 11, 0), 101),
         (2, T(2024, 1, 1, 9, 0), 200)],
        "user_id long, ts timestamp, event_id long",
    )
    right = spark.createDataFrame(
        [(1, T(2024, 1, 1, 9, 30), 7, 1.5),
         (1, T(2024, 1, 1, 10, 0), 8, 2.5),
         (1, T(2024, 1, 1, 10, 0), 6, 9.9),   # same ts, smaller tiebreak
         (1, T(2024, 1, 1, 10, 30), 9, 3.5)],
        "user_id long, ts timestamp, p_id long, value double",
    )
    out = {
        r["event_id"]: (r["asof_p_id"], r["asof_value"])
        for r in asof_join(left, right, "user_id", "ts", ["p_id", "value"]).collect()
    }
    assert out[100] == (8, 2.5)     # equal-ts match, max tiebreak wins
    assert out[101] == (9, 3.5)     # latest prior
    assert out[200] == (None, None)  # nothing precedes


def test_asof_join_null_payload_and_null_ts(spark):
    """ADVICE r2: a matched right row's legit NULL payload must stay
    NULL (no stitching from older rows); right rows with NULL ts never
    match."""
    import datetime as dt

    from spanmarkerner_spark.operators.asof import asof_join

    T = dt.datetime
    left = spark.createDataFrame(
        [(1, T(2024, 1, 1, 11, 0), 100), (3, T(2024, 1, 1, 11, 0), 300)],
        "user_id long, ts timestamp, event_id long",
    )
    right = spark.createDataFrame(
        [(1, T(2024, 1, 1, 9, 0), 7, 1.5),
         (1, T(2024, 1, 1, 10, 0), 8, None),  # matched row has NULL value
         (3, None, 9, 9.9)],                  # NULL ts: never matches
        "user_id long, ts timestamp, p_id long, value double",
    )
    out = {
        r["event_id"]: (r["asof_p_id"], r["asof_value"])
        for r in asof_join(left, right, "user_id", "ts", ["p_id", "value"]).collect()
    }
    assert out[100] == (8, None)     # NOT (8, 1.5)
    assert out[300] == (None, None)  # NULL-ts right row is invisible


def test_bucketized_range_join_matches_naive(spark):
    """bucketized_range_join == the naive BETWEEN join, including
    intervals spanning multiple buckets and boundary-inclusive ends."""
    import datetime as dt

    from spanmarkerner_spark.operators.ranges import bucketized_range_join

    T = dt.datetime
    points = spark.createDataFrame(
        [(1, T(2024, 1, 1, 10, 0), 1), (1, T(2024, 1, 1, 12, 0), 2),
         (1, T(2024, 1, 1, 9, 59), 3), (2, T(2024, 1, 1, 10, 0), 4)],
        "user_id long, ts timestamp, pid long",
    )
    intervals = spark.createDataFrame(
        [(1, T(2024, 1, 1, 10, 0), T(2024, 1, 1, 13, 0), 10),   # 3h: spans buckets
         (2, T(2024, 1, 1, 10, 0), T(2024, 1, 1, 10, 0), 20)],  # zero-width
        "user_id long, start_ts timestamp, end_ts timestamp, iid long",
    )
    fast = {(r["pid"], r["iid"]) for r in
            bucketized_range_join(points, intervals, "user_id").collect()}
    naive = {(r["pid"], r["iid"]) for r in
             points.join(intervals, "user_id")
             .filter("ts >= start_ts AND ts <= end_ts").collect()}
    assert fast == naive == {(1, 10), (2, 10), (4, 20)}


def test_simhash_near_dup_pairs(docs):
    """Exact/ws-case dups at hamming 0; unrelated docs absent."""
    from spanmarkerner_spark.operators.dedup import simhash_near_dup_pairs

    got = {(r["id_a"], r["id_b"]): r["hamming"]
           for r in simhash_near_dup_pairs(docs, max_hamming=3).collect()}
    assert got[(0, 1)] == 0 and got[(0, 2)] == 0 and got[(1, 2)] == 0
    assert not any(4 in p or 5 in p for p in got)


def test_simhash_drops_all_whitespace_flavors(spark):
    """Tab/newline-only docs (which F.trim does NOT strip) must be
    filtered like space-only ones — not emitted as hamming-0 pairs."""
    from spanmarkerner_spark.operators.dedup import simhash_near_dup_pairs

    rows = [(1, " \t "), (2, "\n\n"), (3, "   "), (4, "real text here")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    assert simhash_near_dup_pairs(df, max_hamming=3).count() == 0


def test_ensure_min_parallelism_noop_when_wide(spark):
    """VERDICT r3 #8: on an already-wide input the helper must return
    the SAME plan (no repartition Exchange added) — at 100 TB every
    scan is well-split and the helper must never add a shuffle; on an
    under-split input it widens to defaultParallelism."""
    from spanmarkerner_spark.session import ensure_min_parallelism

    wide = spark.range(0, 10_000, 1, spark.sparkContext.defaultParallelism)
    out = ensure_min_parallelism(wide)
    assert out is wide  # literally untouched, not just equal-planned

    narrow = spark.range(0, 10_000, 1, 1)
    widened = ensure_min_parallelism(narrow)
    assert widened is not narrow
    assert (
        widened.rdd.getNumPartitions()
        == spark.sparkContext.defaultParallelism
    )


def test_stream_rate_limit_bounds_batches(spark, tmp_path):
    """Backpressure evidence: maxFilesPerTrigger caps each micro-batch's
    input — 6 files at max_files=2 must process in exactly 3 epochs,
    each seeing <= 2 files' rows, and the union equals the input."""
    import os

    rows_per_file = 5
    src = str(tmp_path / "docs")
    os.makedirs(src)
    for i in range(6):
        spark.createDataFrame(
            [(i * rows_per_file + j, f"doc {i}-{j} " + "w " * 12)
             for j in range(rows_per_file)],
            "doc_id long, text string",
        ).coalesce(1).write.mode("append").parquet(src)
    # one part-file per append is not guaranteed; count actual files
    n_files = len([f for f in os.listdir(src) if f.endswith(".parquet")])
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 2)
        .parquet(src)
    )
    seen: list[set] = []

    def sink(df, epoch_id):
        ids = {r["doc_id"] for r in df.select("doc_id").collect()}
        if ids:
            seen.append(ids)

    q = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    assert len(seen) == (n_files + 1) // 2
    assert all(len(ids) <= 2 * rows_per_file for ids in seen)
    got = set().union(*seen)
    assert got == set(range(6 * rows_per_file))
    # batches are disjoint (no file processed twice)
    assert sum(len(s) for s in seen) == len(got)


def test_repeated_window_stats(spark):
    """ExactSubstr-grain repetition: a shared 8-word span between two
    docs marks exactly its window positions repeated in both; a doc
    repeating its own phrase twice is self-repeated; a unique doc has
    n_repeated=0; docs under k words are absent."""
    from spanmarkerner_spark.operators.dedup import repeated_window_stats

    shared = "one two three four five six seven eight"
    rows = [
        (1, f"{shared} alpha beta gamma delta"),
        (2, f"prefix words here {shared}"),
        (3, f"{shared} middle filler tokens {shared}"),
        (4, "totally unique text with nine different words here ok"),
        (5, "short doc"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in repeated_window_stats(df, k=8).collect()}
    assert set(got) == {1, 2, 3, 4}
    # doc 1: 12 words -> 5 windows; window 0 is `shared`, present in
    # docs 2 and 3 -> repeated
    assert got[1]["n_windows"] == 5 and got[1]["n_repeated"] >= 1
    assert got[2]["n_repeated"] >= 1
    # doc 3 contains `shared` twice -> both positions repeated even
    # without the other docs
    only3 = {r["doc_id"]: r for r in repeated_window_stats(
        df.filter("doc_id = 3"), k=8).collect()}
    assert only3[3]["n_repeated"] >= 2
    assert got[4]["n_repeated"] == 0 and got[4]["repeated_ratio"] == 0.0
    assert abs(got[1]["repeated_ratio"] - got[1]["n_repeated"] / 5) < 1e-9


def test_semantic_dedup_catches_sign_boundary_pairs(spark):
    """SemDeDup's advantage over a sign-bucket LSH: a near-identical
    pair whose first dimension straddles 0 lands in different sign
    buckets but in the same learned k-means cell, where
    semantic_dedup_pairs verifies it."""
    import numpy as np

    from spanmarkerner_spark.operators.dedup import semantic_dedup_pairs

    rng = np.random.RandomState(23)
    base = rng.randn(30, 16).astype(float)
    v = base[0].copy(); v[0] = 0.005
    w = v.copy(); w[0] = -0.005          # near-dup, sign of dim 0 flips
    rows = [(100, v.tolist()), (101, w.tolist())] + [
        (i, (base[i] * 3).tolist()) for i in range(2, 30)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    sem = {(r["id_a"], r["id_b"])
           for r in semantic_dedup_pairs(
               df, dim=16, k_cells=4, iters=2, threshold=0.95).collect()}
    assert (100, 101) in sem          # same learned cell, verified
    # determinism across parallelism (integer chain end-to-end)
    sem8 = {(r["id_a"], r["id_b"])
            for r in semantic_dedup_pairs(
                df.repartition(8), dim=16, k_cells=4, iters=2,
                threshold=0.95).collect()}
    assert sem8 == sem


def test_triangle_count_hand_graph(spark):
    """Two triangles sharing edge (2,3) plus a pendant: counts must be
    per-corner exact, pendant absent, orientation double-count-free."""
    from spanmarkerner_spark.operators.graph import triangle_count

    und = [(1, 2), (2, 3), (1, 3), (2, 4), (3, 4), (1, 5)]
    # feed BOTH directions (cooccurrence_edges contract)
    rows = und + [(b, a) for a, b in und]
    edges = spark.createDataFrame(rows, "src long, dst long")
    got = {r["node"]: r["triangles"] for r in triangle_count(edges).collect()}
    assert got == {1: 1, 2: 2, 3: 2, 4: 1}, got


def test_triangle_count_complete_graph(spark):
    """K5: every node sits in C(4,2)=6 triangles — the worst-case
    density the degree orientation must still count exactly once."""
    from spanmarkerner_spark.operators.graph import triangle_count

    rows = [(a, b) for a in range(5) for b in range(5) if a != b]
    edges = spark.createDataFrame(rows, "src long, dst long")
    got = {r["node"]: r["triangles"] for r in triangle_count(edges).collect()}
    assert got == {n: 6 for n in range(5)}, got


def test_near_dup_keep_transitive_survivor(spark):
    """A~B and B~C but A,C two words apart: the component must merge
    all three and keep exactly ONE survivor (longest text, then
    smallest id); the unrelated doc must not appear at all."""
    from spanmarkerner_spark.operators.dedup import (
        near_dup_keep,
        simhash_near_dup_pairs,
    )

    # substitution words searched offline for simhash hamming <= 2
    # (a 1-of-41 word swap flips ~3.7 bits in expectation, so an
    # arbitrary word is FLAKY against the <= 3 threshold)
    base = [f"w{i}" for i in range(41)]
    a = " ".join(base)
    b_words = list(base)
    b_words[7] = "xc0"  # 1 char longer than "w7" -> b,c outrank a
    b = " ".join(b_words)
    c_words = list(b_words)
    c_words[29] = "yc0"
    c = " ".join(c_words)
    docs = spark.createDataFrame(
        [(1, a), (2, b), (3, c), (9, "totally different short text here")],
        "doc_id long, text string",
    )
    pairs = {
        (r["id_a"], r["id_b"])
        for r in simhash_near_dup_pairs(docs).collect()
    }
    assert (1, 2) in pairs and (2, 3) in pairs, pairs

    rows = near_dup_keep(docs).collect()
    got = {r["doc_id"]: (r["cluster"], r["cluster_size"], r["keep"]) for r in rows}
    assert set(got) >= {1, 2, 3} and 9 not in got, got
    assert {got[i][0] for i in (1, 2, 3)} == {1}  # one merged cluster
    assert [i for i in got if got[i][2]] == [2]  # longest survives
    assert got[1][1] == len(got)  # cluster_size == member count


def test_temperature_sample_flattens_domains(spark):
    """90/10 skewed domains: sqrt reweighting must boost the small
    domain's keep rate above the large one's, rates must match the
    exact integer formula, and every kept row carries its domain's
    rate."""
    import math

    from spanmarkerner_spark.operators.sampling import temperature_sample

    rows = [(i, "big") for i in range(90)] + [
        (100 + i, "small") for i in range(10)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, source string")
    out = temperature_sample(
        docs, group_col="source", budget_ppm=500_000
    ).collect()

    sn = {n: int(round(math.sqrt(n) * 1024)) for n in (90, 10)}
    s_tot, n_tot = sn[90] + sn[10], 100
    exp = {
        "big": min(10**6, (500_000 * n_tot * sn[90]) // (s_tot * 90)),
        "small": min(10**6, (500_000 * n_tot * sn[10]) // (s_tot * 10)),
    }
    assert exp["small"] > exp["big"]
    got_rates = {r["source"]: r["rate_ppm"] for r in out}
    assert got_rates == exp, (got_rates, exp)
    # keep decision is per-doc deterministic: rerun is identical
    again = temperature_sample(docs, group_col="source").collect()
    assert sorted(r["doc_id"] for r in again) == sorted(
        r["doc_id"] for r in out
    )


def test_pmi_pairs_hand_values(spark):
    """4-doc corpus: (a,b) always co-occur, c is background — scaled
    PMI must equal the exact integer formula and rank (a,b) first."""
    from spanmarkerner_spark.operators.corpus_stats import pmi_pairs

    docs = spark.createDataFrame(
        [
            (1, "a b c x1 y1"),
            (2, "a b c x2 y2"),
            (3, "a b c x3 y3"),
            (4, "c z1 z2 z3 z4"),
        ],
        "doc_id long, text string",
    )
    out = {
        (r["w1"], r["w2"]): (r["cooc"], r["df1"], r["df2"], r["pmi_scaled"])
        for r in pmi_pairs(docs, vocab_k=3, min_cooc=2).collect()
    }
    # vocab (df DESC, w ASC): c(4), a(3), b(3)
    assert set(out) == {("a", "b"), ("a", "c"), ("b", "c")}, out
    assert out[("a", "b")] == (3, 3, 3, (3 * 4 * 10**6) // 9)
    assert out[("a", "c")] == (3, 3, 4, (3 * 4 * 10**6) // 12)
    assert out[("a", "b")][3] > out[("a", "c")][3]


def test_sq_topk_self_nearest_and_integer_dists(spark):
    """SQ8 codes: self-distance is exactly 0, ranking follows the
    symmetric code-space L2, dists are exact integers."""
    from spanmarkerner_spark.operators.similarity import sq_topk

    rows = [
        (0, [0.0, 1.0]),
        (1, [0.1, 0.9]),
        (2, [1.0, 0.0]),
        (3, [0.9, 0.1]),
    ]
    cdf = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = sq_topk(cdf, k=4, n_queries=4).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r["query_id"], []).append(
            (r["rank"], r["neighbor_id"], r["dist"])
        )
    for q in range(4):
        ranked = sorted(by_q[q])
        assert ranked[0][1] == q and ranked[0][2] == 0  # self, dist 0
        assert all(isinstance(d, int) for _, _, d in ranked)
    # the near pair ranks before the far pair on both sides
    assert sorted(by_q[0])[1][1] == 1
    assert sorted(by_q[2])[1][1] == 3


def test_sq_topk_constant_dimension_is_safe(spark):
    """A dimension with zero corpus spread must map to code 0 (no
    divide-by-zero), leaving ranking to the informative dims."""
    from spanmarkerner_spark.operators.similarity import sq_topk

    rows = [(i, [0.5, i / 10.0]) for i in range(6)]
    cdf = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = sq_topk(cdf, k=2, n_queries=2).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r["query_id"], []).append((r["rank"], r["neighbor_id"]))
    assert sorted(by_q[0]) == [(1, 0), (2, 1)]
    assert sorted(by_q[1]) == [(1, 1), (2, 0)]  # dim-1 adjacency decides


def test_knn_graph_mutual_filters_asymmetric_edges(spark):
    """k=1: A and B are each other's nearest (mutual edge); C's
    nearest is B but B's nearest is A, so B-C must NOT appear —
    the hub-suppression property that distinguishes mutual kNN
    from plain kNN."""
    from spanmarkerner_spark.operators.similarity import knn_graph_mutual

    rows = [
        (10, [1.0, 0.02, 0.02, 0.02]),
        (11, [0.98, 0.05, 0.02, 0.02]),
        (12, [0.5, 0.86, 0.02, 0.02]),
    ]
    cdf = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    edges = [
        (r["id_a"], r["id_b"]) for r in knn_graph_mutual(cdf, k=1).collect()
    ]
    assert edges == [(10, 11)]


def test_knn_graph_mutual_one_row_per_edge(spark):
    """Every emitted edge is id_a < id_b exactly once, and with
    k >= n all in-bucket pairs are mutual."""
    from spanmarkerner_spark.operators.similarity import knn_graph_mutual

    rows = [(i, [1.0, 1.0, 1.0, float(i + 1)]) for i in range(4)]
    cdf = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = knn_graph_mutual(cdf, k=10).collect()
    pairs = [(r["id_a"], r["id_b"]) for r in out]
    assert len(pairs) == len(set(pairs)) == 6  # C(4,2)
    assert all(a < b for a, b in pairs)


# ---- round-5 fourth wave: alias prior / ppl buckets / neg samples ----


def test_alias_prior_counts_and_ranks(spark):
    from spanmarkerner_spark.operators.linking import alias_prior

    linked = spark.createDataFrame(
        [
            # "apple" links 3x to entity 1, 1x to entity 2
            ("Apple", 1), ("apple", 1), ("APPLE", 1), ("apple", 2),
            # "orange" links once; an unlinked mention is ignored
            ("Orange", 7), ("stray", None),
        ],
        "span string, entity_id long",
    )
    rows = {
        (r["surface"], r["entity_id"]): r
        for r in alias_prior(linked).collect()
    }
    assert set(rows) == {("apple", 1), ("apple", 2), ("orange", 7)}
    a1 = rows[("apple", 1)]
    assert (a1["n_links"], a1["n_surface"], a1["rank"]) == (3, 4, 1)
    assert a1["prior_ppm"] == 750000
    a2 = rows[("apple", 2)]
    assert (a2["n_links"], a2["prior_ppm"], a2["rank"]) == (1, 250000, 2)
    o = rows[("orange", 7)]
    assert (o["n_surface"], o["prior_ppm"], o["rank"]) == (1, 1000000, 1)


def test_alias_prior_rank_tie_break_is_entity_id(spark):
    from spanmarkerner_spark.operators.linking import alias_prior

    linked = spark.createDataFrame(
        [("x", 9), ("x", 3)], "span string, entity_id long"
    )
    rows = {r["entity_id"]: r["rank"] for r in alias_prior(linked).collect()}
    assert rows == {3: 1, 9: 2}  # equal counts -> lower entity_id first


def test_ppl_buckets_equal_frequency_and_order(spark):
    from spanmarkerner_spark.operators.corpus_stats import ppl_buckets

    # 6 docs, one language; fluency is driven by bigram frequency:
    # docs repeating the corpus-dominant bigram score highest.
    docs = spark.createDataFrame(
        [
            (1, "a b a b a b", "en"),
            (2, "a b a b", "en"),
            (3, "a b c d", "en"),
            (4, "c d e f", "en"),
            (5, "e f g h", "en"),
            (6, "g h i j", "en"),
        ],
        "doc_id long, text string, lang string",
    )
    out = {r["doc_id"]: r for r in ppl_buckets(docs).collect()}
    assert len(out) == 6
    buckets = [out[i]["bucket"] for i in range(1, 7)]
    from collections import Counter

    assert Counter(buckets) == {"head": 2, "middle": 2, "tail": 2}
    # ordering: bucket boundaries respect the fluency order
    fl = sorted(out.values(), key=lambda r: (-r["fluency_ppm"], r["doc_id"]))
    assert [r["bucket"] for r in fl] == [
        "head", "head", "middle", "middle", "tail", "tail",
    ]


def test_ppl_buckets_partitions_by_lang(spark):
    from spanmarkerner_spark.operators.corpus_stats import ppl_buckets

    docs = spark.createDataFrame(
        [
            (1, "a b a b", "en"),
            (2, "a b c a b", "en"),
            (3, "x y", "de"),
        ],
        "doc_id long, text string, lang string",
    )
    out = {r["doc_id"]: r["bucket"] for r in ppl_buckets(docs).collect()}
    # the lone de doc is its own head regardless of en scores
    assert out[3] == "head"
    assert "head" in (out[1], out[2])


def test_negative_triples_deterministic_and_valid(spark):
    from spanmarkerner_spark.operators.relations import negative_triples

    triples = spark.createDataFrame(
        [
            ("e1", "works_for", "e2", "u1", 0),
            ("e3", "works_for", "e4", "u1", 1),
            ("e5", "acquired", "e2", "u2", 0),
            ("e1", "acquired", "e4", "u2", 1),
        ],
        "subj string, pred string, obj string, url string, sentence_id long",
    )
    a = sorted(map(tuple, negative_triples(triples).collect()))
    b = sorted(map(tuple, negative_triples(triples).collect()))
    assert a == b  # hash-derived, no RNG
    assert len(a) == 4
    pool = {"e2", "e4"}
    for subj, pred, obj, neg, url, sid in a:
        assert neg in pool
        assert neg != obj  # pool > 1 -> collision bumped to next idx


def test_negative_triples_single_entity_pool_degenerates(spark):
    from spanmarkerner_spark.operators.relations import negative_triples

    triples = spark.createDataFrame(
        [("a", "p", "z", "u", 0)],
        "subj string, pred string, obj string, url string, sentence_id long",
    )
    rows = negative_triples(triples).collect()
    assert rows[0]["neg_obj"] == "z"  # documented degenerate case


def test_site_boilerplate_host_conditioned_vs_global(spark):
    """A chunk shared by two docs of the SAME host is boilerplate; the
    same chunk shared across two DIFFERENT hosts is content — the
    distinction global line dedup cannot make."""
    from spanmarkerner_spark.operators.corpus_stats import site_boilerplate
    from spanmarkerner_spark.operators.dedup import line_dedup_stats

    tmpl = "alpha beta gamma delta epsilon zeta eta theta"  # 8 words
    body = "one two three four five six seven eight"
    cross = "iota kappa lmbda mu nu xi omicron pi"
    docs = spark.createDataFrame(
        [
            # hostA: template chunk in 2/2 docs -> site boilerplate
            ("a1", f"{tmpl} {body}", "hostA"),
            ("a2", f"{tmpl} one two three four five six seven nine", "hostA"),
            # cross-host repeat: in one doc of hostA-like content and
            # one doc of hostB -> global dedup flags it, site must NOT
            ("b1", f"{cross} {body}", "hostB"),
            ("c1", f"{cross} one two three four five six seven ten", "hostC"),
        ],
        ["doc_id", "text", "source"],
    )
    site = {
        r["doc_id"]: r
        for r in site_boilerplate(
            docs, min_docs=2, min_frac_ppm=0
        ).collect()
    }
    # template dropped for both hostA docs
    assert site["a1"]["n_boiler"] == 1 and site["a2"]["n_boiler"] == 1
    # `body` is shared a1/b1 but across hosts -> NOT site boilerplate
    assert site["b1"]["n_boiler"] == 0 and site["c1"]["n_boiler"] == 0
    assert site["a1"]["n_chunks"] == 2
    assert site["a1"]["kept_ppm"] == 500_000
    # global line dedup DOES flag the cross-host chunk (b1 loses it)
    glob = {
        r["doc_id"]: r for r in line_dedup_stats(docs, min_docs=2).collect()
    }
    assert glob["b1"]["n_dropped"] >= 1


def test_site_boilerplate_frac_threshold(spark):
    """2 docs out of 40 on a host is below a 10% fraction cut even
    though min_docs=2 is met."""
    from spanmarkerner_spark.operators.corpus_stats import site_boilerplate

    tmpl = "alpha beta gamma delta epsilon zeta eta theta"
    rows = [("d0", tmpl + " extra words here", "h")]
    rows += [("d1", tmpl + " other words here", "h")]
    rows += [
        (f"f{i}", f"unique{i} filler text goes right here word{i}", "h")
        for i in range(38)
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text", "source"])
    out = {
        r["doc_id"]: r
        for r in site_boilerplate(
            docs, min_docs=2, min_frac_ppm=100_000
        ).collect()
    }
    # 2/40 docs = 50_000 ppm < 100_000 -> kept
    assert out["d0"]["n_boiler"] == 0
    # lowering the cut flags it
    out2 = {
        r["doc_id"]: r
        for r in site_boilerplate(
            docs, min_docs=2, min_frac_ppm=50_000
        ).collect()
    }
    assert out2["d0"]["n_boiler"] == 1


def test_triple_confidence_support_and_lift(spark):
    from spanmarkerner_spark.operators.relations import triple_confidence

    # N=4 triples: (s1,p,o1) x2 from 2 urls; (s1,p,o2) x1; (s2,p,o1) x1
    triples = spark.createDataFrame(
        [
            ("s1", "p", "o1", "u1"),
            ("s1", "p", "o1", "u2"),
            ("s1", "p", "o2", "u1"),
            ("s2", "p", "o1", "u3"),
        ],
        ["subj", "pred", "obj", "url"],
    )
    out = {
        (r["subj"], r["pred"], r["obj"]): r
        for r in triple_confidence(triples).collect()
    }
    a = out[("s1", "p", "o1")]
    assert a["support"] == 2 and a["n_urls"] == 2
    assert a["n_subj"] == 3 and a["n_obj"] == 3
    # lift = 2*4/(3*3) = 0.888... -> 888888 ppm
    assert a["lift_ppm"] == 888_888
    b = out[("s2", "p", "o1")]
    # lift = 1*4/(1*3) = 1.333... -> 1333333 ppm (above independence)
    assert b["lift_ppm"] == 1_333_333
    assert b["n_urls"] == 1
    # marginals sum: total support equals N
    assert sum(r["support"] for r in out.values()) == 4


def test_triple_confidence_repeated_same_url_low_diversity(spark):
    """One page asserting a fact 3 times: support 3 but n_urls 1."""
    from spanmarkerner_spark.operators.relations import triple_confidence

    triples = spark.createDataFrame(
        [("s", "p", "o", "u1")] * 3 + [("s", "q", "x", "u2")],
        ["subj", "pred", "obj", "url"],
    )
    out = {
        (r["subj"], r["pred"], r["obj"]): r
        for r in triple_confidence(triples).collect()
    }
    assert out[("s", "p", "o")]["support"] == 3
    assert out[("s", "p", "o")]["n_urls"] == 1


def test_resolve_pronouns_nearest_preceding(spark):
    from spanmarkerner_spark.operators.coref import resolve_pronouns

    mentions = spark.createDataFrame(
        [
            ("d1", 0, 2, 10, "acme"),
            ("d1", 0, 5, 20, "globex"),
            ("d1", 2, 1, 30, "initech"),
            ("d2", 0, 3, 40, "umbrella"),
        ],
        ["url", "sentence_id", "pos", "entity_id", "span"],
    )
    pronouns = spark.createDataFrame(
        [
            ("d1", 1, 0),   # -> globex (last mention of sent 0)
            ("d1", 0, 3),   # mid-sentence -> acme (pos 2), not globex (pos 5)
            ("d1", 3, 4),   # -> initech, distance 1
            ("d2", 0, 0),   # before any mention -> dropped
            ("d3", 0, 1),   # doc with no mentions -> dropped
        ],
        ["url", "sentence_id", "pos"],
    )
    out = {
        (r["url"], r["sentence_id"], r["pos"]): r
        for r in resolve_pronouns(mentions, pronouns).collect()
    }
    assert len(out) == 3
    assert out[("d1", 1, 0)]["entity_id"] == 20
    assert out[("d1", 1, 0)]["antecedent_span"] == "globex"
    assert out[("d1", 1, 0)]["sent_distance"] == 1
    assert out[("d1", 0, 3)]["entity_id"] == 10
    assert out[("d1", 0, 3)]["sent_distance"] == 0
    assert out[("d1", 3, 4)]["entity_id"] == 30
    assert out[("d1", 3, 4)]["sent_distance"] == 1
    assert ("d2", 0, 0) not in out and ("d3", 0, 1) not in out


def test_resolve_pronouns_max_distance_cut(spark):
    from spanmarkerner_spark.operators.coref import resolve_pronouns

    mentions = spark.createDataFrame(
        [("d", 0, 0, 1, "acme")],
        ["url", "sentence_id", "pos", "entity_id", "span"],
    )
    pronouns = spark.createDataFrame(
        [("d", 5, 0)], ["url", "sentence_id", "pos"]
    )
    assert resolve_pronouns(mentions, pronouns).count() == 1
    assert (
        resolve_pronouns(mentions, pronouns, max_sent_distance=3).count() == 0
    )


def test_bpe_pair_counts_weighted_and_ranked(spark):
    from spanmarkerner_spark.operators.corpus_stats import bpe_pair_counts

    # word freqs: "abab" wf=3 (2 'ab' pairs + 1 'ba' each), "ab" wf=1
    docs = spark.createDataFrame(
        [("1", "abab abab"), ("2", "abab"), ("3", "ab")],
        ["doc_id", "text"],
    )
    out = {r["pair"]: r for r in bpe_pair_counts(docs).collect()}
    # 'abab' appears 3 times in corpus, contributes 2 'ab' per occurrence
    assert out["ab"]["total_count"] == 3 * 2 + 1 * 1
    assert out["ab"]["n_words"] == 2
    assert out["ba"]["total_count"] == 3
    assert out["ba"]["n_words"] == 1
    assert out["ab"]["rank"] == 1
    # single-char words contribute nothing
    docs2 = spark.createDataFrame([("1", "a b c")], ["doc_id", "text"])
    assert bpe_pair_counts(docs2).count() == 0


def test_extract_links_normalization_and_host_graph(spark):
    from spanmarkerner_spark.operators.linkgraph import (
        extract_links,
        host_degrees,
        host_graph,
    )

    html_a = (
        '<html><body><nav>'
        '<a href="https://b.org/x">to b</a>'
        '<a href="https://b.org/x">again</a>'
        '<a href="/local/1#frag">local</a>'
        '<a href="mailto:x@y.org">mail</a>'
        '<a href="rel/path">rel</a>'
        '</nav><p>t</p></body></html>'
    ).encode()
    html_c = '<a href="https://b.org/x">c to b</a>'.encode()
    from spanmarkerner_spark import schemas

    pages = spark.createDataFrame(
        [
            ("https://a.org/p1", None, html_a, "t", "en"),
            ("https://c.org/p1", None, html_c, "t", "en"),
        ],
        schema=schemas.PAGES,
    )
    links = extract_links(pages).collect()
    by_src = {}
    for r in links:
        by_src.setdefault(r["src_url"], []).append((r["dst_url"], r["anchor"]))
    # mailto + path-relative dropped; fragment stripped; root-relative
    # resolved against the source scheme+host
    assert sorted(by_src["https://a.org/p1"]) == [
        ("https://a.org/local/1", "local"),
        ("https://b.org/x", "again"),
        ("https://b.org/x", "to b"),
    ]
    edges = host_graph(extract_links(pages))
    em = {(r["src_host"], r["dst_host"]): r for r in edges.collect()}
    assert em[("a.org", "b.org")]["n_links"] == 2
    assert em[("a.org", "b.org")]["n_src_pages"] == 1
    assert em[("c.org", "b.org")]["n_links"] == 1
    deg = {r["host"]: r for r in host_degrees(edges).collect()}
    # b.org appears only as a target: host-grain dangling
    assert deg["b.org"]["out_links"] == 0 and deg["b.org"]["in_links"] == 3
    assert deg["b.org"]["in_hosts"] == 2
    assert deg["a.org"]["out_links"] == 3 and deg["a.org"]["in_links"] == 1


def test_entity_salience_position_frequency_topk(spark):
    from spanmarkerner_spark.operators.salience import entity_salience

    m = spark.createDataFrame(
        # d1: "late" appears 3x but first at pos 90; "early" once at 0
        [("d1", "early", 0), ("d1", "late", 90), ("d1", "late", 95),
         ("d1", "late", 99), ("d1", "mid", 40), ("d2", "only", 5)],
        ["url", "span", "doc_word_start"],
    )
    out = {(r["url"], r["entity"]): r
           for r in entity_salience(m, top_k=2).collect()}
    # early: 1e6 div 10 = 100000; late: 3e6 div 100 = 30000; mid:
    # 1e6 div 50 = 20000 -> top-2 keeps early, late; mid cut
    assert out[("d1", "early")]["salience_ppm"] == 100000
    assert out[("d1", "early")]["rank"] == 1
    assert out[("d1", "late")]["salience_ppm"] == 30000
    assert out[("d1", "late")]["n_mentions"] == 3
    assert ("d1", "mid") not in out
    assert out[("d2", "only")]["rank"] == 1


def test_fact_temporal_windows(spark):
    from datetime import datetime

    from spanmarkerner_spark.operators.relations import (
        fact_temporal_windows,
    )

    t = spark.createDataFrame(
        [("s", "p", "o", "u1"), ("s", "p", "o", "u2"),
         ("s", "p", "o", "u2"), ("a", "b", "c", "u3")],
        ["subj", "pred", "obj", "url"],
    )
    pages = spark.createDataFrame(
        [("u1", datetime(2026, 1, 1, 0, 0, 0)),
         ("u2", datetime(2026, 1, 3, 0, 0, 0)),
         ("u3", None)],
        ["url", "warc_ts"],
    )
    out = {(r["subj"], r["pred"], r["obj"]): r
           for r in fact_temporal_windows(t, pages).collect()}
    # u3 has no timestamp -> fact (a,b,c) contributes no temporal row
    assert ("a", "b", "c") not in out
    r = out[("s", "p", "o")]
    assert r["span_seconds"] == 2 * 86400
    assert r["n_obs"] == 3 and r["n_urls"] == 2
    assert r["last_seen_epoch"] - r["first_seen_epoch"] == r["span_seconds"]


def test_functional_violations_thresholds(spark):
    from spanmarkerner_spark.operators.relations import (
        functional_violations,
    )

    rows = []
    # born_in: 4 subjects, s4 violates (2 objs) -> functionality 3/4
    for s, o in [("s1", "x"), ("s2", "x"), ("s3", "y"),
                 ("s4", "x"), ("s4", "y")]:
        rows.append((s, "born_in", o, "u"))
    # friend_of: 3 subjects all multi-object -> functionality 0, skipped
    for s, o in [("a", "x"), ("a", "y"), ("b", "x"), ("b", "y"),
                 ("c", "x"), ("c", "z")]:
        rows.append((s, "friend_of", o, "u"))
    # rare: 1 subject with 2 objs -> below min_subjects, skipped
    rows += [("r", "rare", "x", "u"), ("r", "rare", "y", "u")]
    t = spark.createDataFrame(rows, ["subj", "pred", "obj", "url"])
    out = functional_violations(
        t, min_subjects=3, func_threshold_ppm=700_000
    ).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["pred"], r["subj"], r["n_objs"]) == ("born_in", "s4", 2)
    assert r["n_subj"] == 4 and r["functionality_ppm"] == 750000
    # duplicate observations of the same (s,p,o) must not create
    # violations: n_objs is DISTINCT objects
    t2 = spark.createDataFrame(
        [("s", "p", "o", "u1"), ("s", "p", "o", "u2"),
         ("s2", "p", "o", "u"), ("s3", "p", "o", "u")],
        ["subj", "pred", "obj", "url"],
    )
    assert functional_violations(t2, min_subjects=3).count() == 0


def test_anchor_prior_shares(spark):
    from spanmarkerner_spark.operators.linkgraph import anchor_prior

    links = spark.createDataFrame(
        [("u1", "https://a.org/1", "acme"),
         ("u2", "https://a.org/2", "acme"),
         ("u3", "https://b.org/1", "acme"),
         ("u4", "https://b.org/1", "other")],
        ["src_url", "dst_url", "anchor"],
    )
    out = {(r["anchor"], r["dst_host"]): r
           for r in anchor_prior(links).collect()}
    assert out[("acme", "a.org")]["n"] == 2
    assert out[("acme", "a.org")]["n_anchor"] == 3
    assert out[("acme", "a.org")]["prior_ppm"] == 666666
    assert out[("acme", "b.org")]["prior_ppm"] == 333333
    assert out[("other", "b.org")]["prior_ppm"] == 1000000


def test_gopher_quality_flags_rules(spark):
    from spanmarkerner_spark.operators.corpus_stats import (
        gopher_quality_flags,
    )

    good = " ".join(["the", "a"] + ["solid"] * 60)   # 62 words, stops ok
    short = "the a word"                             # fails word count
    nostop = " ".join(["solid"] * 60)                # fails stopwords
    longw = " ".join(["the", "a"] + ["x" * 12] * 60) # mean wl > 10
    docs = spark.createDataFrame(
        [(1, good), (2, short), (3, nostop), (4, longw)],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in gopher_quality_flags(docs).collect()}
    assert out[1]["pass_gopher"] == 1
    assert out[2]["flag_word_count"] == 0 and out[2]["pass_gopher"] == 0
    assert out[2]["flag_stopwords"] == 1
    assert out[3]["flag_stopwords"] == 0 and out[3]["pass_gopher"] == 0
    assert out[4]["flag_mean_wl"] == 0 and out[4]["pass_gopher"] == 0
    # exact ppm arithmetic: 62 words, 3+1+60*5 = 304 chars
    assert out[1]["mean_wl_ppm"] == (304 * 1_000_000) // 62
    # empty doc: zero words, all flags 0, no division error
    empty = spark.createDataFrame([(9, "")], ["doc_id", "text"])
    e = gopher_quality_flags(empty).collect()[0]
    assert e["n_words"] == 0 and e["pass_gopher"] == 0


def test_hits_hand_computed_one_iteration(spark):
    from spanmarkerner_spark.operators.graph import hits

    edges = spark.createDataFrame(
        [("a", "b"), ("c", "b"), ("b", "d")], ["src", "dst"]
    )
    out = {r["node"]: r for r in hits(edges, iters=1).collect()}
    # n=4, h0=250000 each; a_raw(b)=500000, a_raw(d)=250000, total
    # 750000 -> authority(b)=666666, authority(d)=333333; hubs
    # renormalize to 400000/400000/200000 (hand-derived floors)
    assert out["b"]["authority"] == 666666
    assert out["d"]["authority"] == 333333
    assert out["a"]["authority"] == 0 and out["a"]["hub"] == 400000
    assert out["c"]["hub"] == 400000
    assert out["b"]["hub"] == 200000
    assert out["d"]["hub"] == 0
    # share invariants: each normalized table sums to ~scale (floor)
    assert sum(r["authority"] for r in out.values()) <= 10**6
    assert sum(r["hub"] for r in out.values()) <= 10**6


def test_fact_snapshot_status_buckets(spark):
    from datetime import datetime

    from spanmarkerner_spark.operators.relations import (
        fact_snapshot_status,
        fact_temporal_windows,
    )

    t = spark.createDataFrame(
        [("new", "p", "o", "u3"),
         ("stale", "p", "o", "u1"),
         ("stable", "p", "o", "u1"), ("stable", "p", "o", "u3")],
        ["subj", "pred", "obj", "url"],
    )
    pages = spark.createDataFrame(
        [("u1", datetime(2026, 1, 1)), ("u3", datetime(2026, 1, 9))],
        ["url", "warc_ts"],
    )
    cut = int(datetime(2026, 1, 5).timestamp())
    w = fact_temporal_windows(t, pages)
    out = {r["subj"]: r["status"]
           for r in fact_snapshot_status(w, cut).collect()}
    assert out == {"new": "new", "stale": "stale", "stable": "stable"}


def test_source_rollup_exact_shares(spark):
    from spanmarkerner_spark.operators.corpus_stats import source_rollup

    good = " ".join(["the", "a"] + ["solid"] * 60)
    bad = "the a word"
    docs = spark.createDataFrame(
        [(1, good, "s1"), (2, bad, "s1"), (3, good, "s2")],
        ["doc_id", "text", "source"],
    )
    out = {r["source"]: r for r in source_rollup(docs).collect()}
    assert out["s1"]["n_docs"] == 2 and out["s1"]["n_pass"] == 1
    assert out["s1"]["pass_ppm"] == 500000
    assert out["s2"]["pass_ppm"] == 1000000
    # corpus-exact mean word length: s1 = (304 + 8) chars / (62 + 3)
    assert out["s1"]["sum_words"] == 65
    assert out["s1"]["mean_wl_ppm"] == (312 * 1_000_000) // 65


def test_build_postings_and_boolean_and(spark):
    from spanmarkerner_spark.operators.search import (
        boolean_and,
        build_postings,
    )

    docs = spark.createDataFrame(
        [(1, "the cat the"), (2, "cat mat"), (3, "dog")],
        ["doc_id", "text"],
    )
    p = {(r["term"], r["doc_id"]): r
         for r in build_postings(docs).collect()}
    assert p[("the", 1)]["tf"] == 2
    assert p[("the", 1)]["first_pos"] == 0 and p[("the", 1)]["n_pos"] == 2
    assert p[("cat", 1)]["first_pos"] == 1
    assert p[("cat", 2)]["tf"] == 1
    out = {r["doc_id"]: r for r in
           boolean_and(build_postings(docs), ["the", "cat"]).collect()}
    # only doc 1 contains BOTH terms
    assert list(out) == [1]
    assert out[1]["total_tf"] == 3 and out[1]["first_pos_min"] == 0


def test_bm25_topk_hand_computed(spark):
    from spanmarkerner_spark.operators.search import bm25_topk

    docs = spark.createDataFrame(
        [(1, "spark spark table"), (2, "spark other words here"),
         (3, "nothing else")],
        ["doc_id", "text"],
    )
    out = {(r["term"], r["doc_id"]): r
           for r in bm25_topk(docs, ["spark", "table"]).collect()}
    # hand-derived ppm floors: n=3, sum_dl=9
    assert out[("spark", 1)]["score"] == 2062500
    assert out[("spark", 2)]["score"] == 1320000
    assert out[("table", 1)]["score"] == 3000000
    assert out[("spark", 1)]["rank"] == 1
    assert out[("spark", 2)]["rank"] == 2
    assert ("spark", 3) not in out
    # rarer term outranks: idf doubles for df=1
    assert out[("table", 1)]["score"] > out[("spark", 1)]["score"]


def test_rand_proj_deterministic_and_hand_checked(spark):
    import hashlib

    from spanmarkerner_spark.operators.similarity import rand_proj

    vecs = spark.createDataFrame(
        [(0, [0.5, -0.25]), (1, [1.0, 1.0])],
        ["vec_id", "embedding"],
    )
    out = rand_proj(vecs, k=2)
    rows = {(r["vec_id"], r["j"]): r for r in out.collect()}
    assert len(rows) == 4

    def sign(j, d):
        h = int(hashlib.md5(f"rp|{j}|{d}".encode()).hexdigest()[:15], 16)
        return 1 if h % 2 == 0 else -1

    # qi(vec 0) = [500000, -250000]
    for j in (0, 1):
        exp = 500000 * sign(j, 0) + (-250000) * sign(j, 1)
        assert rows[(0, j)]["proj"] == exp
        assert rows[(0, j)]["sign_bit"] == (1 if exp >= 0 else 0)
    # deterministic across evaluations
    again = {(r["vec_id"], r["j"]): r["proj"] for r in out.collect()}
    assert all(again[k] == rows[k]["proj"] for k in rows)


def test_entity_type_majority_vote_and_minority_share(spark):
    from spanmarkerner_spark.operators.relations import entity_type_majority

    rows = [
        # entity 1: 2x location, 1x person -> majority location, 333333 ppm
        (1, "location"), (1, "location"), (1, "person"),
        # entity 2: tie 1-1 -> label ASC wins ('org' < 'person')
        (2, "person"), (2, "org"),
        # entity 3: pure
        (3, "product"),
        # null entity: dropped
        (None, "location"),
    ]
    df = spark.createDataFrame(rows, "entity_id long, label string")
    got = {
        r["entity_id"]: (
            r["major_label"], r["n_major"], r["n_mentions"], r["minority_ppm"]
        )
        for r in entity_type_majority(df).collect()
    }
    assert got == {
        1: ("location", 2, 3, 333333),
        2: ("org", 1, 2, 500000),
        3: ("product", 1, 1, 0),
    }


def test_profile_columns_exact_and_nulls(spark):
    from spanmarkerner_spark.operators.profiling import profile_columns

    rows = [(1, "a"), (2, None), (2, "b"), (None, "a")]
    df = spark.createDataFrame(rows, "k long, v string")
    got = {
        r["col_name"]: (
            r["n_rows"], r["n_nulls"], r["ndv"], r["min_str"], r["max_str"]
        )
        for r in profile_columns(df).collect()
    }
    assert got == {
        "k": (4, 1, 2, "1", "2"),
        "v": (4, 1, 2, "a", "b"),
    }


def test_profile_columns_approx_hll_within_rsd(spark):
    from spanmarkerner_spark.operators.profiling import profile_columns

    df = spark.range(5000).selectExpr("id AS k", "CAST(id % 500 AS STRING) AS v")
    got = {
        r["col_name"]: r["ndv"]
        for r in profile_columns(df, approx=True).collect()
    }
    # HLL++ default rsd = 5%; allow 3 sigma
    assert abs(got["k"] - 5000) <= 0.15 * 5000
    assert abs(got["v"] - 500) <= 0.15 * 500
