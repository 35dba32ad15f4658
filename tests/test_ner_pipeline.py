"""End-to-end pipeline parity vs the single-process oracle, plus the
byte-identical-extraction invariant (BASELINE.json north_rule) and
unit checks on the structural operators.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from spanmarkerner_spark import schemas
from spanmarkerner_spark.config import KG_LABELS, SpanMarkerConfig
from spanmarkerner_spark.datagen import extract_text_py, gen_pages, text_to_html
from spanmarkerner_spark.functions.text import segment_sentences, with_extracted_text
from spanmarkerner_spark.model import greedy_decode
from spanmarkerner_spark.oracle import precision_recall, run_oracle
from spanmarkerner_spark.pipeline import run_pipeline
from spanmarkerner_spark.subword import encode_words, enumerate_spans

N_PAGES = 40
SEED = 42


@pytest.fixture(scope="module")
def pages_rows():
    return gen_pages(N_PAGES, seed=SEED)


@pytest.fixture(scope="module")
def pages_df(spark, pages_rows):
    return spark.createDataFrame(pages_rows, schema=schemas.PAGES)


@pytest.fixture(scope="module")
def result(pages_df):
    res = run_pipeline(pages_df)
    # materialize once; tests read from these
    res["mentions"] = res["mentions"].cache()
    res["triples"] = res["triples"].cache()
    return res


@pytest.fixture(scope="module")
def oracle(pages_rows):
    return run_oracle(pages_rows, SpanMarkerConfig(labels=KG_LABELS))


def test_extraction_byte_identical(result):
    assert result["pages"].filter("extracted_text <> text").count() == 0


def test_extraction_py_inverse(pages_rows):
    for url, _ts, html, text, _lang in pages_rows:
        assert extract_text_py(html) == text


def test_html_escaping_roundtrip():
    text = "x & y < z > w . plain tail"
    html = text_to_html(text, "u")
    assert extract_text_py(html) == text


def test_segmentation_offsets(spark):
    rows = [("u1", None, b"", "ab cd . ef g . h", "en")]
    df = spark.createDataFrame(rows, schema=schemas.PAGES)
    got = {
        r["sentence_id"]: (r["sentence"], r["char_offset"])
        for r in segment_sentences(df).collect()
    }
    assert got == {0: ("ab cd", 0), 1: ("ef g", 8), 2: ("h", 15)}


def test_empty_pages_produce_no_sentences(spark):
    rows = [("u1", None, b"", "", "en"), ("u2", None, b"", "   ", "en")]
    df = spark.createDataFrame(rows, schema=schemas.PAGES)
    assert segment_sentences(df).count() == 0


def test_mentions_match_oracle(result, oracle):
    cols = [
        "url", "sentence_id", "span", "label",
        "word_start_index", "word_end_index",
        "char_start_index", "char_end_index",
    ]
    spark_m = {
        tuple(r[c] for c in cols): r["score"]
        for r in result["mentions"].collect()
    }
    oracle_m = {tuple(m[c] for c in cols) for m in oracle["mentions"]}
    assert set(spark_m) == oracle_m
    # scores agree to float tolerance (batched vs row-by-row scoring)
    for m in oracle["mentions"]:
        assert abs(spark_m[tuple(m[c] for c in cols)] - m["score"]) < 1e-6


def test_mentions_independent_of_arrow_batch_size(spark, pages_df, result):
    """Arrow batch boundaries must not change mentions: a sentence's
    chunks are built, scored and decoded inside one batch, so a tiny
    maxRecordsPerBatch yields the same keys and scores (within the
    batch-composition tolerance of score_batch)."""
    from spanmarkerner_spark.datagen import gazetteer
    from spanmarkerner_spark.operators.ner import ner_mentions

    cfg = SpanMarkerConfig(labels=KG_LABELS)
    sents = segment_sentences(
        with_extracted_text(pages_df), text_col="extracted_text"
    )
    key = lambda r: (  # noqa: E731
        r["url"], r["sentence_id"], r["span"], r["label"],
        r["word_start_index"], r["word_end_index"],
        r["char_start_index"], r["char_end_index"],
    )
    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(conf, None)
    spark.conf.set(conf, "7")
    try:
        small = {
            key(r): r["score"]
            for r in ner_mentions(sents, cfg, gazetteer(cfg)).collect()
        }
    finally:
        if prev is None:
            spark.conf.unset(conf)
        else:
            spark.conf.set(conf, prev)
    default = {key(r): r["score"] for r in result["mentions"].collect()}
    assert set(small) == set(default)
    for k, sc in default.items():
        assert abs(small[k] - sc) < 1e-6


def test_triples_pr_vs_oracle(result, oracle):
    tri = {tuple(r) for r in result["triples"].collect()}
    p, r = precision_recall(tri, oracle["triples"])
    assert p >= 0.95 and r >= 0.95, (p, r, len(tri), len(oracle["triples"]))


def test_lang_filter_prunes(pages_df):
    res = run_pipeline(pages_df, lang_filter="en")
    langs = {r["lang"] for r in res["pages"].select("lang").distinct().collect()}
    assert langs <= {"en"}


# ---- structural operator units -------------------------------------

def test_span_enumeration_bounds():
    spans = enumerate_spans(4, 2)
    assert spans == [(0, 1), (0, 2), (1, 2), (1, 3), (2, 3), (2, 4), (3, 4)]


def test_encode_words_alignment():
    e = encode_words(["hello", "extraordinary", "x"], 4096, 64)
    assert e["num_words"] == 3
    # 'extraordinary' = 13 chars -> 4 pieces of width 4
    assert e["word_tok_end"][1] - e["word_tok_start"][1] == 3
    assert e["word_char_start"] == [0, 6, 20]
    assert e["word_char_end"] == [5, 19, 21]
    assert e["input_ids"][0] == 1 and e["input_ids"][-1] == 2  # CLS/SEP


def test_encode_words_truncation():
    words = ["word"] * 100
    e = encode_words(words, 4096, 16)
    assert e["num_words"] < 100
    assert len(e["input_ids"]) <= 16


def test_greedy_decode_non_overlap():
    spans = [(0, 2, 1, 0.9), (1, 3, 2, 0.8), (3, 4, 1, 0.7), (0, 1, 2, 0.95)]
    kept = greedy_decode(spans, outside_id=0)
    assert kept == [(0, 1, 2, 0.95), (1, 3, 2, 0.8), (3, 4, 1, 0.7)]


def test_greedy_decode_tiebreak_deterministic():
    spans = [(2, 4, 1, 0.5), (0, 2, 1, 0.5), (1, 3, 2, 0.5)]
    # equal scores -> earlier start wins first, overlapping (1,3) dropped
    assert greedy_decode(spans, 0) == [(0, 2, 1, 0.5), (2, 4, 1, 0.5)]


def test_fused_gazetteer_cutoff_matches_per_span_lookup(spark):
    """The NER UDF looks up only spans no longer (in words) than the
    longest gazetteer key. That cut-off must be exact: on mixed-case
    text with a double space (an empty token), its mentions equal the
    per-span lookup of every span's text, scored by score_batch +
    greedy_decode."""
    from spanmarkerner_spark.model import TinySpanEncoder, score_batch
    from spanmarkerner_spark.operators.ner import ner_mentions

    cfg = SpanMarkerConfig(labels=KG_LABELS)
    org = cfg.reduced_labels.index("organization")
    gaz = {"north star trading company": org, "mega  corp": org}
    text = (
        "Yesterday NORTH Star Trading Company met Mega  Corp in town . "
        "the north star trading company and MEGA  corp signed a deal "
        "with Star Trading and mega corp"
    )
    pages = spark.createDataFrame(
        [("u1", None, b"", text, "en")], schema=schemas.PAGES
    )
    sents = segment_sentences(pages)
    key = [
        "url", "sentence_id", "span", "label", "word_start_index",
        "word_end_index", "char_start_index", "char_end_index",
    ]
    fused = {
        tuple(r[k] for k in key): r["score"]
        for r in ner_mentions(sents, cfg, gaz).collect()
    }

    enc = TinySpanEncoder(cfg)
    expected = {}
    for r in sents.collect():
        tokens = list(r["tokens"])
        e = encode_words(tokens, cfg.vocab_size, cfg.model_max_length)
        words = tokens[: e["num_words"]]
        spans = enumerate_spans(e["num_words"], cfg.entity_max_length)
        space = min(
            cfg.marker_max_length, (cfg.total_size - len(e["input_ids"])) // 2
        )
        cand = []
        for c0 in range(0, len(spans), space):
            chunk = spans[c0 : c0 + space]
            row = {
                "input_ids": e["input_ids"],
                "start_position_ids": [e["word_tok_start"][s] for s, _ in chunk],
                "end_position_ids": [e["word_tok_end"][x - 1] for _, x in chunk],
                "gaz_labels": [
                    gaz.get(" ".join(words[s:x]).lower(), -1) for s, x in chunk
                ],
                "span_lens": [x - s for s, x in chunk],
            }
            (labels, scores), = score_batch(enc, [row], cfg)
            cand.extend((s, x, l, sc) for (s, x), l, sc in zip(chunk, labels, scores))
        off = r["char_offset"]
        for s, x, lab, sc in greedy_decode(cand, cfg.outside_id):
            m = (
                r["url"], r["sentence_id"], " ".join(words[s:x]),
                cfg.reduced_labels[lab], s, x,
                off + e["word_char_start"][s], off + e["word_char_end"][x - 1],
            )
            expected[m] = sc

    assert set(fused) == set(expected)
    for m, sc in expected.items():
        assert abs(fused[m] - sc) < 1e-6
    spans = {(m[2], m[3]) for m in fused}
    assert {
        ("NORTH Star Trading Company", "organization"),
        ("north star trading company", "organization"),
        ("Mega  Corp", "organization"),
        ("MEGA  corp", "organization"),
    } <= spans
    assert not any(m[2].lower() == "mega corp" for m in fused)


def test_duplicate_urls_deduped_deterministically(spark, pages_rows):
    """Raw crawls re-crawl urls; duplicate (url, sentence_id) keys
    must not collide in the keyed stages (found by a stress input:
    IndexError on mismatched sentence bodies). The pipeline keeps one
    page per url — newest warc_ts, content-hash tiebreak — so a
    corpus with every page duplicated yields exactly the original
    triples."""
    doubled = spark.createDataFrame(
        pages_rows + pages_rows, schema=schemas.PAGES
    )
    base = {tuple(r) for r in run_pipeline(
        spark.createDataFrame(pages_rows, schema=schemas.PAGES)
    )["triples"].collect()}
    got = {tuple(r) for r in run_pipeline(doubled)["triples"].collect()}
    assert got == base


def _plan_nodes(df):
    """Class names and nodes of df's executed plan, reading through
    the adaptive query stages; a reused exchange is not entered."""
    wrappers = {
        "AdaptiveSparkPlanExec": lambda p: p.executedPlan(),
        "ShuffleQueryStageExec": lambda p: p.plan(),
        "BroadcastQueryStageExec": lambda p: p.plan(),
        "ResultQueryStageExec": lambda p: p.plan(),
    }
    out = []

    def walk(p):
        name = p.getClass().getSimpleName()
        out.append((name, p))
        if name in wrappers:
            walk(wrappers[name](p))
            return
        if name == "ReusedExchangeExec":
            return
        children = p.children()
        for i in range(children.size()):
            walk(children.apply(i))

    walk(df._jdf.queryExecution().executedPlan())
    return out


def test_triples_plan_shuffles_the_pages_once(spark, pages_rows, tmp_path):
    """The triples plan reads the pages twice, for the mentions and for
    the relations' sentence tokens. Both reads must be the same plan, so
    the url repartition runs once and the second read is a
    ReusedExchange. Parquet reads every column as nullable; without
    the non-null url filter ahead of the repartition, the optimizer
    infers isnotnull(url) for the join side only and the two
    exchanges differ."""
    path = str(tmp_path / "pages")
    spark.createDataFrame(pages_rows[:10], schema=schemas.PAGES).write.parquet(path)
    triples = run_pipeline(spark.read.parquet(path))["triples"]
    triples.collect()
    nodes = _plan_nodes(triples)
    page_exchanges = [
        p for name, p in nodes
        if name == "ShuffleExchangeExec"
        and p.shuffleOrigin().toString() == "REPARTITION_BY_NUM"
    ]
    reused = [
        p for name, p in nodes
        if name == "ReusedExchangeExec"
        and p.child().shuffleOrigin().toString() == "REPARTITION_BY_NUM"
    ]
    assert len(page_exchanges) == 1, [p.toString() for p in page_exchanges]
    assert len(reused) == 1, [name for name, _ in nodes]


def test_null_url_page_is_dropped_like_the_oracle(spark, pages_rows):
    """PAGES declares url non-null. A frame built with a nullable url
    may still carry a null one: run_pipeline drops that page at its
    entry and run_oracle skips it, so neither emits its mentions or
    triples."""
    from pyspark.sql import types as T

    nullable = T.StructType(
        [T.StructField("url", T.StringType(), True)] + list(schemas.PAGES.fields[1:])
    )
    cfg = SpanMarkerConfig(labels=KG_LABELS)
    rows = pages_rows[:8]
    # the null-url page has text that yields triples under a real url
    entity_text = next(
        r[3] for r in rows if run_oracle([r], cfg, use_extracted=False)["triples"]
    )
    with_null = rows + [(None, None, None, entity_text, "en")]
    res = run_pipeline(
        spark.createDataFrame(with_null, schema=nullable),
        use_extracted=False,
    )
    got_m = res["mentions"].collect()
    got_t = {tuple(r) for r in res["triples"].collect()}
    want = run_oracle(with_null, cfg, use_extracted=False)
    assert want == run_oracle(rows, cfg, use_extracted=False)
    assert want["triples"]
    assert all(m["url"] is not None for m in got_m)
    assert {(m["url"], m["sentence_id"], m["span"]) for m in got_m} == {
        (m["url"], m["sentence_id"], m["span"]) for m in want["mentions"]
    }
    assert got_t == want["triples"]
