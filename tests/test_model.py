"""Model internals: the production per-sentence forward must equal the
reference-faithful full-layout forward (same block-attention
semantics, data_collator.py:52-130) on the marker hidden states, and a
sentence's result must not depend on the sub-batch it is scored in."""

from __future__ import annotations

import numpy as np

from spanmarkerner_spark.config import KG_LABELS, SpanMarkerConfig
from spanmarkerner_spark.datagen import gazetteer
from spanmarkerner_spark.model import TinySpanEncoder, collate_full, score_batch
from spanmarkerner_spark.operators.context import context_merge
from spanmarkerner_spark.operators.ner import _SUB_BATCH
from spanmarkerner_spark.subword import encode_words, enumerate_spans


def _sentence_row(cfg, words, context=((), ())):
    """One scorer row per sentence, as the NER UDF builds it: every
    candidate span, marker position ids shifted past any prepended
    document context, each span's text looked up in the datagen
    gazetteer. context = (previous, next) neighbour sentences, nearest
    first."""
    e = encode_words(words, cfg.vocab_size, cfg.model_max_length)
    words = words[: e["num_words"]]
    input_ids, shift = e["input_ids"], 0
    if any(context):
        prevs, nexts = (
            [encode_words(w, cfg.vocab_size, cfg.model_max_length)["input_ids"]
             for w in side]
            for side in context
        )
        input_ids, shift = context_merge(
            e["input_ids"], prevs, nexts, cfg.model_max_length
        )
    spans = enumerate_spans(e["num_words"], cfg.entity_max_length)
    gaz = gazetteer(cfg)
    return {
        "input_ids": input_ids,
        "start_position_ids": [e["word_tok_start"][s] + shift for s, _ in spans],
        "end_position_ids": [e["word_tok_end"][x - 1] + shift for _, x in spans],
        "gaz_labels": [
            gaz.get(" ".join(words[s:x]).lower(), -1) for s, x in spans
        ],
        "span_lens": [x - s for s, x in spans],
    }


def _marker_budget_chunks(cfg, row):
    """The reference's physical samples (trainer.py:368-405): the
    sentence's spans split over the marker budget."""
    space = min(
        cfg.marker_max_length, (cfg.total_size - len(row["input_ids"])) // 2
    )
    return [
        {
            "input_ids": row["input_ids"],
            "start_position_ids": row["start_position_ids"][c0 : c0 + space],
            "end_position_ids": row["end_position_ids"][c0 : c0 + space],
        }
        for c0 in range(0, len(row["start_position_ids"]), space)
    ]


def test_fast_forward_matches_full_layout():
    cfg = SpanMarkerConfig(labels=KG_LABELS)
    enc = TinySpanEncoder(cfg)
    long_words = ("extraordinarily " * 40).split()
    rows = [
        _sentence_row(cfg, "john smith works for acme corp in paris".split()),
        _sentence_row(cfg, "a short one".split()),
        _sentence_row(
            cfg,
            "the quick brown fox jumped over the extraordinarily lazy dog".split(),
        ),
        # cut at model_max_length: only the words that fit are encoded
        _sentence_row(cfg, long_words),
        # document context: neighbours spliced in, positions shifted
        _sentence_row(
            cfg,
            "acme corp hired john smith".split(),
            context=(["paris is big".split()], ["the deal closed".split()]),
        ),
    ]
    cut = encode_words(long_words, cfg.vocab_size, cfg.model_max_length)
    assert cut["num_words"] < len(long_words)
    assert len(rows[3]["input_ids"]) > cfg.model_max_length - 4
    assert rows[4]["start_position_ids"][0] > 1  # shifted past the context
    assert len(rows[3]["start_position_ids"]) > cfg.marker_max_length

    B = len(rows)
    n_max = max(len(r["input_ids"]) for r in rows)
    text_ids = np.zeros((B, n_max), dtype=np.int64)
    for b, r in enumerate(rows):
        text_ids[b, : len(r["input_ids"])] = r["input_ids"]
    text_len = np.array([len(r["input_ids"]) for r in rows])
    counts = [len(r["start_position_ids"]) for r in rows]
    h_s, h_e = enc.forward_markers(
        text_ids,
        text_len,
        np.repeat(np.arange(B), counts),
        np.concatenate([r["start_position_ids"] for r in rows]) + 2,
        np.concatenate([r["end_position_ids"] for r in rows]) + 2,
    )

    chunks = [c for r in rows for c in _marker_budget_chunks(cfg, r)]
    input_ids, position_ids, attn, start_idx, num_pairs = collate_full(chunks, cfg)
    h_full = enc.forward_full(input_ids, position_ids, attn)
    full_s = np.concatenate([
        h_full[b, m0 : m0 + m] for b, (m0, m) in enumerate(zip(start_idx, num_pairs))
    ])
    full_e = np.concatenate([
        h_full[b, m0 + m : m0 + 2 * m]
        for b, (m0, m) in enumerate(zip(start_idx, num_pairs))
    ])
    assert len(full_s) == sum(counts)
    np.testing.assert_allclose(h_s, full_s, rtol=2e-3, atol=2e-3)
    np.testing.assert_allclose(h_e, full_e, rtol=2e-3, atol=2e-3)


def test_score_batch_deterministic_across_batch_composition():
    """A sentence's labels must not depend on what else is in the
    batch, and its scores only within 1e-6 (fixed per-row math; padding
    contributes exact zeros; BLAS summation order follows the padded
    shape) — this is what makes Spark/oracle parity hold under any
    partitioning."""
    cfg = SpanMarkerConfig(labels=KG_LABELS)
    enc = TinySpanEncoder(cfg)
    sentences = [
        "john smith works for acme corp in paris".split(),
        "x".split(),
        "the quick brown fox jumped over the extraordinarily lazy dog".split(),
    ]
    rows = [_sentence_row(cfg, w) for w in sentences]
    together = score_batch(enc, rows, cfg)
    alone = [score_batch(enc, [r], cfg)[0] for r in rows]
    for row, (l1, s1), (l2, s2) in zip(rows, together, alone):
        assert len(l1) == len(row["start_position_ids"])
        assert l1 == l2
        np.testing.assert_allclose(s1, s2, rtol=1e-6)


def test_score_batch_batch_composition_at_production_shape():
    """The NER UDF scores sentences in text-length-sorted sub-batches
    of _SUB_BATCH, each padded to its longest text. Over those padded
    shapes BLAS may sum in a different order than for the sentence
    alone: labels must still be equal and scores within 1e-6."""
    from spanmarkerner_spark.datagen import gen_pages

    cfg = SpanMarkerConfig(labels=KG_LABELS)
    enc = TinySpanEncoder(cfg)
    rng = np.random.default_rng(5)
    vocab = (
        "a the key agg row scan slow fast table value part hash merge batch "
        "spark line sort window order data column join small customer query "
        "stream filter group big"
    ).split()
    filler = [
        [vocab[i] for i in rng.integers(0, len(vocab), rng.integers(40, 69))]
        for _ in range(45)
    ]
    natural = [
        raw.split(" ")
        for page in gen_pages(60, seed=3)
        for raw in page[3].split(" . ")
        if raw.strip()
    ]
    rows = [_sentence_row(cfg, w) for w in filler + natural + [["x"]]]
    assert len(rows) > 2 * _SUB_BATCH
    assert len({len(r["input_ids"]) for r in rows}) >= 20

    order = sorted(range(len(rows)), key=lambda i: len(rows[i]["input_ids"]))
    batched: list = [None] * len(rows)
    for c0 in range(0, len(order), _SUB_BATCH):
        idx = order[c0 : c0 + _SUB_BATCH]
        for i, res in zip(idx, score_batch(enc, [rows[i] for i in idx], cfg)):
            batched[i] = res
    for row, (l1, s1) in zip(rows, batched):
        (l2, s2), = score_batch(enc, [row], cfg)
        assert len(l1) == len(row["start_position_ids"])
        assert l1 == l2
        np.testing.assert_allclose(s1, s2, rtol=0, atol=1e-6)


def test_gazetteer_drives_labels():
    cfg = SpanMarkerConfig(labels=KG_LABELS)
    enc = TinySpanEncoder(cfg)
    words = "yesterday john smith visited paris".split()
    (labels, scores), = score_batch(enc, [_sentence_row(cfg, words)], cfg)
    spans = enumerate_spans(len(words), cfg.entity_max_length)
    by_span = dict(zip(spans, zip(labels, scores)))
    person = cfg.reduced_labels.index("person")
    location = cfg.reduced_labels.index("location")
    assert by_span[(1, 3)][0] == person       # "john smith"
    assert by_span[(4, 5)][0] == location     # "paris"
    assert by_span[(0, 1)][0] == cfg.outside_id  # "yesterday"
