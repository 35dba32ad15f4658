"""Model internals: the production marker-rows-only forward must equal
the reference-faithful full-layout forward (same block-attention
semantics, data_collator.py:52-130) on the marker hidden states."""

from __future__ import annotations

import numpy as np

from spanmarkerner_spark.config import KG_LABELS, SpanMarkerConfig
from spanmarkerner_spark.model import (
    TinySpanEncoder,
    collate,
    collate_full,
    score_batch,
)
from spanmarkerner_spark.subword import encode_words, enumerate_spans


def _rows(cfg, sentences):
    """Chunk rows as the fused UDF builds them: every candidate span of
    a sentence, split over the marker budget."""
    rows = []
    for words in sentences:
        e = encode_words(words, cfg.vocab_size, cfg.model_max_length)
        spans = enumerate_spans(e["num_words"], cfg.entity_max_length)
        space = min(
            cfg.marker_max_length, (cfg.total_size - len(e["input_ids"])) // 2
        )
        for c0 in range(0, len(spans), space):
            chunk = spans[c0 : c0 + space]
            rows.append(
                {
                    "input_ids": e["input_ids"],
                    "start_position_ids": [e["word_tok_start"][s] for s, _ in chunk],
                    "end_position_ids": [e["word_tok_end"][x - 1] for _, x in chunk],
                    "span_texts": [" ".join(words[s:x]).lower() for s, x in chunk],
                }
            )
    return rows


def test_fast_forward_matches_full_layout():
    cfg = SpanMarkerConfig(labels=KG_LABELS)
    enc = TinySpanEncoder(cfg)
    sentences = [
        "john smith works for acme corp in paris".split(),
        "a short one".split(),
        "the quick brown fox jumped over the extraordinarily lazy dog".split(),
    ]
    rows = _rows(cfg, sentences)

    c = collate(rows, cfg)
    h_s, h_e = enc.forward_markers(
        c["text_ids"], c["text_len"], c["sp"], c["ep"], c["num_pairs"]
    )

    input_ids, position_ids, attn, start_idx, num_pairs = collate_full(rows, cfg)
    h_full = enc.forward_full(input_ids, position_ids, attn)

    for b in range(len(rows)):
        m0, m = int(start_idx[b]), int(num_pairs[b])
        np.testing.assert_allclose(
            h_s[b, :m], h_full[b, m0 : m0 + m], rtol=2e-3, atol=2e-3
        )
        np.testing.assert_allclose(
            h_e[b, :m], h_full[b, m0 + m : m0 + 2 * m], rtol=2e-3, atol=2e-3
        )


def test_score_batch_deterministic_across_batch_composition():
    """A row's labels must not depend on what else is in the batch,
    and its scores only within 1e-6 (fixed per-row math; padding
    contributes exact zeros; BLAS summation order follows the padded
    shape) — this is what makes Spark/oracle parity hold under any
    partitioning."""
    cfg = SpanMarkerConfig(labels=KG_LABELS)
    enc = TinySpanEncoder(cfg)
    from spanmarkerner_spark.datagen import gazetteer

    gaz = gazetteer(cfg)
    sentences = [
        "john smith works for acme corp in paris".split(),
        "x" .split(),
        "the quick brown fox jumped over the extraordinarily lazy dog".split(),
    ]
    rows = _rows(cfg, sentences)
    together = score_batch(enc, rows, gaz, cfg)
    alone = [score_batch(enc, [r], gaz, cfg)[0] for r in rows]
    for (l1, s1), (l2, s2) in zip(together, alone):
        assert l1 == l2
        np.testing.assert_allclose(s1, s2, rtol=1e-6)


def test_score_batch_batch_composition_at_production_shape():
    """The fused UDF scores chunk rows in (num_pairs, text_len)-sorted
    512-row sub-batches. Over those padded shapes BLAS may sum in a
    different order than for the row alone: labels must still be equal
    and scores within 1e-6."""
    from spanmarkerner_spark.datagen import gazetteer, gen_pages

    cfg = SpanMarkerConfig(labels=KG_LABELS)
    enc = TinySpanEncoder(cfg)
    gaz = gazetteer(cfg)
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
    rows = _rows(cfg, filler + natural)
    assert 550 <= len(rows) <= 650
    shapes = {(len(r["start_position_ids"]), len(r["input_ids"])) for r in rows}
    assert len(shapes) >= 50

    order = sorted(
        range(len(rows)),
        key=lambda i: (len(rows[i]["start_position_ids"]), len(rows[i]["input_ids"])),
    )
    batched: list = [None] * len(rows)
    for c0 in range(0, len(order), 512):
        idx = order[c0 : c0 + 512]
        for i, res in zip(idx, score_batch(enc, [rows[i] for i in idx], gaz, cfg)):
            batched[i] = res
    for row, (l1, s1) in zip(rows, batched):
        (l2, s2), = score_batch(enc, [row], gaz, cfg)
        assert l1 == l2
        np.testing.assert_allclose(s1, s2, rtol=0, atol=1e-6)


def test_gazetteer_drives_labels():
    cfg = SpanMarkerConfig(labels=KG_LABELS)
    enc = TinySpanEncoder(cfg)
    from spanmarkerner_spark.datagen import gazetteer

    gaz = gazetteer(cfg)
    words = "yesterday john smith visited paris".split()
    rows = _rows(cfg, [words])
    (labels, scores), = score_batch(enc, rows, gaz, cfg)
    spans = enumerate_spans(len(words), cfg.entity_max_length)[: cfg.marker_max_length]
    by_span = dict(zip(spans, zip(labels, scores)))
    person = cfg.reduced_labels.index("person")
    location = cfg.reduced_labels.index("location")
    assert by_span[(1, 3)][0] == person       # "john smith"
    assert by_span[(4, 5)][0] == location     # "paris"
    assert by_span[(0, 1)][0] == cfg.outside_id  # "yesterday"
