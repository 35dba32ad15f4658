"""Label normalizer: all four dialects, exact span semantics.

Mirrors the reference's scheme-reduction tests
(tests/test_configuration.py:26-34) and the normalizer semantics of
span_marker/label_normalizer.py:50-137.
"""

from __future__ import annotations

from label_sets import (
    BILOU_LABELS,
    BIOES_LABELS,
    CONLL_LABELS,
    FEWNERD_COARSE_LABELS,
)

from spanmarkerner_spark.config import SpanMarkerConfig, detect_scheme
from spanmarkerner_spark.label_normalizer import normalize_tags, spans_to_iob2


def ids(cfg, labs):
    return [cfg.label2id[l] for l in labs]


def test_scheme_detection():
    assert detect_scheme(CONLL_LABELS) == "IOB2"
    assert detect_scheme(BIOES_LABELS) == "BIOES"
    assert detect_scheme(BILOU_LABELS) == "BILOU"
    assert detect_scheme(FEWNERD_COARSE_LABELS) is None


def test_missing_outside_label_raises():
    import pytest

    with pytest.raises(ValueError):
        SpanMarkerConfig(labels=["B-PER", "I-PER"])


def test_reduced_label_space():
    cfg = SpanMarkerConfig(labels=CONLL_LABELS)
    # O first, then sorted base names
    assert cfg.reduced_labels[0] == "O"
    assert set(cfg.reduced_labels) == {"O", "PER", "ORG", "LOC", "MISC"}
    assert cfg.id2reduced_id[cfg.label2id["B-PER"]] == cfg.id2reduced_id[
        cfg.label2id["I-PER"]
    ]


def test_iob2_basic():
    cfg = SpanMarkerConfig(labels=CONLL_LABELS)
    tags = ids(cfg, ["B-PER", "I-PER", "O", "B-LOC", "O", "B-LOC", "I-LOC"])
    per = cfg.reduced_labels.index("PER")
    loc = cfg.reduced_labels.index("LOC")
    assert normalize_tags(tags, cfg) == [(per, 0, 2), (loc, 3, 4), (loc, 5, 7)]


def test_iob2_adjacent_b():
    cfg = SpanMarkerConfig(labels=CONLL_LABELS)
    tags = ids(cfg, ["B-PER", "B-PER", "I-PER"])
    per = cfg.reduced_labels.index("PER")
    assert normalize_tags(tags, cfg) == [(per, 0, 1), (per, 1, 3)]


def test_iob2_dangling_inside():
    cfg = SpanMarkerConfig(labels=CONLL_LABELS)
    tags = ids(cfg, ["O", "I-ORG", "I-ORG", "O"])
    org = cfg.reduced_labels.index("ORG")
    assert normalize_tags(tags, cfg) == [(org, 1, 3)]


def test_iob2_label_switch_inside():
    """Reference semantics (label_normalizer.py:70-77): entities end
    only on B/O, and the label comes from the opening tag — [B-PER,
    I-ORG] stays ONE PER entity spanning both words."""
    cfg = SpanMarkerConfig(labels=CONLL_LABELS)
    tags = ids(cfg, ["B-PER", "I-ORG"])
    per = cfg.reduced_labels.index("PER")
    assert normalize_tags(tags, cfg) == [(per, 0, 2)]


def test_iob_dangling_inside_starts():
    """IOB (not IOB2) allows I-X to open an entity: start_ids = B|I
    (label_normalizer.py:75)."""
    cfg = SpanMarkerConfig(labels=CONLL_LABELS)
    tags = ids(cfg, ["O", "I-LOC", "I-LOC", "O"])
    loc = cfg.reduced_labels.index("LOC")
    assert normalize_tags(tags, cfg) == [(loc, 1, 3)]


def test_bioes():
    cfg = SpanMarkerConfig(labels=BIOES_LABELS)
    tags = ids(cfg, ["S-MATE", "O", "B-PRO", "I-PRO", "E-PRO", "S-APPL"])
    mate = cfg.reduced_labels.index("MATE")
    pro = cfg.reduced_labels.index("PRO")
    appl = cfg.reduced_labels.index("APPL")
    assert normalize_tags(tags, cfg) == [
        (mate, 0, 1),
        (pro, 2, 5),
        (appl, 5, 6),
    ]


def test_bilou():
    cfg = SpanMarkerConfig(labels=BILOU_LABELS)
    tags = ids(cfg, ["U-PER", "B-LOC", "L-LOC", "O", "B-ORG", "I-ORG", "L-ORG"])
    per = cfg.reduced_labels.index("PER")
    loc = cfg.reduced_labels.index("LOC")
    org = cfg.reduced_labels.index("ORG")
    assert normalize_tags(tags, cfg) == [
        (per, 0, 1),
        (loc, 1, 3),
        (org, 4, 7),
    ]


def test_schemeless():
    cfg = SpanMarkerConfig(labels=FEWNERD_COARSE_LABELS)
    loc = cfg.reduced_labels.index("location")
    per = cfg.reduced_labels.index("person")
    tags = [0, loc, loc, 0, per, 0, loc]
    assert normalize_tags(tags, cfg) == [(loc, 1, 3), (per, 4, 5), (loc, 6, 7)]


def test_schemeless_adjacent_different_labels():
    cfg = SpanMarkerConfig(labels=FEWNERD_COARSE_LABELS)
    loc = cfg.reduced_labels.index("location")
    per = cfg.reduced_labels.index("person")
    tags = [loc, loc, per, per]
    assert normalize_tags(tags, cfg) == [(loc, 0, 2), (per, 2, 4)]


def test_roundtrip_iob2():
    cfg = SpanMarkerConfig(labels=CONLL_LABELS)
    per = cfg.reduced_labels.index("PER")
    loc = cfg.reduced_labels.index("LOC")
    spans = [(per, 0, 2), (loc, 3, 4)]
    tags = spans_to_iob2(spans, 5, cfg.reduced_labels)
    assert tags == ["B-PER", "I-PER", "O", "B-LOC", "O"]
