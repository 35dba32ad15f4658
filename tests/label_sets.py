"""Labelled-NER label vocabularies (FIXTURES.md §2), one per dialect
the label normalizer handles: IOB2 (CoNLL), BIOES (FabNER), BILOU and
schemeless (FewNERD coarse). Test data only; the pipeline runs on
``config.KG_LABELS``."""

from __future__ import annotations

from spanmarkerner_spark.config import KG_LABELS

CONLL_LABELS = [
    "O", "B-PER", "I-PER", "B-ORG", "I-ORG", "B-LOC", "I-LOC",
    "B-MISC", "I-MISC",
]
FABNER_CLASSES = ["MATE", "MANP", "MACEQ", "APPL", "FEAT", "PRO"]
BIOES_LABELS = ["O"] + [
    f"{t}-{c}" for c in FABNER_CLASSES for t in ("B", "I", "E", "S")
]
BILOU_LABELS = ["O"] + [
    f"{t}-{c}" for c in ("PER", "ORG", "LOC") for t in ("B", "I", "L", "U")
]
FEWNERD_COARSE_LABELS = KG_LABELS  # schemeless
