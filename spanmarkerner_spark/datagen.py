"""Deterministic synthetic data generators (FIXTURES.md).

Same seed => byte-identical tables. The html column is generated FROM
the text column, so the extraction stage can be asserted byte-identical
per url (SURVEY.md §7.3, BASELINE.json north_rule).

Everything is plain Python building lists of rows; callers wrap in
spark.createDataFrame(...) with the explicit schemas from schemas.py.
"""

from __future__ import annotations

import html as _html
import random
from datetime import datetime, timedelta

from spanmarkerner_spark.config import SpanMarkerConfig

# --------------------------------------------------------------------
# entity world: (name, label, extra aliases)
# --------------------------------------------------------------------
_ENTITY_SPECS: list[tuple[str, str, list[str]]] = [
    ("amsterdam", "location", ["mokum"]),
    ("paris", "location", []),
    ("berlin", "location", []),
    ("new york", "location", ["nyc"]),
    ("tokyo", "location", []),
    ("rotterdam", "location", []),
    ("san francisco", "location", ["sf bay"]),
    # "apex" is deliberately AMBIGUOUS (also an alias of stark labs):
    # the alias dictionary then carries a real ambiguity edge, so
    # canonicalize=True merges entity ids 1007/1011 (min-id 1007) and
    # kg_triples_canonical provably differs from kg_triples — the
    # round-3 fixtures could not discriminate the canonicalize mode.
    ("acme corp", "organization", ["acme", "apex"]),
    ("globex industries", "organization", ["globex"]),
    ("initech systems", "organization", ["initech"]),
    ("umbrella group", "organization", ["umbrella"]),
    ("stark labs", "organization", ["apex"]),
    ("wayne enterprises", "organization", ["wayne corp"]),
    ("john smith", "person", ["mr smith"]),
    ("jane doe", "person", ["ms doe"]),
    ("alan turing", "person", ["turing"]),
    ("ada lovelace", "person", ["lovelace"]),
    ("grace hopper", "person", ["hopper"]),
    ("linus torvalds", "person", []),
    ("widget pro", "product", ["widgetpro"]),
    ("gadget max", "product", []),
    ("rocket skates", "product", []),
    ("turbo encabulator", "product", ["encabulator"]),
]

#: predicate phrase (token sequence between subj and obj) -> predicate
RELATION_PATTERNS: dict[str, str] = {
    "works for": "works_for",
    "was born in": "born_in",
    "is located in": "located_in",
    "acquired": "acquired",
    "founded": "founded",
    "moved to": "moved_to",
    "makes": "makes",
}

#: rich-pattern dictionary: phrase -> (predicate, inverted). Inverted
#: phrases express the SAME predicate with subject/object swapped
#: ("globex was acquired by acme" == acquired(acme, globex)).
RELATION_PATTERNS_RICH: dict[str, tuple[str, bool]] = {
    **{k: (v, False) for k, v in RELATION_PATTERNS.items()},
    "was acquired by": ("acquired", True),
    "was founded by": ("founded", True),
    "is made by": ("makes", True),
    "employs": ("works_for", True),
}

#: tokens the rich matcher drops from the inter-mention gap before
#: pattern lookup ("was quickly acquired by" still matches)
RELATION_ADVERBS: list[str] = ["quickly", "quietly", "reportedly", "recently"]

_FILLER = (
    "the a quick report said that yesterday analysts noted while many "
    "observers expected growth despite recent turmoil in markets and "
    "several sources confirmed early plans during spring"
).split()

_LANGS = ["en", "en", "en", "en", "de", "fr", "es", "zh"]


def entities() -> list[dict]:
    """Entity catalog with stable ids; Zipf-skewed sampling weights
    (hot entities exercise skew handling)."""
    out = []
    for i, (name, label, extra) in enumerate(_ENTITY_SPECS):
        out.append(
            {
                "entity_id": 1000 + i,
                "canonical_name": name,
                "label": label,
                "aliases": [name] + extra,
                "weight": 1.0 / (i + 1),  # Zipf
            }
        )
    return out


def alias_rows() -> list[tuple[str, int, str, float]]:
    """alias_dict table rows (FIXTURES.md §4). Ambiguous aliases get
    split priors."""
    rows = []
    for e in entities():
        n = len(e["aliases"])
        for j, a in enumerate(e["aliases"]):
            prior = 0.9 if j == 0 else 0.9 / (n + j)
            rows.append((a, e["entity_id"], e["canonical_name"], prior))
    return rows


def gazetteer(cfg: SpanMarkerConfig) -> dict[str, int]:
    """alias surface form -> reduced label id (broadcast into the
    scoring UDF as the deterministic 'learned' feature)."""
    gaz = {}
    for e in entities():
        lid = cfg.reduced_labels.index(e["label"])
        for a in e["aliases"]:
            gaz[a] = lid
    return gaz


# --------------------------------------------------------------------
# pages
# --------------------------------------------------------------------

def _pick_entity(rng: random.Random, ents: list[dict]) -> dict:
    weights = [e["weight"] for e in ents]
    return rng.choices(ents, weights=weights, k=1)[0]


def _make_sentence(rng: random.Random, ents: list[dict]) -> str:
    """One sentence; ~60% embed a relation pattern, rest entity/filler."""
    roll = rng.random()
    fill = lambda k: " ".join(rng.choices(_FILLER, k=k))  # noqa: E731
    if roll < 0.6:
        subj = _pick_entity(rng, ents)
        obj = _pick_entity(rng, ents)
        if rng.random() < 0.2:
            # inverse-direction phrase (rich matcher swaps subj/obj;
            # the PLAIN matcher correctly ignores it)
            phrase = rng.choice(
                sorted(k for k, (_, inv) in RELATION_PATTERNS_RICH.items() if inv)
            )
        else:
            phrase = rng.choice(list(RELATION_PATTERNS))
        if rng.random() < 0.2:
            # adverb inside the phrase: the rich matcher filters it
            # from the gap before lookup, the plain matcher misses it
            w = phrase.split(" ")
            w.insert(rng.randrange(len(w) + 1), rng.choice(RELATION_ADVERBS))
            phrase = " ".join(w)
        return (
            f"{fill(rng.randint(1, 3))} {rng.choice(subj['aliases'])} "
            f"{phrase} {rng.choice(obj['aliases'])} {fill(rng.randint(1, 4))}"
        )
    if roll < 0.85:
        e = _pick_entity(rng, ents)
        return (
            f"{fill(rng.randint(2, 5))} {rng.choice(e['aliases'])} "
            f"{fill(rng.randint(2, 5))}"
        )
    return fill(rng.randint(4, 9))


def text_to_html(text: str, url: str) -> bytes:
    """Deterministic html wrapper: each sentence in a <p>, plus
    boilerplate the extractor must strip. The inverse transform
    (extract_text) must return `text` byte-identically."""
    sents = text.split(" . ") if text else []
    body = "".join(f"<p>{_html.escape(s, quote=False)}</p>" for s in sents)
    doc = (
        f"<html><head><title>{_html.escape(url, quote=False)}</title></head>"
        f"<body><nav>home | about | contact</nav>{body}"
        f"<footer>copyright 2026</footer></body></html>"
    )
    return doc.encode("utf-8")


def extract_text_py(html_bytes: bytes) -> str:
    """Single-process reference extractor (oracle side): <p> contents,
    unescaped, ' . '-joined. Mirrors the Spark-native expression in
    functions/text.py — both must agree byte-for-byte."""
    import re

    s = html_bytes.decode("utf-8")
    parts = re.findall(r"<p>(.*?)</p>", s)
    return " . ".join(_html.unescape(p) for p in parts)


#: context-probe page: with doc_context_window=2 the neighbour
#: sentences shift the encoder logits enough that greedy decode keeps
#: "globex" (words 6-7) in sentence 2 instead of "globex industries"
#: (words 6-8) — so the context mode provably changes ≥1 decision and
#: the kg_mentions_context fixture cannot pass vacuously (round-3
#: verdict: the base and context fixtures hashed identical). Found by
#: a search over generated pages; the flip depends only on the model
#: weights (cfg.seed) and the gazetteer, both fixed.
_CONTEXT_PROBE_TEXT = (
    "several turmoil berlin works for tokyo quick expected observers . "
    "the spring sf bay a that . "
    "confirmed sources the new york acquired globex industries turmoil spring . "
    "plans mokum was born in tokyo analysts several . "
    "plans berlin works for globex industries growth yesterday"
)


def gen_pages(n_pages: int, seed: int = 42, probes: bool = True) -> list[tuple]:
    """Rows for the pages table (url, warc_ts, html, text, lang).

    Zipfian sentence counts; a few empty-text and whitespace-ish
    pages (edge cases mirroring tests/test_modeling.py:206-209).
    probes=True (default) appends the deterministic context-probe
    page (urls under /probe/), so every kg input exercises a
    context-sensitive decision; total rows = n_pages + 1.
    """
    rng = random.Random(seed)
    ents = entities()
    t0 = datetime(2026, 1, 1)
    rows = []
    for i in range(n_pages):
        url = f"https://example.org/page/{i:08d}"
        ts = t0 + timedelta(seconds=i * 37 % 86_400, days=i % 30)
        lang = _LANGS[i % len(_LANGS)]
        if i % 97 == 96:
            text = ""  # empty page
        else:
            # Zipf-ish sentence count in [1, 24]
            n_sent = min(24, max(1, int(rng.paretovariate(1.3))))
            text = " . ".join(_make_sentence(rng, ents) for _ in range(n_sent))
        rows.append((url, ts, text_to_html(text, url), text, lang))
    if probes:
        url = "https://example.org/probe/context0"
        rows.append(
            (
                url,
                t0,
                text_to_html(_CONTEXT_PROBE_TEXT, url),
                _CONTEXT_PROBE_TEXT,
                "en",
            )
        )
    return rows


# --------------------------------------------------------------------
# labelled NER fixtures (FIXTURES.md §2) for the label normalizer and
# the seqeval-equivalent metric aggregation
# --------------------------------------------------------------------


def gen_ner_fixture(labels: list[str], n_rows: int, seed: int,
                    with_context: bool = False) -> list[tuple]:
    """Random-but-valid tagged sentences for a label vocabulary.

    Emits spans as contiguous runs encoded per the vocabulary's
    scheme; guarantees scheme validity (B before I, E/L closing, etc.)
    so normalizers see well-formed input, plus occasional dangling-I
    rows to exercise the lenient path.
    """
    cfg = SpanMarkerConfig(labels=labels)
    rng = random.Random(seed)
    vocab = _FILLER
    rows = []
    for r in range(n_rows):
        n = rng.randint(4, 14)
        tokens = [rng.choice(vocab) for _ in range(n)]
        tags = [cfg.label2id["O"]] * n
        i = 0
        while i < n:
            if rng.random() < 0.35:
                length = rng.randint(1, min(3, n - i))
                if cfg.scheme is None:
                    base = rng.choice([l for l in labels if l != "O"])
                    for k in range(length):
                        tags[i + k] = cfg.label2id[base]
                else:
                    base = rng.choice(
                        sorted({l[2:] for l in labels if l != "O"})
                    )
                    if length == 1 and cfg.scheme in ("BIOES", "BILOU"):
                        unit = "S" if cfg.scheme == "BIOES" else "U"
                        tags[i] = cfg.label2id[f"{unit}-{base}"]
                    else:
                        tags[i] = cfg.label2id[f"B-{base}"]
                        for k in range(1, length):
                            tags[i + k] = cfg.label2id[f"I-{base}"]
                        if length > 1 and cfg.scheme in ("BIOES", "BILOU"):
                            last = "E" if cfg.scheme == "BIOES" else "L"
                            tags[i + length - 1] = cfg.label2id[f"{last}-{base}"]
                i += length + 1  # gap so spans don't merge
            else:
                i += 1
        # occasionally emit a dangling I- (lenient-normalizer case)
        if cfg.scheme == "IOB2" and r % 11 == 10:
            tags = [cfg.label2id["O"]] * n
            tags[0] = cfg.label2id[
                rng.choice([l for l in labels if l.startswith("I-")])
            ]
        if with_context:
            rows.append((tokens, tags, r // 5, r % 5))
        else:
            rows.append((tokens, tags, None, None))
    return rows
