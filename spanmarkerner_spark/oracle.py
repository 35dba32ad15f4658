"""Single-process reference-semantics oracle.

Runs the same logical pipeline as pipeline.run_pipeline over a list of
page rows in plain Python, mirroring the reference's predict() flow
(span_marker/modeling.py:354-578): extract -> segment -> tokenize ->
enumerate -> score (one call per sentence) -> greedy decode -> link ->
relations. It calls the SAME pure functions (subword / model /
datagen) as the Spark UDFs, so a pipeline/oracle mismatch isolates a
dataflow bug (ordering, regrouping, shuffle semantics), not a math
difference.

Used by tests to compute P/R of the Spark triples vs oracle triples
(target >= 0.95; expected 1.0 at fixture scale).
"""

from __future__ import annotations

from spanmarkerner_spark.config import SpanMarkerConfig
from spanmarkerner_spark.datagen import (
    RELATION_PATTERNS,
    alias_rows,
    extract_text_py,
    gazetteer,
)
from spanmarkerner_spark.model import TinySpanEncoder, greedy_decode, score_batch
from spanmarkerner_spark.operators.context import context_merge
from spanmarkerner_spark.subword import encode_words, enumerate_spans


def oracle_mentions(
    pages: list[tuple],
    cfg: SpanMarkerConfig,
    context_window: int = 0,
    lang_filter: str | None = None,
    use_extracted: bool = True,
) -> list[dict]:
    """pages rows (url, warc_ts, html, text, lang) -> mention dicts.
    use_extracted mirrors run_pipeline's flag: False trusts the text
    column instead of extracting from html.

    With context_window > 0 this is the document-context mode (the
    reference's predict() with document_id present,
    modeling.py:474-492): each sentence is scored with up to
    context_window neighbouring sentences' ids spliced into its
    encoding and position ids shifted by the prepended length. At 0
    no neighbour is taken and context_merge returns the sentence's own
    ids unshifted. Mirrors ner_mentions operation-for-operation."""
    enc = TinySpanEncoder(cfg)
    gaz = gazetteer(cfg)
    mentions: list[dict] = []
    for url, _ts, html, _text, lang in pages:
        if lang_filter and lang != lang_filter:
            continue
        text = extract_text_py(html) if use_extracted else _text
        # first pass: segment + encode every non-blank sentence (the
        # lag/lead frame in the Spark path runs over exactly these
        # rows — num_words==0 sentences still occupy neighbour slots)
        sents = []  # (sid, words, enc_dict, char_offset)
        char_offset = 0
        sid = -1
        for raw in text.split(" . "):
            sid += 1
            sent_len = len(raw)
            if raw.strip():
                words = raw.split(" ")
                e = encode_words(words, cfg.vocab_size, cfg.model_max_length)
                sents.append((sid, words[: e["num_words"]], e, char_offset))
            char_offset += sent_len + 3
        # second pass: context-merge neighbours
        for i, (sid, words, e, off) in enumerate(sents):
            if e["num_words"] == 0:
                continue
            pv_ids = [
                sents[i - k][2]["input_ids"]
                for k in range(1, context_window + 1)
                if i - k >= 0
            ]
            nx_ids = [
                sents[i + k][2]["input_ids"]
                for k in range(1, context_window + 1)
                if i + k < len(sents)
            ]
            input_ids, shift = context_merge(
                e["input_ids"], pv_ids, nx_ids, cfg.model_max_length
            )
            spans = enumerate_spans(len(words), cfg.entity_max_length)
            row = {
                "input_ids": input_ids,
                "start_position_ids": [
                    e["word_tok_start"][s] + shift for s, _ in spans
                ],
                "end_position_ids": [
                    e["word_tok_end"][x - 1] + shift for _, x in spans
                ],
                # every span looked up: the uncut twin of the NER
                # UDF's longest-key cut-off
                "gaz_labels": [
                    gaz.get(" ".join(words[s:x]).lower(), -1) for s, x in spans
                ],
                "span_lens": [x - s for s, x in spans],
            }
            (labels, scores), = score_batch(enc, [row], cfg)
            cand = [
                (s, x, l, sc) for (s, x), l, sc in zip(spans, labels, scores)
            ]
            for s, x, lab, sc in greedy_decode(cand, cfg.outside_id):
                mentions.append(
                    {
                        "url": url,
                        "sentence_id": sid,
                        "span": " ".join(words[s:x]),
                        "label": cfg.reduced_labels[lab],
                        "score": sc,
                        "word_start_index": s,
                        "word_end_index": x,
                        "char_start_index": off + e["word_char_start"][s],
                        "char_end_index": off + e["word_char_end"][x - 1],
                        "tokens": words,
                    }
                )
    return mentions


def oracle_link(mentions: list[dict]) -> list[dict]:
    """Same rerank rule as operators/linking.py: argmax of
    score*prior, tie -> lower entity_id."""
    by_alias: dict[str, list[tuple]] = {}
    for alias, eid, name, prior in alias_rows():
        by_alias.setdefault(alias, []).append((eid, name, prior))
    out = []
    for m in mentions:
        cands = by_alias.get(m["span"].lower(), [])
        best = None
        for eid, name, prior in cands:
            key = (m["score"] * prior, -eid)
            if best is None or key > best[0]:
                best = (key, eid, name)
        m = dict(m)
        m["entity_id"] = best[1] if best else None
        m["canonical_name"] = best[2] if best else None
        out.append(m)
    return out


def oracle_triples(linked: list[dict]) -> set[tuple]:
    """Ordered mention pairs, inter-phrase pattern match: every
    pattern forward, nothing ignored — the way extract_relations
    delegates to extract_relations_rich."""
    return oracle_triples_rich(
        linked, {k: (v, False) for k, v in RELATION_PATTERNS.items()}, []
    )


def oracle_triples_rich(
    linked: list[dict],
    patterns: dict[str, tuple[str, bool]],
    ignore_tokens: list[str],
) -> set[tuple]:
    """Single-process twin of operators/relations.extract_relations_rich:
    ordered mention pairs, gap tokens filtered of `ignore_tokens`,
    matched against (pred, inverted) patterns; inverted swaps
    subject/object."""
    ignore = set(ignore_tokens)
    by_sent: dict[tuple, list[dict]] = {}
    for m in linked:
        if m["entity_id"] is not None:
            by_sent.setdefault((m["url"], m["sentence_id"]), []).append(m)
    triples: set[tuple] = set()
    for (url, sid), ms in by_sent.items():
        toks = ms[0]["tokens"]
        for m1 in ms:
            for m2 in ms:
                if m1["word_end_index"] <= m2["word_start_index"]:
                    gap = toks[m1["word_end_index"] : m2["word_start_index"]]
                    phrase = " ".join(t for t in gap if t not in ignore)
                    hit = patterns.get(phrase)
                    if hit:
                        pred, inverted = hit
                        s, o = (
                            (m2["entity_id"], m1["entity_id"])
                            if inverted
                            else (m1["entity_id"], m2["entity_id"])
                        )
                        triples.add((s, pred, o, url, sid))
    return triples


def oracle_canonical_map() -> dict[int, int]:
    """Single-process twin of pipeline.run_pipeline(canonicalize=True):
    union-find over alias-dictionary ambiguity edges (two entity ids
    sharing an alias), representative = MIN id of the component —
    exactly connected_components' contract (components.py:46)."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    by_alias: dict[str, list[int]] = {}
    for alias, eid, _name, _prior in alias_rows():
        by_alias.setdefault(alias, []).append(eid)
    for ids in by_alias.values():
        for other in ids[1:]:
            ra, rb = find(ids[0]), find(other)
            if ra != rb:
                # union by value so the root is always the min id
                parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def run_oracle(
    pages: list[tuple],
    cfg: SpanMarkerConfig,
    lang_filter: str | None = None,
    use_extracted: bool = True,
    canonicalize: bool = False,
    doc_context_window: int = 0,
) -> dict:
    # run_pipeline drops null-url pages (PAGES declares url non-null)
    pages = [p for p in pages if p[0] is not None]
    mentions = oracle_mentions(
        pages, cfg, doc_context_window, lang_filter, use_extracted
    )
    linked = oracle_link(mentions)
    if canonicalize:
        cmap = oracle_canonical_map()
        linked = [
            (
                {**m, "entity_id": cmap.get(m["entity_id"], m["entity_id"])}
                if m["entity_id"] is not None
                else m
            )
            for m in linked
        ]
    triples = oracle_triples(linked)
    return {"mentions": mentions, "linked": linked, "triples": triples}


def precision_recall(pred: set[tuple], gold: set[tuple]) -> tuple[float, float]:
    if not pred and not gold:
        return 1.0, 1.0
    tp = len(pred & gold)
    p = tp / len(pred) if pred else 0.0
    r = tp / len(gold) if gold else 0.0
    return p, r
