"""SpanMarker-style NER as Spark stages.

    sentences --tokenize(U2: mapInPandas)--> tokenized
              --enumerate spans (F2: pure expressions)-->
              --spread (U3: explode+slice, pure expressions)-->
              --score (U4+U5: mapInPandas, numpy encoder)--> scored
              --decode (U6/W3: narrow buffered mapInPandas)--> mentions

Scale notes (100 TB design):
- tokenize/score/decode are NARROW: after segment_sentences' window
  (which hash-partitions by url and sorts by sentence_id within
  partitions), no further shuffle is required through decode — chunks
  of one sentence stay adjacent in one partition, so decode can
  stream with a key-change buffer across Arrow batches. A
  groupBy-based decode (decode_mentions_shuffle) exists as the
  order-independent fallback.
- span enumeration and spreading are whole-stage-codegen expressions;
  the O(n*L) span blow-up never hits a shuffle (SURVEY.md §4).
- the encoder weights are built once per Python worker (module cache),
  not shipped per task.

Reference semantics: span_marker/tokenizer.py:161-266 (U2/F2),
span_marker/trainer.py:368-405 (U3), span_marker/data_collator.py:52-130
+ span_marker/modeling.py:125-205,512-530 (U4/U5),
span_marker/modeling.py:532-574 (U6/W3).
"""

from __future__ import annotations

import functools
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from spanmarkerner_spark import schemas
from spanmarkerner_spark.config import SpanMarkerConfig
from spanmarkerner_spark.model import TinySpanEncoder, greedy_decode, score_batch
from spanmarkerner_spark.subword import encode_words, enumerate_spans

# once-per-worker encoder cache (keyed by config identity fields)
_ENCODER_CACHE: dict[tuple, TinySpanEncoder] = {}


def _get_encoder(cfg: SpanMarkerConfig) -> TinySpanEncoder:
    key = (cfg.seed, cfg.hidden_size, cfg.vocab_size, cfg.model_max_length,
           cfg.marker_max_length, tuple(cfg.labels))
    enc = _ENCODER_CACHE.get(key)
    if enc is None:
        enc = _ENCODER_CACHE[key] = TinySpanEncoder(cfg)
    return enc


@functools.lru_cache(maxsize=1024)
def _span_template(
    num_words: int, entity_max_length: int
) -> tuple[list[tuple[int, int]], np.ndarray, np.ndarray]:
    """A sentence's candidate spans as (spans, S, X): the
    enumerate_spans list plus read-only start / end arrays. Every
    sentence of the same length shares one template, so the fused UDF
    derives marker ids and span lengths with array ops instead of
    per-span Python. Module level because cloudpickle cannot ship an
    lru_cache defined inside the UDF closure."""
    spans = enumerate_spans(num_words, entity_max_length)
    S = np.array([s for s, _ in spans], dtype=np.int64)
    X = np.array([x for _, x in spans], dtype=np.int64)
    S.flags.writeable = False
    X.flags.writeable = False
    return spans, S, X


# -------------------------------------------------------------------
# U2: tokenize
# -------------------------------------------------------------------

def tokenize(sentences: DataFrame, cfg: SpanMarkerConfig) -> DataFrame:
    """sentences -> TOKENIZED via one Arrow-batched UDF."""
    vocab, mml = cfg.vocab_size, cfg.model_max_length

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {k: [] for k in (
                "url", "sentence_id", "tokens", "input_ids", "num_words",
                "word_tok_start", "word_tok_end", "word_char_start",
                "word_char_end", "char_offset")}
            for url, sid, toks, off in zip(
                pdf["url"], pdf["sentence_id"], pdf["tokens"], pdf["char_offset"]
            ):
                words = list(toks)
                enc = encode_words(words, vocab, mml)
                if enc["num_words"] == 0:
                    continue
                out["url"].append(url)
                out["sentence_id"].append(sid)
                out["tokens"].append(words[: enc["num_words"]])
                out["input_ids"].append(enc["input_ids"])
                out["num_words"].append(enc["num_words"])
                out["word_tok_start"].append(enc["word_tok_start"])
                out["word_tok_end"].append(enc["word_tok_end"])
                out["word_char_start"].append(enc["word_char_start"])
                out["word_char_end"].append(enc["word_char_end"])
                out["char_offset"].append(off)
            yield pd.DataFrame(out)

    cols = ["url", "sentence_id", "tokens", "char_offset"]
    return sentences.select(cols).mapInPandas(fn, schema=schemas.TOKENIZED)


# -------------------------------------------------------------------
# F2 + U3: enumerate candidate spans, then spread over marker budget —
# pure codegen expressions, no Python
# -------------------------------------------------------------------

def enumerate_and_spread(
    tokenized: DataFrame,
    cfg: SpanMarkerConfig,
    gazetteer: dict[str, int] | None = None,
) -> DataFrame:
    """When a gazetteer is given, each chunk also gets a ``gaz_labels``
    int array (label id per candidate span, -1 = no match) computed
    with a JVM map literal — keeping the ~O(spans) string work in
    codegen instead of Python (it dominated the scoring stage)."""
    L = cfg.entity_max_length
    total = cfg.total_size
    mml = cfg.marker_max_length

    spans = F.expr(
        "flatten(transform(sequence(0, num_words - 1), "
        f" s -> transform(sequence(s + 1, least(num_words, s + {L})), "
        "  e -> struct(s, e))))"
    )
    df = (
        tokenized.filter(F.col("num_words") > 0)
        .withColumn("_spans", spans)
        .withColumn(
            "_space",
            F.least(
                F.lit(mml),
                F.floor((F.lit(total) - F.size("input_ids")) / 2).cast("int"),
            ),
        )
        .withColumn(
            "_chunks",
            F.ceil(F.size("_spans") / F.col("_space")).cast("int"),
        )
    )
    # 1 -> N: one physical sample per marker-budget chunk
    # (trainer.py:368-405 semantics, as a pure explode)
    df = df.withColumn("chunk", F.explode(F.sequence(F.lit(0), F.col("_chunks") - 1)))
    sl = "slice(_spans, chunk * _space + 1, _space)"
    df = (
        df.withColumn("_chunk_spans", F.expr(sl))
        .withColumn("span_starts", F.expr("transform(_chunk_spans, p -> p.s)"))
        .withColumn("span_ends", F.expr("transform(_chunk_spans, p -> p.e)"))
        .withColumn(
            "start_position_ids",
            F.expr("transform(_chunk_spans, p -> element_at(word_tok_start, p.s + 1))"),
        )
        .withColumn(
            "end_position_ids",
            F.expr("transform(_chunk_spans, p -> element_at(word_tok_end, p.e))"),
        )
    )
    if gazetteer:
        gaz_map = F.create_map(
            *[F.lit(x) for kv in gazetteer.items() for x in kv]
        )
        df = df.withColumn("_gazmap", gaz_map).withColumn(
            "gaz_labels",
            F.expr(
                "transform(_chunk_spans, p -> coalesce(element_at(_gazmap, "
                "lower(array_join(slice(tokens, p.s + 1, p.e - p.s), ' '))), -1))"
            ),
        ).drop("_gazmap")
    return df.drop("_spans", "_space", "_chunks", "_chunk_spans")


# -------------------------------------------------------------------
# U4 + U5: collate + encoder forward + softmax (one fused UDF)
# -------------------------------------------------------------------

def score_spans(
    spread: DataFrame, cfg: SpanMarkerConfig, gazetteer: dict[str, int]
) -> DataFrame:
    gaz = dict(gazetteer)  # only the oracle fallback path uses this

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        enc = _get_encoder(cfg)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            rows = [
                {
                    "input_ids": iids,
                    "start_position_ids": sp,
                    "end_position_ids": ep,
                    "gaz_labels": gl,
                    "span_lens": se - ss,
                }
                for iids, sp, ep, gl, ss, se in zip(
                    pdf["input_ids"], pdf["start_position_ids"],
                    pdf["end_position_ids"], pdf["gaz_labels"],
                    pdf["span_starts"], pdf["span_ends"],
                )
            ]
            scored = score_batch(enc, rows, gaz, cfg)
            yield pd.DataFrame(
                {
                    "url": pdf["url"],
                    "sentence_id": pdf["sentence_id"],
                    "chunk": pdf["chunk"],
                    "span_starts": pdf["span_starts"],
                    "span_ends": pdf["span_ends"],
                    "label_ids": [s[0] for s in scored],
                    "scores": [s[1] for s in scored],
                    "tokens": pdf["tokens"],
                    "word_char_start": pdf["word_char_start"],
                    "word_char_end": pdf["word_char_end"],
                    "char_offset": pdf["char_offset"],
                }
            )

    cols = [
        "url", "sentence_id", "chunk", "tokens", "input_ids",
        "span_starts", "span_ends", "start_position_ids",
        "end_position_ids", "gaz_labels", "word_char_start",
        "word_char_end", "char_offset",
    ]
    return spread.select(cols).mapInPandas(fn, schema=schemas.SCORED)


# -------------------------------------------------------------------
# U6 / W3: greedy non-overlap decode
# -------------------------------------------------------------------

_DECODE_COLS = [
    "url", "sentence_id", "span_starts", "span_ends", "label_ids",
    "scores", "tokens", "word_char_start", "word_char_end", "char_offset",
]


def _decode_sentence(rows: list[tuple], cfg: SpanMarkerConfig) -> list[dict]:
    """Merge a sentence's chunks (tuples in _DECODE_COLS order),
    greedy-select, emit mention dicts."""
    url, sid = rows[0][0], rows[0][1]
    cand: list[tuple[int, int, int, float]] = []
    for r in rows:
        cand.extend(zip(r[2], r[3], r[4], r[5]))
    kept = greedy_decode(cand, cfg.outside_id)
    if not kept:
        return []
    toks = list(rows[0][6])
    wcs, wce, off = rows[0][7], rows[0][8], rows[0][9]
    out = []
    for s, e, lab, sc in kept:
        out.append(
            {
                "url": url,
                "sentence_id": int(sid),
                "span": " ".join(toks[s:e]),
                "label": cfg.reduced_labels[lab],
                "score": float(sc),
                "word_start_index": int(s),
                "word_end_index": int(e),
                "char_start_index": int(off + wcs[s]),
                "char_end_index": int(off + wce[e - 1]),
            }
        )
    return out


def decode_mentions(scored: DataFrame, cfg: SpanMarkerConfig) -> DataFrame:
    """NARROW decode: scored chunks of one sentence are adjacent within
    a partition (explode + mapInPandas preserve order), so buffer rows
    per (url, sentence_id) across Arrow batch boundaries and flush on
    key change — zero extra shuffle (SURVEY.md §7.3 batch-boundary
    hazard handled by the carry buffer)."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        buf: list[tuple] = []
        key: tuple | None = None
        pending: list[dict] = []
        for pdf in batches:
            cols = [pdf[c].to_numpy() for c in _DECODE_COLS]
            for row in zip(*cols):
                k = (row[0], row[1])
                if k != key and buf:
                    pending.extend(_decode_sentence(buf, cfg))
                    buf = []
                key = k
                buf.append(row)
            if pending:
                yield pd.DataFrame(pending, columns=_MENTION_COLS)
                pending = []
        if buf:
            pending.extend(_decode_sentence(buf, cfg))
        if pending:
            yield pd.DataFrame(pending, columns=_MENTION_COLS)

    return scored.mapInPandas(fn, schema=schemas.MENTIONS)


_MENTION_COLS = [f.name for f in schemas.MENTIONS.fields]


def decode_mentions_shuffle(scored: DataFrame, cfg: SpanMarkerConfig) -> DataFrame:
    """Order-independent decode via groupBy + applyInPandas — the
    fallback when upstream adjacency cannot be guaranteed (e.g. input
    read back from an unsorted table)."""

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        rows = list(zip(*[pdf[c].to_numpy() for c in _DECODE_COLS]))
        return pd.DataFrame(_decode_sentence(rows, cfg), columns=_MENTION_COLS)

    return scored.groupBy("url", "sentence_id").applyInPandas(
        fn, schema=schemas.MENTIONS
    )


def ner_mentions_fused(
    sentences: DataFrame,
    cfg: SpanMarkerConfig,
    gazetteer: dict[str, int],
    context_window: int = 0,
) -> DataFrame:
    """The whole U2..U6 chain in ONE Arrow UDF: tokenize -> enumerate
    -> chunk over the marker budget -> collate+score -> greedy decode,
    per Arrow batch of whole sentences.

    Why fused: the staged operators chain three mapInPandas calls that
    Spark fuses into one STAGE but with one PYTHON WORKER PER UDF per
    task — at local[32] that is ~96 workers + 32 JVM threads, 4-5x
    core oversubscription, measured 18x CPU inflation per row. Fused,
    each task runs exactly one worker and ships (tokens in, mentions
    out) through Arrow once. This mirrors the reference's own fusion
    (modeling.py:466-574: one tokenizer call, one scoring loop, decode
    per sentence). Chunks of a sentence never cross batches here, so
    decode needs no carry buffer.

    context_window > 0 enables document context (W1, the reference's
    predict() with document_id present, modeling.py:474-492 +
    trainer.py:278-366): each sentence's encoding is padded with up to
    `context_window` neighbouring sentences' token ids on each side
    (whole sentences only, alternating next/prev, specials stripped)
    and the marker position ids are shifted by the prepended length.
    The neighbour token arrays arrive via window lag/lead over
    (url, sentence_id) — the upstream repartition("url") +
    sortWithinPartitions already satisfies that window's required
    distribution and ordering, so context adds NO extra shuffle.
    """
    from spanmarkerner_spark.operators.context import context_merge

    gaz = dict(gazetteer)
    # a k-word span joined with single spaces holds at least k-1
    # spaces, so it can only equal a key with as many: spans longer
    # than the longest key (in words) skip the lookup
    gaz_max_words = max((k.count(" ") + 1 for k in gaz), default=0)
    outside = cfg.outside_id
    L = cfg.entity_max_length
    mml = cfg.marker_max_length
    vocab = cfg.vocab_size
    model_max = cfg.model_max_length

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        enc = _get_encoder(cfg)
        for pdf in batches:
            rows = []
            meta = []  # (url, sid, words, e, spans) per chunk row
            has_ctx = "_prev_toks" in pdf.columns
            prev_col = pdf["_prev_toks"] if has_ctx else pdf["url"]
            next_col = pdf["_next_toks"] if has_ctx else pdf["url"]
            for url, sid, toks, off, pv, nx in zip(
                pdf["url"], pdf["sentence_id"], pdf["tokens"],
                pdf["char_offset"], prev_col, next_col,
            ):
                words = list(toks)
                e = encode_words(words, vocab, model_max)
                nw = e["num_words"]
                if nw == 0:
                    continue
                words = words[:nw]
                input_ids, shift = e["input_ids"], 0
                if has_ctx:
                    pv_ids = [
                        encode_words(list(t), vocab, model_max)["input_ids"]
                        for t in pv if t is not None
                    ]
                    nx_ids = [
                        encode_words(list(t), vocab, model_max)["input_ids"]
                        for t in nx if t is not None
                    ]
                    input_ids, shift = context_merge(
                        e["input_ids"], pv_ids, nx_ids, model_max
                    )
                spans, S, X = _span_template(nw, L)
                sp_all = np.asarray(e["word_tok_start"])[S] + shift
                ep_all = np.asarray(e["word_tok_end"])[X - 1] + shift
                lens = X - S
                gl_all = np.full(len(spans), -1, dtype=np.int64)
                short = np.flatnonzero(lens <= gaz_max_words).tolist()
                if short:
                    gl_all[short] = [
                        gaz.get(" ".join(words[s:x]).lower(), -1)
                        for s, x in map(spans.__getitem__, short)
                    ]
                space = min(mml, (cfg.total_size - len(input_ids)) // 2)
                for c0 in range(0, len(spans), space):
                    c1 = c0 + space
                    rows.append(
                        {
                            "input_ids": input_ids,
                            "start_position_ids": sp_all[c0:c1],
                            "end_position_ids": ep_all[c0:c1],
                            "gaz_labels": gl_all[c0:c1],
                            "span_lens": lens[c0:c1],
                        }
                    )
                    meta.append((url, int(sid), words, e, spans[c0:c1], int(off)))
            if not rows:
                continue
            # bound collate width: an Arrow batch of long pages can
            # expand to thousands of chunk rows; score in sub-batches
            # so temporaries stay cache-friendly. Sub-batches are
            # drawn in (num_pairs, text_len) order: collate pads every
            # row to the sub-batch max, and shape-sorted batching cuts
            # the padded attention FLOPs 2.3x -> ~1.3x of real work.
            # Measured on the synthetic corpus (grid over batch size x
            # sort key): unsorted/1024 2.80s -> (m,n)-sorted/512 1.72s
            # scoring wall, +51% sentences/s including prep. m first:
            # num_pairs sets the marker dim of every attend tensor and
            # is the spread-ier axis (p50 25 vs cap 32).
            # Per-row labels are independent of batch composition and
            # scores agree within 1e-6 (each marker row attends only to
            # its own text/self/pair; padded columns contribute exact
            # zeros; BLAS blocking follows the padded shape), the same
            # degree of freedom Arrow batch boundaries already
            # exercise — results are restored to input order for the
            # adjacency-dependent regroup below.
            order = sorted(
                range(len(rows)),
                key=lambda i: (
                    len(rows[i]["start_position_ids"]),
                    len(rows[i]["input_ids"]),
                ),
            )
            scored: list = [None] * len(rows)
            for c0 in range(0, len(order), 512):
                idx = order[c0 : c0 + 512]
                for i, res in zip(
                    idx, score_batch(enc, [rows[i] for i in idx], gaz, cfg)
                ):
                    scored[i] = res
            # regroup chunks per sentence (adjacent by construction)
            out: list[dict] = []
            i = 0
            while i < len(meta):
                url, sid, words, e, _, off = meta[i]
                cand: list[tuple[int, int, int, float]] = []
                j = i
                while j < len(meta) and meta[j][0] == url and meta[j][1] == sid:
                    labels, scores = scored[j]
                    # greedy_decode skips outside-labelled spans; drop
                    # them before its sort
                    cand.extend(
                        (s, x, l, sc)
                        for (s, x), l, sc in zip(meta[j][4], labels, scores)
                        if l != outside
                    )
                    j += 1
                for s, x, lab, sc in greedy_decode(cand, outside):
                    out.append(
                        {
                            "url": url,
                            "sentence_id": sid,
                            "span": " ".join(words[s:x]),
                            "label": cfg.reduced_labels[lab],
                            "score": float(sc),
                            "word_start_index": int(s),
                            "word_end_index": int(x),
                            "char_start_index": off + e["word_char_start"][s],
                            "char_end_index": off + e["word_char_end"][x - 1],
                        }
                    )
                i = j
            if out:
                yield pd.DataFrame(out, columns=_MENTION_COLS)

    cols = ["url", "sentence_id", "tokens", "char_offset"]
    staged = sentences.select(cols)
    if context_window > 0:
        from pyspark.sql import Window

        w = Window.partitionBy("url").orderBy("sentence_id")
        staged = staged.withColumn(
            "_prev_toks",
            F.array(*[
                F.lag("tokens", i).over(w) for i in range(1, context_window + 1)
            ]),
        ).withColumn(
            "_next_toks",
            F.array(*[
                F.lead("tokens", i).over(w) for i in range(1, context_window + 1)
            ]),
        )
    return staged.mapInPandas(fn, schema=schemas.MENTIONS)


def ner_mentions(
    sentences: DataFrame,
    cfg: SpanMarkerConfig,
    gazetteer: dict[str, int],
    narrow_decode: bool = True,
    fused: bool = True,
    context_window: int = 0,
) -> DataFrame:
    """sentences -> mentions, the full U2..U6 chain. fused=True (the
    production path) runs one UDF; fused=False runs the staged
    operators (used by tests to pin stage semantics). context_window
    enables the reference's document-context mode (W1)."""
    if fused:
        return ner_mentions_fused(
            sentences, cfg, gazetteer, context_window=context_window
        )
    tok = tokenize(sentences, cfg)
    if context_window > 0:
        from spanmarkerner_spark.operators.context import add_document_context

        tok = add_document_context(tok, cfg, window_size=context_window)
    spread = enumerate_and_spread(tok, cfg, gazetteer)
    scored = score_spans(spread, cfg, gazetteer)
    if narrow_decode:
        return decode_mentions(scored, cfg)
    return decode_mentions_shuffle(scored, cfg)
