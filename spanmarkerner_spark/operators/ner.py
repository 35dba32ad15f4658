"""SpanMarker-style NER as one Arrow-batched Spark UDF.

    sentences --ner_mentions (one mapInPandas: tokenize -> enumerate
              spans -> score each sentence once -> greedy decode)-->
              mentions

Why one UDF: chained mapInPandas calls fuse into one Spark STAGE but
run one PYTHON WORKER PER UDF per task — with tokenize, score and
decode as separate UDFs, local[32] ran ~96 workers + 32 JVM threads,
4-5x core oversubscription, measured 18x CPU inflation per row. One
UDF runs exactly one worker per task and ships (tokens in, mentions
out) through Arrow once.

Scale notes (100 TB design):
- the UDF is NARROW: after segment_sentences' window (which
  hash-partitions by url and sorts by sentence_id within partitions),
  no further shuffle is required. A sentence is one row: all of its
  candidate spans are scored and decoded inside one Arrow batch, so
  decode needs no carry buffer across batch boundaries.
- the O(n*L) span blow-up happens inside the UDF, after the shuffle,
  never through it (SURVEY.md §4).
- the encoder weights are built once per Python worker (module cache),
  not shipped per task.

Reference semantics: span_marker/tokenizer.py:161-266 (U2/F2),
span_marker/data_collator.py:52-130 + span_marker/modeling.py:125-205,
512-530 (U4/U5), span_marker/modeling.py:532-574 (U6/W3). The
reference splits a sentence's spans into marker-budget samples
(span_marker/trainer.py:368-405, U3); a levitated marker attends only
to the text, itself and its partner, so that split changes no score
and this engine scores the whole sentence as one row.
"""

from __future__ import annotations

import functools
import itertools
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from spanmarkerner_spark import schemas
from spanmarkerner_spark.config import SpanMarkerConfig
from spanmarkerner_spark.model import TinySpanEncoder, greedy_decode, score_batch
from spanmarkerner_spark.operators.context import context_merge
from spanmarkerner_spark.subword import encode_words, enumerate_spans

_MENTION_COLS = [f.name for f in schemas.MENTIONS.fields]

# sentences per score_batch call: sizes 16 to 256 scored the same
# input in the same CPU time within run-to-run noise; 64 keeps a
# sub-batch's (sentences x text x text) temporaries small
_SUB_BATCH = 64

# once-per-worker encoder cache (keyed by config identity fields)
_ENCODER_CACHE: dict[tuple, TinySpanEncoder] = {}


def _get_encoder(cfg: SpanMarkerConfig) -> TinySpanEncoder:
    key = (cfg.seed, cfg.hidden_size, cfg.vocab_size, cfg.model_max_length,
           tuple(cfg.labels))
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
    sentence of the same length shares one template, so the NER UDF
    derives marker ids and span lengths with array ops instead of
    per-span Python. Module level because cloudpickle cannot ship an
    lru_cache defined inside the UDF closure."""
    spans = enumerate_spans(num_words, entity_max_length)
    S = np.array([s for s, _ in spans], dtype=np.int64)
    X = np.array([x for _, x in spans], dtype=np.int64)
    S.flags.writeable = False
    X.flags.writeable = False
    return spans, S, X


def ner_mentions(
    sentences: DataFrame,
    cfg: SpanMarkerConfig,
    gazetteer: dict[str, int],
    context_window: int = 0,
) -> DataFrame:
    """sentences -> MENTIONS: the whole U2..U6 chain in ONE Arrow UDF
    (tokenize -> enumerate -> score -> greedy decode), per Arrow batch
    of whole sentences, one scorer row per sentence, sentences
    sub-batched by text length. This mirrors the reference's own fusion
    (modeling.py:466-574: one tokenizer call, one scoring loop, decode
    per sentence).

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
    gaz = dict(gazetteer)
    # a k-word span joined with single spaces holds at least k-1
    # spaces, so it can only equal a key with as many: spans longer
    # than the longest key (in words) skip the lookup
    gaz_max_words = max((k.count(" ") + 1 for k in gaz), default=0)
    outside = cfg.outside_id
    L = cfg.entity_max_length
    vocab = cfg.vocab_size
    model_max = cfg.model_max_length
    has_ctx = context_window > 0

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        enc = _get_encoder(cfg)
        no_ctx = itertools.repeat(None)
        for pdf in batches:
            rows = []
            meta = []  # (url, sid, words, e, spans, char_offset) per row
            for url, sid, toks, off, pv, nx in zip(
                pdf["url"], pdf["sentence_id"], pdf["tokens"],
                pdf["char_offset"],
                pdf["_prev_toks"] if has_ctx else no_ctx,
                pdf["_next_toks"] if has_ctx else no_ctx,
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
                rows.append(
                    {
                        "input_ids": input_ids,
                        "start_position_ids": sp_all,
                        "end_position_ids": ep_all,
                        "gaz_labels": gl_all,
                        "span_lens": lens,
                    }
                )
                meta.append((url, int(sid), words, e, spans, int(off)))
            if not rows:
                continue
            # score in sub-batches of similar text length: score_batch
            # pads every sentence's text to the sub-batch max, and the
            # per-span work is unpadded. A sentence's labels do not
            # depend on its sub-batch and its scores only within 1e-6
            # (BLAS blocking follows the padded shape), the same degree
            # of freedom Arrow batch boundaries already exercise.
            order = sorted(range(len(rows)), key=lambda i: len(rows[i]["input_ids"]))
            scored: list = [None] * len(rows)
            for c0 in range(0, len(order), _SUB_BATCH):
                idx = order[c0 : c0 + _SUB_BATCH]
                for i, res in zip(
                    idx, score_batch(enc, [rows[i] for i in idx], cfg)
                ):
                    scored[i] = res
            out: list[dict] = []
            for (url, sid, words, e, spans, off), (labels, scores) in zip(
                meta, scored
            ):
                # greedy_decode skips outside-labelled spans; drop them
                # before its sort
                cand = [
                    (s, x, l, sc)
                    for (s, x), l, sc in zip(spans, labels, scores)
                    if l != outside
                ]
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
            if out:
                yield pd.DataFrame(out, columns=_MENTION_COLS)

    cols = ["url", "sentence_id", "tokens", "char_offset"]
    staged = sentences.select(cols)
    if has_ctx:
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
