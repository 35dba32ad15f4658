"""Deterministic numpy stand-in for the SpanMarker scoring model.

The reference scores candidate spans by (1) collating each sample into
a fixed-width tensor with start/end *marker* tokens appended after the
text, marker position-ids copying their span endpoints' positions
(+2, the PL-Marker trick), and a block-structured attention matrix
(span_marker/data_collator.py:52-130); then (2) running a transformer
encoder and classifying the concatenated (start-marker, end-marker)
hidden states (span_marker/modeling.py:125-205).

No torch/transformers in this container, so the encoder is a tiny
deterministic numpy transformer (seeded weights) + a broadcast
gazetteer feature that makes predictions meaningful on the synthetic
corpus. The *dataflow contract* — marker layout, position ids,
attention blocks, per-pair classification, softmax scores — is
faithful to the reference; the learned weights are a stand-in.

Two forward implementations:

- ``forward_full``: the reference-faithful layout — total_size-wide
  padded batch, markers placed after the text at an even offset, full
  (B, T, T) block attention matrix, a sentence's spans split over
  marker-budget samples (``collate_full``). Kept as the semantics spec
  and used only in tests.
- ``forward_markers`` (production): mathematically the same attention
  restricted to what reaches the classifier. With a single encoder
  layer, text-row attention outputs are never consumed — only marker
  rows reach the classifier, and a marker row attends to exactly
  {text tokens, self, pair partner}. So the text part of its softmax
  depends only on the sentence and the marker's position: it is
  computed once per sentence and text position (row max, normaliser,
  value sum) and shared by every span that starts or ends there, and
  the self and pair scores come from position-only tables built once
  per encoder. Each span then merges the two parts with the exact
  online-softmax rescaling (Milakov & Gimelshein 2018) ahead of
  ``wo``, the FFN and the layer norm. A sentence is one scorer row
  whatever its span count; the marker-budget split of the reference
  changes no score. The text contractions are batched BLAS
  ``matmul`` over the sentences of a batch, whose blocking follows the
  padded text shape, so a sentence's scores depend on what else is in
  its batch, but only within 1e-6.

Everything here is pure numpy and shared verbatim by the Spark
mapInPandas UDF and the single-process oracle, so any pipeline/oracle
mismatch isolates a *dataflow* bug, not a math bug.
"""

from __future__ import annotations

import numpy as np

from spanmarkerner_spark.config import SpanMarkerConfig
from spanmarkerner_spark.subword import END_MARKER_ID, PAD_ID, START_MARKER_ID

GAZ_BONUS = 8.0
#: longer gazetteer matches outrank their own sub-spans ("acme corp"
#: must beat "acme"), otherwise greedy decode keeps the fragment and
#: downstream relation patterns lose adjacency
GAZ_LEN_BONUS = 2.0
OUTSIDE_BONUS = 4.0
DTYPE = np.float32


class TinySpanEncoder:
    """One-layer transformer encoder + marker-pair classifier with
    weights drawn once from a seeded RNG (same on every executor)."""

    def __init__(self, cfg: SpanMarkerConfig):
        self.cfg = cfg
        d = cfg.hidden_size
        rng = np.random.RandomState(cfg.seed)
        s = 1.0 / np.sqrt(d)
        self.emb = rng.normal(0, s, (cfg.vocab_size, d)).astype(DTYPE)
        # position ids run 0..model_max_length+2 (text positions +2)
        self.pos = rng.normal(0, s, (cfg.model_max_length + 3, d)).astype(DTYPE)
        self.wq = rng.normal(0, s, (d, d)).astype(DTYPE)
        self.wk = rng.normal(0, s, (d, d)).astype(DTYPE)
        self.wv = rng.normal(0, s, (d, d)).astype(DTYPE)
        self.wo = rng.normal(0, s, (d, d)).astype(DTYPE)
        self.w1 = rng.normal(0, s, (d, 2 * d)).astype(DTYPE)
        self.w2 = rng.normal(0, s, (2 * d, d)).astype(DTYPE)
        self.cls_w = rng.normal(0, s, (2 * d, cfg.num_reduced_labels)).astype(DTYPE)
        self.cls_b = np.zeros(cfg.num_reduced_labels, DTYPE)
        self._marker_tables()

    def _marker_tables(self) -> None:
        """Position-only marker terms, built once per encoder.

        A marker's input state is its embedding plus its position
        embedding, so its query, key and value, its self score and its
        score against a pair partner depend on position ids alone.
        Tables are indexed by kind * P + position id (P position ids;
        kind 0 is the start marker, kind 1 the end marker);
        ``marker_pair[i, p]`` scores marker i's query against the key of
        the other kind's marker at position id p.
        """
        d = self.cfg.hidden_size
        scale = DTYPE(1.0 / np.sqrt(d))
        h0 = np.stack([
            self.emb[START_MARKER_ID] + self.pos,
            self.emb[END_MARKER_ID] + self.pos,
        ])                                            # (2, P, d)
        q, k = h0 @ self.wq, h0 @ self.wk
        # text positions start at position id 2
        self.marker_q_text = q[:, 2:]                  # (2, P - 2, d)
        self.marker_h0 = h0.reshape(-1, d)             # (2P, d)
        self.marker_v = (h0 @ self.wv).reshape(-1, d)
        self.marker_self = ((q * k).sum(-1) * scale).ravel()  # (2P,)
        self.marker_pair = np.concatenate([
            (q[0][:, None, :] * k[1][None, :, :]).sum(-1),
            (q[1][:, None, :] * k[0][None, :, :]).sum(-1),
        ]) * scale                                     # (2P, P)

    # ---------------- production path ----------------

    def forward_markers(
        self,
        text_ids: np.ndarray,  # (B, n_max) int, PAD_ID-padded
        text_len: np.ndarray,  # (B,)
        row: np.ndarray,       # (N,) sentence of each span
        sp: np.ndarray,        # (N,) start-marker position ids (+2)
        ep: np.ndarray,        # (N,) end-marker position ids (+2)
    ) -> tuple[np.ndarray, np.ndarray]:
        """Returns (h_start, h_end): (N, d) marker hidden states, one
        pair per span.

        Exactly the block-attention semantics of forward_full for the
        marker rows: each marker attends to the text tokens, itself,
        and its pair partner; masked positions contribute exact zeros.
        The text part of a marker's softmax depends only on the
        sentence and the marker's position, so it is computed once per
        (sentence, text position, marker kind) as a row max, a
        normaliser and a value sum, and every span at that position
        reuses it; the self and pair terms come from the position
        tables. Merging the two parts is the exact online-softmax
        rescaling. The text contractions are BLAS matmul, whose
        summation order follows the padded (B, n_max) shape: a span
        scored in a different batch agrees within 1e-6, not bit for
        bit.
        """
        B, n_max = text_ids.shape
        d = self.cfg.hidden_size
        P = len(self.pos)
        scale = DTYPE(1.0 / np.sqrt(d))
        h_text = self.emb[text_ids] + self.pos[2 : n_max + 2]
        k_text = h_text @ self.wk
        v_text = h_text @ self.wv
        # queries of a start and of an end marker at every text position
        q = self.marker_q_text[:, :n_max].reshape(2 * n_max, d)
        s = q @ k_text.transpose(0, 2, 1)               # (B, 2n, n)
        s *= scale
        # padded text columns score -inf, so exp() gives them exact zeros
        pad = np.arange(n_max) < text_len[:, None]
        s += np.where(pad, DTYPE(0), DTYPE(-np.inf))[:, None, :]
        t_max = s.max(axis=-1)                          # (B, 2n)
        s -= t_max[:, :, None]
        np.exp(s, out=s)
        t_sum = s.sum(-1).ravel()
        t_val = (s @ v_text).reshape(-1, d)             # (B * 2n, d)
        t_max = t_max.ravel()

        # both markers of every span in one (2N,) stack: each marker's
        # row in the text statistics, its own table row and its
        # partner's position id
        N = len(sp)
        kind = np.repeat(np.array([0, 1]), N)
        pos = np.concatenate([sp, ep])
        partner = np.concatenate([ep, sp])
        t = (np.concatenate([row, row]) * 2 + kind) * n_max + pos - 2
        own = kind * P + pos
        m_text = t_max[t]
        s_self = self.marker_self[own]
        s_pair = self.marker_pair[own, partner]
        mx = np.maximum(m_text, np.maximum(s_self, s_pair))
        a_text = np.exp(m_text - mx)
        e_self = np.exp(s_self - mx)
        e_pair = np.exp(s_pair - mx)
        denom = t_sum[t] * a_text + e_self + e_pair
        ctx = t_val.take(t, axis=0)
        ctx *= (a_text / denom)[:, None]
        v = self.marker_v.take(own, axis=0)
        v *= (e_self / denom)[:, None]
        ctx += v
        v = self.marker_v.take((1 - kind) * P + partner, axis=0)
        v *= (e_pair / denom)[:, None]
        ctx += v
        h = ctx @ self.wo
        h += self.marker_h0.take(own, axis=0)
        f = h @ self.w1
        np.maximum(f, 0, out=f)
        h += f @ self.w2
        h -= h.mean(-1, keepdims=True)
        h /= np.sqrt((h * h).mean(-1, keepdims=True)) + 1e-6
        return h[:N], h[N:]

    # ---------------- reference-layout path (tests only) ----------------

    def forward_full(
        self,
        input_ids: np.ndarray,      # (B, T) int
        position_ids: np.ndarray,   # (B, T) int
        attn_mask: np.ndarray,      # (B, T, T) bool
    ) -> np.ndarray:                # (B, T, d)
        h0 = self.emb[input_ids] + self.pos[position_ids]
        q, k, v = h0 @ self.wq, h0 @ self.wk, h0 @ self.wv
        scores = (q @ k.transpose(0, 2, 1)) / np.sqrt(
            np.asarray(h0.shape[-1], DTYPE)
        )
        scores = np.where(attn_mask, scores, -np.inf)
        scores = scores - scores.max(axis=-1, keepdims=True)
        w = np.exp(scores)
        w = w / w.sum(axis=-1, keepdims=True)
        h = h0 + (w @ v) @ self.wo
        h = h + np.maximum(h @ self.w1, 0.0) @ self.w2
        h = (h - h.mean(axis=-1, keepdims=True)) / (
            h.std(axis=-1, keepdims=True) + 1e-6
        )
        return h


def collate_full(
    rows: list[dict], cfg: SpanMarkerConfig
) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """Reference-faithful wide layout (tests): pad to total_size, write
    markers after the text at an even offset (data_collator.py:64-75),
    build the (B, T, T) block attention matrix (:90-102)."""
    B, T = len(rows), cfg.total_size
    input_ids = np.full((B, T), PAD_ID, dtype=np.int64)
    position_ids = np.zeros((B, T), dtype=np.int64)
    attn = np.zeros((B, T, T), dtype=bool)
    start_idx = np.zeros(B, dtype=np.int64)
    num_pairs = np.zeros(B, dtype=np.int64)
    for b, row in enumerate(rows):
        ids = row["input_ids"][: cfg.model_max_length]
        n = len(ids)
        spr = row["start_position_ids"]
        epr = row["end_position_ids"]
        m = min(len(spr), cfg.marker_max_length)
        m0 = n + (n % 2)
        input_ids[b, :n] = ids
        input_ids[b, m0 : m0 + m] = START_MARKER_ID
        input_ids[b, m0 + m : m0 + 2 * m] = END_MARKER_ID
        position_ids[b, :n] = np.arange(2, n + 2)
        position_ids[b, m0 : m0 + m] = np.asarray(spr[:m]) + 2
        position_ids[b, m0 + m : m0 + 2 * m] = np.asarray(epr[:m]) + 2
        attn[b, :n, :n] = True
        attn[b, m0 : m0 + 2 * m, :n] = True
        for j in range(m):
            a, z = m0 + j, m0 + m + j
            attn[b, a, a] = attn[b, z, z] = True
            attn[b, a, z] = attn[b, z, a] = True
        start_idx[b] = m0
        num_pairs[b] = m
    return input_ids, position_ids, attn, start_idx, num_pairs


def score_batch(
    encoder: TinySpanEncoder,
    rows: list[dict],
    cfg: SpanMarkerConfig,
) -> list[tuple[list[int], list[float]]]:
    """Forward + marker-pair classification + softmax
    (modeling.py:512-530 analogue) over a batch of sentences, each
    with any number of candidate spans. A row dict holds the
    sentence's ``input_ids``, its spans' ``start_position_ids`` /
    ``end_position_ids`` (token indices), ``gaz_labels`` (per-span
    gazetteer label id, -1 = no match) and ``span_lens`` (span length
    in words). Text is padded to the batch's longest row; spans are
    not padded. Returns per row: (label_ids, scores)."""
    if not rows:
        return []
    B = len(rows)
    texts = [r["input_ids"][: cfg.model_max_length] for r in rows]
    n_max = max(len(ids) for ids in texts)
    text_ids = np.full((B, n_max), PAD_ID, dtype=np.int64)
    text_len = np.zeros(B, dtype=np.int64)
    for b, ids in enumerate(texts):
        text_ids[b, : len(ids)] = ids
        text_len[b] = len(ids)
    counts = [len(r["start_position_ids"]) for r in rows]
    bounds = np.cumsum([0] + counts).tolist()

    def flat(key: str) -> np.ndarray:
        return np.concatenate(
            [np.asarray(r[key], dtype=np.int64) for r in rows]
        )

    row = np.repeat(np.arange(B), counts)
    h_s, h_e = encoder.forward_markers(
        text_ids, text_len, row,
        flat("start_position_ids") + 2, flat("end_position_ids") + 2,
    )
    # classify all pairs at once: (N, 2d) @ (2d, L)
    feats = np.concatenate([h_s, h_e], axis=-1)
    logits = (feats @ encoder.cls_w + encoder.cls_b).astype(np.float64)

    gaz, lens = flat("gaz_labels"), flat("span_lens")
    hit = np.flatnonzero(gaz >= 0)
    logits[hit, gaz[hit]] += GAZ_BONUS + GAZ_LEN_BONUS * (lens[hit] - 1)
    logits[gaz < 0, cfg.outside_id] += OUTSIDE_BONUS

    z = logits - logits.max(axis=-1, keepdims=True)
    probs = np.exp(z)
    probs /= probs.sum(axis=-1, keepdims=True)
    label_ids = probs.argmax(axis=-1)                       # (N,)
    scores = np.take_along_axis(probs, label_ids[:, None], axis=-1)[:, 0]
    label_ids, scores = label_ids.tolist(), scores.tolist()
    return [
        (label_ids[b0:b1], scores[b0:b1])
        for b0, b1 in zip(bounds, bounds[1:])
    ]


def greedy_decode(
    spans: list[tuple[int, int, int, float]], outside_id: int
) -> list[tuple[int, int, int, float]]:
    """Greedy non-overlap selection (modeling.py:540-574 semantics):
    sort by score desc with a total (start, end, label) tie-break —
    making the reference's stable-sort behavior order-independent
    under Spark — accept a span iff no word in [start, end) is taken,
    emit sorted by start. spans: (start, end, label_id, score).
    (label in the key matters only for degenerate inputs where ONE
    span carries several labels at the same score — the pipeline emits
    each span once, but the operator must be total for any input.)"""
    kept: list[tuple[int, int, int, float]] = []
    taken: set[int] = set()
    for s, e, lab, sc in sorted(spans, key=lambda x: (-x[3], x[0], x[1], x[2])):
        if lab == outside_id:
            continue
        if any(w in taken for w in range(s, e)):
            continue
        taken.update(range(s, e))
        kept.append((s, e, lab, sc))
    kept.sort(key=lambda x: (x[0], x[1]))
    return kept
