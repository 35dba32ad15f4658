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
  (B, T, T) block attention matrix. Kept as the semantics spec and
  used only in tests.
- ``forward_markers`` (production): mathematically the same attention
  restricted to the rows/columns that can influence the classifier.
  With a single encoder layer, text-row attention outputs are never
  consumed — only marker rows reach the classifier, and marker rows
  attend to exactly {text tokens, self, pair partner}. Computing just
  those entries is ~60x faster in this container than the full
  layout, where the batched 3D matmul over (B, T, T) plus a (B, T, T)
  float mask were the bottleneck; it is what a fused GPU kernel would
  do anyway. The two marker-row contractions that remain (scores
  against the text keys, context from the text values) are batched
  BLAS ``matmul`` over (B, m, n) tiles. BLAS picks its blocking from
  the padded batch shape, so a row's scores depend on what else is in
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

    # ---------------- production path ----------------

    def forward_markers(
        self,
        text_ids: np.ndarray,   # (B, n_max) int, PAD_ID-padded
        text_len: np.ndarray,   # (B,)
        sp: np.ndarray,         # (B, m_max) start-marker position ids (+2), 0-padded
        ep: np.ndarray,         # (B, m_max) end-marker position ids (+2)
        num_pairs: np.ndarray,  # (B,)
    ) -> tuple[np.ndarray, np.ndarray]:
        """Returns (h_start, h_end): (B, m_max, d) marker hidden states.

        Exactly the block-attention semantics of forward_full for the
        marker rows: each marker attends to the text tokens, itself,
        and its pair partner; masked positions contribute exact zeros.
        The text contractions are BLAS matmul, whose summation order
        follows the padded (m_max, n_max) shape: a row scored in a
        different batch agrees within 1e-6, not bit for bit.
        """
        B, n_max = text_ids.shape
        d = self.cfg.hidden_size
        scale = DTYPE(1.0 / np.sqrt(d))
        # h0 for text (text position ids are 2..n+1) and markers
        text_pos = np.arange(2, n_max + 2, dtype=np.int64)[None, :]
        h_text = self.emb[text_ids] + self.pos[np.broadcast_to(text_pos, text_ids.shape)]
        h_s0 = self.emb[START_MARKER_ID] + self.pos[sp]   # (B, m, d)
        h_e0 = self.emb[END_MARKER_ID] + self.pos[ep]
        k_text = h_text @ self.wk
        v_text = h_text @ self.wv
        col_mask = (
            np.arange(n_max)[None, :] < text_len[:, None]
        )  # (B, n_max) valid text cols
        # k/v projections of the marker states are shared by both
        # attend() passes (self in one, pair in the other) — compute
        # each ONCE. Pure caching: bit-identical results.
        k_s, v_s = h_s0 @ self.wk, h_s0 @ self.wv
        k_e, v_e = h_e0 @ self.wk, h_e0 @ self.wv

        def attend(h_self0, k_self, v_self, k_pair, v_pair):
            q = h_self0 @ self.wq                     # (B, m, d)
            s_text = (q @ k_text.transpose(0, 2, 1)) * scale  # (B, m, n)
            s_text = np.where(col_mask[:, None, :], s_text, DTYPE(-np.inf))
            s_self = (q * k_self).sum(-1) * scale     # (B, m)
            s_pair = (q * k_pair).sum(-1) * scale
            mx = np.maximum(
                s_text.max(axis=-1), np.maximum(s_self, s_pair)
            )  # (B, m)
            e_text = np.exp(s_text - mx[:, :, None])
            e_self = np.exp(s_self - mx)
            e_pair = np.exp(s_pair - mx)
            denom = e_text.sum(-1) + e_self + e_pair
            ctx = (
                e_text @ v_text                       # (B, m, d)
                + e_self[:, :, None] * v_self
                + e_pair[:, :, None] * v_pair
            ) / denom[:, :, None]
            h = h_self0 + ctx @ self.wo
            h = h + np.maximum(h @ self.w1, 0) @ self.w2
            h = (h - h.mean(-1, keepdims=True)) / (h.std(-1, keepdims=True) + 1e-6)
            return h

        return (
            attend(h_s0, k_s, v_s, k_e, v_e),
            attend(h_e0, k_e, v_e, k_s, v_s),
        )

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


def collate(rows: list[dict], cfg: SpanMarkerConfig) -> dict[str, np.ndarray]:
    """Batch materialization (data_collator.py:52-130 semantics in the
    compact representation consumed by forward_markers): text padded to
    the batch max length, marker position ids = span endpoints' token
    positions + 2 (PL-Marker), marker count capped at marker_max_length.
    """
    B = len(rows)
    n_max = max(min(len(r["input_ids"]), cfg.model_max_length) for r in rows)
    m_max = max(min(len(r["start_position_ids"]), cfg.marker_max_length) for r in rows)
    m_max = max(m_max, 1)
    text_ids = np.full((B, n_max), PAD_ID, dtype=np.int64)
    text_len = np.zeros(B, dtype=np.int64)
    sp = np.zeros((B, m_max), dtype=np.int64)
    ep = np.zeros((B, m_max), dtype=np.int64)
    num_pairs = np.zeros(B, dtype=np.int64)
    for b, row in enumerate(rows):
        ids = row["input_ids"][: cfg.model_max_length]
        n = len(ids)
        m = min(len(row["start_position_ids"]), cfg.marker_max_length)
        text_ids[b, :n] = ids
        text_len[b] = n
        sp[b, :m] = np.asarray(row["start_position_ids"][:m]) + 2
        ep[b, :m] = np.asarray(row["end_position_ids"][:m]) + 2
        num_pairs[b] = m
    return {
        "text_ids": text_ids,
        "text_len": text_len,
        "sp": sp,
        "ep": ep,
        "num_pairs": num_pairs,
    }


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
    gazetteer: dict[str, int],
    cfg: SpanMarkerConfig,
) -> list[tuple[list[int], list[float]]]:
    """Collate + forward + marker-pair classification + softmax
    (modeling.py:512-530 analogue). Each row dict needs either
    ``gaz_labels`` (per-span gazetteer label id, -1 = no match —
    computed in the NER UDF in the production pipeline) or ``span_texts``
    (lower-cased surfaces, looked up here — the oracle/test path).
    Returns per row: (label_ids, scores)."""
    if not rows:
        return []
    c = collate(rows, cfg)
    h_s, h_e = encoder.forward_markers(
        c["text_ids"], c["text_len"], c["sp"], c["ep"], c["num_pairs"]
    )
    # classify all pairs at once: (B, m_max, 2d) @ (2d, L)
    feats = np.concatenate([h_s, h_e], axis=-1)
    logits = (feats @ encoder.cls_w + encoder.cls_b).astype(np.float64)

    B, m_max = c["sp"].shape
    gaz = np.full((B, m_max), -1, dtype=np.int64)
    lens = np.ones((B, m_max), dtype=np.int64)
    for b, row in enumerate(rows):
        gl = row.get("gaz_labels")
        if gl is None:
            gl = [gazetteer.get(t, -1) for t in row["span_texts"]]
        m = min(len(gl), m_max)
        if m:
            gaz[b, :m] = np.asarray(gl[:m], dtype=np.int64)
            sl = row.get("span_lens")
            if sl is not None:
                lens[b, :m] = np.asarray(sl[:m], dtype=np.int64)
            elif "span_texts" in row:
                lens[b, :m] = [
                    t.count(" ") + 1 for t in row["span_texts"][:m]
                ]
    hit = gaz >= 0
    bi, mi = np.nonzero(hit)
    logits[bi, mi, gaz[bi, mi]] += GAZ_BONUS + GAZ_LEN_BONUS * (
        lens[bi, mi] - 1
    )
    bi, mi = np.nonzero(~hit)
    logits[bi, mi, cfg.outside_id] += OUTSIDE_BONUS

    z = logits - logits.max(axis=-1, keepdims=True)
    probs = np.exp(z)
    probs /= probs.sum(axis=-1, keepdims=True)
    label_ids = probs.argmax(axis=-1)                       # (B, m_max)
    scores = np.take_along_axis(probs, label_ids[:, :, None], axis=-1)[:, :, 0]
    out: list[tuple[list[int], list[float]]] = []
    for b in range(B):
        m = int(c["num_pairs"][b])
        out.append(
            (label_ids[b, :m].astype(int).tolist(), scores[b, :m].tolist())
        )
    return out


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
