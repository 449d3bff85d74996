"""Numpy forward of a BERT-style token-classification model (M1) —
torch-free.

Architecture transcribed from the reference's NER surface
(/root/reference/src/NER/model_ner.py:6-24: HuggingFace
`BertForTokenClassification` = BERT encoder + dropout + per-token
linear classifier over 5 IOB labels), in inference mode:

    ids [B, T]
      -> word emb + learned positional emb, LayerNorm        (BERT
      -> L x [ multi-head self-attention (softmax(QK^T/sqrt(d))V,
               residual + LayerNorm)
               position-wise FFN (Linear -> GELU -> Linear,
               residual + LayerNorm) ]                         encoder)
      -> Linear(d -> 5)                                       (head)

Post-LN ordering, erf-GELU, attention masking via additive -1e9 on
padded positions — the bert-base conventions. Dims are parameters so
tests run small (the reference's values: d=768, L=12, heads=12,
ffn=3072, T=max_len); weights are seeded stand-ins for the trained
checkpoint (torch absent), shipped via SparkContext.broadcast exactly
like the torch path would ship state_dict bytes.
"""

from __future__ import annotations

import numpy as np

from .re_head import gelu

N_LABELS = 5  # O, B-Drug, I-Drug, B-Effect, I-Effect


def _layer_norm(x: np.ndarray, g: np.ndarray, b: np.ndarray) -> np.ndarray:
    mu = x.mean(-1, keepdims=True)
    var = x.var(-1, keepdims=True)
    return (x - mu) / np.sqrt(var + 1e-12) * g + b


def _softmax(x: np.ndarray) -> np.ndarray:
    e = np.exp(x - x.max(-1, keepdims=True))
    return e / e.sum(-1, keepdims=True)


def init_bert_params(
    seed: int,
    vocab: int,
    d: int,
    n_layers: int,
    n_heads: int,
    d_ffn: int,
    max_len: int,
) -> dict:
    assert d % n_heads == 0
    rng = np.random.RandomState(seed)
    s = 0.05

    def w(*shape):
        return (rng.randn(*shape) * s).astype(np.float64)

    p: dict = {
        "_dims": np.array([vocab, d, n_layers, n_heads, d_ffn, max_len]),
        "emb": w(vocab, d),
        "pos": w(max_len, d),
        "ln_e_g": np.ones(d), "ln_e_b": np.zeros(d),
        "w_cls": w(N_LABELS, d), "b_cls": w(N_LABELS),
    }
    for i in range(n_layers):
        p[f"l{i}_wq"], p[f"l{i}_wk"] = w(d, d), w(d, d)
        p[f"l{i}_wv"], p[f"l{i}_wo"] = w(d, d), w(d, d)
        p[f"l{i}_bq"], p[f"l{i}_bk"] = w(d), w(d)
        p[f"l{i}_bv"], p[f"l{i}_bo"] = w(d), w(d)
        p[f"l{i}_ln1_g"], p[f"l{i}_ln1_b"] = np.ones(d), np.zeros(d)
        p[f"l{i}_w1"], p[f"l{i}_b1"] = w(d_ffn, d), w(d_ffn)
        p[f"l{i}_w2"], p[f"l{i}_b2"] = w(d, d_ffn), w(d)
        p[f"l{i}_ln2_g"], p[f"l{i}_ln2_b"] = np.ones(d), np.zeros(d)
    return p


def bert_token_logits(
    ids: np.ndarray, attention: np.ndarray, p: dict
) -> np.ndarray:
    """ids, attention [B, T] -> per-token label logits [B, T, 5]."""
    vocab, d, n_layers, n_heads, _d_ffn, _ml = (int(v) for v in p["_dims"])
    B, T = ids.shape
    dh = d // n_heads
    x = p["emb"][np.asarray(ids) % vocab] + p["pos"][:T]
    x = _layer_norm(x, p["ln_e_g"], p["ln_e_b"])
    # additive mask: padded keys contribute ~0 attention weight
    mask = (1.0 - np.asarray(attention, dtype=np.float64)) * -1e9
    mask = mask[:, None, None, :]  # [B, 1, 1, T]
    for i in range(n_layers):
        q = (x @ p[f"l{i}_wq"].T + p[f"l{i}_bq"])
        k = (x @ p[f"l{i}_wk"].T + p[f"l{i}_bk"])
        v = (x @ p[f"l{i}_wv"].T + p[f"l{i}_bv"])
        # [B, H, T, dh]
        q = q.reshape(B, T, n_heads, dh).transpose(0, 2, 1, 3)
        k = k.reshape(B, T, n_heads, dh).transpose(0, 2, 1, 3)
        v = v.reshape(B, T, n_heads, dh).transpose(0, 2, 1, 3)
        att = _softmax(q @ k.transpose(0, 1, 3, 2) / np.sqrt(dh) + mask)
        ctx = (att @ v).transpose(0, 2, 1, 3).reshape(B, T, d)
        x = _layer_norm(
            x + ctx @ p[f"l{i}_wo"].T + p[f"l{i}_bo"],
            p[f"l{i}_ln1_g"], p[f"l{i}_ln1_b"],
        )
        ffn = gelu(x @ p[f"l{i}_w1"].T + p[f"l{i}_b1"])
        x = _layer_norm(
            x + ffn @ p[f"l{i}_w2"].T + p[f"l{i}_b2"],
            p[f"l{i}_ln2_g"], p[f"l{i}_ln2_b"],
        )
    return x @ p["w_cls"].T + p["b_cls"]
