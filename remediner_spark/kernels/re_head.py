"""Numpy forward of the reference's RE head (M5) — torch-free.

Architecture transcribed from /root/reference/src/RE/model_re.py:10-61
(`ReModel.__bert_head`), executed in inference mode:

    token encodings [B, T, D]          (D stands for the reference's
                                        last-4-BERT-hidden concat, 4*768)
      -> dropout(0.4)                  (eval mode: identity)
      -> BiLSTM(hidden=H, 1 layer)     -> [B, T, 2H]
      -> Flatten                       -> [B, T*2H]
      -> Linear(T*2H -> R)             (dim_reduction, R = 768//2)
      -> Linear(R -> T*5) -> GELU      (final_linear; note the
                                        reference applies GELU AFTER
                                        the output layer)
      -> reshape [B, T, 5]             per-token relation-id logits

The LSTM follows torch.nn.LSTM's parameterization exactly: stacked
gate order (i, f, g, o), sigmoid/sigmoid/tanh/sigmoid activations,
h_t = o * tanh(c_t); the backward direction consumes the reversed
sequence and its outputs are re-reversed before concatenation. GELU is
the exact erf form (torch's default approximate='none').

Dims are parameters so tests run small; the reference's values are
D=3072, H=128, R=384, T=input_size. Weights ship as a dict of numpy
arrays inside the broadcast final model (operators/final_model.py).
"""

from __future__ import annotations

import math

import numpy as np

N_LABELS = 5  # relation-group ids 0..4 (data_utilities_re gold)


def _sigmoid(x: np.ndarray) -> np.ndarray:
    return 1.0 / (1.0 + np.exp(-x))


_erf = np.vectorize(math.erf)


def gelu(x: np.ndarray) -> np.ndarray:
    """Exact (erf) GELU — torch.nn.GELU(approximate='none')."""
    return 0.5 * x * (1.0 + _erf(x / math.sqrt(2.0)))


def init_re_head_params(
    seed: int, d_in: int, hidden: int, max_len: int, reduced: int
) -> dict[str, np.ndarray]:
    """Seeded weights in torch.nn.LSTM/Linear layout:
    w_ih [4H, D], w_hh [4H, H], b_ih/b_hh [4H] per direction;
    linear weights [out, in] + bias [out]."""
    rng = np.random.RandomState(seed)
    s = 0.1

    def w(*shape):
        return (rng.randn(*shape) * s).astype(np.float64)

    return {
        "w_ih_f": w(4 * hidden, d_in), "w_hh_f": w(4 * hidden, hidden),
        "b_ih_f": w(4 * hidden), "b_hh_f": w(4 * hidden),
        "w_ih_b": w(4 * hidden, d_in), "w_hh_b": w(4 * hidden, hidden),
        "b_ih_b": w(4 * hidden), "b_hh_b": w(4 * hidden),
        "w_red": w(reduced, max_len * 2 * hidden), "b_red": w(reduced),
        "w_out": w(max_len * N_LABELS, reduced), "b_out": w(max_len * N_LABELS),
    }


def lstm_direction(
    X: np.ndarray,
    w_ih: np.ndarray,
    w_hh: np.ndarray,
    b_ih: np.ndarray,
    b_hh: np.ndarray,
) -> np.ndarray:
    """One LSTM direction over X [B, T, D] -> [B, T, H]; torch gate
    order (input, forget, cell, output) along the stacked 4H axis."""
    B, T, _ = X.shape
    H = w_hh.shape[1]
    h = np.zeros((B, H))
    c = np.zeros((B, H))
    out = np.empty((B, T, H))
    # pre-compute the input projection for all timesteps at once
    proj = X @ w_ih.T + b_ih  # [B, T, 4H]
    for t in range(T):
        gates = proj[:, t] + h @ w_hh.T + b_hh
        i = _sigmoid(gates[:, 0 * H : 1 * H])
        f = _sigmoid(gates[:, 1 * H : 2 * H])
        g = np.tanh(gates[:, 2 * H : 3 * H])
        o = _sigmoid(gates[:, 3 * H : 4 * H])
        c = f * c + i * g
        h = o * np.tanh(c)
        out[:, t] = h
    return out


def re_head_forward(X: np.ndarray, p: dict[str, np.ndarray]) -> np.ndarray:
    """[B, T, D] encodings -> [B, T, 5] logits (the reference head)."""
    fwd = lstm_direction(X, p["w_ih_f"], p["w_hh_f"], p["b_ih_f"], p["b_hh_f"])
    bwd = lstm_direction(
        X[:, ::-1], p["w_ih_b"], p["w_hh_b"], p["b_ih_b"], p["b_hh_b"]
    )[:, ::-1]
    bi = np.concatenate([fwd, bwd], axis=-1)  # [B, T, 2H]
    B, T, H2 = bi.shape
    flat = bi.reshape(B, T * H2)
    reduced = flat @ p["w_red"].T + p["b_red"]
    logits = gelu(reduced @ p["w_out"].T + p["b_out"])
    return logits.reshape(B, T, N_LABELS)


def seeded_encoder(ids: np.ndarray, d_in: int) -> np.ndarray:
    """Deterministic stand-in for the reference's last-4-hidden-state
    concat (BERT is absent here): a seeded (seed 3) embedding lookup
    keyed by token id mod 4096. The HEAD above is the real transcribed
    architecture; only this encoder is a stand-in, clearly bounded to
    this function."""
    table = np.random.RandomState(3).randn(4096, d_in) * 0.1
    return table[np.asarray(ids) % 4096]
