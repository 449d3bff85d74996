"""Torch-free state_dict ingestion (kernels/state_dict.py): engine
BERT params -> reference-named tensor dict -> params must be an exact
round trip, with bitwise-equal forwards — so a real trained checkpoint
(exported as npz/pickle) drops into the executed numpy path."""

from __future__ import annotations

import pickle

import numpy as np
import pytest

from remediner_spark.kernels.bert_encoder import (
    bert_token_logits,
    init_bert_params,
)
from remediner_spark.kernels.state_dict import (
    bert_params_from_state_dict,
    bert_state_dict_from_params,
    read_tensor_dict,
    read_torch_pt,
    write_torch_pt,
)

DIMS = dict(vocab=64, d=16, n_layers=2, n_heads=4, d_ffn=32, max_len=12)


def _bert_inputs():
    rng = np.random.RandomState(5)
    ids = rng.randint(0, DIMS["vocab"], size=(3, DIMS["max_len"]))
    att = np.ones_like(ids)
    att[:, 9:] = 0
    return ids, att


def test_bert_roundtrip_bitwise():
    p = init_bert_params(11, **DIMS)
    sd = bert_state_dict_from_params(p)
    p2 = bert_params_from_state_dict(sd, n_heads=DIMS["n_heads"])
    assert sorted(p2) == sorted(p)
    ids, att = _bert_inputs()
    want = bert_token_logits(ids, att, p)
    got = bert_token_logits(ids, att, p2)
    assert np.array_equal(want, got)  # bitwise, not allclose


def test_bert_roundtrip_through_files(tmp_path):
    p = init_bert_params(11, **DIMS)
    sd = bert_state_dict_from_params(p)
    npz = tmp_path / "ner.npz"
    np.savez(npz, **sd)
    pkl = tmp_path / "ner.pkl"
    with open(pkl, "wb") as f:
        pickle.dump(sd, f)
    pt = tmp_path / "ner.pt"
    write_torch_pt(sd, str(pt))
    ids, att = _bert_inputs()
    want = bert_token_logits(ids, att, p)
    for path in (str(npz), str(pt)):
        p2 = bert_params_from_state_dict(
            read_tensor_dict(path), n_heads=DIMS["n_heads"]
        )
        assert np.array_equal(want, bert_token_logits(ids, att, p2))
    # the raw-pickle branch is opt-in (arbitrary-code-on-load)
    with pytest.raises(ValueError, match="allow_pickle"):
        read_tensor_dict(str(pkl))
    p2 = bert_params_from_state_dict(
        read_tensor_dict(str(pkl), allow_pickle=True), n_heads=DIMS["n_heads"]
    )
    assert np.array_equal(want, bert_token_logits(ids, att, p2))


def test_torch_pt_roundtrip_dtypes(tmp_path):
    """write_torch_pt -> read_torch_pt is bitwise for every supported
    dtype, float32 included (what a real trained checkpoint holds)."""
    rng = np.random.RandomState(11)
    sd = {
        "a.float64": rng.randn(3, 4),
        "b.float32": rng.randn(5).astype(np.float32),
        "c.float16": rng.randn(2, 2).astype(np.float16),
        "d.int64": rng.randint(-(2**40), 2**40, size=(4,)),
        "e.int32": rng.randint(-100, 100, size=(2, 3)).astype(np.int32),
        "f.uint8": rng.randint(0, 255, size=(7,)).astype(np.uint8),
        "g.bool": rng.rand(6) > 0.5,
        "h.scalar": np.float32(2.5),
    }
    path = tmp_path / "mixed.pt"
    write_torch_pt(sd, str(path))
    got = read_torch_pt(str(path))
    assert sorted(got) == sorted(sd)
    for k in sd:
        want = np.asarray(sd[k])
        assert got[k].dtype == want.dtype, k
        assert got[k].shape == want.shape, k
        assert np.array_equal(got[k], want), k


def test_torch_pt_zip_layout_is_torch_shaped(tmp_path):
    """The emitted archive must have torch.save's exact entry layout
    and reference only torch globals — the compatibility contract that
    lets a real torch.load open our exports, and our reader open real
    checkpoints."""
    import pickletools
    import zipfile

    path = tmp_path / "layout.pt"
    write_torch_pt({"w": np.arange(6, dtype=np.float32).reshape(2, 3)}, str(path))
    with zipfile.ZipFile(path) as zf:
        names = set(zf.namelist())
        assert "archive/data.pkl" in names
        assert "archive/data/0" in names
        assert "archive/byteorder" in names
        assert zf.read("archive/data/0") == np.arange(
            6, dtype="<f4"
        ).tobytes()
        ops = [
            (op.name, arg)
            for op, arg, _pos in pickletools.genops(zf.read("archive/data.pkl"))
        ]
    # protocol 2 references globals via the GLOBAL opcode ("module name")
    globals_used = {arg for name, arg in ops if name == "GLOBAL"}
    assert "torch FloatStorage" in globals_used
    assert "torch._utils _rebuild_tensor_v2" in globals_used
    assert "collections OrderedDict" in globals_used
    assert not globals_used - {
        "torch FloatStorage", "torch._utils _rebuild_tensor_v2",
        "collections OrderedDict",
    }
    assert "torch" not in __import__("sys").modules  # fakes cleaned up


def test_torch_pt_strided_and_offset_storage(tmp_path):
    """Tensors that VIEW a larger storage (nonzero offset, transposed
    strides) must rebuild exactly — torch checkpoints may share one
    storage across tensors."""
    import collections
    import io
    import pickle
    import zipfile

    storage = np.arange(24, dtype=np.float32)

    # hand-build the pickle: two tensors over ONE storage key
    class P(pickle.Pickler):
        def persistent_id(self, obj):
            if isinstance(obj, str) and obj == "STORAGE0":
                return ("storage", _FS, "0", "cpu", 24)
            return None

    class _FSCls:
        pass

    _FSCls.__module__, _FSCls.__qualname__ = "torch", "FloatStorage"
    _FS = _FSCls
    import sys
    import types

    fake_t = types.ModuleType("torch")
    fake_t.FloatStorage = _FSCls
    fake_u = types.ModuleType("torch._utils")

    def _rt(*a):
        raise NotImplementedError

    _rt.__module__, _rt.__qualname__ = "torch._utils", "_rebuild_tensor_v2"
    fake_u._rebuild_tensor_v2 = _rt
    sys.modules["torch"] = fake_t
    sys.modules["torch._utils"] = fake_u
    try:

        class T:
            def __init__(self, offset, size, stride):
                self.args = (offset, size, stride)

            def __reduce_ex__(self, protocol):
                o, sz, st = self.args
                return (_rt, ("STORAGE0", o, sz, st, False,
                              collections.OrderedDict()))

        sd = collections.OrderedDict(
            plain=T(0, (4, 6), (6, 1)),        # contiguous view
            transposed=T(0, (6, 4), (1, 6)),   # column-major strides
            offset=T(2, (3, 2), (1, 3)),       # offset + odd strides
        )
        buf = io.BytesIO()
        P(buf, protocol=2).dump(sd)
    finally:
        del sys.modules["torch"], sys.modules["torch._utils"]

    path = tmp_path / "strided.pt"
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr("archive/data.pkl", buf.getvalue())
        zf.writestr("archive/data/0", storage.tobytes())
        zf.writestr("archive/version", "3\n")
    got = read_torch_pt(str(path))
    assert np.array_equal(got["plain"], storage.reshape(4, 6))
    assert np.array_equal(got["transposed"], storage.reshape(4, 6).T)
    want_offset = np.lib.stride_tricks.as_strided(
        storage[2:], shape=(3, 2), strides=(4, 12)
    )
    assert np.array_equal(got["offset"], want_offset)


def test_torch_pt_bfloat16_and_big_endian(tmp_path):
    """bf16 storages widen to the exact float32 (bf16 == top 16 bits
    of f32); a byteorder=big archive byte-swaps on read."""
    import zipfile

    f32 = np.array([1.5, -2.0, 0.0, 3.25], dtype=np.float32)
    bf16_le = (f32.view(np.uint32) >> 16).astype("<u2")
    import collections
    import io
    import pickle
    import sys
    import types

    fake_t = types.ModuleType("torch")

    class _BF:
        pass

    _BF.__module__, _BF.__qualname__ = "torch", "BFloat16Storage"
    fake_t.BFloat16Storage = _BF
    fake_u = types.ModuleType("torch._utils")

    def _rt(*a):
        raise NotImplementedError

    _rt.__module__, _rt.__qualname__ = "torch._utils", "_rebuild_tensor_v2"
    fake_u._rebuild_tensor_v2 = _rt
    sys.modules["torch"] = fake_t
    sys.modules["torch._utils"] = fake_u
    try:

        class T:
            def __reduce_ex__(self, protocol):
                return (_rt, ("S", 0, (4,), (1,), False,
                              collections.OrderedDict()))

        class P(pickle.Pickler):
            def persistent_id(self, obj):
                if obj == "S":
                    return ("storage", _BF, "0", "cpu", 4)
                return None

        buf = io.BytesIO()
        P(buf, protocol=2).dump(collections.OrderedDict(x=T()))
    finally:
        del sys.modules["torch"], sys.modules["torch._utils"]

    for order, payload in (
        ("little", bf16_le.tobytes()),
        ("big", bf16_le.byteswap().tobytes()),
    ):
        p = tmp_path / f"bf16_{order}.pt"
        with zipfile.ZipFile(p, "w") as zf:
            zf.writestr("archive/data.pkl", buf.getvalue())
            zf.writestr("archive/data/0", payload)
            zf.writestr("archive/version", "3\n")
            zf.writestr("archive/byteorder", order)
        got = read_torch_pt(str(p))
        assert got["x"].dtype == np.float32
        assert np.array_equal(got["x"], f32), order


def test_torch_pt_refuses_foreign_globals(tmp_path):
    """A malicious data.pkl referencing os.system must be rejected —
    the reader's find_class allowlist is the security boundary."""
    import io
    import pickle
    import zipfile

    class Evil:
        def __reduce__(self):
            import os

            return (os.system, ("true",))

    buf = io.BytesIO()
    pickle.Pickler(buf, protocol=2).dump({"x": Evil()})
    path = tmp_path / "evil.pt"
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr("archive/data.pkl", buf.getvalue())
        zf.writestr("archive/version", "3\n")
    # os.system pickles as posix.system (its real __module__)
    with pytest.raises(pickle.UnpicklingError, match="refusing to load"):
        read_torch_pt(str(path))


def test_bert_tagger_from_pt_checkpoint(tmp_path):
    """End-to-end: a .pt checkpoint (as the reference's torch.save
    writes) loads through NumpyBertTagger.from_state_dict and tags
    identically to the in-memory params — zero torch-side steps."""
    from remediner_spark.kernels.wordpiece import WordPieceTokenizer
    from remediner_spark.operators.bert_stub import NumpyBertTagger

    tok = WordPieceTokenizer()
    params = init_bert_params(
        13, vocab=len(tok._id_to_tok), d=32, n_layers=2, n_heads=4,
        d_ffn=64, max_len=48,
    )
    base = NumpyBertTagger(params, max_len=48, tokenizer=tok)
    sd = bert_state_dict_from_params(base._p)
    # float32, like a real trained checkpoint
    sd32 = {k: np.asarray(v, dtype=np.float32) for k, v in sd.items()}
    path = tmp_path / "ner_trained.pt"
    write_torch_pt(sd32, str(path))
    loaded = NumpyBertTagger.from_state_dict(
        str(path), n_heads=4, max_len=base.max_len
    )
    words = [["zemtrax", "caused", "severe", "nauseola"],
             ["plain", "words", "only"]]
    # float32 storage -> float64 params differ in low bits from the
    # float64 originals, but the TAGS (argmax decisions) must agree
    assert loaded.tag_words_batch(words) == base.tag_words_batch(words)


def test_bert_token_type_fold():
    """A checkpoint with a NONZERO token-type table must fold row 0
    into the position table (segment ids are always 0 downstream)."""
    p = init_bert_params(11, **DIMS)
    sd = bert_state_dict_from_params(p)
    tte = np.full((2, DIMS["d"]), 0.25)
    sd["bert.bert.embeddings.token_type_embeddings.weight"] = tte
    p2 = bert_params_from_state_dict(sd, n_heads=DIMS["n_heads"])
    assert np.array_equal(p2["pos"], p["pos"] + 0.25)


def test_bert_tagger_from_state_dict(tmp_path):
    """Operator surface: NumpyBertTagger.from_state_dict tags exactly
    like a tagger built from the same params directly. Params are
    sized to the real frozen vocab (a checkpoint's embedding rows must
    match the tokenizer that indexes them)."""
    from remediner_spark.kernels.wordpiece import WordPieceTokenizer
    from remediner_spark.operators.bert_stub import NumpyBertTagger

    tok = WordPieceTokenizer()
    params = init_bert_params(
        13, vocab=len(tok._id_to_tok), d=32, n_layers=2, n_heads=4,
        d_ffn=64, max_len=48,
    )
    base = NumpyBertTagger(params, max_len=48, tokenizer=tok)
    sd = bert_state_dict_from_params(base._p)
    path = tmp_path / "ner.npz"
    np.savez(path, **sd)
    loaded = NumpyBertTagger.from_state_dict(
        str(path), n_heads=4, max_len=base.max_len
    )
    words = [["zemtrax", "caused", "severe", "nauseola"],
             ["plain", "words", "only"]]
    assert loaded.tag_words_batch(words) == base.tag_words_batch(words)


def test_from_state_dict_vocab_mismatch_is_loud(tmp_path):
    """A checkpoint whose embedding table doesn't match the tokenizer
    vocab must refuse to load (silently wrong tags otherwise)."""
    from remediner_spark.operators.bert_stub import NumpyBertTagger

    base = NumpyBertTagger.seeded()  # vocab=4096 stand-in
    sd = bert_state_dict_from_params(base._p)
    path = tmp_path / "ner.npz"
    np.savez(path, **sd)
    with pytest.raises(ValueError, match="vocab size"):
        NumpyBertTagger.from_state_dict(str(path), n_heads=4)


def test_missing_key_is_loud():
    p = init_bert_params(11, **DIMS)
    sd = bert_state_dict_from_params(p)
    key = "bert.bert.encoder.layer.1.attention.self.key.weight"
    del sd[key]
    with pytest.raises(KeyError, match=key):
        bert_params_from_state_dict(sd, n_heads=DIMS["n_heads"])


def test_torch_pt_nested_checkpoint_is_loud(tmp_path):
    """A full training checkpoint ({'model': ..., 'step': ...}) must
    fail IMMEDIATELY naming the offending keys — silently dropping the
    non-tensor values used to load an empty dict that only failed
    later with an opaque missing-key error."""
    import io
    import pickle
    import zipfile

    buf = io.BytesIO()
    pickle.Pickler(buf, protocol=2).dump({"step": 7, "lr": 0.1})
    path = tmp_path / "ckpt.pt"
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr("archive/data.pkl", buf.getvalue())
        zf.writestr("archive/version", "3\n")
    with pytest.raises(ValueError, match="step.*sub-dict|non-tensor"):
        read_torch_pt(str(path))
