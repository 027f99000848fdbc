"""Test fixture: the ONNX protobuf wire WRITER and a tiny GLiNER model.

``gliner_spark.kernels.onnx_rt`` only reads and executes model files;
this module writes them, so tests (and ``tools/padding_probe.py``) can
drive ``OnnxScorer``/``MiniOnnxSession`` through a real ``.onnx`` file:

- ``serialize_model``/``tensor_to_bytes``: enough of
  ModelProto/GraphProto/NodeProto/TensorProto/AttributeProto to
  round-trip through ``onnx_rt.parse_model``;
- ``build_tiny_gliner_model``: a model file whose graph has the GLiNER
  span-scoring contract — consumes all six feed tensors
  (names/shapes/dtypes per model.cpp:54-68), extracts first-subword
  word vectors via the words_mask counter (the O6 convention), label
  vectors from the token following each ``<<ENT>>`` prompt marker
  (processor.cpp:33-39), builds start/end span representations from
  span_idx, and emits ``logits`` of logical shape
  (B, numWords, maxWidth, E) exactly as decoder.cpp:96-101 expects.
"""

from __future__ import annotations

import struct
from typing import Dict, Sequence, Tuple

import numpy as np

from gliner_spark.kernels.onnx_rt import _WT_I32, _WT_LEN, _WT_VARINT


def _varint(v: int) -> bytes:
    if v < 0:
        v += 1 << 64
    out = bytearray()
    while True:
        b = v & 0x7F
        v >>= 7
        if v:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _tag(fnum: int, wt: int) -> bytes:
    return _varint((fnum << 3) | wt)


def _len_field(fnum: int, payload: bytes) -> bytes:
    return _tag(fnum, _WT_LEN) + _varint(len(payload)) + payload


def _str_field(fnum: int, s: str) -> bytes:
    return _len_field(fnum, s.encode("utf-8"))


def _int_field(fnum: int, v: int) -> bytes:
    return _tag(fnum, _WT_VARINT) + _varint(v)


# numpy → TensorProto.data_type
_NP_TO_DT = {np.dtype(np.float32): 1, np.dtype(np.int32): 6,
             np.dtype(np.int64): 7, np.dtype(np.bool_): 9,
             np.dtype(np.float64): 11}


def tensor_to_bytes(name: str, arr: np.ndarray) -> bytes:
    # NOT ascontiguousarray: that promotes 0-d scalars to shape (1,);
    # tobytes() below handles non-contiguous layouts by itself
    arr = np.asarray(arr)
    dt = _NP_TO_DT[arr.dtype]
    out = b"".join(_int_field(1, d) for d in arr.shape)
    out += _int_field(2, dt)
    out += _str_field(8, name)
    out += _len_field(9, arr.tobytes())  # raw_data, little-endian
    return out


def _attr_bytes(name: str, val: object) -> bytes:
    out = _str_field(1, name)
    if isinstance(val, bool):
        raise TypeError("use int for attribute values")
    if isinstance(val, int):
        out += _int_field(3, val) + _int_field(20, 2)  # INT
    elif isinstance(val, float):
        out += _tag(2, _WT_I32) + struct.pack("<f", val) + _int_field(20, 1)
    elif isinstance(val, str):
        out += _len_field(4, val.encode()) + _int_field(20, 3)
    elif isinstance(val, np.ndarray):
        out += _len_field(5, tensor_to_bytes("", val)) + _int_field(20, 4)
    elif isinstance(val, (list, tuple)):
        for x in val:
            out += _int_field(8, int(x))
        out += _int_field(20, 7)  # INTS
    else:
        raise TypeError(f"unsupported attribute type {type(val)}")
    return out


def _node_bytes(op: str, inputs: Sequence[str], outputs: Sequence[str],
                attrs: Dict[str, object] | None) -> bytes:
    out = b"".join(_str_field(1, s) for s in inputs)
    out += b"".join(_str_field(2, s) for s in outputs)
    out += _str_field(4, op)
    for k, v in (attrs or {}).items():
        out += _len_field(5, _attr_bytes(k, v))
    return out


def serialize_model(
    nodes: Sequence[Tuple[str, Sequence[str], Sequence[str],
                          Dict[str, object] | None]],
    initializers: Dict[str, np.ndarray],
    inputs: Sequence[str],
    outputs: Sequence[str],
    opset: int = 13,
) -> bytes:
    graph = b"".join(
        _len_field(1, _node_bytes(op, ins, outs, attrs))
        for op, ins, outs, attrs in nodes
    )
    graph += _str_field(2, "mini_graph")
    for name, arr in initializers.items():
        graph += _len_field(5, tensor_to_bytes(name, arr))
    for n in inputs:
        graph += _len_field(11, _str_field(1, n))
    for n in outputs:
        graph += _len_field(12, _str_field(1, n))
    model = _int_field(1, 8)  # ir_version
    model += _len_field(8, _str_field(1, "") + _int_field(2, opset))
    model += _len_field(7, graph)
    return model


def build_tiny_gliner_model(
    path: str,
    word_entries: Dict[int, Tuple[int, float]],
    label_ids: Dict[int, int],
    ent_token_id: int,
    vocab_size: int,
    filler_penalty: float = 10.0,
    token_level: bool = False,
) -> str:
    """Write a REAL ``.onnx`` file implementing the GLiNER span-scoring
    feed contract with single-word gazetteer semantics.

    ``word_entries``: first-subword token id → (label index, prob). The
    graph scores the single-word span over such a word at exactly
    ``logit(prob)`` for its label and ≤ -2 for everything else, via the
    embedding scheme  e[tok] = [γ·onehot(lbl), γ - logit(p)]  with
    γ = 2·logit(p) + 6 and label vectors [onehot(lbl), -1]: a span
    representation is the MEAN of its start/end word vectors, so any
    multi-word or unknown-word span's penalty component dominates.
    ``label_ids``: token id of each label's NAME in the prompt → label
    index (label vectors are read from the token FOLLOWING each
    ``<<ENT>>`` marker — single-subword label names only).

    The graph consumes all six feed tensors: input_ids (embedding
    Gather), attention_mask (embedding zeroing), words_mask (the
    1-based first-subword counter selects word vectors — reference O6),
    text_lengths (zeroes word slots past each doc's length), span_idx
    (start/end selection), span_mask (invalid spans → -30). Output
    ``logits`` flattens to (B, numWords·maxWidth, E), the layout
    decoder.cpp:96-101 walks.

    With ``token_level=True`` the graph instead implements the TOKEN
    model contract: only the four feed tensors (no span_idx/span_mask —
    model.cpp:57-61) and ``logits`` of logical shape (3, B, numWords, E)
    = start/end/inside scores (decoder.cpp:137-159); for the single-word
    gazetteer semantics all three channels carry the word×label
    bilinear score, so the decode walk emits exactly the single-word
    golden spans (filler inside-scores sit at sigmoid(-penalty) and
    break the end-walk).
    """
    d = len({li for li, _ in word_entries.values()} | set(label_ids.values()))
    d = max(d, max((li for li, _ in word_entries.values()), default=0) + 1,
            max(label_ids.values(), default=0) + 1) + 1  # +1 penalty dim
    E = np.zeros((vocab_size, d), dtype=np.float32)
    E[:, -1] = filler_penalty  # every token defaults to "not an entity"
    for tok in (0, 1, 2, ent_token_id):  # PAD/BOS/EOS/<<ENT>>: inert
        E[tok, -1] = 0.0
    for tok, (li, prob) in word_entries.items():
        lg = float(np.log(prob / (1.0 - prob)))
        gamma = 2.0 * lg + 6.0
        E[tok, :] = 0.0
        E[tok, li] = gamma
        E[tok, -1] = gamma - lg
    for tok, li in label_ids.items():
        E[tok, :] = 0.0
        E[tok, li] = 1.0
        E[tok, -1] = -1.0

    init = {
        "E": E,
        "W1": np.eye(d, dtype=np.float32),
        "i0": np.asarray(0, dtype=np.int64),
        "i1": np.asarray(1, dtype=np.int64),
        "ax0": np.asarray([0], dtype=np.int64),
        "ax1": np.asarray([1], dtype=np.int64),
        "ax2": np.asarray([2], dtype=np.int64),
        "sl_start": np.asarray([0], dtype=np.int64),
        "sl_mid": np.asarray([1], dtype=np.int64),
        "sl_end1": np.asarray([-1], dtype=np.int64),
        "sl_end2": np.asarray([2], dtype=np.int64),
        "ent_id": np.asarray(ent_token_id, dtype=np.int64),
        "half": np.asarray(0.5, dtype=np.float32),
        "one_f": np.asarray(1.0, dtype=np.float32),
        "zero_f": np.asarray(0.0, dtype=np.float32),
        "penal": np.asarray(30.0, dtype=np.float32),
    }
    nodes = [
        # token embeddings, masked by attention
        ("Gather", ["E", "input_ids"], ["emb"], {"axis": 0}),
        ("Cast", ["attention_mask"], ["am_f"], {"to": 1}),
        ("Unsqueeze", ["am_f", "ax2"], ["am_u"], None),
        ("Mul", ["emb", "am_u"], ["emb_m"], None),
        # word vectors: one-hot over the words_mask counter (1..W)
        ("ReduceMax", ["words_mask"], ["w_max"], {"keepdims": 0}),
        ("Add", ["w_max", "i1"], ["w_max1"], None),
        ("Range", ["i1", "w_max1", "i1"], ["wr"], None),       # [1..W]
        ("Sub", ["wr", "i1"], ["wr0"], None),                  # [0..W-1]
        ("Unsqueeze", ["words_mask", "ax1"], ["wm_u"], None),  # (B,1,S)
        ("Unsqueeze", ["wr", "ax0"], ["wr_a"], None),
        ("Unsqueeze", ["wr_a", "ax2"], ["wr_u"], None),        # (1,W,1)
        ("Equal", ["wm_u", "wr_u"], ["wsel_b"], None),         # (B,W,S)
        ("Cast", ["wsel_b"], ["wsel"], {"to": 1}),
        ("MatMul", ["wsel", "emb_m"], ["word_emb"], None),     # (B,W,d)
        # text_lengths: zero out word slots past each doc's length
        ("Unsqueeze", ["wr0", "ax0"], ["wr0_a"], None),        # (1,W)
        ("Less", ["wr0_a", "text_lengths"], ["wv_b"], None),   # (B,W)
        ("Cast", ["wv_b"], ["wv_f"], {"to": 1}),
        ("Unsqueeze", ["wv_f", "ax2"], ["wv_u"], None),
        ("Mul", ["word_emb", "wv_u"], ["word_emb_v"], None),
        # label vectors: token AFTER each <<ENT>> marker
        ("Equal", ["input_ids", "ent_id"], ["is_ent_b"], None),
        ("Cast", ["is_ent_b"], ["is_ent"], {"to": 7}),
        ("CumSum", ["is_ent", "i1"], ["e_cum"], None),  # axis 1 (along S)
        ("Mul", ["e_cum", "is_ent"], ["e_ord0"], None),
        ("ReduceMax", ["e_ord0"], ["l_max"], {"keepdims": 0}),
        ("Add", ["l_max", "i1"], ["l_max1"], None),
        ("Range", ["i1", "l_max1", "i1"], ["lr"], None),       # [1..L]
        ("Unsqueeze", ["e_ord0", "ax1"], ["eo_u"], None),      # (B,1,S)
        ("Unsqueeze", ["lr", "ax0"], ["lr_a"], None),
        ("Unsqueeze", ["lr_a", "ax2"], ["lr_u"], None),        # (1,L,1)
        ("Equal", ["eo_u", "lr_u"], ["esel_b"], None),         # (B,L,S)
        ("Cast", ["esel_b"], ["esel"], {"to": 1}),
        # shift the one-hot right by one position along S
        ("Slice", ["esel", "sl_start", "sl_end1", "ax2"], ["esel_sl"],
         None),
        ("Slice", ["esel", "sl_start", "sl_mid", "ax2"], ["e_first"],
         None),
        ("Mul", ["e_first", "zero_f"], ["zcol"], None),        # (B,L,1)
        ("Concat", ["zcol", "esel_sl"], ["lsel"], {"axis": 2}),
        ("MatMul", ["lsel", "emb_m"], ["label_emb"], None),    # (B,L,d)
    ]
    if token_level:
        nodes += [
            ("Transpose", ["label_emb"], ["label_T"],
             {"perm": [0, 2, 1]}),                             # (B,d,L)
            ("MatMul", ["word_emb_v", "label_T"], ["scores_w"],
             None),                                            # (B,W,L)
            ("Unsqueeze", ["scores_w", "ax0"], ["sc_u"], None),
            ("Concat", ["sc_u", "sc_u", "sc_u"], ["logits"],
             {"axis": 0}),                                     # (3,B,W,L)
        ]
        data = serialize_model(
            nodes, init,
            inputs=["input_ids", "attention_mask", "words_mask",
                    "text_lengths"],
            outputs=["logits"],
        )
        with open(path, "wb") as f:
            f.write(data)
        return path
    nodes += [
        # span representations: mean of start and end word vectors
        ("Slice", ["span_idx", "sl_start", "sl_mid", "ax2"], ["si_s"],
         None),                                                 # (B,K,1)
        ("Slice", ["span_idx", "sl_mid", "sl_end2", "ax2"], ["si_e"],
         None),
        ("Unsqueeze", ["wr0_a", "ax0"], ["wr0_uu"], None),     # (1,1,W)
        ("Equal", ["si_s", "wr0_uu"], ["ss_b"], None),         # (B,K,W)
        ("Cast", ["ss_b"], ["ss"], {"to": 1}),
        ("Equal", ["si_e", "wr0_uu"], ["se_b"], None),
        ("Cast", ["se_b"], ["se"], {"to": 1}),
        ("MatMul", ["ss", "word_emb_v"], ["h_start"], None),   # (B,K,d)
        ("MatMul", ["se", "word_emb_v"], ["h_end"], None),
        ("Add", ["h_start", "h_end"], ["h_sum"], None),
        ("Mul", ["h_sum", "half"], ["h_mean"], None),
        ("MatMul", ["h_mean", "W1"], ["h_proj"], None),
        ("Relu", ["h_proj"], ["h"], None),
        # bilinear span × label scores, masked by span_mask
        ("Transpose", ["label_emb"], ["label_T"], {"perm": [0, 2, 1]}),
        ("MatMul", ["h", "label_T"], ["scores"], None),        # (B,K,L)
        ("Cast", ["span_mask"], ["sm_f"], {"to": 1}),
        ("Unsqueeze", ["sm_f", "ax2"], ["sm_u"], None),        # (B,K,1)
        ("Mul", ["scores", "sm_u"], ["scores_m"], None),
        ("Sub", ["sm_u", "one_f"], ["sm_neg"], None),
        ("Mul", ["sm_neg", "penal"], ["mask_pen"], None),
        ("Add", ["scores_m", "mask_pen"], ["logits"], None),
    ]
    data = serialize_model(
        nodes, init,
        inputs=["input_ids", "attention_mask", "words_mask",
                "text_lengths", "span_idx", "span_mask"],
        outputs=["logits"],
    )
    with open(path, "wb") as f:
        f.write(data)
    return path
