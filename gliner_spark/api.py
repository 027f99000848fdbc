"""Drop-in user API mirroring the reference's public surface.

A GLiNER.cpp user drives the engine through ``Model::inference(texts,
entities, flatNer, threshold, multiLabel)`` (/root/reference/src/
model.cpp:101-124) or uses the processor/decoder stages directly
(/root/reference/tests/test.cpp:41-68). ``GlinerModel`` reproduces that
surface 1:1 for local lists and adds the distributed twin for
DataFrames:

    model = GlinerModel()                       # surrogate scorer
    model = GlinerModel("model.onnx", "tokenizer.json")  # real model
    spans = model.inference(texts, entities)    # list[list[Span]]
    df    = model.inference_df(pages_df, entities)  # mentions DataFrame

Span tuples are (start_byte, end_byte, text, label, prob) — the fields
of the reference's Span struct (gliner_structs.hpp:64-70).
"""

from __future__ import annotations

from typing import List, Sequence

from pyspark.sql import DataFrame

from .config import SPAN_LEVEL, TOKEN_LEVEL, GlinerConfig
from .kernels.decode import Span
from .kernels.pipeline import ner_documents
from .kernels.scorer import make_scorer
from .kernels.tokenize import tokenize_text
from .operators.ner import extract_mentions


class GlinerModel:
    """Reference-parity model object (Model::Model overloads at
    /root/reference/src/model.cpp:7-34; config at gliner_config.hpp)."""

    def __init__(
        self,
        model_path: str | None = None,
        tokenizer_path: str | None = None,
        max_width: int = 12,
        max_length: int = 512,
        model_type: str = SPAN_LEVEL,
        device_id: int = -1,
    ):
        """``device_id >= 0`` mirrors the reference's GPU constructor
        overload (Model::useDevice, /root/reference/src/model.cpp:36-48,
        71-77): the ONNX session is created on that CUDA device."""
        self.config = GlinerConfig(
            max_width=max_width, max_length=max_length, model_type=model_type
        )
        self._scorer = make_scorer(
            max_width, model_path, tokenizer_path, device_id=device_id,
            model_type=model_type,
        )
        self._model_path = model_path
        self._tokenizer_path = tokenizer_path
        self._device_id = device_id

    @classmethod
    def from_pretrained(cls, model_dir: str, device_id: int = -1):
        """Load a GLiNER ONNX export directory — the layout the
        reference consumes after its conversion step
        (/root/reference/README.md "Model preparation":
        ``gliner_config.json`` + ``tokenizer.json`` + ``model.onnx``
        or ``onnx/model.onnx``). Maps the published config keys:
        ``max_width`` → max_width, ``max_len`` → max_length,
        ``span_mode == "token_level"`` → token-level decode."""
        import json
        import os

        with open(os.path.join(model_dir, "gliner_config.json"),
                  encoding="utf-8") as f:
            cfg = json.load(f)
        for cand in ("model.onnx", os.path.join("onnx", "model.onnx")):
            p = os.path.join(model_dir, cand)
            if os.path.exists(p):
                model_path = p
                break
        else:
            raise FileNotFoundError(
                f"no model.onnx under {model_dir!r} (looked for "
                "model.onnx and onnx/model.onnx)"
            )
        return cls(
            model_path,
            os.path.join(model_dir, "tokenizer.json"),
            max_width=int(cfg.get("max_width", 12)),
            max_length=int(cfg.get("max_len", 512)),
            model_type=(
                TOKEN_LEVEL if cfg.get("span_mode") == "token_level"
                else SPAN_LEVEL
            ),
            device_id=device_id,
        )

    # --- library mode (tests/test.cpp:41-68 use the stages directly) ---
    def tokenize_text(self, text: str):
        return tokenize_text(text)

    def batch_tokenize_text(self, texts: Sequence[str]):
        return [tokenize_text(t) for t in texts]

    # --- Model::inference parity ---
    def inference(
        self,
        texts: Sequence[str],
        entities: Sequence[str],
        flat_ner: bool = True,
        threshold: float = 0.5,
        multi_label: bool = False,
    ) -> List[List[Span]]:
        if not texts or not entities:
            # model.cpp:104-107: warn + empty result
            import sys

            print("WARNING! Empty texts or entities.", file=sys.stderr)
            return []
        cfg = GlinerConfig(
            max_width=self.config.max_width,
            max_length=self.config.max_length,
            model_type=self.config.model_type,
            flat_ner=flat_ner,
            threshold=threshold,
            multi_label=multi_label,
        )
        return ner_documents(texts, entities, self._scorer, cfg)

    # --- distributed twin ---
    def inference_df(
        self,
        pages: DataFrame,
        entities: Sequence[str],
        id_col: str = "url",
        text_col: str = "text",
        flat_ner: bool = True,
        threshold: float = 0.5,
        multi_label: bool = False,
    ) -> DataFrame:
        cfg = GlinerConfig(
            max_width=self.config.max_width,
            max_length=self.config.max_length,
            model_type=self.config.model_type,
            flat_ner=flat_ner,
            threshold=threshold,
            multi_label=multi_label,
        )
        mp, tp, dev = self._model_path, self._tokenizer_path, self._device_id

        def factory():
            return make_scorer(cfg.max_width, mp, tp, device_id=dev,
                               model_type=cfg.model_type)

        return extract_mentions(
            pages, entities, id_col=id_col, text_col=text_col, config=cfg,
            scorer_factory=factory,
        )
