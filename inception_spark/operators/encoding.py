"""Embedding encoders + the distributed batch-encode operator.

Maps the reference's model-inference layer (C5/C6/C8/C9,
``/root/reference/inception/embedding_service.py:152-263``) onto an
iterator-of-series pandas UDF that ships its encoder in the UDF closure,
and Arrow batches giving the same cross-document batch amalgamation the
reference gets by flattening all chunks into one ``model.encode`` call
(O1, embedding_service.py:179-213).

Two encoder implementations behind one interface (SURVEY.md §7.1):

* :class:`HashingStubEncoder` — the default.  Deterministic,
  dependency-free: md5-seeded Gaussian vectors, L2-normalized.
  Exact-reproducible across runs and machines, so pipeline tests can
  assert values, not just shapes.
* :class:`SentenceTransformerEncoder` — the real model
  (``freelawproject/modernbert-embed-base_finetune_512``, reference
  config.py:6-9), import-gated; select it with
  ``EmbeddingEngine(spark, encoder=SentenceTransformerEncoder())``.  It
  pickles as its ``(dim, force_cpu)`` recipe, so the model never travels:
  each Python worker loads it once and caches it — the Spark analogue of
  the reference's per-process preloaded model (main.py:44-75, O9).

The retrieval prefixes are applied *inside* the encoder
(``search_document: `` / ``search_query: ``, reference
embedding_service.py:90,162) so engine tables never carry them — P3
(prefix stripping) becomes unnecessary by construction.
"""

from __future__ import annotations

import hashlib
import threading
from typing import Iterator, Protocol

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

from inception_spark.config import DEFAULT_CONFIG, EngineConfig


class Encoder(Protocol):
    dim: int

    def encode(self, texts: list[str], batch_size: int = 8) -> np.ndarray: ...


_RNG = threading.local()


def seeded_unit_vector(data: bytes, dim: int) -> np.ndarray:
    """L2-normalized N(0,1) float32 vector seeded by md5(data) — THE
    deterministic fake-embedding contract, shared by the stub text encoder
    and the multimodal fake feature extractor so cross-modal determinism
    assumptions can't drift."""
    seed = int.from_bytes(hashlib.md5(data).digest()[:4], "big")
    rs = getattr(_RNG, "rs", None)
    if rs is None:
        rs = _RNG.rs = np.random.RandomState(0)
    # reseeding a reused state draws what RandomState(seed) would (seed()
    # also drops any cached gaussian) at ~1/7 of the construction cost
    rs.seed(seed)
    v = rs.standard_normal(dim)
    n = float(np.linalg.norm(v))
    return (v / (n or 1.0)).astype(np.float32)


class HashingStubEncoder:
    """Deterministic stand-in encoder.

    vector(text) = L2-normalized N(0,1) draw seeded by md5(text) —
    stable across processes, platforms and numpy versions (RandomState's
    MT19937 + standard_normal are frozen by numpy's backwards-compat
    guarantee).  Identical texts ⇒ identical vectors; distinct texts ⇒
    near-orthogonal vectors, which preserves the *shape* of cosine-space
    analytics on top.
    """

    def __init__(self, dim: int = 768):
        self.dim = dim

    def _one(self, text: str) -> np.ndarray:
        return seeded_unit_vector(text.encode("utf-8"), self.dim)

    def encode(self, texts: list[str], batch_size: int = 8) -> np.ndarray:
        if not texts:
            return np.zeros((0, self.dim), dtype=np.float32)
        return np.stack([self._one(t) for t in texts])


class SentenceTransformerEncoder:
    """Real model, import-gated.  Device selection mirrors the reference
    (C8: cpu if force_cpu else cuda-if-available; TF32 on,
    embedding_service.py:22,40-47); GPU cache emptied after each batch
    (C9, embedding_service.py:259-263)."""

    MODEL = "freelawproject/modernbert-embed-base_finetune_512"

    def __init__(self, dim: int = 768, force_cpu: bool = False):
        import torch
        from sentence_transformers import SentenceTransformer

        torch.set_float32_matmul_precision("high")
        device = "cpu" if force_cpu else (
            "cuda" if torch.cuda.is_available() else "cpu"
        )
        self._torch = torch
        self._model = SentenceTransformer(self.MODEL, device=device)
        self.dim = dim
        self.force_cpu = force_cpu

    def __reduce__(self):
        # ship the recipe, not the model: unpickling loads (or reuses) the
        # worker process's own copy
        return (_cached_sentence_transformer, (self.dim, self.force_cpu))

    def encode(self, texts: list[str], batch_size: int = 8) -> np.ndarray:
        try:
            return self._model.encode(texts, batch_size=batch_size)
        finally:
            if self._torch.cuda.is_available():
                self._torch.cuda.empty_cache()


# ---------------------------------------------------------------------------
# the distributed encode operator
# ---------------------------------------------------------------------------

#: per-process model cache: one real encoder per Python worker process,
#: built when the first UDF closure is unpickled (model preload analogue, O9).
_ENCODER_CACHE: dict[tuple, Encoder] = {}


def _load_with_retry(factory, *, retries: int = 3, delay: float = 5.0):
    """Model-load retry loop — O9 parity (reference main.py:44-75: 3
    attempts, 5 s apart, for flaky model downloads on cold executors)."""
    import time

    last: Exception | None = None
    for attempt in range(retries):
        try:
            return factory()
        except Exception as e:  # noqa: BLE001 — deliberate: retry anything
            last = e
            if attempt < retries - 1:
                time.sleep(delay)
    raise RuntimeError(
        f"encoder failed to load after {retries} attempts: {last}"
    ) from last


def _cached_sentence_transformer(
    dim: int, force_cpu: bool
) -> SentenceTransformerEncoder:
    key = (dim, force_cpu)
    enc = _ENCODER_CACHE.get(key)
    if enc is None:
        enc = _ENCODER_CACHE[key] = _load_with_retry(
            lambda: SentenceTransformerEncoder(dim=dim, force_cpu=force_cpu)
        )
    return enc


def make_embed_udf(
    config: EngineConfig = DEFAULT_CONFIG,
    *,
    prefix: str | None = None,
    encoder: Encoder | None = None,
):
    """``chunk:string → embedding:array<float>`` iterator pandas UDF.

    The prefix (document or query lead) is applied here, immediately before
    encoding, mirroring reference embedding_service.py:90.

    ``encoder`` (default: ``HashingStubEncoder(config.embedding_dim)``) is
    shipped to the executors in the UDF closure, so it must be picklable;
    :class:`SentenceTransformerEncoder` pickles as a load recipe.
    """
    enc = encoder if encoder is not None else HashingStubEncoder(
        config.embedding_dim
    )
    bsz = config.processing_batch_size
    lead = config.lead_document if prefix is None else prefix

    @F.pandas_udf(T.ArrayType(T.FloatType()))
    def embed_udf(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for s in batches:
            texts = [lead + (t if isinstance(t, str) else "") for t in s]
            vecs = enc.encode(texts, batch_size=bsz)
            yield pd.Series([v.tolist() for v in vecs])

    return embed_udf
