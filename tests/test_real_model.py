"""Real-model path tier (C8/C9/M6) and the real encoder's executor
recipe.

The torch/sentence_transformers tests SKIP when those libraries are not
installed (PARITY.md); they exist so the parity claims become executable
the moment the real stack is present.  Everything else runs.
"""

import pickle
import threading

import pytest

from inception_spark.operators import encoding as E


# ---------------------------------------------------------------------------
# runnable everywhere
# ---------------------------------------------------------------------------


def test_load_with_retry_recovers_and_gives_up(monkeypatch):
    """M6: 3 attempts, then a loud failure carrying the last cause."""
    import time as _time

    sleeps = []
    monkeypatch.setattr(_time, "sleep", lambda s: sleeps.append(s))

    calls = {"n": 0}

    def flaky():
        calls["n"] += 1
        if calls["n"] < 3:
            raise OSError("download failed")
        return "model"

    assert E._load_with_retry(flaky) == "model"
    assert calls["n"] == 3 and sleeps == [5.0, 5.0]

    def always_fails():
        raise OSError("no network")

    with pytest.raises(RuntimeError, match="after 3 attempts"):
        E._load_with_retry(always_fails)


def test_real_encoder_pickles_as_recipe_and_loads_once(monkeypatch):
    """The real encoder reaches executors as ``(dim, force_cpu)`` only;
    each process loads the model once, through the retry loop (O9/M6)."""
    built, loads = [], []

    def fake_init(self, dim=768, force_cpu=False):
        built.append((dim, force_cpu))
        self.dim, self.force_cpu = dim, force_cpu
        # unpicklable stand-in for the weights: dumps() below only
        # succeeds if the model is left out of the pickle
        self._model = threading.Lock()

    real_load = E._load_with_retry

    def spy_load(factory, **kw):
        loads.append(1)
        return real_load(factory, **kw)

    monkeypatch.setattr(E.SentenceTransformerEncoder, "__init__", fake_init)
    monkeypatch.setattr(E, "_load_with_retry", spy_load)
    monkeypatch.setattr(E, "_ENCODER_CACHE", {})

    enc = E.SentenceTransformerEncoder(dim=16, force_cpu=True)
    assert enc.__reduce__() == (E._cached_sentence_transformer, (16, True))
    blob = pickle.dumps(enc)

    a, b = pickle.loads(blob), pickle.loads(blob)
    assert a is b and isinstance(a, E.SentenceTransformerEncoder)
    assert (a.dim, a.force_cpu) == (16, True)
    assert built == [(16, True), (16, True)]  # driver's + one per process
    assert loads == [1]


def test_health_reports_gpu_absent_without_torch(spark):
    from inception_spark.engine import EmbeddingEngine

    h = EmbeddingEngine(spark).health()
    try:
        import torch  # noqa: F401
    except ImportError:
        assert h["gpu_available"] is False
    assert h["status"] == "healthy" and h["model_loaded"]


# ---------------------------------------------------------------------------
# real-model tier — each test skips without torch/sentence_transformers
# (importorskip must stay inside the tests: at module level it would
# skip the runnable stub tests above too)
# ---------------------------------------------------------------------------


def test_real_encoder_device_pick_and_tf32():
    """C8: force_cpu pins cpu; otherwise cuda-if-available; TF32 high."""
    torch = pytest.importorskip("torch")
    pytest.importorskip("sentence_transformers")
    enc = E.SentenceTransformerEncoder(force_cpu=True)
    assert str(enc._model.device) == "cpu"
    assert torch.get_float32_matmul_precision() == "high"


def test_real_encoder_shapes():
    pytest.importorskip("torch")
    pytest.importorskip("sentence_transformers")
    enc = E.SentenceTransformerEncoder(force_cpu=True)
    vecs = enc.encode(["search_document: a test sentence"], batch_size=1)
    assert vecs.shape[0] == 1 and vecs.shape[1] == enc.dim


def test_real_encoder_empty_cache_called_on_gpu(monkeypatch):
    """C9: cuda cache emptied after each encode when a GPU is present."""
    torch = pytest.importorskip("torch")
    pytest.importorskip("sentence_transformers")
    enc = E.SentenceTransformerEncoder(force_cpu=True)
    calls = []
    monkeypatch.setattr(torch.cuda, "is_available", lambda: True)
    monkeypatch.setattr(torch.cuda, "empty_cache", lambda: calls.append(1))
    enc.encode(["x"], batch_size=1)
    assert calls == [1]
