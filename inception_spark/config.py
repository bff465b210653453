"""Engine configuration.

Mirrors the reference's environment-driven ``Settings``
(``/root/reference/inception/config.py:5-36``): same knobs, same defaults, same
ranges — but as a plain dataclass consumed by engine operators instead of a
pydantic HTTP-service config.  Knobs that only make sense for an HTTP service
(CORS, Sentry, metrics auth) are intentionally absent.  Arrow batch sizing is
a session setting (``session.build_session``), not an engine knob.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class EngineConfig:
    # --- chunking (reference config.py:14-22) ---
    max_tokens: int = 512          # token budget per chunk, incl. lead prefix
    overlap_ratio: float = 0.004   # num_overlap_sentences = int(max_tokens * overlap_ratio)
    # --- validation (reference config.py:23-25) ---
    min_text_length: int = 1
    max_query_length: int = 1_000
    max_text_length: int = 10_000_000
    # --- batching (reference config.py:26-27) ---
    max_batch_size: int = 100          # advisory only; Spark scales past it
    processing_batch_size: int = 8     # encoder micro-batch
    # --- device (reference config.py:32-33, embedding_service.py:40-47) ---
    force_cpu: bool = False
    # --- embedding space (reference README.md:15 — 768-dim model) ---
    embedding_dim: int = 768
    # --- retrieval prefixes (reference embedding_service.py:90,162) ---
    lead_document: str = "search_document: "
    lead_query: str = "search_query: "

    @property
    def num_overlap_sentences(self) -> int:
        # reference embedding_service.py:49
        return int(self.max_tokens * self.overlap_ratio)

    def __post_init__(self) -> None:
        # range checks mirror pydantic Field(ge/le) at reference config.py:14-22
        if not (256 <= self.max_tokens <= 10_000):
            raise ValueError("max_tokens must be in [256, 10000]")
        if not (0.0 <= self.overlap_ratio <= 0.1):
            raise ValueError("overlap_ratio must be in [0.0, 0.1]")


#: Config with the relaxed ranges used by the reference's own unit tests
#: (they construct services with max_tokens=15/200 — below the pydantic
#: minimum — by bypassing Settings; tests/test_embedding_service.py:330-476).
@dataclass(frozen=True)
class TestEngineConfig(EngineConfig):
    def __post_init__(self) -> None:  # no range enforcement
        pass


DEFAULT_CONFIG = EngineConfig()
