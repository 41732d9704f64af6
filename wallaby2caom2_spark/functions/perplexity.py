"""Hashed character-trigram language model → per-transcript perplexity.

KenLM-style in spirit (hashed n-gram table, add-k smoothing), tiny in
practice: the LM is built at import time from the langid seed corpora of the
*allowed* languages, stored as one numpy log-prob table, and broadcast-free —
every executor python worker reconstructs the identical table
deterministically on first import.

Shared by the Spark feature kernel (operators/fused_stage.py) and the oracle
labeler.
"""

from __future__ import annotations

import numpy as np

from .langid import _SEED, _trigram_buckets  # reuse hashing infra
from .langid import N_BUCKETS

_ADD_K = 0.5


def _build_lm() -> np.ndarray:
    counts = np.full(N_BUCKETS, _ADD_K, dtype=np.float64)
    for text in _SEED.values():
        np.add.at(counts, _trigram_buckets(text), 1.0)
    logp = np.log(counts / counts.sum())
    return logp.astype(np.float32)


_LOGP: np.ndarray = _build_lm()


def perplexity_batch(texts: list[str | None]) -> np.ndarray:
    """exp(-mean log p(trigram)) per text; inf-free (caps at exp(32))."""
    from .langid import buckets_batch

    return ppl_from_buckets(buckets_batch(texts))


def ppl_from_buckets(bucket_list: list) -> np.ndarray:
    """Same scores from precomputed trigram buckets (shared with langid in
    the fused text stage — hashing paid once per text). Delegates to the
    fused row-major gather in textscore (single implementation for pipeline
    AND oracle)."""
    from .textscore import score_from_buckets

    _, _, ppls = score_from_buckets(bucket_list)
    return ppls


def perplexity_one(text: str | None) -> float:
    return float(perplexity_batch([text])[0])
