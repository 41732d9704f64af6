"""Declarative pipeline configuration.

Mirrors the reference's config-driven style (``config/config.yml`` drives task
selection, extensions, retry/rejected bookkeeping) — every threshold the rule
cascade uses lives here, pinned, so the Spark pipeline and the pure-Python
oracle labeler (tests/golden fixtures) read the *same* values.
"""

from __future__ import annotations

from dataclasses import dataclass, field


# Codecs the decode stage understands. ``flac`` here is a deterministic
# sandbox stand-in (see functions/audio.py) — real FLAC decode is gated
# behind an import-try of soundfile, which is absent in this container.
SUPPORTED_CODECS: tuple[str, ...] = ("pcm_s16le", "wav", "flac")

# Languages the keep rule admits. The langid model can also emit "it" and
# "und" — those trip the ``lang_not_allowed`` rule.
ALLOWED_LANGS: tuple[str, ...] = ("en", "fr", "de", "es")


@dataclass(frozen=True)
class RuleThresholds:
    """First-match-wins cascade thresholds (analog of the reference's
    product-type cascade, ``wallaby2caom2/storage_name.py:101-114``)."""

    # audio sanity (decode stage)
    duration_tolerance: float = 0.05      # |measured - declared| / declared
    min_rms: float = 1e-4                 # below → silence
    max_clip_rate: float = 0.20           # fraction of samples at full scale
    max_dropout_ms: float = 50.0          # longest hard-zero run (dropout)
    # transcript shape
    min_chars: int = 8
    max_chars: int = 8192
    max_repetition_ratio: float = 0.60    # 1 - distinct_words/words
    # model scores
    # calibrated against the seeded generator: clean text conf≥0.9 at 99.8%,
    # two-language mixes <0.9 at 94%; clean ppl p95≈7k, gibberish p5≈33k
    min_lang_conf: float = 0.90
    max_perplexity: float = 12_000.0


# Cascade rule names, in evaluation order. First match wins; the name is the
# ``drop_reason``. Order is part of the contract (tests pin it).
RULE_ORDER: tuple[str, ...] = (
    "codec_invalid",
    "decode_failed",
    "sr_mismatch",
    "duration_mismatch",
    "audio_silence",
    "audio_clipping",
    "audio_dropout",
    "too_short",
    "too_long",
    "repetition",
    "perplexity_high",
    "lang_not_allowed",
    "langid_low_conf",
)


@dataclass(frozen=True)
class PipelineConfig:
    """Everything a run needs, declaratively (reference analog:
    ``config/config.yml`` whole file)."""

    thresholds: RuleThresholds = field(default_factory=RuleThresholds)
    supported_codecs: tuple[str, ...] = SUPPORTED_CODECS
    allowed_langs: tuple[str, ...] = ALLOWED_LANGS
    # Arrow batch sizing — ~13MB of `bytes` per batch at typical clip sizes.
    # 256 ALIGNS with spark.sql.parquet.columnarReaderBatchSize (session.py):
    # the JVM→Arrow writer then flushes exactly one columnar scan batch per
    # Arrow batch instead of buffering rows across batch boundaries —
    # measured ~15% on the sf0.1/local[32] flagship (interleaved min-of-5:
    # 3.15s vs 3.77s at 512)
    arrow_max_records_per_batch: int = 256


DEFAULT_CONFIG = PipelineConfig()
