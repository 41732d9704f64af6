"""Keep/drop rule cascade — pure Catalyst column expressions, zero Python.

Direct analog of the reference's first-match-wins product-type cascade
(``wallaby2caom2/storage_name.py:101-114``: ``.rms.``→NOISE, ``.png``→PREVIEW,
model-table names→AUXILIARY, else SCIENCE — duplicated at
``wallaby2caom2/main_app.py:170-184``), generalized to 13 quality rules
(their order is pinned in tests/test_cascade.py). The whole cascade is ONE
``F.when`` chain → stays inside whole-stage codegen; transcript shape stats
(length, word counts, repetition ratio) are built-in string/array
functions, not UDFs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import DEFAULT_CONFIG, PipelineConfig


def with_transcript_stats(df: DataFrame) -> DataFrame:
    """n_chars / n_words / rep_ratio as Catalyst expressions.

    Word tokenization must match Python ``str.split()`` (the oracle
    labeler) exactly: extract maximal non-whitespace runs. The previous
    ``trim`` + ``split('\\s+')`` form diverged on real input — SQL ``trim``
    strips only spaces, so a trailing tab/newline left an empty trailing
    token that inflated ``n_words`` AND counted '' as a distinct word,
    flipping keep/drop on repetition-boundary rows. ``(?U)`` makes Java's
    ``\\S`` Unicode-aware like Python's (NBSP etc.); the remaining corner
    (U+001C-1F, which Python splits on but Unicode does not class as
    whitespace) cannot appear in scrub-eligible text.
    """
    words = F.regexp_extract_all(
        F.col("transcript"), F.lit(r"(?U)\S+"), 0
    )
    return (
        df.withColumn("n_chars", F.coalesce(F.length("transcript"), F.lit(0)))
        .withColumn("n_words", F.coalesce(F.size(words), F.lit(0)))
        .withColumn(
            "n_distinct_words",
            F.when(F.col("n_words") == 0, F.lit(0)).otherwise(
                F.size(F.array_distinct(words))
            ),
        )
        .withColumn(
            "rep_ratio",
            F.when(F.col("n_words") == 0, F.lit(0.0)).otherwise(
                1.0 - F.col("n_distinct_words") / F.col("n_words")
            ),
        )
    )


def with_keep_drop(
    df: DataFrame, cfg: PipelineConfig = DEFAULT_CONFIG
) -> DataFrame:
    """First-match-wins ``drop_reason`` + ``keep``. Expects the decode
    struct fields (pcm_ok…), langid fields (lang, lang_conf, ppl) and
    transcript stats to be present."""
    t = cfg.thresholds
    reason = (
        F.when(
            # isNull first: NULL codec makes ~isin() NULL (not true), which
            # would skip this branch and mislabel the row decode_failed —
            # the oracle labels a missing codec codec_invalid
            F.col("codec").isNull()
            | ~F.col("codec").isin(*cfg.supported_codecs),
            F.lit("codec_invalid"),
        )
        .when(~F.col("pcm_ok"), F.lit("decode_failed"))
        .when(F.col("sr_meas") != F.col("sr_hz"), F.lit("sr_mismatch"))
        .when(
            F.abs(F.col("dur_ms_meas") - F.col("dur_ms"))
            > t.duration_tolerance * F.col("dur_ms"),
            F.lit("duration_mismatch"),
        )
        .when(F.col("rms") < t.min_rms, F.lit("audio_silence"))
        .when(F.col("clip_rate") > t.max_clip_rate, F.lit("audio_clipping"))
        .when(F.col("dropout_ms") > t.max_dropout_ms, F.lit("audio_dropout"))
        .when(F.col("n_chars") < t.min_chars, F.lit("too_short"))
        .when(F.col("n_chars") > t.max_chars, F.lit("too_long"))
        .when(F.col("rep_ratio") > t.max_repetition_ratio, F.lit("repetition"))
        .when(F.col("ppl") > t.max_perplexity, F.lit("perplexity_high"))
        .when(
            ~F.col("lang").isin(*cfg.allowed_langs), F.lit("lang_not_allowed")
        )
        .when(F.col("lang_conf") < t.min_lang_conf, F.lit("langid_low_conf"))
        .otherwise(F.lit(None).cast("string"))
    )
    return df.withColumn("drop_reason", reason).withColumn(
        "keep", F.col("drop_reason").isNull()
    )


def mask_scrub(df: DataFrame, keep_col: str = "keep") -> DataFrame:
    """Post-cascade: kept rows expose the scrub output, dropped rows carry
    NULL text / 0 edits (the oracle labeler's contract)."""
    return (
        df.withColumn(
            "scrubbed_transcript",
            F.when(F.col(keep_col), F.col("scrubbed_all")),
        )
        .withColumn(
            "scrub_edits",
            F.when(F.col(keep_col), F.col("scrub_edits_all")).otherwise(F.lit(0)),
        )
        .drop("scrubbed_all", "scrub_edits_all")
    )


def label(df: DataFrame, cfg: PipelineConfig = DEFAULT_CONFIG) -> DataFrame:
    """Feature rows → labeled rows: transcript stats, the keep/drop cascade,
    then the scrub mask — every codegen step after the feature kernel."""
    return mask_scrub(with_keep_drop(with_transcript_stats(df), cfg))
