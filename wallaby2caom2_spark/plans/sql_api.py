"""Spark SQL entry path for the flagship cascade — declarative parity.

The engine is DataFrame-API-first, but the cascade + metrics are pure
relational logic a user would just as naturally write as SQL over a view.
This module expresses EXACTLY the pipeline's codegen stages
(operators/cascade.py ``label``: with_transcript_stats + with_keep_drop +
mask_scrub; plans/pipeline.py run_metrics) as SQL
text over a temp view of the fused-feature stage output, so the
declarative path users actually write produces the same rows AND the same
physical plan shape (one Arrow crossing, one salted exchange) as the
DataFrame path. Parity is pinned by tests/test_sql_api.py.

Only the Arrow feature stage itself (decode + langid + perplexity +
scrub, operators/fused_stage.py) stays a DataFrame transform — a
JVM↔Python crossing has no SQL spelling; everything downstream of it is
SQL here.

Reference analog: the reference drives its cascade from config
(``config/config.yml``) through imperative visitors; here the same
declarative rule order (config.RULE_ORDER) renders to either API surface
from ONE threshold source (config.PipelineConfig), so the two spellings
cannot drift.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..config import DEFAULT_CONFIG, PipelineConfig
from ..operators import fused_stage, partitioning
from ..session import exchange_partitions

FEATURES_VIEW = "clip_features"

# Java regex for Python-str.split()-equivalent tokenization — same pattern
# string the DataFrame path passes to F.regexp_extract_all
# (operators/cascade.py:33). Doubled backslash: Spark SQL string literals
# process escapes, so the parser must see backslash-S.
_WORDS_SQL = r"regexp_extract_all(transcript, '(?U)\\S+', 0)"


def _sql_list(items) -> str:
    return ", ".join(f"'{x}'" for x in items)


def cascade_sql(
    cfg: PipelineConfig = DEFAULT_CONFIG, view: str = FEATURES_VIEW
) -> str:
    """The transcript stats + first-match-wins cascade + scrub mask as one
    SQL statement over the fused-feature view. Thresholds interpolate from
    the SAME PipelineConfig the DataFrame path reads."""
    t = cfg.thresholds
    return f"""
WITH words AS (
  SELECT *, {_WORDS_SQL} AS words FROM {view}
),
stats AS (
  SELECT *,
         coalesce(length(transcript), 0) AS n_chars,
         coalesce(size(words), 0) AS n_words,
         CASE WHEN coalesce(size(words), 0) = 0 THEN 0
              ELSE size(array_distinct(words)) END AS n_distinct_words
  FROM words
),
ratio AS (
  SELECT *,
         CASE WHEN n_words = 0 THEN 0.0
              ELSE 1.0 - n_distinct_words / n_words END AS rep_ratio
  FROM stats
),
labeled AS (
  SELECT *,
         CASE
           WHEN codec IS NULL
                OR NOT codec IN ({_sql_list(cfg.supported_codecs)})
             THEN 'codec_invalid'
           WHEN NOT pcm_ok THEN 'decode_failed'
           WHEN sr_meas != sr_hz THEN 'sr_mismatch'
           WHEN abs(dur_ms_meas - dur_ms) > {t.duration_tolerance} * dur_ms
             THEN 'duration_mismatch'
           WHEN rms < {t.min_rms} THEN 'audio_silence'
           WHEN clip_rate > {t.max_clip_rate} THEN 'audio_clipping'
           WHEN dropout_ms > {t.max_dropout_ms} THEN 'audio_dropout'
           WHEN n_chars < {t.min_chars} THEN 'too_short'
           WHEN n_chars > {t.max_chars} THEN 'too_long'
           WHEN rep_ratio > {t.max_repetition_ratio} THEN 'repetition'
           WHEN ppl > {t.max_perplexity} THEN 'perplexity_high'
           WHEN NOT lang IN ({_sql_list(cfg.allowed_langs)})
             THEN 'lang_not_allowed'
           WHEN lang_conf < {t.min_lang_conf} THEN 'langid_low_conf'
           ELSE CAST(NULL AS STRING)
         END AS drop_reason
  FROM ratio
)
SELECT clip_id,
       drop_reason IS NULL AS keep,
       drop_reason,
       CASE WHEN drop_reason IS NULL THEN scrubbed_all END
         AS scrubbed_transcript,
       CASE WHEN drop_reason IS NULL THEN scrub_edits_all ELSE 0 END
         AS scrub_edits,
       lang, lang_conf, ppl, pcm_ok, sr_meas, dur_ms_meas, rms,
       clip_rate, dropout_ms
FROM labeled
"""


def metrics_sql(view: str = "clip_results") -> str:
    """run_metrics (plans/pipeline.py:122) as SQL over a results view."""
    return f"""
SELECT coalesce(drop_reason, 'kept') AS outcome,
       count(*) AS clips,
       sum(scrub_edits) AS scrub_edits,
       coalesce(drop_reason, 'kept') = 'kept' AS kept
FROM {view}
GROUP BY coalesce(drop_reason, 'kept')
"""


def quality_filter_sql(
    spark: SparkSession,
    clips: DataFrame,
    cfg: PipelineConfig = DEFAULT_CONFIG,
    repartition: bool = True,
    view: str = FEATURES_VIEW,
) -> DataFrame:
    """The flagship pipeline through the SQL entry path: fused UDF stage
    (the one non-SQL-expressible step) → temp view → cascade as
    ``spark.sql`` → the same salted exchange of slim result rows. Same
    rows, same plan shape as plans.pipeline.quality_filter (pinned)."""
    fused_stage.with_fused_features(clips).createOrReplaceTempView(view)
    df = spark.sql(cascade_sql(cfg, view=view))
    if repartition:
        df = partitioning.salted_repartition(
            df, exchange_partitions(spark),
            content_cols=("scrubbed_transcript", "ppl", "rms", "dur_ms_meas"),
        )
    return df
