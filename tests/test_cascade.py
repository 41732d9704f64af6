"""Rule-cascade unit tests: pure column-expression logic fed literal feature
rows with literal expected outputs (test_storage_name.py style) — no UDFs,
so these run in milliseconds and pin the cascade order of RULE_ORDER."""

from __future__ import annotations

import re

import pytest

from wallaby2caom2_spark.config import DEFAULT_CONFIG
from wallaby2caom2_spark.operators import cascade
from wallaby2caom2_spark.plans import sql_api

# Cascade rule names, in evaluation order. First match wins; the name is the
# ``drop_reason``. Order is part of the contract.
RULE_ORDER = (
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

GOOD = dict(
    codec="wav",
    pcm_ok=True,
    sr_hz=16000,
    sr_meas=16000,
    dur_ms=1000,
    dur_ms_meas=1000,
    rms=0.3,
    clip_rate=0.0,
    dropout_ms=0.0,
    transcript="every morning the children walk slowly towards school",
    lang="en",
    lang_conf=0.99,
    ppl=5000.0,
)

CASES = [
    ({}, None),
    ({"codec": "mp3"}, "codec_invalid"),
    ({"pcm_ok": False}, "decode_failed"),
    ({"sr_meas": 8000}, "sr_mismatch"),
    ({"dur_ms_meas": 2000}, "duration_mismatch"),
    ({"rms": 1e-6}, "audio_silence"),
    ({"clip_rate": 0.5}, "audio_clipping"),
    ({"dropout_ms": 120.0}, "audio_dropout"),
    ({"transcript": "hi"}, "too_short"),
    ({"transcript": "x" * 9000}, "too_long"),
    ({"transcript": "aaa bbb " * 30}, "repetition"),
    ({"ppl": 50000.0}, "perplexity_high"),
    ({"lang": "it"}, "lang_not_allowed"),
    ({"lang_conf": 0.5}, "langid_low_conf"),
    # first-match-wins: codec_invalid outranks everything downstream
    ({"codec": "bad", "pcm_ok": False, "lang": "it"}, "codec_invalid"),
    ({"pcm_ok": False, "ppl": 99999.0}, "decode_failed"),
]


@pytest.mark.parametrize("patch,expected", CASES)
def test_cascade_literal_cases(spark, patch, expected):
    row = {**GOOD, **patch}
    df = spark.createDataFrame(
        [row],
        "codec string, pcm_ok boolean, sr_hz int, sr_meas int, dur_ms int, "
        "dur_ms_meas int, rms double, clip_rate double, dropout_ms double, "
        "transcript string, "
        "lang string, lang_conf float, ppl double",
    )
    out = (
        df.transform(cascade.with_transcript_stats)
        .transform(lambda d: cascade.with_keep_drop(d, DEFAULT_CONFIG))
        .select("keep", "drop_reason")
        .collect()[0]
    )
    assert out["drop_reason"] == expected
    assert out["keep"] == (expected is None)


def test_every_rule_in_order_covered():
    tested = {e for _, e in CASES if e}
    assert tested == set(RULE_ORDER)
    # the SQL spelling of the cascade lists the rules in the same order
    sql_order = re.findall(r"THEN '(\w+)'", sql_api.cascade_sql())
    assert tuple(sql_order) == RULE_ORDER


def test_transcript_stats_match_python_str_split(spark):
    """The oracle labeler tokenizes with str.split(); the Catalyst stats
    must agree on whitespace the generator never emits too (trailing
    newline/tabs, NBSP, empty, NULL) — a trailing '\\n' under the old
    trim+split form created a phantom distinct token and flipped
    repetition-boundary rows (review finding, round 2)."""
    texts = [
        "a a a a a a b c\n",
        "  hello\tworld  ",
        "x y z",
        "",
        "one",
        "a\n\nb",
        "nb sp",
        None,
    ]
    df = spark.createDataFrame([(t,) for t in texts], "transcript string")
    rows = cascade.with_transcript_stats(df).collect()
    for r in rows:
        t = r["transcript"]
        py = t.split() if t else []
        assert r["n_words"] == len(py), (t, r["n_words"])
        assert r["n_distinct_words"] == len(set(py)), (t, r)
        exp_rep = 1.0 - (len(set(py)) / len(py)) if py else 0.0
        assert abs(r["rep_ratio"] - exp_rep) < 1e-12, (t, r["rep_ratio"])


def test_null_codec_labeled_codec_invalid(spark):
    """NULL codec must hit the codec_invalid rule (the oracle's label),
    not fall through to decode_failed: ~isin() is NULL — not true — for a
    NULL input, so the branch needs an explicit isNull arm."""
    from wallaby2caom2_spark.plans.pipeline import quality_filter

    df = spark.createDataFrame(
        [("x", None, 16000, 1000, None, "some words here")],
        "clip_id string, bytes binary, sr_hz int, dur_ms int, codec string, transcript string",
    )
    row = quality_filter(df).collect()[0]
    assert row["drop_reason"] == "codec_invalid"
    assert not row["keep"]
