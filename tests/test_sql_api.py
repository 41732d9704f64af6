"""SQL-entry-path parity for the flagship cascade (round-3 verdict #7).

The cascade + scrub mask re-expressed as ``spark.sql`` over a
temp view must produce (a) exactly the DataFrame path's rows and (b) the
same physical plan shape — one Arrow crossing, one exchange — so a user
writing declarative SQL gets the same scale properties as the DataFrame
API."""

from __future__ import annotations

import io
from contextlib import redirect_stdout

from wallaby2caom2_spark.plans import sql_api
from wallaby2caom2_spark.plans.pipeline import RESULT_COLUMNS, quality_filter
from wallaby2caom2_spark.queries.clips_flagship import load_clips

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def _collect_sorted(df):
    return sorted(
        (tuple(r) for r in df.select(*RESULT_COLUMNS).collect()),
        key=lambda t: t[0],
    )


def test_sql_path_rows_identical(spark):
    clips = load_clips(spark, SF)
    df_rows = _collect_sorted(quality_filter(clips))
    sql_rows = _collect_sorted(sql_api.quality_filter_sql(spark, clips))
    assert sql_rows == df_rows


def test_sql_path_same_plan_shape(spark):
    clips = load_clips(spark, SF)
    df_plan = _plan(quality_filter(clips))
    sql_plan = _plan(sql_api.quality_filter_sql(spark, clips))
    for token in ("Exchange (", "MapInArrow (", "MapInPandas ("):
        assert sql_plan.count(token) == df_plan.count(token), (
            token,
            sql_plan,
        )
    # the one-Exchange one-crossing flagship contract holds through SQL
    assert sql_plan.count("Exchange (") == 1, sql_plan
    assert (
        sql_plan.count("MapInArrow (") + sql_plan.count("MapInPandas (") == 1
    ), sql_plan
    # the whole cascade stays in codegen — no extra Python stage appears
    for bad in ("BatchEvalPython", "ArrowEvalPython"):
        assert bad not in sql_plan, sql_plan
