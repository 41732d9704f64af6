"""Zone-map column statistics + data skipping on the snapshot table
(round-4 parity-matrix gap: Iceberg per-file column stats / Delta
add-action stats). Invariants:

- every commit path (create / COW merge / MOR merge / compact) maintains
  per-bucket [min, max, null_count] zone maps in the manifest, for
  integral, floating, string and boolean columns (never decimals);
- ``read_table(where=...)`` is ALWAYS exactly ``read_table().filter``,
  with pruning a pure scan reduction. ``where`` is parsed by Spark; any
  one top-level AND conjunct may exclude a bucket, a conjunct the pruner
  cannot use keeps every bucket, and literals compare in the type Spark
  compares in. A property test checks soundness on 250 predicate shapes
  against the unpruned read, in one aggregation;
- MOR deltas widen a bucket's interval (superset of live rows — safe),
  a null count unknown on one side stays unknown, and compaction
  restores exactness;
- a pruned read returns columns added after its buckets were written
  (as NULLs);
- ``read_table_by_keys`` and key predicates pick buckets through one
  key-hash helper, which starts no Spark job;
- a commit's zone maps come from the written files' parquet footers and
  equal a Spark ``groupBy("bucket")`` min/max/null count over those
  files (NaN highest, ``-0.0`` equal to ``0.0``); a column the footer
  states no bounds for is recorded as unstated and never prunes; a
  commit runs no job for its stats, so a MOR merge runs at most 4 jobs,
  ``create_table`` 3 and ``compact`` 4;
- an unparsable ``where`` is reported once, by the filter.
"""

from __future__ import annotations

import glob
import logging
import os

import pyarrow.parquet as pq
import pytest

from pyspark.errors import ParseException
from pyspark.logger import PySparkLogger
from pyspark.sql import functions as F

from wallaby2caom2_spark.sources import snapshot_table as st

SCHEMA = "clip_id string, v int, score double, grp string"


def _rows(n=400):
    return [
        (f"k{i:04d}", i, float(i % 97), f"grp{i % 3}") for i in range(n)
    ]


def _df(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


@pytest.fixture()
def table(spark, tmp_path):
    path = str(tmp_path / "stats_tbl")
    st.create_table(spark, path, _df(spark, _rows()), key="clip_id", n_buckets=8)
    return path


def test_create_records_zone_maps_per_bucket(spark, table):
    m = st.read_manifest(table)
    assert set(m["stats"]) == set(m["buckets"])
    truth = {
        str(r["bucket"]): (r["n"], r["lo"], r["hi"])
        for r in st.read_table(spark, table)
        .groupBy("bucket")
        .agg(F.count("*").alias("n"), F.min("v").alias("lo"), F.max("v").alias("hi"))
        .collect()
    }
    for b, entry in m["stats"].items():
        n, lo, hi = truth[b]
        assert entry["n_rows"] == n
        assert entry["cols"]["v"][:2] == [lo, hi]
        assert entry["cols"]["v"][2] == 0  # no nulls in the fixture
    # statable columns only: the string/int/double columns, not bucket
    assert set(m["stats"]["0" if "0" in m["stats"] else b]["cols"]) == {
        "clip_id", "v", "score", "grp"
    }


def test_prune_impossible_predicate_empties_selection(spark, table):
    m = st.read_manifest(table)
    assert st.prune_buckets(m, "v > 999999") == []
    assert st.read_table(spark, table, where="v > 999999").count() == 0


def test_prune_is_conservative_on_unsupported_shapes(spark, table):
    m = st.read_manifest(table)
    assert st.prune_buckets(m, "v > 5 OR v < 2") is None
    assert st.prune_buckets(m, "(v > 5)") == st.prune_buckets(m, "v > 5")
    assert st.prune_buckets(m, "NOT v > 5") is None
    assert st.prune_buckets(m, "substr(grp, 1, 3) = 'grp'") is None
    # unsupported shape still yields exactly filter() semantics
    assert st.read_table(spark, table, where="(v > 395) OR (v < 2)").count() == 6


def test_where_read_equals_filter(spark, table):
    for pred in (
        "v >= 390",
        "grp = 'grp1' AND v < 50",
        "100 <= v AND v <= 110",
        "score > 90.0",
    ):
        got = sorted(
            r["clip_id"]
            for r in st.read_table(spark, table, where=pred).collect()
        )
        want = sorted(
            r["clip_id"]
            for r in st.read_table(spark, table).filter(pred).collect()
        )
        assert got == want, pred


def _assert_where_equals_filter(spark, path, where):
    got = sorted(
        r["clip_id"] for r in st.read_table(spark, path, where=where).collect()
    )
    want = sorted(
        r["clip_id"] for r in st.read_table(spark, path).filter(where).collect()
    )
    assert got == want, where
    return got


@pytest.mark.parametrize("ws", ["\n", "\t", "  "], ids=["newline", "tab", "2space"])
@pytest.mark.parametrize("tail", ["OR v = 7", "OR NOT v >= 7"], ids=["or", "or_not"])
def test_or_not_after_any_whitespace_blocks_pruning(spark, table, ws, tail):
    """``score = 100.0`` holds nowhere (score is i % 97), so pruning on
    the conjuncts before the OR would drop every bucket; the rows the
    OR branch matches must still come back."""
    where = f"v = 5 AND score = 100.0{ws}{tail}"
    assert st.prune_buckets(st.read_manifest(table), where) is None
    assert _assert_where_equals_filter(spark, table, where)


@pytest.mark.parametrize(
    "where",
    [
        "grp >= 'a AND grp = ''zz'''",
        "grp >= 'a' AND grp < 'grp1 and v = 1'",
        "grp >= \"a AND grp = 'zz'\"",
    ],
    ids=["phantom_conjunct", "and_in_bound", "double_quoted"],
)
def test_and_inside_quoted_literal_is_not_a_conjunct(spark, table, where):
    assert _assert_where_equals_filter(spark, table, where)


def test_reversed_literal_and_string_conjuncts_parse(spark, table):
    m = st.read_manifest(table)
    assert st.prune_buckets(m, "390 <= v") == st.prune_buckets(m, "v >= 390")
    # string equality against a value no bucket holds
    assert st.prune_buckets(m, "grp = 'zzz'") == []
    # quoted literal with an escaped quote parses (conservatively kept)
    assert st.prune_buckets(m, "grp = 'it''s'") == []


def test_all_null_column_bucket_is_prunable(spark, tmp_path):
    path = str(tmp_path / "nulltbl")
    rows = [("a", None, 1.0, "g"), ("b", None, 2.0, "g")]
    st.create_table(spark, path, _df(spark, rows), key="clip_id", n_buckets=2)
    m = st.read_manifest(path)
    # every row NULL for v -> no comparison can match -> all buckets pruned
    assert st.prune_buckets(m, "v = 1") == []
    assert st.read_table(spark, path, where="v = 1").count() == 0


def test_cow_merge_recomputes_touched_carries_untouched(spark, table):
    before = st.read_manifest(table)["stats"]
    out = st.merge(spark, table, _df(spark, [("k0001", 70000, 0.0, "grpX")]))
    m = st.read_manifest(table)
    (touched,) = out["touched_buckets"]
    assert m["stats"][str(touched)]["cols"]["v"][1] == 70000
    for b, entry in m["stats"].items():
        if b != str(touched):
            assert entry == before[b]  # untouched zone maps carried forward
    kept = st.prune_buckets(m, "v > 60000")
    assert kept == [touched]
    assert st.read_table(spark, table, where="v > 60000").count() == 1


def test_mor_merge_widens_interval_union(spark, table):
    out = st.merge(
        spark, table, _df(spark, [("k0001", 70000, 0.0, "grpX")]), mode="mor"
    )
    m = st.read_manifest(table)
    (touched,) = out["touched_buckets"]
    entry = m["stats"][str(touched)]
    assert entry["cols"]["v"][1] == 70000  # widened by the delta
    assert entry["cols"]["v"][0] < 70000  # base min retained
    assert st.prune_buckets(m, "v > 60000") == [touched]
    assert st.read_table(spark, table, where="v > 60000").count() == 1


def test_compact_restores_exact_stats_after_delete(spark, table):
    # COW delete of every v >= 300 row, then compact: zone maps shrink
    doomed = _df(spark, [r for r in _rows() if r[1] >= 300])
    st.merge(spark, table, doomed, delete_where="v >= 300")
    st.compact(spark, table)
    m = st.read_manifest(table)
    hi = max(s["cols"]["v"][1] for s in m["stats"].values())
    assert hi == 299
    assert st.prune_buckets(m, "v >= 300") == []


def test_pre_stats_manifest_reads_unpruned_but_correct(spark, table, tmp_path):
    import json as _json

    # simulate a manifest written before zone maps existed
    v = st.current_version(table)
    mp = st._manifest_path(table, v)
    m = _json.load(open(mp))
    m.pop("stats", None)
    open(mp, "w").write(_json.dumps(m))
    assert st.prune_buckets(st.read_manifest(table), "v > 10") is None
    assert st.read_table(spark, table, where="v >= 390").count() == 10


def test_mor_on_pre_stats_bucket_leaves_it_unstated(spark, table, tmp_path):
    """Regression: a MOR delta landing on a bucket whose BASE rows carry
    no zone map (pre-stats manifest) must NOT give that bucket a
    delta-only interval — pruning on it would wrongly exclude base
    rows."""
    import json as _json

    v = st.current_version(table)
    mp = st._manifest_path(table, v)
    m = _json.load(open(mp))
    m.pop("stats", None)  # simulate a pre-stats table
    open(mp, "w").write(_json.dumps(m))

    out = st.merge(
        spark, table, _df(spark, [("k0001", 7, 7.0, "grpZ")]), mode="mor"
    )
    (touched,) = out["touched_buckets"]
    m2 = st.read_manifest(table)
    # the delta'd base bucket stays unstated; no other bucket gained stats
    assert str(touched) not in (m2.get("stats") or {})
    # and a predicate outside the DELTA's range still reads base rows
    # from that bucket (k0001's old v is 1, batch wrote v=7)
    got = st.read_table(spark, table, where="v >= 300")
    want = st.read_table(spark, table).filter("v >= 300")
    assert sorted(r["clip_id"] for r in got.collect()) == sorted(
        r["clip_id"] for r in want.collect()
    )
    # a delta into an EMPTY bucket (no base rows) IS statable even on a
    # pre-stats table: build a sparse 16-bucket table from one row, strip
    # its stats, MOR-insert a key hashing to a DIFFERENT (empty) bucket
    p2 = str(tmp_path / "sparse")
    st.create_table(
        spark, p2, _df(spark, [("a", 1, 1.0, "g")]), key="clip_id",
        n_buckets=16,
    )
    mp2 = st._manifest_path(p2, 0)
    m2j = _json.load(open(mp2))
    m2j.pop("stats", None)
    open(mp2, "w").write(_json.dumps(m2j))
    taken = set(m2j["buckets"])
    probe = next(
        k
        for k in (f"key{i}" for i in range(200))
        if str(
            st.with_bucket(_df(spark, [(k, 0, 0.0, "g")]), 16)
            .collect()[0]["bucket"]
        )
        not in taken
    )
    out2 = st.merge(
        spark, p2, _df(spark, [(probe, 42, 1.0, "g")]), mode="mor"
    )
    (tb,) = out2["touched_buckets"]
    m3 = st.read_manifest(p2)
    assert str(tb) in m3["stats"]
    # pruning keeps the delta bucket (stats say v=42 possible) and the
    # UNSTATED pre-stats bucket (conservative), nothing else
    kept = st.prune_buckets(m3, "v = 42")
    assert tb in kept and set(map(str, kept)) == taken | {str(tb)}


def test_point_lookup_scans_only_hashed_buckets(spark, table):
    got = st.read_table_by_keys(spark, table, ["k0005", "k0350", "nope"])
    assert sorted(r["clip_id"] for r in got.collect()) == ["k0005", "k0350"]
    # the scan touches at most as many buckets as keys requested
    buckets = {r["bucket"] for r in got.select("bucket").distinct().collect()}
    assert len(buckets) <= 2
    # and the plan's parquet scan lists only those buckets' dirs
    plan = got._jdf.queryExecution().executedPlan().toString()
    n_dirs = plan.count("bucket=") if "bucket=" in plan else None
    if n_dirs is not None:
        assert n_dirs <= 3 * len(buckets)  # per-scan path echoes, bounded


def test_stats_survive_json_roundtrip_with_decimals(spark, tmp_path):
    path = str(tmp_path / "dec_tbl")
    df = spark.createDataFrame(
        [("a", 1), ("b", 2)], "clip_id string, n int"
    ).withColumn("d", F.col("n").cast("decimal(10,2)"))
    st.create_table(spark, path, df, key="clip_id", n_buckets=2)
    m = st.read_manifest(path)  # would raise if Decimal leaked into JSON
    # a decimal's min/max would not survive JSON exactly: no zone map
    assert all("d" not in s["cols"] for s in m["stats"].values())
    assert st.read_table(spark, path, where="d >= 2.0").count() == 1
    assert _assert_where_equals_filter(spark, path, "d >= 2.0") == ["b"]


def test_pruned_read_keeps_widened_columns(spark, tmp_path):
    """Every bucket a pruned read keeps predates the merge that added
    ``w``; their rows must read ``w`` as NULL, not lose the column."""
    path = str(tmp_path / "widen_tbl")
    rows = [(f"k{i:04d}", i) for i in range(200)]
    st.create_table(
        spark, path, spark.createDataFrame(rows, "clip_id string, v int"),
        key="clip_id", n_buckets=8,
    )
    wide = spark.createDataFrame(
        [("k0001", 1, 1)], "clip_id string, v int, w int"
    )
    st.merge(spark, path, wide)
    assert _assert_where_equals_filter(spark, path, "w > 5") == []
    assert len(_assert_where_equals_filter(spark, path, "w IS NULL")) == 199


def test_decimal_column_is_never_pruned(spark, tmp_path):
    """A float zone map of a decimal(38,18) column reads 1.0 for both the
    stored value and the literal, which would exclude a matching row."""
    from decimal import Decimal

    path = str(tmp_path / "dec38_tbl")
    df = spark.createDataFrame([("a",)], "clip_id string").withColumn(
        "d", F.lit(Decimal("1.000000000000000002")).cast("decimal(38,18)")
    )
    st.create_table(spark, path, df, key="clip_id", n_buckets=1)
    assert _assert_where_equals_filter(
        spark, path, "d > 1.000000000000000001"
    ) == ["a"]


def test_key_bucket_selection_starts_no_job(spark, table, new_jobs):
    m = st.read_manifest(table)
    keys = ["k0005", "k0350"]

    def plan():
        return (
            st.read_table_by_keys(spark, table, keys),
            st.prune_buckets(m, "clip_id IN ('k0005', 'k0350', NULL)"),
            st.prune_buckets(m, "'k0005' = clip_id AND v >= 0"),
        )

    (df, kept_in, kept_eq), jobs = new_jobs(plan)
    assert jobs == set()
    assert sorted(r["clip_id"] for r in df.collect()) == keys
    # the lookup and the key conjuncts select buckets through one hash
    assert kept_in == st._key_buckets(spark, m, keys)
    assert kept_eq == st._key_buckets(spark, m, ["k0005"])
    assert _assert_where_equals_filter(
        spark, table, "clip_id IN ('k0005', 'k0350', NULL)"
    ) == keys


def test_mor_merge_stats_read_infers_no_schema(spark, tmp_path, new_jobs):
    """A 16-row MOR merge on a 4-bucket table runs at most 4 Spark jobs:
    its zone maps and row count come from the written footers, and the
    write plans its partitions without a sampling job."""
    path = str(tmp_path / "mor_jobs_tbl")
    st.create_table(spark, path, _df(spark, _rows(64)), key="clip_id", n_buckets=4)
    batch = _df(spark, [(f"k{i:04d}", -i, 0.5, "u") for i in range(0, 96, 6)])
    info, jobs = new_jobs(lambda: st.merge(spark, path, batch, mode="mor"))
    assert info["delta_rows"] == 16
    assert len(jobs) <= 4, sorted(jobs)


def test_create_and_compact_job_counts(spark, tmp_path, new_jobs):
    """``create_table`` runs at most 3 Spark jobs and ``compact
    (min_deltas=4)`` at most 4: neither reads back what it wrote."""
    path = str(tmp_path / "jobs_tbl")
    df = _df(spark, _rows())
    m, jobs = new_jobs(
        lambda: st.create_table(spark, path, df, key="clip_id", n_buckets=4)
    )
    assert sum(s["n_rows"] for s in m["stats"].values()) == 400
    assert len(jobs) <= 3, sorted(jobs)
    for r in range(4):
        batch = _df(spark, [(f"k{i:04d}", -i, 0.5, "u") for i in range(r, 96, 6)])
        st.merge(spark, path, batch, mode="mor")
    out, jobs = new_jobs(lambda: st.compact(spark, path, min_deltas=4))
    assert out["rewritten_buckets"]
    assert len(jobs) <= 4, sorted(jobs)
    assert st.read_table(spark, path).count() == 400


def test_empty_mor_merge_changes_nothing(spark, table):
    before = st.current_version(table)
    data = os.path.join(table, "data")
    dirs = sorted(os.listdir(data))
    out = st.merge(spark, table, _df(spark, []), mode="mor")
    assert out["version"] == out["base_version"] == before
    assert (out["touched_buckets"], out["delta_rows"]) == ([], 0)
    assert st.current_version(table) == before
    assert sorted(os.listdir(data)) == dirs


@pytest.mark.parametrize("where, logged", [("v >", 0), ("v > 1e400", 1)])
def test_unparsable_where_is_reported_once(spark, table, where, logged):
    """Pruning an unparsable ``where`` fails silently; the pruned read
    raises the parser's error and logs what an unpruned read logs.
    PySpark logs a parse error at ERROR when the error carries a query
    context (an out-of-range literal does, a syntax error does not). The
    records are taken from the logger itself: its handler keeps the
    stream it was created with, which fd capture does not see."""
    logger = PySparkLogger.getLogger("SQLQueryContextLogger")
    records: list = []
    handler = logging.Handler()
    handler.emit = records.append
    logger.addHandler(handler)
    try:
        assert st.prune_buckets(st.read_manifest(table), where) is None
        assert records == []
        with pytest.raises(ParseException) as got:
            st.read_table(spark, table, where=where)
        assert len(records) == logged
        with pytest.raises(ParseException) as want:
            st.read_table(spark, table).filter(where)
        assert len(records) == 2 * logged
    finally:
        logger.removeHandler(handler)
    assert got.value.getCondition() == want.value.getCondition()
    assert str(got.value) == str(want.value)
    assert not logger.disabled


# -- zone maps from the footers equal a Spark aggregation -------------------


def _oracle_stats(df) -> dict:
    """Per-bucket zone maps computed by Spark over ``df``: row count and
    min, max and null count of every statable column."""
    statable = [
        f.name
        for f in df.schema.fields
        if f.name not in ("bucket", "_deleted") and st._literal_types(f.dataType)
    ]
    aggs = [F.count(F.lit(1)).alias("_n")]
    for c in statable:
        aggs.append(F.min(c).alias(f"_min_{c}"))
        aggs.append(F.max(c).alias(f"_max_{c}"))
        aggs.append(F.sum(F.col(c).isNull().cast("long")).alias(f"_nulls_{c}"))
    return {
        str(r["bucket"]): {
            "n_rows": r["_n"],
            "cols": {
                c: [r[f"_min_{c}"], r[f"_max_{c}"], r[f"_nulls_{c}"]]
                for c in statable
            },
        }
        for r in df.groupBy("bucket").agg(*aggs).collect()
    }


def _same(a, b) -> bool:
    """Equal as zone maps: NaN equals NaN, ``-0.0`` equals ``0.0``."""
    if isinstance(a, dict):
        return (
            isinstance(b, dict)
            and a.keys() == b.keys()
            and all(_same(a[k], b[k]) for k in a)
        )
    if isinstance(a, list):
        return isinstance(b, list) and len(a) == len(b) and all(map(_same, a, b))
    if isinstance(a, float) and a != a:
        return isinstance(b, float) and b != b
    return type(a) is type(b) and a == b


def _recording_writes(monkeypatch) -> list:
    """Record every ``_write_snapshot_files`` call's frame schema, table
    path, written dirs and stats."""
    calls = []
    write = st._write_snapshot_files

    def spy(df, path, n_buckets):
        sid, dirs, stats = write(df, path, n_buckets)
        calls.append((df.schema, path, sid, dirs, stats))
        return sid, dirs, stats

    monkeypatch.setattr(st, "_write_snapshot_files", spy)
    return calls


def _zone_table(spark):
    """~200 rows over 4 buckets whose float columns follow the bucket:
    NaN-only (bucket 0), NaN with values (1), ±inf with -0.0 and 0.0
    (2), values with NULLs (3); an all-NULL int, empty and non-ASCII
    strings, a float32 ``lang_conf``, tinyint, bigint and boolean."""
    from wallaby2caom2_spark.operators.partitioning import with_bucket

    keys = spark.createDataFrame(
        [(f"z{n:04d}", n) for n in range(200)], "clip_id string, n int"
    )
    b, n = F.col("bucket"), F.col("n")
    nan, inf = F.lit(float("nan")), F.lit(float("inf"))
    edges = F.array(inf, -inf, F.lit(-0.0), F.lit(0.0))
    d = (
        F.when(b == 0, nan)
        .when(b == 1, F.when(n % 3 == 0, nan).otherwise(n / 7))
        .when(b == 2, F.element_at(edges, n % 4 + 1))
        .otherwise(F.when(n % 5 == 0, F.lit(None)).otherwise(-n / 3))
    )
    words = F.array(*[F.lit(w) for w in ("", "é", "日本語", "Zürich", "a")])
    return with_bucket(keys, 4).select(
        "clip_id",
        "n",
        d.cast("double").alias("d"),
        d.cast("float").alias("lang_conf"),
        F.lit(None).cast("int").alias("nulls"),
        F.element_at(words, (n % 5 + 1).cast("int")).alias("s"),
        (n % 100 - 50).cast("tinyint").alias("tiny"),
        (F.lit(2**40) * n).cast("bigint").alias("big"),
        (n % 2 == 0).alias("flag"),
    )


@pytest.mark.parametrize("row_group_rows", [None, 7], ids=["default", "7_rows"])
def test_footer_zone_maps_equal_spark_aggregation(
    spark, tmp_path, monkeypatch, row_group_rows
):
    """After every commit path — create, COW merge (widening), MOR merge,
    compact, rebucket — each written bucket dir's footer zone map equals
    the Spark aggregation over the same files, with no column unstated.
    With 7-row row groups the fold across row groups decides the bounds
    (NaN above every value, ``-0.0`` beside ``0.0``)."""
    calls = _recording_writes(monkeypatch)
    if row_group_rows:
        spark.conf.set("parquet.block.row.count.limit", str(row_group_rows))
    try:
        _zone_commits(spark, str(tmp_path / "zone_tbl"))
    finally:
        spark.conf.unset("parquet.block.row.count.limit")
    assert len(calls) == 6
    groups = []
    for schema, tbl, sid, dirs, stats in calls:
        assert dirs and set(stats) == {str(b) for b in dirs}
        back = (
            spark.read.schema(schema)
            .option("basePath", os.path.join(tbl, "data", sid))
            .parquet(*[os.path.join(tbl, r) for r in dirs.values()])
        )
        want = _oracle_stats(back)
        assert _same(stats, want), (stats, want)
        assert all(v is not None for e in stats.values() for v in e["cols"].values())
        groups += [
            pq.read_metadata(f).num_row_groups
            for r in dirs.values()
            for f in glob.glob(os.path.join(tbl, r, "*.parquet"))
        ]
    assert max(groups) > 1 if row_group_rows else max(groups) == 1


def _zone_commits(spark, path):
    """Create ``_zone_table``, then a widening COW merge, two MOR merges
    (NaN and ``-0.0`` updates), a full compact and a rebucket to 8."""
    df = _zone_table(spark)
    st.create_table(spark, path, df.drop("bucket"), key="clip_id", n_buckets=4)
    upd = (
        df.filter("n % 4 = 0")
        .withColumn("w", F.col("d") * 2)
        .withColumn("s", F.concat(F.col("s"), F.lit("ø")))
        .drop("bucket")
    )
    st.merge(spark, path, upd)
    cur = st.read_table(spark, path).drop("bucket")
    st.merge(
        spark, path,
        cur.filter("n % 4 = 1").withColumn("d", F.lit(float("nan"))),
        mode="mor",
    )
    st.merge(
        spark, path,
        cur.filter("n % 4 = 2").withColumn("lang_conf", F.lit(-0.0).cast("float")),
        mode="mor",
    )
    st.compact(spark, path)
    st.rebucket(spark, path, 8)
    m = st.read_manifest(path)
    assert all("w" in e["cols"] for e in m["stats"].values())


# -- a column without footer bounds is unstated, and never prunes -----------


def test_long_string_is_unstated_and_never_prunes(spark, tmp_path):
    """parquet-mr writes no statistics for a string column chunk whose
    min plus max exceed 4 KB. A MOR delta holding such a value outside
    the base interval leaves the column unstated for its bucket, so a
    read for the value finds it, and ``IS NULL`` keeps the bucket; a
    create holding one does the same."""
    path = str(tmp_path / "long_tbl")
    st.create_table(
        spark, path, _df(spark, _rows(40)), key="clip_id", n_buckets=2
    )
    long = "zz" + "y" * 5000
    out = st.merge(spark, path, _df(spark, [("k0003", 3, 3.0, long)]), mode="mor")
    (touched,) = out["touched_buckets"]
    m = st.read_manifest(path)
    assert m["stats"][str(touched)]["cols"]["grp"] is None
    assert touched in st.prune_buckets(m, f"grp = '{long}'")
    assert touched in st.prune_buckets(m, "grp IS NULL")
    assert _assert_where_equals_filter(spark, path, f"grp = '{long}'") == ["k0003"]
    assert _assert_where_equals_filter(spark, path, "grp > 'grp9'") == ["k0003"]
    # compaction rewrites the bucket, and it stays unstated
    st.compact(spark, path)
    m = st.read_manifest(path)
    assert m["stats"][str(touched)]["cols"]["grp"] is None
    assert _assert_where_equals_filter(spark, path, f"grp = '{long}'") == ["k0003"]

    p2 = str(tmp_path / "long_create")
    st.create_table(
        spark, p2, _df(spark, [("a", 1, 1.0, long), ("b", 2, 2.0, "g")]),
        key="clip_id", n_buckets=1,
    )
    (entry,) = st.read_manifest(p2)["stats"].values()
    assert entry["cols"]["grp"] is None and entry["cols"]["v"] == [1, 2, 0]
    assert _assert_where_equals_filter(spark, p2, f"grp = '{long}'") == ["a"]


def test_mor_nan_widens_interval_above_every_value(spark, tmp_path):
    """NaN sorts above every value in Spark, so ``score > 1000`` matches
    a NaN row: a MOR delta of NaN must widen the bucket's max to NaN,
    not leave the base's finite max in place."""
    path = str(tmp_path / "nan_tbl")
    st.create_table(
        spark, path, _df(spark, _rows(40)), key="clip_id", n_buckets=2
    )
    out = st.merge(
        spark, path, _df(spark, [("k0003", 3, float("nan"), "g")]), mode="mor"
    )
    (touched,) = out["touched_buckets"]
    hi = st.read_manifest(path)["stats"][str(touched)]["cols"]["score"][1]
    assert hi != hi  # NaN
    assert _assert_where_equals_filter(spark, path, "score > 1000") == ["k0003"]


# -- property test: pruning is sound on generated predicate shapes ----------

_N_SHAPES = 240
_B53 = 2**53


def _prop_table(spark, path):
    """An 8-bucket table whose columns follow the bucket, so zone maps
    do exclude buckets: int, bigint around 2^53 (where a cast to double
    rounds), double (0.1 steps, NaN, NULL), strings with quotes,
    backslashes and AND/OR, boolean, date strings (ISO in even buckets,
    unpadded in odd ones, which sort apart from the dates they cast to),
    the key; then ``w`` added by a COW merge on some buckets, and MOR
    deltas (updates carrying ``w``, two on bucket 3, and tombstones) left
    pending on others."""
    from wallaby2caom2_spark.operators.partitioning import with_bucket

    keys = spark.createDataFrame(
        [(f"k{n:04d}", n) for n in range(240)], "clip_id string, n int"
    )
    b, n = F.col("bucket"), F.col("n")
    texts = ("it's", "a\\b", "x AND y", "p OR q", 'say "hi"')
    words = F.element_at(
        F.array(*[F.lit(w) for w in texts]), (n % 5 + 1).cast("int")
    )
    df = with_bucket(keys, 8).select(
        "clip_id",
        (b * 100 + n % 50).cast("int").alias("i"),
        (F.lit(_B53 - 3) + b * 2 + n % 2).cast("bigint").alias("big"),
        F.when(n % 7 == 0, F.lit(float("nan")))
        .when(n % 7 == 1, F.lit(None))
        .otherwise(b + F.lit(0.1) * (n % 3))
        .cast("double")
        .alias("x"),
        F.concat(F.char(b + 97), F.lit(" "), words).alias("s"),
        (b < 4).alias("flag"),
        F.when(b % 2 == 1, F.format_string("2020-1-%d", b + 1))
        .otherwise(F.format_string("2020-01-%02d", b + 1))
        .alias("day"),
    )
    st.create_table(spark, path, df, key="clip_id", n_buckets=8)
    cur = st.read_table(spark, path)
    st.merge(
        spark, path,
        cur.filter("bucket IN (0, 1, 2) AND i % 50 < 10")
        .withColumn("w", (F.col("bucket") * 10 + F.col("i") % 3).cast("int"))
        .drop("bucket"),
    )
    cur = st.read_table(spark, path)
    st.merge(
        spark, path,
        cur.filter("bucket IN (3, 4) AND i % 50 < 8")
        .withColumn("i", F.col("i") + 1000)
        .withColumn("w", F.lit(7))
        .drop("bucket"),
        mode="mor",
    )
    st.merge(  # a second delta on bucket 3: stats unions stack
        spark, path,
        cur.filter("bucket = 3 AND i % 50 >= 45")
        .withColumn("w", F.lit(9))
        .drop("bucket"),
        mode="mor",
    )
    st.merge(
        spark, path,
        cur.filter("bucket = 5 AND i % 50 >= 40")
        .withColumn("i", -F.col("i"))
        .drop("bucket"),
        delete_where="i < 0",
        mode="mor",
    )


def _shapes(rng, n):
    """``n`` seeded predicates over ``_prop_table``'s columns. Literal
    types are mixed per column — integral, long, decimal and double for
    the numbers, DATE and string for the day — and every shape is valid
    SQL for its column types."""

    def name(col):
        return rng.choice([col, col.upper(), col.capitalize()])

    def quote(text):
        body = text.replace("\\", "\\\\")
        if rng.random() < 0.5:
            return "'" + body.replace("'", "''") + "'"
        return '"' + body.replace('"', '\\"') + '"'

    def number(v):
        return rng.choice([
            str(v), f"{v}L", f"{v}.{rng.choice(['0', '5', '05'])}",
            f"{v}D", f"{v:.16E}",
        ])

    def lit(col):
        b = rng.randrange(9)
        if col == "i":
            return number(b * 100 + rng.randrange(-5, 55))
        if col == "w":
            return number(b * 10 + rng.randrange(-1, 4))
        if col == "big":
            return number(_B53 + rng.randrange(-4, 14))
        if col == "x":
            v = f"{b}.{rng.randrange(4)}"
            return rng.choice([v, v + "D", f"{b}", v + "E0"])
        if col == "s":
            words = ["it's", "a\\b", "x AND y", "p OR q", 'say "hi"', ""]
            text = f"{chr(97 + b)} {rng.choice(words)}"
            return quote(text[: rng.choice([1, 3, 40])])
        if col == "flag":
            return rng.choice(["true", "false", "TRUE"])
        if col == "day":
            day, unpadded = f"2020-01-{b + 1:02d}", f"2020-1-{b + 1}"
            return rng.choice([f"DATE '{day}'", quote(day), quote(unpadded)])
        return quote(f"k{rng.randrange(260):04d}")

    cols = ["i", "big", "x", "s", "flag", "day", "clip_id", "w"]

    def atom(k):
        col = cols[k % len(cols)]
        kind = (k // len(cols)) % 6
        if kind == 0:
            op = rng.choice(["=", "<", "<=", ">", ">=", "!=", "<>", "<=>"])
            return f"{name(col)} {op} {lit(col)}"
        if kind == 1:
            op = rng.choice(["=", "<", "<=", ">", ">="])
            return f"{lit(col)} {op} {name(col)}"
        if kind == 2:
            items = [lit(col) for _ in range(rng.randint(1, 3))]
            if rng.random() < 0.4:
                items.insert(rng.randrange(len(items) + 1), "NULL")
            neg = "NOT " if rng.random() < 0.2 else ""
            return f"{name(col)} {neg}IN ({', '.join(items)})"
        if kind == 3:
            neg = "NOT " if rng.random() < 0.2 else ""
            return f"{name(col)} {neg}BETWEEN {lit(col)} AND {lit(col)}"
        if kind == 4:
            return f"{name(col)} IS {rng.choice(['', 'NOT '])}NULL"
        return f"({name(col)} {rng.choice(['>', '<='])} {lit(col)})"

    def ws():
        return rng.choice([" ", "\n", "\t", "  ", " \n "])

    out = []
    for k in range(n):
        parts = [atom(k + 7 * j) for j in range(rng.randint(1, 3))]
        shape = rng.randrange(5)
        if shape == 1 and len(parts) > 1:
            parts[:2] = [f"({parts[0]}{ws()}OR{ws()}{parts[1]})"]
        elif shape == 2:
            parts[0] = f"NOT ({parts[0]})"
        elif shape == 3 and len(parts) > 1:
            inner = f"{ws()}{rng.choice(['AND', 'and'])}{ws()}"
            parts[-2:] = [f"({parts[-2]}{inner}{parts[-1]})"]
        outer = f"{ws()}{rng.choice(['AND', 'and', 'And'])}{ws()}"
        out.append(outer.join(parts))
    return out


def test_pruning_is_sound_on_generated_shapes(spark, tmp_path):
    """QURE-style check of the pruner against its reference: for every
    shape, a bucket holding a matching row (per the unpruned read) is
    kept; all shapes are evaluated in one aggregation. Then the pruned
    read equals ``read_table().filter`` on 20 shapes that prune: the 16
    that keep fewest buckets and the 4 that keep most."""
    import random

    path = str(tmp_path / "prop_tbl")
    _prop_table(spark, path)
    m = st.read_manifest(path)
    assert m.get("deltas")  # MOR deltas are pending on some buckets
    # the traps first: each is unsound under one plausible shortcut
    shapes = [
        "big = 9007199254740992D",  # exact int compare; Spark casts to double
        "9.007199254740992E15 >= big",
        "x = 0.1",  # Decimal('0.1') < 0.1; Spark casts the literal to double
        "x IN (1.1, 2.2)",
        "day = DATE '2020-01-02'",  # '2020-1-2' casts to that date
        "w IS NULL",  # MOR deltas carry w, the base rows read it as NULL
        # Spark rounds these literals to 2^53 and 43, each a bucket's max
        "big = 9007199254740992.0000000000000000001",
        "i IN (43.00000000000000000000000000001)",
        "i = 5 OR i = 705",
        "NOT (i < 100)",
    ] + _shapes(random.Random(20261018), _N_SHAPES)
    assert len(set(shapes)) >= 200
    matched = (
        st.read_table(spark, path)
        .groupBy("bucket")
        .agg(
            *[
                F.coalesce(F.bool_or(F.expr(w)), F.lit(False)).alias(f"m{j}")
                for j, w in enumerate(shapes)
            ]
        )
        .collect()
    )
    live = set(map(int, m["buckets"])) | set(map(int, m.get("deltas", {})))
    pruned = []
    for j, where in enumerate(shapes):
        kept = st.prune_buckets(m, where)
        need = {r["bucket"] for r in matched if r[f"m{j}"]}
        assert kept is None or need <= set(kept), (where, need, kept)
        if kept is not None and len(kept) < len(live):
            pruned.append((len(kept), j))
    # the check means something only if pruning happens
    assert len(pruned) >= _N_SHAPES // 4, len(pruned)
    for _n, j in sorted(pruned)[:16] + sorted(pruned)[-4:]:
        _assert_where_equals_filter(spark, path, shapes[j])
