"""Merge-on-read on the snapshot table (round-4 parity-matrix gap:
Iceberg v2 deletes / Delta deletion-vector analog). The MOR write path
must be O(batch) — no base read, no bucket rewrite — with latest-wins +
tombstone resolution at read time, compaction materializing it, and the
COW fast-path read plan preserved for buckets with no pending deltas.

Reference analog as for the COW arm (J2/S8 read-modify-write,
``wallaby2caom2/tests/test_caom_gen_visit.py:109-117``); MOR is the
write-amplification answer the reference's serial loop never needed but
a 10^12-row table does.
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from wallaby2caom2_spark.sources import snapshot_table as st

SCHEMA = "clip_id string, val string, seq int"


def _df(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


def _state(spark, path, version=None):
    return {
        r["clip_id"]: (r["val"], r["seq"])
        for r in st.read_table(spark, path, version=version).collect()
    }


@pytest.fixture()
def table(spark, tmp_path):
    path = str(tmp_path / "mor_tbl")
    st.create_table(
        spark,
        path,
        _df(spark, [(f"c{i:03d}", f"v0_{i}", 0) for i in range(40)]),
        key="clip_id",
        n_buckets=8,
    )
    return path


def test_mor_merge_updates_inserts_tombstones(spark, table):
    out = st.merge(
        spark,
        table,
        _df(
            spark,
            [
                ("c001", "v1_1", 1),
                ("c002", "v1_2", 1),
                ("zz9", "new", 1),
                ("c003", "DEAD", 1),
            ],
        ),
        delete_where="val = 'DEAD'",
        mode="mor",
    )
    assert out["mode"] == "mor"
    assert out["version"] == 1 and out["base_version"] == 0
    assert out["delta_rows"] == 4
    state = _state(spark, table)
    assert state["c001"] == ("v1_1", 1)
    assert state["c002"] == ("v1_2", 1)
    assert state["zz9"] == ("new", 1)
    assert "c003" not in state
    assert state["c004"] == ("v0_4", 0)  # untouched row intact
    assert len(state) == 40 - 1 + 1


def test_mor_write_is_o_batch_no_bucket_rewrite(spark, table):
    """The entire point: base bucket pointers are byte-identical after a
    MOR merge — only delta entries are added."""
    before = st.read_manifest(table)
    st.merge(spark, table, _df(spark, [("c001", "x", 1)]), mode="mor")
    after = st.read_manifest(table)
    assert after["buckets"] == before["buckets"]  # no rewrite, no new base
    deltas = after["deltas"]
    assert sum(len(v) for v in deltas.values()) == 1
    ((_b, lst),) = deltas.items()
    assert lst[0][0] == 1  # committing version recorded as the seq


def test_mor_stacked_deltas_latest_wins(spark, table):
    for n in range(1, 4):
        st.merge(spark, table, _df(spark, [("c001", f"v{n}", n)]), mode="mor")
    assert _state(spark, table)["c001"] == ("v3", 3)
    # time travel resolves each intermediate chain
    assert _state(spark, table, version=2)["c001"] == ("v2", 2)
    assert _state(spark, table, version=0)["c001"] == ("v0_1", 0)


def test_mor_tombstone_for_absent_key_is_noop(spark, table):
    st.merge(
        spark,
        table,
        _df(spark, [("ghost", "DEAD", 1)]),
        delete_where="val = 'DEAD'",
        mode="mor",
    )
    state = _state(spark, table)
    assert "ghost" not in state and len(state) == 40


def test_mor_empty_batch_is_noop(spark, table):
    out = st.merge(
        spark, table, _df(spark, []).filter(F.lit(False)), mode="mor"
    )
    assert out["delta_rows"] == 0 and out["version"] == 0
    assert st.current_version(table) == 0


def test_mor_schema_widening(spark, table):
    wide = spark.createDataFrame(
        [("c001", "w", 1, 9.5)], SCHEMA + ", score double"
    )
    st.merge(spark, table, wide, mode="mor")
    df = st.read_table(spark, table)
    assert "score" in df.columns
    got = {r["clip_id"]: r["score"] for r in df.collect()}
    assert got["c001"] == 9.5
    assert got["c002"] is None  # untouched rows read NULL for the new col


def test_mor_column_drop_refused_without_reading_base(spark, table):
    narrow = spark.createDataFrame([("c001", "x")], "clip_id string, val string")
    with pytest.raises(ValueError, match="column drops are not supported"):
        st.merge(spark, table, narrow, mode="mor")


def test_mor_equals_cow_for_same_waves(spark, tmp_path):
    """Both modes resolve the same batches latest-wins, so the same
    waves — upserts, a delete arm that hits inserted, base and absent
    keys, and a widening wave — leave the same rows, new column
    included."""
    base_rows = [(f"c{i:03d}", f"v0_{i}", 0) for i in range(40)]
    wave1 = [("c001", "u1", 1), ("new1", "n1", 1)]
    wave2 = [("c001", "u2", 2), ("c002", "DEAD", 2), ("new2", "n2", 2)]
    wave3 = [("new1", "DEAD", 3), ("c004", "DEAD", 3), ("ghost", "DEAD", 3)]
    wave4 = [("c001", "w4", 4, "x1"), ("new2", "w4", 4, None), ("new4", "n4", 4, "x4")]
    states = {}
    for mode in ("cow", "mor"):
        path = str(tmp_path / f"tbl_{mode}")
        st.create_table(spark, path, _df(spark, base_rows), key="clip_id", n_buckets=8)
        st.merge(spark, path, _df(spark, wave1), mode=mode)
        for wave in (wave2, wave3):
            st.merge(
                spark, path, _df(spark, wave), delete_where="val = 'DEAD'",
                mode=mode,
            )
        st.merge(
            spark, path, spark.createDataFrame(wave4, SCHEMA + ", note string"),
            mode=mode,
        )
        states[mode] = {
            r["clip_id"]: (r["val"], r["seq"], r["note"])
            for r in st.read_table(spark, path).collect()
        }
    assert states["cow"] == states["mor"]
    state = states["cow"]
    assert len(state) == 40 + 3 - 3
    assert state["c001"] == ("w4", 4, "x1") and state["new4"] == ("n4", 4, "x4")
    assert state["c003"] == ("v0_3", 0, None)
    assert not {"c002", "c004", "new1", "ghost"} & set(state)


def test_cdc_over_delta_chain(spark, table):
    st.merge(
        spark,
        table,
        _df(spark, [("c001", "u1", 1), ("zz9", "new", 1), ("c002", "DEAD", 1)]),
        delete_where="val = 'DEAD'",
        mode="mor",
    )
    changes = {
        r["clip_id"]: r["change"]
        for r in st.snapshot_changes(spark, table, 0, 1).collect()
    }
    assert changes == {"c001": "updated", "zz9": "inserted", "c002": "deleted"}


def test_compact_materializes_and_cdc_reports_unchanged(spark, table):
    st.merge(spark, table, _df(spark, [("c001", "u1", 1)]), mode="mor")
    before = _state(spark, table)
    out = st.compact(spark, table)
    assert "deltas" not in st.read_manifest(table)
    assert _state(spark, table) == before
    # content identical across the compaction commit -> empty change set
    assert st.snapshot_changes(spark, table, out["version"] - 1, out["version"]).count() == 0


def test_incremental_compact_only_fragmented_buckets(spark, table):
    # find a key in a DIFFERENT bucket than c001 (bucket = xxhash64 pmod 8)
    buckets = {
        r["clip_id"]: r["bucket"]
        for r in st.with_bucket(
            _df(spark, [(f"c{i:03d}", "", 0) for i in range(40)]), 8
        ).collect()
    }
    other = next(k for k, b in buckets.items() if b != buckets["c001"])
    # two deltas on c001's bucket, one on the other key's
    st.merge(spark, table, _df(spark, [("c001", "u1", 1)]), mode="mor")
    st.merge(spark, table, _df(spark, [("c001", "u2", 2)]), mode="mor")
    st.merge(spark, table, _df(spark, [(other, "w1", 3)]), mode="mor")
    m = st.read_manifest(table)
    frag = {b for b, lst in m["deltas"].items() if len(lst) >= 2}
    before = _state(spark, table)
    out = st.compact(spark, table, min_deltas=2)
    assert {str(b) for b in out["rewritten_buckets"]} == frag
    after_m = st.read_manifest(table)
    # fragmented chains cleared, the single-delta chain carried forward
    assert set(after_m.get("deltas", {})) == set(m["deltas"]) - frag
    assert _state(spark, table) == before


def test_incremental_compact_no_fragmented_is_noop(spark, table):
    st.merge(spark, table, _df(spark, [("c001", "u1", 1)]), mode="mor")
    v = st.current_version(table)
    out = st.compact(spark, table, min_deltas=5)
    assert out["rewritten_buckets"] == [] and st.current_version(table) == v


def test_cow_merge_on_delta_bucket_materializes_its_chain(spark, table):
    st.merge(spark, table, _df(spark, [("c001", "u1", 1)]), mode="mor")
    ((delta_bucket, _),) = st.read_manifest(table)["deltas"].items()
    # a COW merge touching the same key's bucket resolves + clears it
    st.merge(spark, table, _df(spark, [("c001", "u2", 2)]), mode="cow")
    m = st.read_manifest(table)
    assert delta_bucket not in m.get("deltas", {})
    assert _state(spark, table)["c001"] == ("u2", 2)


def test_expire_keeps_pending_delta_dirs(spark, table):
    st.merge(spark, table, _df(spark, [("c001", "u1", 1)]), mode="mor")
    st.merge(spark, table, _df(spark, [("c002", "u2", 2)]), mode="mor")
    st.expire_snapshots(table, keep_last=1)
    state = _state(spark, table)
    assert state["c001"] == ("u1", 1) and state["c002"] == ("u2", 2)
    assert len(state) == 40


def test_mor_read_plan_no_window_without_deltas(spark, table):
    """The COW fast path survives MOR's existence: a table with no
    pending deltas reads with NO Window in the physical plan; with a
    pending delta the resolution window appears."""
    plan = st.read_table(spark, table)._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    st.merge(spark, table, _df(spark, [("c001", "u1", 1)]), mode="mor")
    plan2 = st.read_table(spark, table)._jdf.queryExecution().executedPlan().toString()
    assert "Window" in plan2
    st.compact(spark, table)
    plan3 = st.read_table(spark, table)._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan3


def test_cli_mor_merge_and_snapshot_compact(spark, table, tmp_path, capsys):
    """--mode merge --write-mode mor appends deltas without touching base
    pointers; --mode snapshot-compact materializes them (round-4 verdict
    #8 pattern: every table op reachable from the console entry point)."""
    import json as _json
    import sys

    sys.path.insert(0, "scripts")
    try:
        from run_job import main
    finally:
        sys.path.pop(0)

    upd = str(tmp_path / "upd")
    _df(spark, [("c001", "u1", 1), ("zz9", "new", 1)]).write.parquet(upd)
    before = st.read_manifest(table)["buckets"]

    rc = main(["--mode", "merge", "--input", upd, "--output", table,
               "--write-mode", "mor"])
    assert rc == 0
    s = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert s["mode"] == "merge" and s["delta_rows"] == 2
    m = st.read_manifest(table)
    assert m["buckets"] == before and m["deltas"]

    rc = main(["--mode", "snapshot-compact", "--output", table])
    assert rc == 0
    s2 = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert s2["mode"] == "snapshot-compact" and s2["rewritten_buckets"]
    assert "deltas" not in st.read_manifest(table)
    state = _state(spark, table)
    assert state["c001"] == ("u1", 1) and state["zz9"] == ("new", 1)


def test_streaming_mor_equals_cow_stream(spark, tmp_path):
    """run_upsert_stream(write_mode='mor', compact_min_deltas=2): the
    high-frequency-ingest shape — each micro-batch lands as deltas, the
    sink auto-compacts fragmented buckets, and the drained table equals
    the COW stream's content exactly."""
    import os
    import shutil

    from wallaby2caom2_spark import datagen
    from wallaby2caom2_spark.streaming.upsert_stream import run_upsert_stream

    def _add_wave(in_dir, stage_dir, seed, tag):
        datagen.write_clips_parquet(stage_dir, 120, seed=seed)
        for f in os.listdir(stage_dir):
            shutil.copy(
                os.path.join(stage_dir, f),
                os.path.join(in_dir, f"{tag}_{f}"),
            )

    states = {}
    for mode in ("cow", "mor"):
        in_dir = str(tmp_path / f"in_{mode}")
        os.makedirs(in_dir)
        out = str(tmp_path / f"out_{mode}")
        _add_wave(in_dir, str(tmp_path / f"s1_{mode}"), 11, "w1")
        kwargs = (
            {"write_mode": "mor", "compact_min_deltas": 2}
            if mode == "mor"
            else {}
        )
        run_upsert_stream(
            spark, in_dir, out, n_buckets=4,
            max_files_per_trigger=1, **kwargs,
        )
        _add_wave(in_dir, str(tmp_path / f"s2_{mode}"), 22, "w2")
        run_upsert_stream(
            spark, in_dir, out, n_buckets=4,
            max_files_per_trigger=1, **kwargs,
        )
        tbl = os.path.join(out, "table")
        states[mode] = {
            r["clip_id"]: (r["keep"], r["scrubbed_transcript"])
            for r in st.read_table(spark, tbl).collect()
        }
        if mode == "mor":
            # metrics rows record the mode and delta counts
            mrows = spark.read.parquet(os.path.join(out, "metrics")).collect()
            assert any(r["write_mode"] == "mor" for r in mrows)
            assert all(
                r["delta_rows"] is not None
                for r in mrows
                if r["write_mode"] == "mor"
            )
            # auto-compaction kept every pending chain below the threshold
            m = st.read_manifest(tbl)
            assert all(
                len(lst) < 2 for lst in m.get("deltas", {}).values()
            )
    assert states["cow"] == states["mor"]


def test_mor_crash_before_commit_invisible_and_orphan_reaped(
    spark, table, monkeypatch
):
    """A MOR merge that crashes AFTER writing its delta files but BEFORE
    the manifest link leaves the table untouched (the link IS the
    commit); the orphan delta dir is reaped by expire_snapshots while
    LIVE delta dirs from committed MOR merges survive. Re-running the
    merge converges."""
    import os

    # one committed MOR merge whose delta dir must stay live
    st.merge(spark, table, _df(spark, [("c005", "live", 1)]), mode="mor")
    before_state = _state(spark, table)
    v_before = st.current_version(table)

    def boom(*a, **k):
        raise RuntimeError("injected crash before manifest link")

    monkeypatch.setattr(st, "_commit", boom)
    with pytest.raises(RuntimeError, match="injected crash"):
        st.merge(spark, table, _df(spark, [("c001", "lost", 2)]), mode="mor")
    monkeypatch.undo()

    # invisible: same version, same content; orphan dir exists on disk
    assert st.current_version(table) == v_before
    assert _state(spark, table) == before_state
    data_root = os.path.join(table, "data")
    live = {
        os.path.dirname(rel)
        for rel in st.read_manifest(table)["buckets"].values()
    }
    for lst in st.read_manifest(table).get("deltas", {}).values():
        live.update(os.path.dirname(rel) for _seq, rel in lst)
    on_disk = {os.path.join("data", d) for d in os.listdir(data_root)}
    orphans = on_disk - live
    assert orphans  # the crashed merge's delta files

    out = st.expire_snapshots(table, keep_last=10)
    assert set(out["removed_snapshot_dirs"]) == orphans
    # live delta chain intact, retry converges
    assert _state(spark, table)["c005"] == ("live", 1)
    st.merge(spark, table, _df(spark, [("c001", "lost", 2)]), mode="mor")
    assert _state(spark, table)["c001"] == ("lost", 2)


def test_mor_conflict_detection(spark, table, monkeypatch):
    """Two MOR merges from the same base: second commit loses."""
    real_read = st.read_manifest
    base = real_read(table)
    st.merge(spark, table, _df(spark, [("c001", "u1", 1)]), mode="mor")
    # replay a merge whose base manifest was captured before the commit
    monkeypatch.setattr(
        st, "read_manifest", lambda path, version=None: dict(base)
    )
    with pytest.raises(st.SnapshotConflictError):
        st.merge(spark, table, _df(spark, [("c002", "x", 1)]), mode="mor")
