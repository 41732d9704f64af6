"""Generator determinism — the property that lets us commit a generator
instead of binary fixtures (reference commits fixtures under
``wallaby2caom2/tests/data/``; we commit the seed)."""

import os
from pathlib import Path

import pytest

from wallaby2caom2_spark import datagen


def test_same_seed_same_rows():
    a = list(datagen.generate_rows(50, seed=42))
    b = list(datagen.generate_rows(50, seed=42))
    assert a == b


def test_chunked_equals_whole():
    whole = list(datagen.generate_rows(60, seed=42))
    chunked = list(datagen.generate_rows(30, seed=42, start=0)) + list(
        datagen.generate_rows(30, seed=42, start=30)
    )
    assert whole == chunked


def test_different_seed_differs():
    a = list(datagen.generate_rows(20, seed=1))
    b = list(datagen.generate_rows(20, seed=2))
    assert a != b


def test_schema_and_defect_mix(clips_rows):
    assert {r["codec"] for r in clips_rows} <= {"pcm_s16le", "wav", "flac", "bad"}
    assert any(r["clip_id"].startswith("hot_") for r in clips_rows)  # skew planted
    assert any(len(r["bytes"]) == 0 for r in clips_rows)             # defect planted


def _fail(tmp):
    raise AssertionError("write called on a complete dataset")


def test_generate_once_skips_write_when_marker_exists(tmp_path):
    path = tmp_path / "ds"
    path.mkdir()
    (path / "_SUCCESS_GEN").write_text("ok")
    assert datagen.generate_once(str(path), _fail) == str(path)


def test_generate_once_writes_once_and_renames_into_place(tmp_path):
    path = str(tmp_path / "ds")
    assert datagen.generate_once(
        path, lambda tmp: Path(tmp, "part-0").write_text("ok")
    ) == path
    assert sorted(os.listdir(path)) == ["_SUCCESS_GEN", "part-0"]
    assert os.listdir(tmp_path) == ["ds"]  # no private copy left behind
    assert datagen.generate_once(path, _fail) == path


def test_generate_once_failed_write_leaves_nothing(tmp_path):
    def write(tmp):
        Path(tmp, "part-0").write_text("half")
        raise OSError("disk full")

    with pytest.raises(OSError, match="disk full"):
        datagen.generate_once(str(tmp_path / "ds"), write)
    assert os.listdir(tmp_path) == []


def test_generate_once_race_loser_discards_its_copy(tmp_path):
    path = tmp_path / "ds"

    def write(tmp):
        # another process completes the dataset while this one writes
        path.mkdir()
        (path / "part-0").write_text("winner")
        (path / "_SUCCESS_GEN").write_text("ok")
        Path(tmp, "part-0").write_text("loser")

    assert datagen.generate_once(str(path), write) == str(path)
    assert os.listdir(tmp_path) == ["ds"]
    assert (path / "part-0").read_text() == "winner"
