"""The hourly bronze generator is deterministic and lands cleanly."""

from __future__ import annotations

import filecmp
import os

import pytest

import bronze


def _write(root, seed: int, intervals: int = 2) -> list[str]:
    gen = bronze.BronzeGenerator(seed)
    for i in range(intervals):
        gen.write_interval(i, os.path.join(root, str(i)))
    return sorted(
        os.path.relpath(os.path.join(d, f), root)
        for d, _, files in os.walk(root) for f in files
    )


def test_same_seed_writes_identical_files(tmp_path):
    a, b = tmp_path / "a", tmp_path / "b"
    files = _write(str(a), seed=7)
    assert files == _write(str(b), seed=7)
    assert len(files) == 2 * len(bronze.FAMILIES)
    match, mismatch, errors = filecmp.cmpfiles(a, b, files, shallow=False)
    assert mismatch == [] and errors == []


def test_other_seed_writes_other_files(tmp_path):
    _write(str(tmp_path / "a"), seed=7, intervals=1)
    _write(str(tmp_path / "b"), seed=8, intervals=1)
    p = os.path.join("0", "player_summaries.json")
    assert not filecmp.cmp(tmp_path / "a" / p, tmp_path / "b" / p, shallow=False)


def test_players_recur_across_intervals():
    gen = bronze.BronzeGenerator(3)
    ids = [
        {p["steamid"] for p in gen.interval(i)["player_summaries"][0]["response"]["players"]}
        for i in range(2)
    ]
    assert ids[0] & ids[1]


@pytest.fixture(scope="module")
def spark():
    from rustcheatersdatapipeline_spark.session import get_spark

    s = get_spark(app_name="perfbench-tests", cpus=2)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


def test_read_bronze_reports_no_corrupt_records_or_skipped_families(spark, tmp_path):
    from rustcheatersdatapipeline_spark.pipeline import read_bronze

    gen = bronze.BronzeGenerator(11)
    gen.write_interval(0, str(tmp_path))
    frames, failed = read_bronze(spark, str(tmp_path))
    assert failed == {}
    assert sorted(frames) == sorted(bronze.FAMILIES)
    assert all(frames[f].count() > 0 for f in bronze.FAMILIES)
