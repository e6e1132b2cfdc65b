"""Continuous-aggregate job surface: full build, incremental refresh
from the table's CDC-out, preimage-cell vacation, no-op fast path."""

import datetime
import json
import sys

import pytest
from pyspark.sql import types as T

from etl_reconciliate_spark.target.table import TargetTable

sys.path.insert(0, "/root/repo/jobs")
try:
    import rollup_job
finally:
    sys.path.pop(0)

T0 = datetime.datetime(2026, 1, 1)


def _ts(minutes):
    return T0 + datetime.timedelta(minutes=minutes)


SCHEMA = T.StructType([
    T.StructField("conv_id", T.StringType()),
    T.StructField("turn_idx", T.IntegerType()),
    T.StructField("role", T.StringType()),
    T.StructField("text", T.StringType()),
    T.StructField("ts", T.TimestampType()),
])
BATCH = ("lsn BIGINT, op STRING, conv_id STRING, turn_idx INT, "
         "role STRING, text STRING, ts TIMESTAMP")


def _run(monkeypatch, capsys, *argv):
    monkeypatch.setattr(sys, "argv", ["rollup_job.py", *argv])
    assert rollup_job.main() == 0
    return json.loads(capsys.readouterr().out.strip().splitlines()[-1])


def _rollup_rows(spark, rollup_dir):
    meta = json.load(open(f"{rollup_dir}/{rollup_job.META_NAME}"))
    return {
        (r["grain"], r["bucket"], r["role"]): (
            r["n_events"], r["sum_value"], r["min_value"], r["max_value"])
        for r in spark.read.parquet(meta["data_dir"]).collect()
    }


def test_rollup_build_refresh_cycle(spark, tmp_path, capsys, monkeypatch):
    tbl = TargetTable(spark, str(tmp_path / "t"), n_buckets=2)
    tbl.init(SCHEMA)
    tbl.merge_apply(spark.createDataFrame([
        (1, "I", "c1", 0, "user", "one two three", _ts(0)),
        (2, "I", "c1", 1, "assistant", "a b", _ts(1)),
        (3, "I", "c2", 0, "user", "x y z w", _ts(70)),
    ], BATCH), {"lsn_hi": 3})

    rdir = str(tmp_path / "rollup")
    built = _run(monkeypatch, capsys, "--target", tbl.path,
                 "--rollup-dir", rdir, "--grains", "hour,day")
    assert built["mode"] == "build" and built["rollup_rows"] > 0

    # refresh with NO table movement = recorded no-op
    noop = _run(monkeypatch, capsys, "--target", tbl.path,
                "--rollup-dir", rdir, "--refresh")
    assert noop["mode"] == "refresh" and noop["dirty_cells"] == 0

    # insert a turn, MOVE one turn to another hour (its old cell must
    # empty), delete another
    tbl.merge_apply(spark.createDataFrame([
        (4, "I", "c3", 0, "user", "p q", _ts(5)),
        (5, "U", "c2", 0, "user", "x y z w", _ts(200)),  # hour 1 -> 3
        (6, "D", "c1", 1, None, None, None),
    ], BATCH), {"lsn_hi": 6})

    ref = _run(monkeypatch, capsys, "--target", tbl.path,
               "--rollup-dir", rdir, "--refresh")
    assert ref["mode"] == "refresh" and ref["dirty_cells"] > 0

    # the refreshed materialization must equal a from-scratch build
    fresh_dir = str(tmp_path / "rollup_fresh")
    _run(monkeypatch, capsys, "--target", tbl.path,
         "--rollup-dir", fresh_dir, "--grains", "hour,day")
    got = _rollup_rows(spark, rdir)
    want = _rollup_rows(spark, fresh_dir)
    assert got == want
    # the moved turn's source hour-cell is GONE, not zeroed
    assert ("hour", _ts(60), "user") not in got
    assert ("hour", _ts(180), "user") in got


def test_rollup_refresh_grain_mismatch_rejected(spark, tmp_path, capsys,
                                                monkeypatch):
    tbl = TargetTable(spark, str(tmp_path / "t"), n_buckets=2)
    tbl.init(SCHEMA)
    tbl.merge_apply(spark.createDataFrame(
        [(1, "I", "c1", 0, "user", "hello", _ts(0))], BATCH), {"lsn_hi": 1})
    rdir = str(tmp_path / "rollup")
    _run(monkeypatch, capsys, "--target", tbl.path, "--rollup-dir", rdir,
         "--grains", "hour,day")
    monkeypatch.setattr(sys, "argv", [
        "rollup_job.py", "--target", tbl.path, "--rollup-dir", rdir,
        "--grains", "minute,hour", "--refresh"])
    assert rollup_job.main() == 1
    assert "different" in json.loads(
        capsys.readouterr().out.strip().splitlines()[-1])["error"]


def test_rollup_refresh_expired_base_rebuilds(spark, tmp_path, capsys,
                                              monkeypatch):
    """When expire_snapshots removed the rollup's recorded snapshot,
    --refresh degrades to a full rebuild with a JSON line, not a
    traceback (code-review r4)."""
    tbl = TargetTable(spark, str(tmp_path / "t"), n_buckets=2)
    tbl.init(SCHEMA)
    tbl.merge_apply(spark.createDataFrame(
        [(1, "I", "c1", 0, "user", "hello there", _ts(0))], BATCH),
        {"lsn_hi": 1})
    rdir = str(tmp_path / "rollup")
    _run(monkeypatch, capsys, "--target", tbl.path, "--rollup-dir", rdir)
    v_built = tbl.current_version()
    for i in range(2, 5):
        tbl.merge_apply(spark.createDataFrame(
            [(i, "I", f"c{i}", 0, "user", "more text", _ts(i))], BATCH),
            {"lsn_hi": i})
    tbl.expire_snapshots(keep_last=1)
    with pytest.raises(FileNotFoundError):
        tbl.metadata(v_built)  # premise: the base really is gone
    out = _run(monkeypatch, capsys, "--target", tbl.path,
               "--rollup-dir", rdir, "--refresh")
    assert out["mode"] == "rebuild_expired_base"
    assert out["rollup_rows"] > 0
    # and the refreshed materialization equals a from-scratch build
    fresh = str(tmp_path / "fresh")
    _run(monkeypatch, capsys, "--target", tbl.path, "--rollup-dir", fresh)
    assert _rollup_rows(spark, rdir) == _rollup_rows(spark, fresh)


def test_rollup_refresh_measure_version_mismatch_rebuilds(
        spark, tmp_path, capsys, monkeypatch):
    """A rollup built under a different tokenizer version must NOT be
    refreshed incrementally — dirty cells would carry new-tokenizer
    counts next to untouched old-tokenizer cells, breaking the
    refresh == rebuild guarantee. --refresh degrades to a full rebuild
    (r5 batch review)."""
    tbl = TargetTable(spark, str(tmp_path / "t"), n_buckets=2)
    tbl.init(SCHEMA)
    tbl.merge_apply(spark.createDataFrame(
        [(1, "I", "c1", 0, "user", "hello there", _ts(0))], BATCH),
        {"lsn_hi": 1})
    rdir = str(tmp_path / "rollup")
    _run(monkeypatch, capsys, "--target", tbl.path, "--rollup-dir", rdir)
    # simulate a rollup persisted by an older engine build
    meta_path = f"{rdir}/{rollup_job.META_NAME}"
    meta = json.load(open(meta_path))
    meta["measure_version"] = meta.get("measure_version", 0) - 1
    with open(meta_path, "w") as f:
        json.dump(meta, f)
    tbl.merge_apply(spark.createDataFrame(
        [(2, "I", "c2", 0, "user", "bye now", _ts(1))], BATCH),
        {"lsn_hi": 2})
    out = _run(monkeypatch, capsys, "--target", tbl.path,
               "--rollup-dir", rdir, "--refresh")
    assert out["mode"] == "rebuild_measure_changed"
    # the rebuild stamps the CURRENT version, so the next refresh is
    # incremental again
    noop = _run(monkeypatch, capsys, "--target", tbl.path,
                "--rollup-dir", rdir, "--refresh")
    assert noop["mode"] == "refresh" and noop["dirty_cells"] == 0
    fresh = str(tmp_path / "fresh")
    _run(monkeypatch, capsys, "--target", tbl.path, "--rollup-dir", fresh)
    assert _rollup_rows(spark, rdir) == _rollup_rows(spark, fresh)


def test_rollup_rebuild_cleans_previous_data_dir(spark, tmp_path, capsys,
                                                 monkeypatch):
    """A rebuild over an existing rollup must remove the superseded
    data-v{N} dir, not orphan it (code-review r4)."""
    import os

    tbl = TargetTable(spark, str(tmp_path / "t"), n_buckets=2)
    tbl.init(SCHEMA)
    tbl.merge_apply(spark.createDataFrame(
        [(1, "I", "c1", 0, "user", "hello", _ts(0))], BATCH), {"lsn_hi": 1})
    rdir = str(tmp_path / "rollup")
    _run(monkeypatch, capsys, "--target", tbl.path, "--rollup-dir", rdir)
    old_meta = json.load(open(f"{rdir}/{rollup_job.META_NAME}"))
    tbl.merge_apply(spark.createDataFrame(
        [(2, "I", "c2", 0, "user", "bye", _ts(1))], BATCH), {"lsn_hi": 2})
    # rebuild WITHOUT --refresh (e.g. to change grains); grace 0 so the
    # sweep is observable in-test (the default protects overlapping
    # runs' young dirs)
    rebuilt = _run(monkeypatch, capsys, "--target", tbl.path,
                   "--rollup-dir", rdir, "--grains", "minute,hour",
                   "--sweep-grace-secs", "0")
    assert rebuilt["mode"] == "rebuild"
    assert not os.path.exists(old_meta["data_dir"])
    assert _rollup_rows(spark, rdir)  # new rollup readable
