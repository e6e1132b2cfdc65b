"""Schema-pinned table and change-log reads, the key-only live count,
and the bucket layout the point lookup depends on.

Every ``TargetTable`` read is one parquet scan under the snapshot's
recorded schema, and ``ChangeLogSource`` takes each epoch's schema from
the parquet footers — so neither plans a schema-inference Spark job.
"""

import datetime
import glob
import itertools
import os

import pytest
from pyspark.sql import functions as F, types as T

from etl_reconciliate_spark.datagen import (
    gen_changelog,
    tool_epoch_lsn,
    write_changelog,
    write_changelog_spark,
)
from etl_reconciliate_spark.schemas import KEY_COLS
from etl_reconciliate_spark.sources.changelog import ChangeLogSource
from etl_reconciliate_spark.streaming.runner import replay
from etl_reconciliate_spark.target.table import TargetTable

SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.IntegerType()),
        T.StructField("text", T.StringType()),
        T.StructField("n", T.IntegerType()),
    ]
)


def _batch(spark, rows, n_type="INT", with_tool=False):
    fields = f"lsn BIGINT, op STRING, conv_id STRING, turn_idx INT, text STRING, n {n_type}"
    if with_tool:
        fields += ", tool STRING"
    return spark.createDataFrame(rows, fields)


_probe_ids = itertools.count()


def _jobs_started(spark, fn):
    """Spark job ids started while ``fn()`` runs, counted under a job group."""
    sc = spark.sparkContext
    group = f"probe-{next(_probe_ids)}"
    sc.setJobGroup(group, "job probe")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return list(sc.statusTracker().getJobIdsForGroup(group)), out


# ------------------------------------------------------------------
# bucket layout
# ------------------------------------------------------------------
@pytest.fixture(scope="module")
def small_log(spark, tmp_path_factory):
    n = 6_000
    p = str(tmp_path_factory.mktemp("layout") / "log")
    write_changelog(spark, gen_changelog(n, seed=5), p, epoch_lsn=tool_epoch_lsn(n))
    return p


@pytest.mark.parametrize("compact_threshold", [100, 2], ids=["deltas", "compacted"])
def test_replay_keeps_bucket_layout_under_aqe(spark, small_log, tmp_path, compact_threshold):
    """Every part file of a ``replay()``-written table (agg dedup, AQE
    coalescing on) holds only its own bucket, so a single-key
    ``read_keys`` finds the key in every bucket. When the dedup's
    exchange already hash-partitions on the keys with the bucket count,
    Spark drops the write's repartition as redundant; AQE must then not
    coalesce the remaining shuffle."""
    assert spark.conf.get("spark.sql.adaptive.coalescePartitions.enabled") == "true"
    tgt = str(tmp_path / "t")
    replay(spark, small_log, tgt, slice_size=2_000, dedup_impl="agg",
           compact_threshold=compact_threshold, expire_keep=0)
    # the pin is released once the writes are done
    assert spark.conf.get("spark.sql.adaptive.coalescePartitions.enabled") == "true"
    t = TargetTable(spark, tgt)
    meta = t.metadata()
    n = meta["n_buckets"]
    dirs = [meta["data_dir"], *meta["deltas"]]
    # the compacted case checks a compaction-written base too
    assert (meta["data_dir"] != "snap-000000") == (compact_threshold == 2)

    files = [f for d in dirs for f in glob.glob(os.path.join(tgt, d, "part-*.parquet"))]
    assert files
    for f in files:
        want = int(os.path.basename(f)[len("part-"):].split("-", 1)[0])
        got = {
            r[0]
            for r in spark.read.parquet(f)
            .select(F.pmod(F.hash(*KEY_COLS), F.lit(n)))
            .distinct()
            .collect()
        }
        assert got <= {want}, f"{os.path.relpath(f, tgt)} holds buckets {sorted(got)}"

    live = t.read()
    per_bucket = {
        r["b"]: (r["conv_id"], r["turn_idx"])
        for r in live.select(*KEY_COLS, F.pmod(F.hash(*KEY_COLS), F.lit(n)).alias("b"))
        .dropDuplicates(["b"])
        .collect()
    }
    assert sorted(per_bucket) == list(range(n))
    for key in per_bucket.values():
        expect = live.filter((F.col("conv_id") == key[0]) & (F.col("turn_idx") == key[1]))
        assert sorted(t.read_keys([key]).collect()) == sorted(expect.collect()), key


def test_bucket_layout_pin_is_shared_by_concurrent_writers(spark):
    """Writers in one process share the session conf: coalescing stays
    off while ANY of them is inside the pin and comes back on only when
    the last leaves (a plain save/restore per writer could restore
    "false" for good, or re-enable it under a writer still writing)."""
    import sys
    import threading

    from etl_reconciliate_spark.target.table import _COALESCE, _bucket_layout

    assert spark.conf.get(_COALESCE) == "true"
    errors = []
    start = threading.Barrier(8)

    def writer():
        start.wait(timeout=30)
        for _ in range(15):
            with _bucket_layout(spark):
                if spark.conf.get(_COALESCE) != "false":
                    errors.append("coalescing on inside the pin")

    prior = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=writer) for _ in range(8)]
        for th in threads:
            th.start()
        for th in threads:
            th.join(timeout=120)
    finally:
        sys.setswitchinterval(prior)
    assert not any(th.is_alive() for th in threads)
    assert errors == []
    assert spark.conf.get(_COALESCE) == "true"


# ------------------------------------------------------------------
# key-only live count
# ------------------------------------------------------------------
@pytest.mark.parametrize("ordered", [True, False], ids=["ordered", "unordered"])
def test_count_live_equals_read_count(spark, tmp_path, ordered):
    """``count_live`` resolves keys only, yet equals ``read().count()``
    with deltas pending and on top of a compacted base: tombstones,
    delete-then-reinsert, the ``tool`` add-column epoch and an int→long
    widening whose older files still hold int32."""
    t = TargetTable(spark, str(tmp_path / "t"), n_buckets=4,
                    compact_threshold=100, ordered_commits=ordered)
    t.init(SCHEMA)

    def check(expect):
        assert t.metadata()["row_count"] is None  # the scan path, not metadata
        assert t.count_live() == t.read().count() == expect

    t.merge_apply(_batch(spark, [
        (1, "I", "a", 0, "x", 1), (2, "I", "a", 1, "x", 2),
        (3, "I", "a", 2, "x", 3), (4, "I", "b", 0, "x", 4),
    ]), {"lsn_hi": 4})
    check(4)
    # tombstone + the tool epoch + int -> long
    t.merge_apply(_batch(spark, [
        (5, "D", "a", 1, None, None, None),
        (6, "U", "a", 2, "y", 3_000_000_000, "calc"),
    ], n_type="BIGINT", with_tool=True), {"lsn_hi": 6})
    assert dict(t.read().dtypes)["n"] == "bigint"
    check(3)
    # delete-then-reinsert, and a plain delete
    t.merge_apply(_batch(spark, [
        (7, "I", "a", 1, "back", 9), (8, "D", "b", 0, None, None),
    ]), {"lsn_hi": 8})
    check(3)

    stats = t.compact()
    assert stats["row_count"] == t.count_live() == t.read().count() == 3
    # a pending delta on top of the compacted base (which keeps its
    # tombstones when commits are unordered)
    t.merge_apply(_batch(spark, [
        (9, "D", "a", 0, None, None), (10, "I", "b", 0, "again", 1),
        (11, "I", "c", 0, "new", 2),
    ]), {"lsn_hi": 11})
    check(4)


# ------------------------------------------------------------------
# no Spark job before an action
# ------------------------------------------------------------------
def test_reads_start_no_spark_job(spark, tmp_path):
    """``read()`` and both ``read_changes`` plans of an 8-delta snapshot
    start zero Spark jobs before an action: the scan is pinned to the
    recorded schema, so nothing is inferred."""
    t = TargetTable(spark, str(tmp_path / "t"), n_buckets=2, compact_threshold=9)
    t.init(SCHEMA)
    for i in range(8):
        with_tool = i >= 4
        row = (i + 1, "I", f"c{i}", 0, "t", i) + (("calc",) if with_tool else ())
        t.merge_apply(_batch(spark, [row], with_tool=with_tool), {"lsn_hi": i + 1})
    meta = t.metadata()
    assert len(meta["deltas"]) == 8
    v = meta["version"]

    for name, fn in [
        ("read", lambda: t.read()),
        ("read(include_meta)", lambda: t.read(include_meta=True)),
        ("read_changes fast path", lambda: t.read_changes(2, v)),
        ("read_changes diff", lambda: t.read_changes(2, v, _force_diff=True)),
    ]:
        jobs, df = _jobs_started(spark, fn)
        assert jobs == [], f"{name} started Spark jobs {jobs}"
        assert df.columns  # planned, typed

    assert t.read().count() == 8
    assert t.read_changes(2, v).count() == 6


def test_init_writes_no_file(spark, tmp_path):
    """Version 0 is an empty data dir written without a Spark job, and
    reads as an empty table of the init schema."""
    t = TargetTable(spark, str(tmp_path / "t"))
    jobs, _ = _jobs_started(spark, lambda: t.init(SCHEMA))
    assert jobs == []
    assert os.listdir(os.path.join(t.path, t.metadata()["data_dir"])) == []
    assert t.read().schema.fieldNames() == SCHEMA.fieldNames()
    assert t.read().count() == 0 and t.count_live() == 0


# ------------------------------------------------------------------
# change-log epoch schemas from the footers
# ------------------------------------------------------------------
def test_changelog_epoch_schemas_match_inference(spark, tmp_path):
    """Each epoch's schema comes from the footers the lineage index
    already opened and equals what ``spark.read.parquet`` infers — on
    both epochs of the generator's log and on a flat pyarrow-written
    log — and the open starts no Spark job."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    gen = str(tmp_path / "gen")
    write_changelog_spark(spark, gen, 3_000, seed=1, block=1_000)
    flat = str(tmp_path / "flat")
    os.makedirs(flat)
    ts = datetime.datetime(2026, 1, 1)
    pq.write_table(pa.table({
        "lsn": pa.array([1, 2], pa.int64()),
        "op": ["I", "U"],
        "conv_id": ["a", "b"],
        "turn_idx": pa.array([0, 1], pa.int32()),
        "score": pa.array([0.5, 1.5], pa.float32()),
        "ts": pa.array([ts, ts], pa.timestamp("us", tz="UTC")),
        "local_ts": pa.array([ts, ts], pa.timestamp("us")),
    }), os.path.join(flat, "part-0.parquet"))

    opened = {}
    for path, epochs in [(gen, ["epoch=0", "epoch=1"]), (flat, [""])]:
        jobs, src = _jobs_started(spark, lambda: ChangeLogSource(spark, path))
        assert jobs == [], f"opening {path} started Spark jobs {jobs}"
        assert src._epochs == epochs
        for e in epochs:
            inferred = spark.read.parquet(os.path.join(path, e)).schema
            assert src._dfs[e].schema == inferred, e
        assert src.initial_schema() == src._dfs[epochs[0]].schema
        opened[path] = src
    assert "tool" not in opened[gen]._dfs["epoch=0"].columns
    assert "tool" in opened[gen]._dfs["epoch=1"].columns
