"""CDC replay loop: tail → dedup → repartition → MERGE → metrics.

The Spark-first replacement for the reference's four sequential Spring
Batch tasklets (reference: config/BatchConfig.java:59-68). Structured
Streaming's file source can't give us LSN-bounded, resumable-by-offset
slices over an evolving-schema table, so the loop is the standard
"bounded micro-batch driven by our own offset store" pattern
(functionally ``foreachBatch`` with a custom source): each iteration
reads one (lo, hi] LSN slice, max-LSN-dedups it per key, repartitions by
key, MERGEs into the target, and commits offsets atomically with the
snapshot.

Scale notes (the 100 TB story):
* the slice read is pruned by the pushed lsn predicate — cost ∝ slice;
* ONE shuffle per slice on the key covers both the dedup window and the
  merge join probe side (same partitioning);
* size ``n_partitions`` for constant rows-per-task (~0.5-1M rows), NOT
  as a fixed constant: the r3b bench study measured the reduce stage
  (window sort + merge + write) at 3.2x the per-event CPU when task
  volume grew 637k → 2.55M rows (sort locality), with zero spill — at
  cluster scale let AQE's advisory partition size enforce this; and
  with a heavy shuffle codec (zstd level >= 8) pin the sort shuffle
  writer (``spark.shuffle.sort.bypassMergeThreshold=1``) — the bypass
  writer's one-compression-stream-per-partition cost 50% more map CPU
  at 64 partitions (BENCH/BASELINE.md r3b);
* the target side of the merge is hash-clustered on the key at write
  time (bucket emulation) — with real Iceberg bucket partitioning +
  storage-partitioned joins that side never shuffles either;
* the merge is merge-on-read: each slice appends one O(slice) delta
  and compaction folds deltas into the base every ``compact_threshold``
  commits — the shape the Iceberg backend takes at 10^10 events
  (positional deletes + periodic compaction), with no change above this
  layer.

The per-batch apply core (:func:`apply_changes`: count → dedup → op
counters → MERGE) is shared with the Structured Streaming variant
(``streaming.stream_runner``), so the two ingest paths cannot drift.

Kill/resume: stop after any slice (or kill -9 mid-merge) and re-invoke —
the resume point is read from the last committed snapshot, and an
interrupted uncommitted slice simply re-runs (row-level newer-LSN-wins
makes partial overlap harmless).
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, SparkSession

from etl_reconciliate_spark.operators.dedup import dedup_max_lsn, dedup_max_lsn_agg
from etl_reconciliate_spark.plans.checkpoint import CheckpointManager
from etl_reconciliate_spark.plans.metrics import (
    observe_count,
    observe_ops,
    observed_or,
    slice_lineage,
)
from etl_reconciliate_spark.schemas import KEY_COLS
from etl_reconciliate_spark.sources.changelog import ChangeLogSource
from etl_reconciliate_spark.target.table import TargetTable


def replay(
    spark: SparkSession,
    changelog_path: str,
    target_path: str,
    slice_size: int = 250_000,
    n_partitions: int | None = None,
    max_slices: int | None = None,
    collect_lineage: bool = True,
    expire_keep: int = 2,
    compact_threshold: int = 8,
    dedup_impl: str = "agg",
) -> dict:
    """Replay the change log into the target table; resumable.

    Returns run statistics: events applied, slices, wall seconds of the
    apply loop (excluding session startup), events/sec.
    """
    prior_shuffle = spark.conf.get("spark.sql.shuffle.partitions", "32")
    n_partitions = n_partitions or int(prior_shuffle)
    # the agg-dedup exchange (and any other induced shuffle) sizes off
    # the session conf — pin it so an explicit n_partitions is honored
    # by both dedup impls, not only the window path's repartition.
    # Restored on exit: replay() may be embedded in a longer-lived
    # session that must not inherit this parallelism (r4 advice).
    spark.conf.set("spark.sql.shuffle.partitions", str(n_partitions))
    try:
        return _replay_loop(
            spark, changelog_path, target_path, slice_size, n_partitions,
            max_slices, collect_lineage, expire_keep, compact_threshold,
            dedup_impl,
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prior_shuffle)


def _replay_loop(
    spark: SparkSession,
    changelog_path: str,
    target_path: str,
    slice_size: int,
    n_partitions: int,
    max_slices: int | None,
    collect_lineage: bool,
    expire_keep: int,
    compact_threshold: int,
    dedup_impl: str,
) -> dict:
    from pyspark.sql import types as T

    source = ChangeLogSource(spark, changelog_path)
    table = TargetTable(
        spark,
        target_path,
        n_buckets=n_partitions,
        compact_threshold=compact_threshold,
    )

    if not table.exists():
        # Initial schema = key + payload columns of the earliest epoch;
        # later epochs evolve it (add-column) through merge_apply.
        first_epoch = source.initial_schema()
        payload = T.StructType(
            [f for f in first_epoch.fields if f.name not in ("lsn", "op")]
        )
        table.init(payload)

    ckpt = CheckpointManager(table)
    slices = ckpt.plan_slices(source.max_lsn(), slice_size)
    if max_slices is not None:
        slices = slices[:max_slices]

    t0 = time.monotonic()
    events = 0
    trailing_gap_hi = -1
    for lo, hi in slices:
        st = time.monotonic()
        # LSN-gap fast path (r5 review): real WAL/Debezium LSNs are
        # sparse byte offsets, so densely-tiled slices routinely cover
        # pure gaps. The driver-side footer index PROVES such a slice
        # empty — merging it anyway cost an empty delta (counting toward
        # the compaction threshold → a full base rewrite every Nth gap).
        # Skip the merge entirely: zero Spark jobs. The offset is
        # NOT advanced per gap — the next non-empty slice's commit
        # carries lsn_hi past the gap; a TRAILING run of gaps gets ONE
        # offsets-only commit after the loop (r5 final review: with
        # max_slices set, a gap wider than the slice budget would
        # otherwise re-plan the same gap slices forever — livelock).
        overlap = slice_lineage(source.file_index, lo, hi)
        if not overlap:
            trailing_gap_hi = max(trailing_gap_hi, hi)
            ckpt.append_manifest(
                {"slice": [lo, hi], "events": 0, "skipped_empty_gap": True,
                 "secs": round(time.monotonic() - st, 3)}
            )
            continue
        trailing_gap_hi = -1
        # per-file lineage comes from the footer index (driver-side
        # metadata, built once at open); the event and op counts ride
        # along with the merge's write — no extra Spark job for either
        lineage = overlap if collect_lineage else []
        stats, n_events, ops = apply_changes(
            table, source.read_slice(lo, hi), ckpt.offsets_for(hi, lineage),
            n_partitions, dedup_impl,
        )
        events += n_events
        ckpt.append_manifest(
            {
                "slice": [lo, hi],
                "events": n_events,
                "ops": ops,
                "snapshot": stats["version"],
                "target_rows": stats["row_count"],
                "n_deltas": stats.get("n_deltas"),
                "secs": round(time.monotonic() - st, 3),
            }
        )
        if expire_keep:
            table.expire_snapshots(keep_last=expire_keep)

    if trailing_gap_hi > ckpt.last_committed_lsn():
        # the run ENDED on skipped gap slices (only possible when
        # max_slices truncated the plan — an untruncated plan always
        # ends at an actual event's lsn): persist the high-water mark
        # with one metadata-only commit so the next bounded run plans
        # PAST the gap instead of re-walking it forever
        stats = table.commit_offsets(ckpt.offsets_for(trailing_gap_hi, []))
        ckpt.append_manifest(
            {"offsets_only": True, "lsn_hi": trailing_gap_hi,
             "snapshot": stats["version"]}
        )
        if expire_keep:
            # gap-only bounded runs otherwise add one offsets-only
            # snapshot each and never expire (the per-slice expiry above
            # lives in the applied-slice branch) — draining a wide LSN
            # gap would accumulate metadata versions past the keep bound
            # until the next data-bearing slice (r5 final review)
            table.expire_snapshots(keep_last=expire_keep)

    secs = time.monotonic() - t0
    return {
        "slices": len(slices),
        "events": events,
        "secs": secs,
        "events_per_sec": events / secs if secs > 0 else float("inf"),
        "final_lsn": ckpt.last_committed_lsn(),
        "target_rows": table.count_live(),
        "mode": "mor",
    }


def apply_changes(
    table: TargetTable,
    raw: DataFrame,
    offsets: dict,
    n_partitions: int,
    dedup_impl: str = "agg",
) -> tuple[dict, int, dict]:
    """Apply one batch of raw change events: count them, max-LSN dedup
    per key, count the winners' I/U/D ops, MERGE with ``offsets``.

    The counters ride along with the merge's own write action via
    ``Observation``, so a non-empty batch costs one write action: under
    AQE that is 2 Spark jobs (the dedup's map stage, then the write),
    plus the compaction's when the merge triggers one.
    Returns ``(merge stats, events, {"I": .., "U": .., "D": ..})``."""
    raw, obs_raw = observe_count(raw)
    if dedup_impl == "agg":
        # max_by aggregate: map-side partial combine collapses
        # duplicates pre-shuffle; its exchange hash-partitions by the
        # merge keys, so no explicit repartition node is needed — but
        # the exchange's width comes from the SESSION shuffle
        # partitions, which both callers pin to n_partitions so the
        # --partitions knob governs this (the heaviest) stage in BOTH
        # dedup impls.
        deduped = dedup_max_lsn_agg(raw)
    else:
        deduped = dedup_max_lsn(raw.repartition(n_partitions, *KEY_COLS))
    deduped, obs_ops = observe_ops(deduped)
    stats = table.merge_apply(deduped, offsets)
    # observed_or tolerates the empty-plan case where AQE eliminated
    # the CollectMetrics nodes
    n_events = observed_or(obs_raw, ("n",))["n"]
    return stats, n_events, observed_or(obs_ops, ("I", "U", "D"))
