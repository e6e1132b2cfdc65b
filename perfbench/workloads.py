"""The workloads: inputs made from the seed, the measured unit of work,
the end-to-end metrics and the oracle check of each.

* ``bulk_replay``    — unit: one bulk ``replay_job`` call into an empty table.
* ``trickle_verify`` — unit: one cycle of micro-batch ``replay_job`` calls
  over a growing log, an incremental ``reconcile_job`` (normalized Arrow
  comparator, durable results sink, rollup) every K batches.

Sizes are fixed here, not by flags: a run of any seed does the same
amount of work, so runs of different seeds are comparable.
"""

from __future__ import annotations

import glob
import hashlib
import os
import shutil
import time
from dataclasses import dataclass, field

import oracle
import runtime
from layers import Counters

TEXT_LEN = 256  # replay_job's default generated payload size


@dataclass
class Env:
    spark: object
    jobs: runtime.Jobs
    seed: int
    cores: int
    tracer: object = None
    python_cpu_s: float = 0.0  # Python worker CPU inside traced job calls

    def job(self, name: str, argv: list[str]) -> dict:
        if self.tracer is None:
            return self.jobs.run(name, argv)
        pid = runtime.jvm_pid(self.spark)
        cpu0 = runtime.descendants_cpu_s(pid)
        with self.tracer.span(f"job.{name.split('_')[0]}"):
            out = self.jobs.run(name, argv)
        self.python_cpu_s += runtime.descendants_cpu_s(pid) - cpu0
        return out


def gen_log(env: Env, path: str, n_events: int, block: int, **kw) -> None:
    """The seeded change log, written by the engine's own generator (the
    one ``replay_job --gen-events`` uses): one parquet file per block of
    ``block`` consecutive LSNs, split at the ``tool`` schema epoch."""
    from etl_reconciliate_spark.datagen import write_changelog_spark

    write_changelog_spark(env.spark, path, n_events, seed=env.seed, block=block,
                          text_len=TEXT_LEN, **kw)


def log_files_by_lsn(log_dir: str) -> list[tuple[int, str]]:
    """(lsn_lo, path) of every data file of a log, in LSN order."""
    import pyarrow.parquet as pq

    out = []
    for p in glob.glob(os.path.join(log_dir, "epoch=*", "*.parquet")):
        md = pq.ParquetFile(p).metadata
        lo = min(md.row_group(i).column(0).statistics.min for i in range(md.num_row_groups))
        out.append((lo, p))
    return sorted(out)


def tree_digest(root: str) -> str:
    """Digest of every file's relative path and bytes under ``root``."""
    h = hashlib.sha256()
    for dirpath, dirs, files in os.walk(root):
        dirs.sort()
        for name in sorted(files):
            p = os.path.join(dirpath, name)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def reset_dir(src: str, dst: str) -> None:
    shutil.rmtree(dst, ignore_errors=True)
    shutil.copytree(src, dst)


def fold_check(con, log_dir: str, table_dir: str, target_rows: int) -> list[str]:
    """The replayed table must equal the log's fold, row for row."""
    fold = oracle.fold_sql(log_dir)
    want = oracle.live_count(con, fold)
    bad = [f"{table_dir}: target_rows {target_rows} != fold {want}"] if target_rows != want else []
    n = oracle.diff_rows(con, oracle.table_sql(table_dir), fold)
    return bad + ([f"{table_dir} differs from the fold in {n} rows"] if n else [])


@dataclass
class Unit:
    """One measured unit of work."""
    wall: float = 0.0                               # engine wall of the unit
    calls: list = field(default_factory=list)       # wall of each primary call
    verifies: list = field(default_factory=list)    # wall of each verify (trickle)
    items: int = 0                                  # events applied or keys classified
    ops: int = 0                                    # engine calls attempted
    keys: int = 0                                   # keys classified by verifies (trickle)
    changed_keys: int = 0                           # summed over verifies (trickle)
    deltas_at_read: int = 0                         # summed over verifies (trickle)
    failures: list = field(default_factory=list)    # oracle mismatches seen in the unit


class Workload:
    name = ""
    SCALED: tuple[str, ...] = ()  # size constants that shrink with ``scale``
    WARM_UNITS = 1                # warm-up units at reduced scale (then one at full scale)

    def __init__(self, env: Env, work: str, scale: float = 1.0):
        self.env = env
        self.work = work
        for name in self.SCALED:
            setattr(self, name.lower(), max(1, int(getattr(self, name) * scale)))

    def warm_unit(self) -> None:
        """Exercise the unit's code paths (JIT warm-up; not measured)."""
        self.unit()

    def setup(self, root: str) -> None: ...
    def unit(self) -> Unit: ...
    def check(self, con) -> list[str]: ...
    def live_rows(self) -> int: ...

    def count(self, c: Counters, u: Unit) -> None:
        """Add a traced unit's work to the phase counters."""

    def table_bytes_per_live_row(self) -> float:
        return oracle.snapshot_bytes(self.tbl) / self.live_rows()


class BulkReplay(Workload):
    name = "bulk_replay"
    EVENTS = 320_000
    BLOCK = 40_000
    SLICES = 3
    SCALED = ("EVENTS", "BLOCK")

    def setup(self, root: str) -> None:
        self.log = os.path.join(root, "log")
        gen_log(self.env, self.log, self.events, self.block)
        self.tbl = os.path.join(self.work, "bulk_tbl")
        self.last = None

    def _argv(self) -> list[str]:
        slice_size = -(-self.events // self.SLICES)
        return ["--changelog", self.log, "--target", self.tbl, "--slice-size", str(slice_size)]

    def unit(self) -> Unit:
        shutil.rmtree(self.tbl, ignore_errors=True)  # every call starts from an empty table
        t = time.perf_counter()
        out = self.env.job("replay_job", self._argv())
        wall = time.perf_counter() - t
        self.last = out
        return Unit(wall=wall, calls=[wall], items=out["events"], ops=1,
                    failures=[] if out["mode"] == "mor" else [f"mode {out['mode']}"])

    def count(self, c: Counters, u: Unit) -> None:
        c.replay_calls += 1
        c.events += u.items

    def live_rows(self) -> int:
        return self.last["target_rows"]

    def check(self, con) -> list[str]:
        return fold_check(con, self.log, self.tbl, self.last["target_rows"])


class TrickleVerify(Workload):
    name = "trickle_verify"
    EVENTS = 67_500
    BLOCK = 2_500        # one log file per micro-batch
    TAIL_BATCHES = 6     # the base's 2 deltas + 6 reach the compaction threshold (8)
    VERIFY_EVERY = 3
    BASE_SLICE = 28_000
    SCALED = ("EVENTS", "BLOCK", "BASE_SLICE")
    WARM_UNITS = 0  # the full-size mini-cycle after set-up is warm-up enough

    @property
    def expire_keep(self) -> int:
        # just above the verify interval (+1 for a compaction commit), as
        # replay_job's help asks of incremental consumers
        return self.VERIFY_EVERY + 2

    def setup(self, root: str) -> None:
        full = os.path.join(root, "log_full")
        gen_log(self.env, full, self.events, self.block)
        files = log_files_by_lsn(full)
        tail = files[-self.TAIL_BATCHES:]
        if any("epoch=1" not in p for _, p in tail):
            raise RuntimeError("trickle tail must lie past the tool epoch")
        self.full_log = full
        self.base_log = os.path.join(root, "log_base")
        for _, p in files[:-self.TAIL_BATCHES]:
            dst = os.path.join(self.base_log, os.path.relpath(p, full))
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            shutil.copyfile(p, dst)
        self.tail = [p for _, p in tail]
        self.base_tbl = os.path.join(root, "base_tbl")
        self.env.job("replay_job", ["--changelog", self.base_log, "--target", self.base_tbl,
                                    "--slice-size", str(self.base_slice),
                                    "--expire-keep", str(self.expire_keep)])
        self.base_digest = tree_digest(self.base_tbl)
        self.log = os.path.join(self.work, "trickle_log")
        self.tbl = os.path.join(self.work, "trickle_tbl")
        self.results = os.path.join(self.work, "trickle_results")
        self.last = None

    def _cycle(self, batches: int) -> Unit:
        reset_dir(self.base_log, self.log)
        reset_dir(self.base_tbl, self.tbl)
        u = Unit()
        if tree_digest(self.tbl) != self.base_digest:
            u.failures.append("trickle cycle did not start from the base table's bytes")
        since = oracle.table_meta(self.tbl)["version"]
        for i, src in enumerate(self.tail[:batches]):
            # the upstream lands one more file in the log; not engine time
            shutil.copyfile(src, os.path.join(self.log, os.path.relpath(src, self.full_log)))
            t = time.perf_counter()
            out = self.env.job("replay_job", ["--changelog", self.log, "--target", self.tbl,
                                              "--expire-keep", str(self.expire_keep)])
            u.calls.append(time.perf_counter() - t)
            u.items += out["events"]
            u.ops += 1
            self.last = out
            if (i + 1) % self.VERIFY_EVERY:
                continue
            t = time.perf_counter()
            v = self.env.job("reconcile_job", ["--source", self.log, "--source-kind", "changelog",
                                               "--target", self.tbl,
                                               "--changed-since-version", str(since),
                                               "--comparator", "normalized",
                                               "--results-dir", self.results])
            u.verifies.append(time.perf_counter() - t)
            u.ops += 1
            inc = v.get("incremental", {})
            if "changed_keys" not in inc or "fallback" in inc:
                u.failures.append(f"verify since v{since} was not incremental: {inc}")
            if set(v["status_counts"]) - {"MATCH"}:
                u.failures.append(f"verify since v{since} found {v['status_counts']}")
            u.keys += v["total"]
            u.changed_keys += inc.get("changed_keys", 0)
            u.deltas_at_read += len(oracle.table_meta(self.tbl).get("deltas", []))
            since = inc.get("to_version", since)
        u.wall = sum(u.calls) + sum(u.verifies)
        return u

    def warm_unit(self) -> None:
        self._cycle(self.VERIFY_EVERY)

    def unit(self) -> Unit:
        return self._cycle(self.TAIL_BATCHES)

    def count(self, c: Counters, u: Unit) -> None:
        c.replay_calls += len(u.calls)
        c.events += u.items
        c.verifies += len(u.verifies)
        c.reconcile_calls += len(u.verifies)
        c.keys += u.keys
        c.changed_keys += u.changed_keys
        c.deltas_at_read += u.deltas_at_read

    def live_rows(self) -> int:
        return self.last["target_rows"]

    def check(self, con) -> list[str]:
        return fold_check(con, self.full_log, self.tbl, self.last["target_rows"])


WORKLOADS = {w.name: w for w in (BulkReplay, TrickleVerify)}
