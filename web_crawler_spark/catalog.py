"""Snapshot-table layer: Iceberg-shaped commit semantics on plain parquet.

The reference autocommits every SQL statement (``Crawler/database.py:58``); the
north_rule requires something strictly stronger — atomic per-round commits with
resume-from-snapshot. Real deployments use Iceberg (``df.writeTo(t).append()``,
snapshot = checkpoint); this container has no Iceberg runtime jar, so this
module provides the same contract on parquet:

- a table is a directory of immutable snapshot dirs plus a JSON manifest
- a commit writes data first, then atomically renames a tmp manifest over the
  old one (readers never see partial state)
- every write appends one snapshot; the live state is all of them in commit
  order, and ``compact`` merges a prefix of them into one
- resume = read the manifest as of the last committed round

Swapping this for Iceberg changes only this file: the engine talks in
append/read/compact/rollback terms.
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile
import time
from dataclasses import dataclass
from typing import Optional

from pyspark.sql import DataFrame, SparkSession


@dataclass
class Snapshot:
    snapshot_id: int
    round: int
    path: str
    rows: int


class SnapshotTable:
    def __init__(self, root: str, name: str):
        self.dir = os.path.join(root, name)
        self.name = name
        os.makedirs(self.dir, exist_ok=True)

    # -- manifest ---------------------------------------------------------
    @property
    def _manifest_path(self) -> str:
        return os.path.join(self.dir, "_manifest.json")

    def _load(self) -> list[dict]:
        if not os.path.exists(self._manifest_path):
            return []
        with open(self._manifest_path) as f:
            return json.load(f)["snapshots"]

    def _commit(self, snapshots: list[dict]) -> None:
        fd, tmp = tempfile.mkstemp(dir=self.dir, prefix="_manifest_tmp")
        with os.fdopen(fd, "w") as f:
            json.dump({"snapshots": snapshots, "committed_at": time.time()}, f)
        os.replace(tmp, self._manifest_path)  # atomic on POSIX

    # -- public API --------------------------------------------------------
    def write(self, df: DataFrame, round: int) -> Snapshot:
        """Append *df* as the snapshot of *round*."""
        snaps = self._load()
        sid = (max((s["snapshot_id"] for s in snaps), default=0)) + 1
        path = os.path.join(self.dir, f"snap-{sid:06d}")
        df.write.mode("errorifexists").parquet(path)
        rows = -1  # avoid an extra count job; fill lazily if needed
        snaps.append({"snapshot_id": sid, "round": round, "path": path, "rows": rows})
        self._commit(snaps)
        return Snapshot(sid, round, path, rows)

    def live_paths(self, as_of_round: Optional[int] = None) -> list[str]:
        """Snapshot paths contributing to the current (or as-of-round) state."""
        snaps = self._load()
        if as_of_round is not None:
            expired = max((s.get("compacted_through", -1) for s in snaps), default=-1)
            if as_of_round < expired:
                raise ValueError(
                    f"time travel to round {as_of_round} impossible: snapshots "
                    f"through round {expired} were compacted/expired"
                )
            snaps = [s for s in snaps if s["round"] <= as_of_round]
        return [s["path"] for s in snaps]  # manifest order == commit order

    def read(
        self,
        spark: SparkSession,
        as_of_round: Optional[int] = None,
        schema=None,
    ) -> Optional[DataFrame]:
        """Read the live state. Pass *schema* so snapshots written from empty
        DataFrames (no part files, just _SUCCESS) still resolve."""
        paths = self.live_paths(as_of_round)
        if not paths:
            return None
        reader = spark.read.schema(schema) if schema is not None else spark.read
        return reader.parquet(*paths)

    def compact(
        self,
        spark: SparkSession,
        up_to_round: Optional[int] = None,
        schema=None,
        target_partitions: Optional[int] = None,
        min_snapshots: int = 2,
        cluster_by: Optional[list] = None,
    ) -> bool:
        """Merge the live snapshots with ``round <= up_to_round`` into ONE
        snapshot and expire the originals (Iceberg's rewrite_data_files +
        expire_snapshots). A round-per-snapshot layout accumulates
        O(rounds × tasks) small parquet files — the classic small-files
        problem; at 10^10 URLs the admissions table would otherwise carry
        millions of files and every derived-frontier read would pay the
        listing + footer cost. Compaction bounds live file count without
        changing any read result *at or after* the horizon; time travel
        BEFORE the horizon is expired (exactly Iceberg's trade-off).

        Only completed rounds may be compacted: the merged snapshot carries
        the max merged round, so a crash-resume ``rollback_to_round(r)`` with
        r >= horizon never drops merged data. Returns True if a rewrite
        happened (skipped when fewer than *min_snapshots* qualify).
        """
        snaps = self._load()
        horizon = max((s["round"] for s in snaps), default=0) if up_to_round is None else up_to_round
        # snaps is commit-ordered; only a PREFIX may merge (rounds are
        # monotone per commit order), so later snapshots keep their place
        prefix = []
        for s in snaps:
            if s["round"] <= horizon:
                prefix.append(s)
            else:
                break
        if len(prefix) < min_snapshots:
            return False
        reader = spark.read.schema(schema) if schema is not None else spark.read
        df = reader.parquet(*(s["path"] for s in prefix))
        if target_partitions is None:
            target_partitions = spark.sparkContext.defaultParallelism
        sid = (max((s["snapshot_id"] for s in snaps), default=0)) + 1
        # "-c" namespace: a crash between data write and manifest commit
        # orphans this dir without ever colliding with a future write()'s
        # snap-{sid} path (the manifest — and thus sid reuse — is unchanged)
        merged_path = os.path.join(self.dir, f"snap-{sid:06d}-c")
        if cluster_by:
            # preserve key-clustering so min/max parquet stats keep pruning
            # reads (e.g. the derived frontier's `seq >= watermark` filter
            # skips fully-consumed files by footer stats alone)
            df = df.repartitionByRange(target_partitions, *cluster_by).sortWithinPartitions(*cluster_by)
        else:
            df = df.repartition(target_partitions)
        df.write.mode("errorifexists").parquet(merged_path)
        merged = {
            "snapshot_id": sid,
            "round": max(s["round"] for s in prefix),
            "path": merged_path,
            "rows": -1,
            "compacted_through": max(s["round"] for s in prefix),
        }
        self._commit([merged] + snaps[len(prefix):])
        for s in prefix:  # expire AFTER the manifest swap — no reader race
            shutil.rmtree(s["path"], ignore_errors=True)
        return True

    def rollback_to_round(self, round: int) -> None:
        """Drop snapshots committed after *round* (crash-resume cleanup).

        Also sweeps ORPHAN snapshot directories: write() writes the parquet
        dir before the manifest commit, so a crash between the two leaves a
        snap-* dir the manifest never references — the next write would
        reuse its id and fail errorifexists (found by SIGKILLing a
        spark-submit run mid-round and resuming). Same model as Iceberg:
        uncommitted data files are orphans, removed by maintenance before
        their names can collide; the manifest is the sole source of truth.
        """
        snaps = self._load()
        keep = [s for s in snaps if s["round"] <= round]
        self._commit(keep)
        # every snap-* dir not in the kept manifest is dead: either
        # explicitly dropped (round > resume point) or an orphan of a crashed
        # write
        kept_paths = {s["path"] for s in keep}
        for name in os.listdir(self.dir):
            p = os.path.join(self.dir, name)
            if name.startswith("snap-") and os.path.isdir(p) and p not in kept_paths:
                shutil.rmtree(p, ignore_errors=True)
            elif name.startswith("_manifest_tmp") and os.path.isfile(p):
                os.unlink(p)  # half-written manifest temp of a crashed commit

    def exists(self) -> bool:
        return bool(self._load())


class RunState:
    """Tiny per-job driver state (round, next_seq, seen_count) committed
    atomically at each round boundary alongside the table snapshots — the
    resume point. In Iceberg terms: snapshot summary properties."""

    def __init__(self, root: str):
        self.path = os.path.join(root, "_run_state.json")

    def save(self, state: dict) -> None:
        fd, tmp = tempfile.mkstemp(dir=os.path.dirname(self.path), prefix="_state_tmp")
        with os.fdopen(fd, "w") as f:
            json.dump(state, f)
        os.replace(tmp, self.path)

    def load(self) -> Optional[dict]:
        if not os.path.exists(self.path):
            return None
        with open(self.path) as f:
            return json.load(f)
