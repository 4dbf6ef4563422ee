"""Snapshot store — per-round checkpointed state with exact resume.

Parquet-directory snapshots plus an atomically-renamed JSON manifest; each
crawl round is one committed snapshot:

* ``write(name, df, round)``   → immutable ``<base>/<name>/round=<r>/`` dir
* ``read(name, round)``        → DataFrame as-of that round
* ``commit(round, meta)``      → manifest update, atomic rename; a crash
  between write and commit leaves the previous manifest intact, so resume
  restarts the interrupted round from its input state (exactly-once rounds)
* ``last_committed()``         → resume point

An Iceberg table (one snapshot per round, time-travel resume) maps onto the
same contract; no such backend exists yet.
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile
from functools import reduce

from pyspark.sql import DataFrame, SparkSession


class SnapshotStore:
    def __init__(self, spark: SparkSession, base_dir: str):
        self.spark = spark
        self.base_dir = base_dir
        os.makedirs(base_dir, exist_ok=True)

    def _path(self, name: str, rnd: int) -> str:
        return os.path.join(self.base_dir, name, f"round={rnd}")

    def write(self, name: str, df: DataFrame, rnd: int) -> None:
        df.write.mode("overwrite").parquet(self._path(name, rnd))

    def read(self, name: str, rnd: int) -> DataFrame:
        return self.spark.read.parquet(self._path(name, rnd))

    def exists(self, name: str, rnd: int) -> bool:
        return os.path.exists(os.path.join(self._path(name, rnd), "_SUCCESS"))

    # -- compaction ---------------------------------------------------------
    def _base_path(self, name: str, upto: int) -> str:
        return os.path.join(self.base_dir, name, f"base={upto}")

    def compacted_upto(self) -> int:
        return self.manifest().get("compacted_upto", -1)

    def read_series(self, name: str, upto: int) -> list[DataFrame]:
        """Every snapshot of ``name`` covering rounds 0..upto: the compacted
        base (if any) plus the per-round tails after it. Missing rounds
        (e.g. texts on a crawl without text collection) are skipped."""
        parts: list[DataFrame] = []
        start = 0
        c = self.compacted_upto()
        if 0 <= c <= upto and os.path.exists(
            os.path.join(self._base_path(name, c), "_SUCCESS")
        ):
            parts.append(self.spark.read.parquet(self._base_path(name, c)))
            start = c + 1
        for r in range(start, upto + 1):
            if self.exists(name, r):
                parts.append(self.read(name, r))
        return parts

    def compact(
        self,
        upto: int | None = None,
        names: tuple[str, ...] = ("trace", "downloads", "texts"),
    ) -> None:
        """Merge per-round snapshots 0..upto into one base per series, so
        resume cost stays O(1) in crawl length: a long crawl commits
        thousands of rounds, and listing/opening thousands of small round
        directories would dominate restart time. Crash-safe: the new base
        is written first, the manifest flips ``compacted_upto`` atomically,
        and only then are superseded directories removed (a crash in
        between leaves unreferenced dirs, never missing data). The pending
        frontier and the manifest's per-round lineage are untouched."""
        last = self.last_committed()
        upto = last if upto is None else upto
        prev = self.compacted_upto()
        if upto <= prev or upto < 0:
            return
        for name in names:
            parts = self.read_series(name, upto)
            if not parts:
                continue
            reduce(DataFrame.unionByName, parts).write.mode(
                "overwrite"
            ).parquet(self._base_path(name, upto))
        manifest = self.manifest()
        manifest["compacted_upto"] = upto
        fd, tmp = tempfile.mkstemp(dir=self.base_dir, suffix=".manifest")
        with os.fdopen(fd, "w") as f:
            json.dump(manifest, f)
        os.replace(tmp, self._manifest_path)
        for name in names:
            if prev >= 0:
                shutil.rmtree(self._base_path(name, prev), ignore_errors=True)
            for r in range(upto + 1):
                shutil.rmtree(self._path(name, r), ignore_errors=True)

    # -- manifest -----------------------------------------------------------
    @property
    def _manifest_path(self) -> str:
        return os.path.join(self.base_dir, "manifest.json")

    def commit(self, rnd: int, meta: dict) -> None:
        manifest = self.manifest()
        manifest["rounds"][str(rnd)] = meta
        manifest["last_committed"] = rnd
        fd, tmp = tempfile.mkstemp(dir=self.base_dir, suffix=".manifest")
        with os.fdopen(fd, "w") as f:
            json.dump(manifest, f)
        os.replace(tmp, self._manifest_path)  # atomic on POSIX

    def manifest(self) -> dict:
        if os.path.exists(self._manifest_path):
            with open(self._manifest_path) as f:
                return json.load(f)
        return {"rounds": {}, "last_committed": -1}

    def last_committed(self) -> int:
        return self.manifest()["last_committed"]

