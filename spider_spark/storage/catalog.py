"""Snapshot store: Iceberg-semantics checkpointing for the crawl state.

The north rule wants "frontier checkpointed to Iceberg snapshots so a
killed run resumes from the last committed wave". The sandbox image has
no Iceberg jars, so this module provides :class:`SnapshotStore` —
per-table parquet snapshot dirs + one atomically-renamed
``manifest.json`` that is the single source of truth for what is
committed. A wave is durable iff the manifest names it;
partially-written parquet from a killed run is simply never referenced
(the exact mechanism Iceberg's metadata pointer uses). The manifest
names each committed wave together with its record, the wave's
counters, so a wave and its counters become durable in one swap.

Layout::

    root/
      manifest.json                  <- atomic pointer {waves: {N: record}, ...}
      documents/wave=0003/*.parquet  <- appended per wave
      url_seen/wave=0003/*.parquet   <- appended per wave
      frontier/wave=0003/*.parquet   <- pending set AFTER wave 3 (overwrite-next)
      url_seen_filters/wave=0003/    <- Bloom bytes, latest wave wins
      metrics/wave=0003/*.parquet    <- appended per wave

Append-style tables are read back as the union of committed wave dirs
(one ``spark.read.parquet(dir1, dir2, ...)``); latest-style tables read
only the last committed wave. Readers never list the filesystem — they
trust the manifest, so a dirty directory from a crash is invisible.

**Compaction** (:meth:`SnapshotStore.compact`) is the
``rewrite_data_files`` analog: at 10^10 URLs a crawl runs hundreds of
waves, and an append table re-read every wave (``url_seen`` under the
exact backend) would otherwise accumulate hundreds of snapshot dirs ×
``shuffle.partitions`` small parquet files — the classic Iceberg
small-file problem. ``compact`` rewrites the current read set into one
``base=NNNN`` dir and swaps the manifest pointer; reads union the base
with wave dirs committed after it. The engine compacts ``url_seen``
after every 16th wave (``plans/engine.COMPACT_EVERY``). The rewrite is crash-safe the same
way commits are: the base dir is staged first, the atomic manifest
swap makes it visible, and superseded dirs are deleted only after the
swap (a crash between swap and delete leaves unreferenced garbage,
never a wrong read).
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import tempfile
from typing import Literal

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession


APPEND_TABLES = ("documents", "url_seen", "metrics")


class SnapshotStore:
    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)

    # -- manifest ----------------------------------------------------------
    @property
    def _manifest_path(self) -> str:
        return os.path.join(self.root, "manifest.json")

    def read_manifest(self) -> dict | None:
        if not os.path.exists(self._manifest_path):
            return None
        with open(self._manifest_path) as f:
            return json.load(f)

    def _write_manifest(self, manifest: dict) -> None:
        fd, tmp = tempfile.mkstemp(dir=self.root, suffix=".manifest.tmp")
        with os.fdopen(fd, "w") as f:
            json.dump(manifest, f, indent=1)
        os.replace(tmp, self._manifest_path)  # atomic pointer swap

    # -- writes ------------------------------------------------------------
    def _wave_dir(self, table: str, wave: int) -> str:
        return os.path.join(self.root, table, f"wave={wave:04d}")

    def write_wave(self, table: str, wave: int, df: DataFrame) -> None:
        """Stage one table's data for a wave (not yet visible)."""
        df.write.mode("overwrite").parquet(self._wave_dir(table, wave))

    def commit_wave(self, wave: int, record: dict | None = None) -> None:
        """Make wave ``wave`` durable. Everything staged becomes visible,
        and the manifest holds ``record`` as the wave's record."""
        manifest = self.read_manifest() or {"waves": {}}
        manifest["waves"][str(wave)] = record or {}
        self._write_manifest(manifest)

    def wave_stats(
        self, table: str, wave: int, column: str | None = None, agg: str = "max"
    ) -> tuple[int, int | None]:
        """``(rows, value)`` of one written wave dir, read on the driver
        with pyarrow — no Spark job. ``rows`` and ``agg="max"`` come
        from the parquet footers alone (row-group row counts and column
        statistics); ``agg="sum"`` reads ``column`` itself, so keep it
        to small tables such as ``metrics``. The files are already
        written, so the numbers cannot race the query that wrote them.
        An empty wave (one 0-row file without statistics) gives
        ``(0, None)``."""
        rows, values = 0, []
        for path in sorted(glob.glob(os.path.join(self._wave_dir(table, wave), "*.parquet"))):
            meta = pq.read_metadata(path)
            rows += meta.num_rows
            if column is None or meta.num_rows == 0:
                continue
            stats = [
                rg.column(j).statistics
                for rg in map(meta.row_group, range(meta.num_row_groups))
                for j in range(rg.num_columns)
                if rg.column(j).path_in_schema == column
            ]
            if agg == "max" and all(st is not None and st.has_min_max for st in stats):
                values += [st.max for st in stats]
            else:  # a sum, or a writer that skipped statistics
                values += pq.read_table(path, columns=[column])[column].to_pylist()
        values = [v for v in values if v is not None]
        if not values:
            return rows, None
        return rows, (max(values) if agg == "max" else sum(values))

    # -- reads -------------------------------------------------------------
    def committed_waves(self) -> list[int]:
        m = self.read_manifest()
        return sorted(map(int, m["waves"])) if m else []

    def _read_dirs(self, table: str, mode: str) -> list[str]:
        """The committed read set for a table: compacted base (if the
        manifest names one) + wave dirs committed after it."""
        waves = self.committed_waves()
        dirs: list[str] = []
        if mode == "append":
            comp = (self.read_manifest() or {}).get("compacted", {}).get(table)
            if comp:
                base = os.path.join(self.root, table, comp["dir"])
                if os.path.exists(base):
                    dirs.append(base)
                waves = [w for w in waves if w > comp["upto"]]
        dirs += [
            d
            for w in waves
            if os.path.exists(d := self._wave_dir(table, w))
        ]
        return dirs

    def read_table(
        self,
        table: str,
        mode: Literal["append", "latest"],
        schema=None,
    ) -> DataFrame | None:
        """The committed read set of ``table`` (``None`` if there is none
        and no ``schema``). ``schema`` is the read schema: given, it is
        applied to the files as they are read, so Spark skips the
        one-task job that infers a schema from the parquet footers, and
        an empty read set yields an empty DataFrame of that schema."""
        dirs = self._read_dirs(table, mode)
        if not dirs:
            return (
                self.spark.createDataFrame([], schema=schema) if schema is not None else None
            )
        if mode == "latest":
            dirs = dirs[-1:]
        reader = self.spark.read if schema is None else self.spark.read.schema(schema)
        return reader.parquet(*dirs)

    # -- compaction ---------------------------------------------------------
    def compact(self, table: str) -> int:
        """Rewrite ``table``'s read set into one base dir (Iceberg
        ``rewrite_data_files`` analog), keeping the source
        partitioning. Returns the number of dirs folded (0 = nothing to
        do)."""
        if table not in APPEND_TABLES:
            raise ValueError(f"compact only applies to append tables: {table}")
        old_dirs = self._read_dirs(table, "append")
        if len(old_dirs) <= 1:
            return 0
        waves = self.committed_waves()
        upto = waves[-1]
        df = self.spark.read.parquet(*old_dirs)
        base_name = f"base={upto:04d}"
        base_dir = os.path.join(self.root, table, base_name)
        df.write.mode("overwrite").parquet(base_dir)  # staged, not visible
        manifest = self.read_manifest()
        manifest.setdefault("compacted", {})[table] = {
            "dir": base_name,
            "upto": upto,
        }
        self._write_manifest(manifest)  # atomic: base becomes the read set
        for d in old_dirs:  # superseded only after the pointer swap
            shutil.rmtree(d, ignore_errors=True)
        return len(old_dirs)
