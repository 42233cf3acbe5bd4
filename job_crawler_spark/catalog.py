"""Snapshot catalog: Iceberg-shaped table layer over parquet directories.

The north rule stores every engine table (frontier, seen, documents,
crawl_log, checkpoints, ...) in Iceberg so each crawl round commits
atomically and a killed job resumes from the last snapshot. This sandbox has
no Iceberg runtime jars, so this module provides the same API shape over
plain parquet + JSON manifests (SURVEY.md §7.3 "Iceberg availability"):

- a table = a directory of immutable write directories + numbered manifest
  files, each manifest listing the writes visible in that snapshot;
- commit = write a data directory, write ``manifest-<n>.json``, then atomically
  rename a pointer file — readers always see a complete snapshot;
- append = new manifest referencing the old writes + the new one (no rewrite);
- overwrite = new manifest referencing only the new write (old writes
  remain for time travel until expired);
- overwrite_partition = replace only the writes tagged with one partition
  value (Iceberg dynamic partition overwrite / ``DELETE WHERE part = v``
  then append): per-round commits stay O(round), not O(table);
- read(version=k) = time travel, which is what mid-frontier resume uses;
- row_count = manifest metadata only (Iceberg carries record counts in
  manifests) — table stats never cost a Spark scan.

A manifest lists one entry per write, ``{"path", "part", "rows"}``:
``path`` is the write's ``data-<uuid>`` directory relative to its table
directory, ``part`` its partition tag (None when untagged) and ``rows`` its
row count from the parquet footers. Readers open whole directories (Spark
and pyarrow both skip the ``_SUCCESS``/``.crc`` files), so a catalog is
portable: copied or restored under another root it reads, and a crawl
resumes, from the copy alone. ``expire_snapshots`` deletes whole write
directories that no kept manifest names. The manifest is the only source
of what a table holds:

- schema: ``read`` plans the write directories with the manifest's schema,
  so no Spark job re-reads parquet footers to infer it;
- control rows: ``rows`` and ``max_part`` answer the engine's small
  checkpoint/meta reads on the driver with pyarrow, no Spark job. The
  ``part`` tag of a round-keyed write names the round of its rows (the
  ``round`` column that ``rows``/``max_part`` read), so the tag alone
  picks the writes of one round; untagged writes (a whole-table
  overwrite) may hold any round and are always opened.

On a real cluster you'd swap this for the Iceberg Spark catalog with zero
changes above this module — the engine only calls read/rows/max_part/
append/overwrite/overwrite_partition/snapshot_id/row_count/expire_snapshots
(``rows``/``max_part`` become metadata-table reads there).
"""

from __future__ import annotations

import json
import os
import shutil
import uuid
from dataclasses import dataclass

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

_POINTER = "_latest"

# The column a partition tag stands for in rows()/max_part(): every row of a
# write tagged ``k`` has ``round == k`` (the engine's round-keyed control
# tables; ``seen`` keys its writes by ``first_round`` instead).
PART_COLUMN = "round"


@dataclass
class Catalog:
    root: str

    def __post_init__(self) -> None:
        # resolved once, so pyarrow and the Spark JVM read the same files
        # even after the process changes directory
        self.root = os.path.abspath(self.root)

    def _tdir(self, name: str) -> str:
        return os.path.join(self.root, name)

    def _manifest_path(self, name: str, version: int) -> str:
        return os.path.join(self._tdir(name), f"manifest-{version:08d}.json")

    # -- snapshot bookkeeping -------------------------------------------------
    def snapshot_id(self, name: str) -> int:
        """Latest committed snapshot version; -1 if the table doesn't exist."""
        ptr = os.path.join(self._tdir(name), _POINTER)
        if not os.path.exists(ptr):
            return -1
        with open(ptr) as f:
            return int(f.read().strip())

    def exists(self, name: str) -> bool:
        return self.snapshot_id(name) >= 0

    def _read_manifest(self, name: str, version: int) -> dict:
        with open(self._manifest_path(name, version)) as f:
            return json.load(f)

    def _commit(self, name: str, entries: list, schema_json: str) -> int:
        """Write manifest-<n+1> then atomically flip the pointer."""
        tdir = self._tdir(name)
        os.makedirs(tdir, exist_ok=True)
        version = self.snapshot_id(name) + 1
        manifest = {"version": version, "files": entries, "schema": schema_json}
        with open(self._manifest_path(name, version), "w") as f:
            json.dump(manifest, f)
        tmp = os.path.join(tdir, f"{_POINTER}.{uuid.uuid4().hex}.tmp")
        with open(tmp, "w") as f:
            f.write(str(version))
        os.replace(tmp, os.path.join(tdir, _POINTER))  # atomic publish
        return version

    # -- data-file I/O ---------------------------------------------------------
    def _write_data(self, df: DataFrame, name: str, part=None) -> dict:
        """Write df as an immutable ``data-<uuid>`` directory; returns its
        manifest entry, rows counted from the parquet footers (metadata
        only — no data scan)."""
        rel = f"data-{uuid.uuid4().hex}"
        out = os.path.join(self._tdir(name), rel)
        df.write.mode("overwrite").parquet(out)
        rows = sum(
            pq.ParquetFile(os.path.join(out, f)).metadata.num_rows
            for f in os.listdir(out) if f.endswith(".parquet")
        )
        return {"path": rel, "part": part, "rows": rows}

    def _read_dir(self, name: str, entry: dict, columns=None) -> list[dict]:
        """One write's rows as dicts, read on the driver with pyarrow."""
        path = os.path.join(self._tdir(name), entry["path"])
        return pq.read_table(path, columns=columns).to_pylist()

    def read(
        self,
        spark: SparkSession,
        name: str,
        version: int | None = None,
        schema: T.StructType | None = None,
    ) -> DataFrame:
        """Plan a snapshot with the manifest's schema (no footer inference,
        so no Spark job). ``schema`` only types a table that does not exist
        yet; an existing table always reads as its manifest says."""
        v = self.snapshot_id(name) if version is None else version
        if v < 0:
            if schema is None:
                raise FileNotFoundError(f"table {name} does not exist in {self.root}")
            return spark.createDataFrame([], schema=schema)
        manifest = self._read_manifest(name, v)
        sch = T.StructType.fromJson(json.loads(manifest["schema"]))
        if not manifest["files"]:
            return spark.createDataFrame([], schema=sch)
        return spark.read.schema(sch).parquet(
            *[os.path.join(self._tdir(name), e["path"]) for e in manifest["files"]]
        )

    def rows(self, name: str, part=None) -> list[dict]:
        """Rows of the latest snapshot as dicts, read on the driver with
        pyarrow — no Spark job; for small control tables. With ``part``,
        only the rows whose ``round`` equals it, opening just the writes
        tagged ``part`` and the untagged ones."""
        out = []
        for e in self._latest_entries(name):
            if part is None or e["part"] in (part, None):
                out += self._read_dir(name, e)
        if part is None:
            return out
        return [r for r in out if r[PART_COLUMN] == part]

    def max_part(self, name: str):
        """Largest ``round`` in the latest snapshot (None when it holds no
        rows): the largest partition tag, or a larger value inside an
        untagged write — the only writes opened (``round`` column only)."""
        vals = []
        for e in self._latest_entries(name):
            if e["part"] is not None:
                vals.append(e["part"])
            else:
                vals += [r[PART_COLUMN] for r in self._read_dir(name, e, [PART_COLUMN])]
        return max(vals, default=None)

    def _latest_entries(self, name: str) -> list[dict]:
        v = self.snapshot_id(name)
        return self._read_manifest(name, v)["files"] if v >= 0 else []

    def table_schema(self, name: str) -> T.StructType | None:
        """Committed schema of the latest snapshot (None if absent)."""
        v = self.snapshot_id(name)
        if v < 0:
            return None
        return T.StructType.fromJson(
            json.loads(self._read_manifest(name, v)["schema"])
        )

    def overwrite(self, df: DataFrame, name: str, part=None) -> int:
        """Replace the whole table. ``part`` tags the new write so a later
        overwrite_partition(part) can replace it selectively."""
        entry = self._write_data(df, name, part=part)
        return self._commit(name, [entry], df.schema.json())

    def append(self, df: DataFrame, name: str) -> int:
        entry = self._write_data(df, name)
        return self._commit(
            name, self._latest_entries(name) + [entry], df.schema.json()
        )

    def overwrite_partition(self, df: DataFrame, name: str, part) -> int:
        """Dynamic partition overwrite: replace ONLY the writes tagged with
        ``part`` — the Iceberg ``INSERT OVERWRITE ... PARTITION`` / row-level
        ``DELETE WHERE part = v`` + append path. Commit cost is O(this
        partition's data), independent of table history, so a round-keyed
        writer stays O(round) instead of O(rounds^2) cumulative. Untagged
        writes are never touched."""
        kept = [e for e in self._latest_entries(name) if e["part"] != part]
        entry = self._write_data(df, name, part=part)
        return self._commit(name, kept + [entry], df.schema.json())

    def is_pure_append(self, name: str, from_v: int, to_v: int) -> bool:
        """True when every write of snapshot ``from_v`` is still present in
        ``to_v`` — i.e. the lineage between them only ADDED writes. An
        overwrite (round commit) replaces writes and breaks the superset.
        Lets a crash-healer distinguish adoptable append-only progress from
        a crashed overwrite that must be replayed instead."""
        if to_v < from_v:
            return False
        old = {e["path"] for e in self._read_manifest(name, from_v)["files"]}
        new = {e["path"] for e in self._read_manifest(name, to_v)["files"]}
        return old <= new

    def row_count(self, name: str, version: int | None = None) -> int:
        """Snapshot row count from manifest metadata — no Spark job, the
        Iceberg-manifest way."""
        v = self.snapshot_id(name) if version is None else version
        if v < 0:
            return 0
        return sum(e["rows"] for e in self._read_manifest(name, v)["files"])

    def expire_snapshots(
        self, name: str, keep_last: int = 5, pin_floor: int | None = None
    ) -> None:
        """Retention (reference backup cleanup, backup_manager.py:88-101):
        drop manifests older than the last ``keep_last`` and delete every
        write directory no kept manifest names.

        ``pin_floor``: lowest snapshot version still referenced by a
        checkpoint (time-travel resume reads it) — never expired even when
        older than ``keep_last``. Callers that checkpoint pinned versions
        MUST pass it or resume can break (CrawlEngine.expire_snapshots does).
        """
        latest = self.snapshot_id(name)
        if latest < 0:
            return
        floor = max(0, latest - keep_last + 1)
        if pin_floor is not None:
            floor = min(floor, max(0, pin_floor))
        keep_versions = set(range(floor, latest + 1))
        live: set[str] = set()
        tdir = self._tdir(name)
        for v in keep_versions:
            if os.path.exists(self._manifest_path(name, v)):
                live.update(e["path"] for e in self._read_manifest(name, v)["files"])
        for entry in os.listdir(tdir):
            if entry.startswith("manifest-"):
                v = int(entry[len("manifest-"):-len(".json")])
                if v not in keep_versions:
                    os.remove(os.path.join(tdir, entry))
            elif entry.startswith("data-") and entry not in live:
                shutil.rmtree(os.path.join(tdir, entry), ignore_errors=True)

    def drop(self, name: str) -> None:
        shutil.rmtree(self._tdir(name), ignore_errors=True)
