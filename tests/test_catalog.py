"""Snapshot catalog: atomic commits, append, time travel, retention."""

from __future__ import annotations

import os

import pytest

from pyspark.sql import functions as F

from job_crawler_spark.catalog import Catalog


@pytest.fixture()
def cat(tmp_path):
    return Catalog(str(tmp_path / "warehouse"))


def test_overwrite_and_read(spark, cat):
    df = spark.range(10).withColumnRenamed("id", "x")
    v = cat.overwrite(df, "t")
    assert v == 0
    assert cat.read(spark, "t").count() == 10


def test_append_accumulates(spark, cat):
    cat.overwrite(spark.range(5), "t")
    cat.append(spark.range(3), "t")
    assert cat.read(spark, "t").count() == 8
    assert cat.snapshot_id("t") == 1


def test_time_travel(spark, cat):
    cat.overwrite(spark.range(5), "t")
    cat.append(spark.range(5), "t")
    assert cat.read(spark, "t", version=0).count() == 5
    assert cat.read(spark, "t", version=1).count() == 10


def test_missing_table_with_schema_is_empty(spark, cat):
    from pyspark.sql import types as T

    schema = T.StructType([T.StructField("a", T.LongType())])
    assert cat.read(spark, "nope", schema=schema).count() == 0
    with pytest.raises(FileNotFoundError):
        cat.read(spark, "nope")


def test_expire_snapshots_keeps_recent(spark, cat):
    for i in range(6):
        cat.overwrite(spark.range(i + 1), "t")
    cat.expire_snapshots("t", keep_last=2)
    assert cat.read(spark, "t").count() == 6
    assert cat.read(spark, "t", version=4).count() == 5
    with pytest.raises(FileNotFoundError):
        cat._read_manifest("t", 0)


def test_expire_snapshots_deletes_whole_write_directories(spark, cat):
    """Expiry removes every write directory no kept manifest names, even
    though Spark leaves _SUCCESS/.crc files in it."""
    for i in range(6):
        cat.overwrite(spark.range(i + 1), "t")
    cat.expire_snapshots("t", keep_last=2)
    tdir = os.path.join(cat.root, "t")
    assert len([d for d in os.listdir(tdir) if d.startswith("data-")]) == 2
    assert cat.read(spark, "t", version=4).count() == 5


def test_relative_root_resolves_once(tmp_path, monkeypatch):
    monkeypatch.chdir(tmp_path)
    cat = Catalog("wh")
    assert cat.root == os.path.join(str(tmp_path), "wh")


def test_overwrite_partition_replaces_only_that_partition(spark, cat):
    cat.overwrite_partition(spark.range(3).withColumn("r", F.lit(0)), "p", 0)
    cat.overwrite_partition(spark.range(5).withColumn("r", F.lit(1)), "p", 1)
    assert cat.read(spark, "p").count() == 8
    # replace partition 0 only; partition 1 files untouched
    cat.overwrite_partition(spark.range(10).withColumn("r", F.lit(0)), "p", 0)
    df = cat.read(spark, "p")
    assert df.count() == 15
    assert df.filter(F.col("r") == 1).count() == 5
    # commit is O(partition): the new manifest reuses partition 1's entries
    m = cat._read_manifest("p", cat.snapshot_id("p"))
    parts = {e["part"] for e in m["files"]}
    assert parts == {0, 1}


def test_row_count_from_manifest_metadata(spark, cat):
    cat.overwrite(spark.range(7), "rc")
    assert cat.row_count("rc") == 7
    v0 = cat.snapshot_id("rc")
    cat.append(spark.range(4), "rc")
    assert cat.row_count("rc") == 11
    assert cat.row_count("rc", version=v0) == 7  # time-travel count
    assert cat.row_count("nope") == 0


def test_expire_snapshots_respects_pin_floor(spark, cat):
    for i in range(6):
        cat.overwrite(spark.range(i + 1), "pin")
    cat.expire_snapshots("pin", keep_last=1, pin_floor=2)
    # pinned version 2 (and everything newer) survives
    assert cat.read(spark, "pin", version=2).count() == 3
    with pytest.raises(FileNotFoundError):
        cat._read_manifest("pin", 1)


# --- driver-side control reads (rows / max_part) -----------------------------


def test_rows_reads_tagged_and_untagged_files_only(spark, cat, monkeypatch):
    """rows(name, part=k) equals the Spark read filtered to round k, and
    opens only the writes tagged k plus the untagged ones."""
    import pyarrow.parquet as pq

    for r in range(3):
        cat.overwrite_partition(
            spark.range(4).withColumn("round", F.lit(r)).coalesce(1), "t", r
        )
    # an untagged file (a whole-table-style write) holding rounds 1 and 7
    cat.append(
        spark.createDataFrame([(10, 1), (11, 7)], "id long, round int").coalesce(1),
        "t",
    )
    entries = cat._latest_entries("t")
    allowed = {
        os.path.join(cat.root, "t", e["path"])
        for e in entries if e["part"] in (1, None)
    }
    assert len(allowed) == 2 and len(entries) == 4

    opened = []
    real = pq.read_table

    def spy(path, *a, **k):
        opened.append(path)
        return real(path, *a, **k)

    monkeypatch.setattr(pq, "read_table", spy)
    got = sorted((r["id"], r["round"]) for r in cat.rows("t", part=1))
    assert set(opened) == allowed
    monkeypatch.setattr(pq, "read_table", real)

    want = sorted(
        (r.id, r.round) for r in cat.read(spark, "t").filter(F.col("round") == 1).collect()
    )
    assert got == want == [(0, 1), (1, 1), (2, 1), (3, 1), (10, 1)]
    assert cat.rows("t", part=5) == []
    assert len(cat.rows("t")) == 14
    # the largest round: tags 0-2, and 7 inside the untagged file
    assert cat.max_part("t") == 7
    assert cat.max_part("nope") is None

