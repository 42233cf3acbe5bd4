"""Snapshot catalog: atomic commits, append, time travel, retention."""

from __future__ import annotations

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


def test_row_count_legacy_string_entries(spark, cat):
    """Manifests written before entries carried row counts (plain path
    strings) still count correctly via parquet footers."""
    import json

    cat.overwrite(spark.range(9), "legacy")
    v = cat.snapshot_id("legacy")
    p = cat._manifest_path("legacy", v)
    m = json.load(open(p))
    m["files"] = [e["path"] for e in m["files"]]  # downgrade to old format
    json.dump(m, open(p, "w"))
    assert cat.row_count("legacy") == 9
    assert cat.read(spark, "legacy").count() == 9


def test_expire_snapshots_respects_pin_floor(spark, cat):
    for i in range(6):
        cat.overwrite(spark.range(i + 1), "pin")
    cat.expire_snapshots("pin", keep_last=1, pin_floor=2)
    # pinned version 2 (and everything newer) survives
    assert cat.read(spark, "pin", version=2).count() == 3
    with pytest.raises(FileNotFoundError):
        cat._read_manifest("pin", 1)


# --- manifest column stats + file skipping (read_pruned) ----------------------


def test_write_harvests_footer_stats(spark, cat):
    df = spark.createDataFrame(
        [(1, "apple", [1, 2]), (9, "pear", [3])],
        "x long, s string, arr array<long>",
    )
    cat.overwrite(df.coalesce(1), "t")
    (entry,) = cat._latest_entries("t")
    assert entry["stats"]["x"] == [1, 9]
    assert entry["stats"]["s"] == ["apple", "pear"]
    assert "arr" not in entry["stats"]  # nested: no stats, never skipped


def test_read_pruned_equals_filtered_read_and_skips(spark, cat):
    # 8 appends of disjoint x-ranges -> 8 files with tight stats
    for base in range(0, 80, 10):
        cat.append(
            spark.range(base, base + 10).withColumnRenamed("id", "x").coalesce(1),
            "t",
        )
    pruned = cat.read_pruned(spark, "t", {"x": (25, 34)})
    want = sorted(
        r["x"]
        for r in cat.read(spark, "t")
        .filter((F.col("x") >= 25) & (F.col("x") <= 34))
        .collect()
    )
    assert sorted(r["x"] for r in pruned.collect()) == want == list(range(25, 35))
    assert pruned._graft_files_total == 8
    assert pruned._graft_files_scanned == 2  # only the two overlapping files

    # open-ended bound
    hi = cat.read_pruned(spark, "t", {"x": (70, None)})
    assert hi._graft_files_scanned == 1 and hi.count() == 10

    # empty selection: no file overlaps, schema preserved
    none = cat.read_pruned(spark, "t", {"x": (1000, 2000)})
    assert none._graft_files_scanned == 0 and none.count() == 0
    assert none.schema["x"].dataType.typeName() == "long"


def test_read_pruned_missing_stats_is_safe(spark, cat):
    import json as _json

    cat.overwrite(spark.range(10).withColumnRenamed("id", "x"), "t")
    # simulate a pre-stats manifest: strip the stats key in place
    v = cat.snapshot_id("t")
    mp = cat._manifest_path("t", v)
    m = _json.load(open(mp))
    for e in m["files"]:
        e.pop("stats", None)
    _json.dump(m, open(mp, "w"))
    pruned = cat.read_pruned(spark, "t", {"x": (3, 5)})
    assert pruned._graft_files_scanned == pruned._graft_files_total  # kept all
    assert sorted(r["x"] for r in pruned.collect()) == [3, 4, 5]
