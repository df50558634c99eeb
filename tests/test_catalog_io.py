"""DataLake write-sink unit tests (SURVEY.md §2.1): every format
round-trips through save()+load(), partitionBy lays out Hive-style
directories, and unsupported formats are rejected.
"""

from __future__ import annotations

import os

import pytest

from polars_express_spark.catalog import DataLake, load_table
from tests.conftest import SF_DIR


@pytest.fixture()
def lake(spark, tmp_path):
    return DataLake(spark, str(tmp_path))


def _nation(spark):
    return load_table(spark, SF_DIR, "nation")


@pytest.mark.parametrize("fmt", ["parquet", "json", "csv", "orc"])
def test_save_load_roundtrip(spark, lake, fmt):
    n = _nation(spark)
    path = lake.save(n, f"nation_{fmt}", fmt=fmt)
    assert os.path.isdir(path)
    back = lake.load(f"nation_{fmt}")
    got = {
        (int(r["n_nationkey"]), r["n_name"]) for r in back.select("n_nationkey", "n_name").collect()
    }
    want = {(int(r["n_nationkey"]), r["n_name"]) for r in n.select("n_nationkey", "n_name").collect()}
    assert got == want and got


def test_save_partition_by(spark, lake):
    n = _nation(spark)
    lake.save(n, "nation_parts", fmt="parquet", partition_by=["n_regionkey"])
    root = os.path.join(lake.base_dir, "nation_parts.parquet")
    assert any(d.startswith("n_regionkey=") for d in os.listdir(root))
    assert lake.load("nation_parts").count() == n.count()


def test_save_rejects_unknown_format(spark, lake):
    with pytest.raises(ValueError):
        lake.save(_nation(spark), "x", fmt="avro")


def test_compact_reduces_files_preserves_rows(spark, tmp_path):
    """Compaction must collapse a many-part dataset to the computed
    file count without changing content, via a temp-and-swap rewrite."""
    import glob

    from polars_express_spark.catalog import DataLake

    lake = DataLake(spark, str(tmp_path))
    df = spark.range(10_000).withColumnRenamed("id", "v")
    lake.save(df.repartition(40), "many")
    path = lake.dataset_path("many")
    assert len(glob.glob(f"{path}/part-*")) == 40
    n_files = lake.compact("many", target_rows_per_file=5_000)
    assert n_files == 2
    assert len(glob.glob(f"{path}/part-*")) == 2
    out = lake.load("many")
    assert out.count() == 10_000
    assert out.agg({"v": "sum"}).collect()[0][0] == sum(range(10_000))
    assert not lake.dataset_exists("many.__compact_tmp")  # temp swapped away


def test_load_merge_schema_unions_evolved_parts(spark, tmp_path):
    """Parts appended after a column was added must read as one frame
    with merge_schema=True: old parts null-extend the new column."""
    import os

    from pyspark.sql import functions as F

    from polars_express_spark.catalog import DataLake

    lake = DataLake(spark, str(tmp_path))
    v1 = spark.range(5).select(F.col("id").alias("a"))
    lake.save(v1, "evolve")
    v2 = spark.range(5, 8).select(F.col("id").alias("a"), (F.col("id") * 2).alias("b"))
    v2.write.mode("append").parquet(os.path.join(str(tmp_path), "evolve.parquet"))
    merged = lake.load("evolve", merge_schema=True)
    assert set(merged.columns) == {"a", "b"}
    rows = {r["a"]: r["b"] for r in merged.collect()}
    assert len(rows) == 8
    assert all(rows[a] is None for a in range(5))  # old parts null-extended
    assert rows[7] == 14


def test_vacuum_removes_debris_only(spark, tmp_path):
    """Orphan compaction temps and _temporary staging dirs go; live
    datasets (including ones with dots in content) stay readable."""
    import os

    from polars_express_spark.catalog import DataLake

    lake = DataLake(spark, str(tmp_path))
    df = spark.range(10).selectExpr("id", "id * 2 AS v")
    lake.save(df, "alive", fmt="parquet")
    # debris: a dead compaction temp + a killed job's staging dir
    dead = tmp_path / "alive.__compact_tmp.parquet"
    dead.mkdir()
    (dead / "part-0.parquet").write_bytes(b"junk")
    staging = tmp_path / "alive.parquet" / "_temporary"
    staging.mkdir()
    (staging / "attempt_0").mkdir()
    # r10 retention guard: debris younger than the retention window is
    # NOT touched — it may be a live writer's staging dir
    assert lake.vacuum() == []
    assert dead.exists() and staging.exists()
    removed = lake.vacuum(retention_seconds=0)
    assert len(removed) == 2
    assert not dead.exists() and not staging.exists()
    assert lake.load("alive").count() == 10
    assert lake.vacuum(retention_seconds=0) == []  # idempotent


def test_overwrite_publishes_by_rename(spark, tmp_path):
    """r9: save(mode=overwrite) stages into a `.__writing__` sibling and
    swaps — staging dirs are invisible to list_datasets, vacuum removes
    orphans from a crashed write, file-shaped datasets (single CSV) are
    replaced cleanly, and the published data round-trips."""
    import os

    from polars_express_spark.catalog import DataLake

    lake = DataLake(spark, str(tmp_path / "lake"))
    lake.save(spark.range(10).toDF("id"), "m", fmt="parquet")
    lake.save(spark.range(25).toDF("id"), "m", fmt="parquet")  # overwrite
    assert lake.load("m").count() == 25
    assert lake.list_datasets() == ["m"]
    assert not [e for e in os.listdir(lake.base_dir) if ".__writing__" in e]

    # orphaned staging dir (crash between write and rename): hidden from
    # listing, removed by vacuum
    orphan = os.path.join(lake.base_dir, "m.parquet.__writing__deadbeef")
    os.makedirs(orphan)
    assert lake.list_datasets() == ["m"]
    assert lake.vacuum() == []  # fresh staging = possibly live writer
    removed = lake.vacuum(retention_seconds=0)
    assert orphan in removed and not os.path.exists(orphan)

    # overwriting a FILE-shaped dataset (hand-dropped single CSV) with a
    # directory write replaces it
    with open(os.path.join(lake.base_dir, "t.csv"), "w") as f:
        f.write("a,b\n1,2\n")
    lake.save(spark.createDataFrame([(3, 4)], "a int, b int"), "t", fmt="csv")
    rows = [(r["a"], r["b"]) for r in lake.load("t", schema="a int, b int").collect()]
    assert rows == [(3, 4)]


def test_snapshot_retention_time_travel_and_rollback(spark, tmp_path):
    """keep_snapshots=2: overwrites archive the displaced version by
    rename; load_snapshot reads the EXACT old rows; pruning keeps only
    the newest two; restore republishes an old version (copy, not
    move) and archives the replaced current, so rollback composes."""
    lake = DataLake(spark, str(tmp_path), keep_snapshots=2)

    def frame(v):
        return spark.range(v * 10).selectExpr("id", f"{v} as ver")

    lake.save(frame(1), "ds")                 # create, no snapshot
    assert lake.list_snapshots("ds") == []
    lake.save(frame(2), "ds")                 # v1 archived
    lake.save(frame(3), "ds")                 # v2 archived
    assert lake.list_snapshots("ds") == [1, 2]
    # time travel: version 2 is the frame(2) data
    snap = lake.load_snapshot("ds", 2)
    assert snap.count() == 20 and snap.agg({"ver": "max"}).first()[0] == 2
    lake.save(frame(4), "ds")                 # v3 archived, v1 pruned
    assert lake.list_snapshots("ds") == [2, 3]
    # live data is frame(4)
    assert lake.load("ds").count() == 40
    # rollback to version 2 (frame(2)); replaced current archives as v4
    lake.restore("ds", 2)
    assert lake.load("ds").count() == 20
    assert lake.list_snapshots("ds") == [3, 4]  # v2 pruned after archive
    # snapshot dirs never appear as datasets
    assert lake.list_datasets() == ["ds"]
    with pytest.raises(FileNotFoundError):
        lake.load_snapshot("ds", 99)


def test_snapshot_versions_global_across_formats(spark, tmp_path):
    """r11 ADVICE: a dataset republished under a SECOND format must keep
    minting globally-unique version numbers — the per-format counter
    restarted at 1, and equal versions from two formats silently
    shadowed each other in the index. Versions now continue across the
    format switch, every snapshot stays addressable, and a pre-existing
    (hand-made) collision raises instead of shadowing."""
    lake = DataLake(spark, str(tmp_path), keep_snapshots=4)
    lake.save(spark.range(10).selectExpr("id", "1 as ver"), "ds")
    lake.save(spark.range(20).selectExpr("id", "2 as ver"), "ds")  # v1
    lake.save(spark.range(30).selectExpr("id", "3 as ver"), "ds", fmt="json")
    lake.save(spark.range(40).selectExpr("id", "4 as ver"), "ds", fmt="json")
    # the json overwrite archived nothing (fresh path); overwrite it
    # again so a json snapshot exists alongside the parquet one
    assert lake.list_snapshots("ds") == [1, 2]
    snaps = lake._snapshot_index("ds")
    assert snaps[1].endswith(f".parquet{DataLake.SNAP_MARK}00000001")
    assert snaps[2].endswith(f".json{DataLake.SNAP_MARK}00000002")
    assert lake.load_snapshot("ds", 2).agg({"ver": "max"}).first()[0] == 3
    # a hand-made collision (pre-r11 lake) raises, never shadows
    os.rename(snaps[2], str(tmp_path / f"ds.json{DataLake.SNAP_MARK}00000001"))
    with pytest.raises(ValueError, match="ambiguous snapshot version"):
        lake.list_snapshots("ds")


def test_restore_over_live_single_file_dataset(spark, tmp_path):
    """r11 ADVICE: restore() must take save()'s isfile branch — a
    hand-dropped single-file CSV occupying the live path made the final
    publish rename fail with OSError instead of restoring."""
    lake = DataLake(spark, str(tmp_path), keep_snapshots=2)
    lake.save(spark.createDataFrame([(1, 2)], "a int, b int"), "t", fmt="csv")
    lake.save(spark.createDataFrame([(3, 4)], "a int, b int"), "t", fmt="csv")
    assert lake.list_snapshots("t") == [1]
    # replace the live dataset with a hand-dropped single file
    import shutil

    shutil.rmtree(tmp_path / "t.csv")
    with open(tmp_path / "t.csv", "w") as f:
        f.write("a,b\n9,9\n")
    lake.restore("t", 1)
    rows = [(r["a"], r["b"]) for r in lake.load("t", schema="a int, b int").collect()]
    assert rows == [(1, 2)]


def test_snapshot_default_off_keeps_r9_behavior(spark, tmp_path):
    """keep_snapshots defaults to 0: overwrite removes the old data and
    leaves no snapshot dirs (exactly the r9 publish)."""
    lake = DataLake(spark, str(tmp_path))
    lake.save(spark.range(5), "ds")
    lake.save(spark.range(7), "ds")
    assert lake.list_snapshots("ds") == []
    assert not [e for e in os.listdir(tmp_path) if DataLake.SNAP_MARK in e]
    assert lake.load("ds").count() == 7


def _jobs_in(spark, group, fn):
    """(fn(), number of Spark jobs fn started) via a job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_load_cache_hit_starts_no_job(spark, lake, tmp_path):
    """A repeated load of an unchanged CSV reuses the scan: the schema
    inference job runs on the first load only."""
    (tmp_path / "t.csv").write_text("a,b\n1,2\n3,4\n")
    first, n_first = _jobs_in(spark, "scan_cache_miss", lambda: lake.load("t"))
    again, n_again = _jobs_in(spark, "scan_cache_hit", lambda: lake.load("t"))
    assert n_first > 0  # inferSchema reads the file
    assert again is first and n_again == 0
    # a declared schema is its own entry
    assert lake.load("t", schema="a int, b int") is not first


def test_load_cache_sees_every_change(spark, lake, tmp_path):
    """Writes through the lake, hand edits and deletions all miss the
    cache on the next load."""
    import shutil

    # save() overwrite
    lake.save(spark.range(10).toDF("id"), "ow")
    df = lake.load("ow")
    lake.save(spark.range(25).toDF("id"), "ow")
    assert lake.load("ow") is not df and lake.load("ow").count() == 25

    # external same-size rewrite of a single file, mtime bumped
    csv = tmp_path / "c.csv"
    csv.write_text("a,b\n1,2\n")
    assert [tuple(r) for r in lake.load("c").collect()] == [(1, 2)]
    csv.write_text("a,b\n3,4\n")
    st = os.stat(csv)
    os.utime(csv, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000_000))
    assert [tuple(r) for r in lake.load("c").collect()] == [(3, 4)]

    # a part file appended to a parquet directory
    lake.save(spark.range(5).toDF("id"), "ap")
    assert lake.load("ap").count() == 5
    spark.range(5, 8).toDF("id").write.mode("append").parquet(lake.dataset_path("ap"))
    assert lake.load("ap").count() == 8

    # deletion: not served from the cache, and its entry is dropped on
    # the next miss
    gone = lake.dataset_path("ap")
    shutil.rmtree(gone)
    with pytest.raises(FileNotFoundError):
        lake.load("ap")
    csv.write_text("a,b\n5,6\n7,8\n")
    lake.load("c")
    assert not [k for k in lake._scans if k[0] == gone]


def test_load_cache_cleared_by_lake_writes(spark, lake):
    """Every write through the lake drops the cached scans."""
    lake.save(spark.range(3).toDF("id"), "w")
    df = lake.load("w")
    lake._invalidate_memos()
    assert lake.load("w") is not df
