"""Z-order clustered layout + table sort order → manifest data skipping.

The snaplog catalog prunes file lists from per-file min/max stats; these
tests prove the layout operators make those stats actually selective:
a bbox read over a z-clustered table touches strictly fewer files than
over a hash-scattered one, with byte-identical results both ways."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from egp_crn_spark.operators.cluster import (skipping_report, zorder_cluster,
                                             zorder_key)
from egp_crn_spark.sources.snaplog import SnapshotLogTable

N = 4096
BBOX = [("x", ">=", 1000.0), ("x", "<=", 9000.0),
        ("y", ">=", 1000.0), ("y", "<=", 9000.0)]


def _points(spark, n=N, seed=0):
    # deterministic pseudo-uniform points over the full engine domain
    df = spark.range(n).select(
        F.col("id").cast("long").alias("pid"),
        (F.pmod(F.xxhash64(F.col("id"), F.lit(seed)), F.lit(65536))
         .cast("double").alias("x")),
        (F.pmod(F.xxhash64(F.col("id"), F.lit(seed + 1)), F.lit(65536))
         .cast("double").alias("y")),
    )
    return df


def _checksum(df):
    return df.agg(F.sum(F.col("pid") * 2654435761 % 1000003)
                  .alias("ck"), F.count("*").alias("n")).first()


def test_zorder_cluster_preserves_rows(spark):
    pts = _points(spark)
    clustered = zorder_cluster(pts, "x", "y", num_files=8)
    assert _checksum(clustered) == _checksum(pts)
    assert clustered.columns == pts.columns  # layout-only: no key leaks


def test_zorder_key_bounds_rescale(spark):
    # bounds=(lo, hi) must map [lo, hi) onto the engine domain: the key
    # of rescaled coords equals the key of the same coords pre-scaled
    df = spark.range(64).select(
        (F.col("id") * 100.0 + 7.0).alias("u"))
    a = df.select(zorder_key(F.col("u"), F.col("u"), 8,
                             bounds=(0.0, 6553600.0)).alias("z"))
    b = df.select(zorder_key(F.col("u") / 100.0, F.col("u") / 100.0,
                             8).alias("z"))
    assert [r.z for r in a.collect()] == [r.z for r in b.collect()]


def test_zorder_layout_prunes_bbox_files(spark, tmp_path):
    pts = _points(spark)
    scattered = SnapshotLogTable(spark, str(tmp_path / "scattered"))
    scattered.overwrite(pts.repartition(16, "pid"))
    clustered = SnapshotLogTable(spark, str(tmp_path / "clustered"))
    clustered.overwrite(zorder_cluster(pts, "x", "y", num_files=16))

    rep_s = skipping_report(scattered, BBOX)
    rep_c = skipping_report(clustered, BBOX)
    assert rep_s["files_total"] == rep_c["files_total"] == 16
    # hash layout: every file spans the domain → nothing prunes;
    # z layout: the ~1.5%-area bbox must skip most files
    assert rep_s["files_read"] == 16
    assert rep_c["files_read"] <= 4
    # pruned read is still exactly the full filter
    want = _checksum(pts.filter(
        (F.col("x") >= 1000.0) & (F.col("x") <= 9000.0)
        & (F.col("y") >= 1000.0) & (F.col("y") <= 9000.0)))
    assert _checksum(clustered.read(where=BBOX)) == want
    assert _checksum(scattered.read(where=BBOX)) == want
    assert want.n > 0


def test_table_sort_order_applies_on_every_write(spark, tmp_path):
    pts = _points(spark).withColumn(
        "z", zorder_key(F.col("x"), F.col("y")))
    t = SnapshotLogTable(spark, str(tmp_path / "sorted"), sort_cols=["z"])
    t.overwrite(pts.repartition(16, "pid"))  # layout destroyed upstream…
    t.append(_points(spark, seed=9).withColumn(
        "z", zorder_key(F.col("x"), F.col("y"))).repartition(16, "pid"))
    # …but the table's write sort order re-clusters both commits
    rep = skipping_report(t, BBOX)
    assert rep["files_read"] < rep["files_total"] / 2
    both = _points(spark).unionByName(_points(spark, seed=9))
    want = _checksum(both.filter(
        (F.col("x") >= 1000.0) & (F.col("x") <= 9000.0)
        & (F.col("y") >= 1000.0) & (F.col("y") <= 9000.0)))
    got = _checksum(t.read(where=BBOX).select("pid", "x", "y"))
    assert got == want


def test_sort_order_persists_and_inherits(spark, tmp_path):
    path = str(tmp_path / "inherit")
    t = SnapshotLogTable(spark, path, sort_cols=["x"])
    t.overwrite(_points(spark, n=256))
    # a fresh handle with no args inherits the stored order
    t2 = SnapshotLogTable(spark, path)
    assert t2.sort_cols == ["x"]
    t2.append(_points(spark, n=256, seed=3))
    rep = skipping_report(t2, [("x", "<", 2000.0)])
    assert rep["files_read"] < rep["files_total"]
    # explicit different order adopts (Iceberg sort-order replacement)
    t3 = SnapshotLogTable(spark, path, sort_cols=["y"])
    assert t3.sort_cols == ["y"]
    t3.append(_points(spark, n=256, seed=4))
    assert SnapshotLogTable(spark, path).sort_cols == ["y"]


def test_rewrite_files_recluster(spark, tmp_path):
    """rewrite_data_files parity: adopt a sort order on a scattered
    table, rewrite, and pruning starts working — zero logical change."""
    path = str(tmp_path / "rewrite")
    pts = _points(spark)
    t0 = SnapshotLogTable(spark, path)
    t0.overwrite(pts.repartition(16, "pid"))  # hash-scattered layout
    before = skipping_report(t0, BBOX)
    assert before["files_read"] == before["files_total"]

    t = SnapshotLogTable(spark, path,
                         sort_cols=["x"])  # adopt an order, then compact
    sid = t.rewrite_files(num_files=8)
    after = skipping_report(t, BBOX)
    assert after["files_total"] == 8
    assert after["files_read"] < 8
    # logical content unchanged; old snapshot still time-travels
    assert _checksum(t.read()) == _checksum(pts)
    assert _checksum(t.read(sid - 1)) == _checksum(pts)
    assert t.snapshots()[-1]["operation"] == "replace"
    # changelog across the replace: pure re-statements (delete + insert
    # of identical rows) — the idempotent shape downstream consumers eat
    ch = t.changelog(sid - 1, sid)
    ins = ch.filter("_change_type = 'insert'").drop("_change_type")
    dl = ch.filter("_change_type = 'delete'").drop("_change_type")
    assert _checksum(ins) == _checksum(dl) == _checksum(pts)


def test_rewrite_files_selective_and_compacting(spark, tmp_path):
    """where= rewrites only matching files (others carry over
    byte-identical); plain compaction shrinks file count."""
    path = str(tmp_path / "selective")
    t = SnapshotLogTable(spark, path, sort_cols=["x"])
    t.overwrite(_points(spark))
    n0 = len(t.plan_files())
    for s in (5, 6, 7):  # small appends → small files
        t.append(_points(spark, n=64, seed=s))
    assert len(t.plan_files()) > n0
    before = {e["path"] for e in t.plan_files()}
    # rewrite only the low-x files; high-x files must carry over
    sid = t.rewrite_files(where=[("x", "<", 20000.0)], num_files=2)
    after = {e["path"] for e in t.plan_files()}
    assert after & before, "untouched files must carry over"
    assert after != before
    want = _checksum(_points(spark)
                     .unionByName(_points(spark, n=64, seed=5))
                     .unionByName(_points(spark, n=64, seed=6))
                     .unionByName(_points(spark, n=64, seed=7)))
    assert _checksum(t.read()) == want
    assert t.snapshots()[-1]["operation"] == "replace"
    assert sid == t.current_snapshot_id()


def test_rewrite_files_partitioned_table(spark, tmp_path):
    """Compaction on a partitioned table: hive partition values survive
    the rewrite, partition pruning still works, rows identical."""
    pts = _points(spark).withColumn(
        "part", (F.col("pid") % 4).cast("string"))
    t = SnapshotLogTable(spark, str(tmp_path / "prw"),
                         partition_col="part", sort_cols=["x"])
    t.overwrite(pts)
    for s in (11, 12):
        t.append(_points(spark, n=128, seed=s).withColumn(
            "part", (F.col("pid") % 4).cast("string")))
    n_before = len(t.plan_files())
    t.rewrite_files()
    assert len(t.plan_files()) < n_before
    assert t.snapshots()[-1]["operation"] == "replace"
    rep = skipping_report(t, [("part", "=", "1")])
    assert rep["files_read"] < rep["files_total"]
    want = _checksum(pts.unionByName(
        _points(spark, n=128, seed=11).withColumn(
            "part", (F.col("pid") % 4).cast("string"))).unionByName(
        _points(spark, n=128, seed=12).withColumn(
            "part", (F.col("pid") % 4).cast("string"))))
    assert _checksum(t.read().select("pid", "x", "y")) == want
    got1 = _checksum(t.read(where=[("part", "=", "1")])
                     .select("pid", "x", "y"))
    want1 = _checksum(pts.filter(F.col("part") == "1").unionByName(
        _points(spark, n=128, seed=11).withColumn(
            "part", (F.col("pid") % 4).cast("string"))
        .filter(F.col("part") == "1")).unionByName(
        _points(spark, n=128, seed=12).withColumn(
            "part", (F.col("pid") % 4).cast("string"))
        .filter(F.col("part") == "1")))
    assert got1 == want1


def test_sort_order_with_partition_col(spark, tmp_path):
    pts = _points(spark).withColumn(
        "part", (F.col("pid") % 4).cast("string"))
    t = SnapshotLogTable(spark, str(tmp_path / "part"),
                         partition_col="part", sort_cols=["x"])
    t.overwrite(pts)
    rep = skipping_report(t, [("part", "=", "2"), ("x", "<", 2000.0)])
    assert rep["files_read"] < rep["files_total"]
    want = _checksum(pts.filter((F.col("part") == "2")
                                & (F.col("x") < 2000.0)))
    got = _checksum(t.read(where=[("part", "=", "2"), ("x", "<", 2000.0)])
                    .select("pid", "x", "y"))
    assert got == want


def test_zorder_query_removes_dead_staging_dirs(spark):
    """The driver query's staging dir outlives the call (the read is
    lazy), so each call sweeps same-tag dirs of exited processes: a dir
    planted for a dead pid is removed, one for a live pid is kept, and
    the returned rows still equal the DuckDB oracle."""
    import hashlib
    import os
    import shutil
    import subprocess
    import sys
    import tempfile

    import duckdb

    from egp_crn_spark.config import env_sf_dir
    from egp_crn_spark.driverq5 import (SQL_ZORDER_PRUNED_READ,
                                        q_zorder_pruned_read)

    # the sf0.001 tables next to the configured scale-factor dir
    sf = os.path.join(os.path.dirname(env_sf_dir()), "sf0.001")
    proc = subprocess.Popen([sys.executable, "-c", "pass"])
    proc.wait()
    tag = hashlib.md5(sf.encode()).hexdigest()[:8]
    prefix = f"{tempfile.gettempdir()}/egp_zorder_{tag}_"
    dead, live = f"{prefix}{proc.pid}", f"{prefix}{os.getppid()}"
    for d in (dead, live):
        os.makedirs(d, exist_ok=True)
        open(os.path.join(d, "_manifest"), "w").close()
    try:
        got = q_zorder_pruned_read(spark, sf).toPandas()
        assert not os.path.exists(dead)
        assert os.path.exists(live)
    finally:
        for d in (dead, live):
            shutil.rmtree(d, ignore_errors=True)
    con = duckdb.connect()
    con.execute(f"create view events as select * from "
                f"read_parquet('{sf}/events.parquet')")
    want = con.execute(SQL_ZORDER_PRUNED_READ).df()
    key = ["event_id", "x", "y"]
    got = got.sort_values(key).reset_index(drop=True)
    want = want.sort_values(key).reset_index(drop=True)
    assert len(got) > 0
    assert got["event_id"].tolist() == want["event_id"].tolist()
    assert got["x"].tolist() == want["x"].tolist()
    assert got["y"].tolist() == want["y"].tolist()
