"""Hive-partitioned layout: partition pruning evidence + compaction.

The fixtures are single files, but 100 TB tables are many-file and
hive/iceberg-partitioned — these tests pin that the engine's plans
actually prune partitions and that the compaction tool fixes the
small-file shape the reference only warns about."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from cloudfloe_spark.plans import executed_plan, pushed_filters
from cloudfloe_spark.sources.maintenance import compact_parquet, plan_compaction
from cloudfloe_spark.sources.tables import load_table


@pytest.fixture(scope="module")
def partitioned_orders(spark, sf_dir, tmp_path_factory):
    dest = str(tmp_path_factory.mktemp("part") / "orders_by_year")
    (
        load_table(spark, sf_dir, "orders")
        .withColumn("order_year", F.year("o_orderdate"))
        .write.partitionBy("order_year")
        .mode("overwrite")
        .parquet(dest)
    )
    return dest


def test_partition_pruning_in_plan(spark, partitioned_orders):
    df = spark.read.parquet(partitioned_orders).filter(
        F.col("order_year") == 1996
    )
    plan = executed_plan(df)
    assert "PartitionFilters" in plan
    # the partition predicate must be a PartitionFilter, NOT a data filter
    assert any(
        "order_year" in line and "1996" in line
        for line in plan.splitlines()
        if "PartitionFilters" in line
    ), plan


def test_partition_pruning_reads_only_matching_files(spark, partitioned_orders):
    """input_file_name() at execution time — NOT inputFiles(), which lists
    the unpruned file index — proves only matching partitions are read."""
    read = {
        r[0]
        for r in spark.read.parquet(partitioned_orders)
        .filter(F.col("order_year") == 1996)
        .select(F.input_file_name())
        .distinct()
        .collect()
    }
    assert read and all("order_year=1996" in f for f in read)


def test_data_filter_still_pushed_alongside_partition_filter(
    spark, partitioned_orders
):
    df = spark.read.parquet(partitioned_orders).filter(
        (F.col("order_year") == 1996) & (F.col("o_totalprice") > 100000.0)
    )
    assert any("o_totalprice" in f for f in pushed_filters(df))


def test_compaction_reduces_file_count(spark, sf_dir, tmp_path):
    # fragment: write orders as many tiny files
    frag = str(tmp_path / "frag")
    load_table(spark, sf_dir, "orders").repartition(40).write.parquet(frag)
    assert plan_compaction(frag)["n_files"] == 40

    dest = str(tmp_path / "compacted")
    report = compact_parquet(spark, frag, dest, target_file_bytes=64 * 1024 * 1024)
    assert report["after"]["n_files"] < report["before"]["n_files"]
    # row fidelity
    assert (
        spark.read.parquet(dest).count()
        == load_table(spark, sf_dir, "orders").count()
    )


def test_compaction_partitioned_layout(spark, sf_dir, tmp_path):
    dest = str(tmp_path / "by_year")
    src = str(tmp_path / "src")
    load_table(spark, sf_dir, "orders").withColumn(
        "order_year", F.year("o_orderdate")
    ).repartition(20).write.parquet(src)
    compact_parquet(
        spark, src, dest, partition_by=["order_year"],
        target_file_bytes=64 * 1024 * 1024,
    )
    pruned = spark.read.parquet(dest).filter(F.col("order_year") == 1996)
    read = {
        r[0]
        for r in pruned.select(F.input_file_name()).distinct().collect()
    }
    assert read and all("order_year=1996" in f for f in read)
    assert pruned.count() > 0


def test_dynamic_partition_pruning_on_join(spark, sf_dir, partitioned_orders):
    """Joining the partitioned fact to a FILTERED dim must inject a
    dynamicpruning subquery on the partition column — the runtime analog
    of static pruning, essential when the filter is on the dim side."""
    cust = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    ).select("c_custkey")
    fact = spark.read.parquet(partitioned_orders)
    # derive a dim with few distinct years so DPP is worthwhile
    years = (
        load_table(spark, sf_dir, "orders")
        .select(F.year("o_orderdate").alias("order_year"))
        .distinct()
        .filter(F.col("order_year").isin(1996, 1997))
    )
    joined = fact.join(years, "order_year")
    plan = executed_plan(joined)
    assert "dynamicpruning" in plan.lower(), plan
    # sanity: results restricted to the pruned years
    got_years = {r[0] for r in joined.select("order_year").distinct().collect()}
    assert got_years <= {1996, 1997}
    _ = cust  # dim-side shape kept for realism


def test_seed_demo_warehouse_full_iceberg_surface(spark, sf_dir, tmp_path):
    """A16 demo seeding (reference scripts/upload_sample_data.py analog):
    the seeded two-snapshot table must serve the whole no-runtime Iceberg
    surface — current scan, time travel, snapshot listing."""
    from cloudfloe_spark.service.config import ConnectionConfig
    from cloudfloe_spark.service.engine import run_query
    from cloudfloe_spark.sources.maintenance import seed_demo_warehouse

    out = seed_demo_warehouse(str(tmp_path), sf_dir, rows_per_snapshot=100)
    root, (s1, s2) = out["root"], out["snapshots"]
    cfg = ConnectionConfig(
        storageType="local", endpoint="", accessKey="", secretKey=""
    )
    cur = run_query(
        spark, f"SELECT COUNT(*) AS n FROM iceberg_scan('{root}')", cfg
    )
    old = run_query(
        spark,
        f"SELECT COUNT(*) AS n FROM iceberg_scan('{root}') VERSION AS OF {s1}",
        cfg,
    )
    assert cur.rows[0][0] == 200 and old.rows[0][0] == 100
    snaps = run_query(
        spark, f"SELECT snapshot_id FROM iceberg_snapshots('{root}')", cfg
    )
    assert {r[0] for r in snaps.rows} == {s1, s2}


def test_compact_iceberg_table_clears_deletes_keeps_history(
    spark, tmp_path, monkeypatch
):
    """compact_iceberg_table = the remedy our own (reference-parity) 400
    advises: after compaction the SAME rows come back from a delete-free
    snapshot (even under CLOUDFLOE_REJECT_DELETES blanket mode), and
    pre-compaction snapshots remain time-travelable."""
    import pyarrow as pa

    from cloudfloe_spark.service import engine as eng
    from cloudfloe_spark.service.config import ConnectionConfig
    from cloudfloe_spark.service.engine import probe_table, run_query
    from cloudfloe_spark.sources.iceberg_fixture import LocalIcebergTable
    from cloudfloe_spark.sources.maintenance import compact_iceberg_table

    root = str(tmp_path / "mor")
    t = LocalIcebergTable(
        root, pa.schema([("id", pa.int64()), ("name", pa.string())])
    )
    s1 = t.append_snapshot(
        [pa.table({"id": [1, 2, 3], "name": ["a", "b", "c"]})],
        timestamp_ms=1700000000000,
    )
    t.position_delete_snapshot(
        [(t.live_data_paths()[0], 0)], timestamp_ms=1700000100000
    )
    t.equality_delete_snapshot(
        pa.table({"name": ["c"]}), [2], timestamp_ms=1700000200000
    )

    result = compact_iceberg_table(
        spark, root, timestamp_ms=1700000300000
    )
    assert result["rows"] == 1 and result["files_after"] >= 1

    cfg = ConnectionConfig(
        storageType="local", endpoint="", accessKey="", secretKey="",
        tablePath=root,
    )
    info = probe_table(spark, root)
    assert info.hasDeletes is False
    assert info.rows == 1
    assert info.snapshotId == str(result["snapshot_id"])

    # blanket-rejection mode now passes: the current snapshot is clean
    monkeypatch.setattr(eng, "REJECT_DELETE_TABLES", True)
    resp = run_query(
        spark, f"SELECT id, name FROM iceberg_scan('{root}')", cfg
    )
    assert [tuple(r) for r in resp.rows] == [(2, "b")]
    monkeypatch.setattr(eng, "REJECT_DELETE_TABLES", False)

    # pre-compaction history intact: first snapshot still reads in full
    tt = run_query(
        spark,
        f"SELECT id FROM iceberg_scan('{root}') VERSION AS OF {s1} "
        "ORDER BY id",
        cfg,
    )
    assert [r[0] for r in tt.rows] == [1, 2, 3]


def test_compaction_aborts_on_concurrent_commit(spark, tmp_path):
    """Iceberg-style rewrite conflict validation: a commit landing between
    the compaction's pinned read and its commit must abort the rewrite
    (CommitConflictError), never silently supersede the interleaved
    commit's rows."""
    import pyarrow as pa
    import pytest

    from cloudfloe_spark.sources import iceberg_meta as im
    from cloudfloe_spark.sources.iceberg_fixture import (
        CommitConflictError,
        LocalIcebergTable,
        commit_rewrite_snapshot,
    )

    root = str(tmp_path / "race")
    t = LocalIcebergTable(root, pa.schema([("id", pa.int64())]))
    t.append_snapshot([pa.table({"id": [1, 2]})], timestamp_ms=1700000000000)

    pinned = im.latest_metadata_path(root)
    data_path = t.live_data_paths()[0]

    # interleaved commit moves the table on before the rewrite commits
    t.append_snapshot([pa.table({"id": [3]})], timestamp_ms=1700000100000)

    with pytest.raises(CommitConflictError):
        commit_rewrite_snapshot(
            root,
            [(data_path.removeprefix("file://"), 2)],
            timestamp_ms=1700000200000,
            expected_metadata_path=pinned,
        )
    # the interleaved commit's rows are intact
    snap = im.resolve_snapshot(root)
    assert sum(
        int(f.get("record_count", 0)) for f in im.live_data_files(root, snap)
    ) == 3

    # unchanged table: same pin commits fine
    pinned2 = im.latest_metadata_path(root)
    new_id = commit_rewrite_snapshot(
        root,
        [(data_path.removeprefix("file://"), 2)],
        timestamp_ms=1700000300000,
        expected_metadata_path=pinned2,
    )
    assert im.resolve_snapshot(root)["snapshot-id"] == new_id


def test_expire_snapshots_and_remove_orphans(spark, tmp_path):
    """Full maintenance cycle: compact → expire old snapshots → sweep
    orphans. The current read survives byte-identically, expired ids stop
    resolving (400, like any unknown snapshot), and the pre-compaction
    data files are physically reclaimed."""
    import pyarrow as pa

    from cloudfloe_spark.service.config import ConnectionConfig
    from cloudfloe_spark.service.engine import run_query
    from cloudfloe_spark.service.errors import CloudfloeError
    from cloudfloe_spark.sources.iceberg_fixture import LocalIcebergTable
    from cloudfloe_spark.sources.maintenance import (
        compact_iceberg_table,
        expire_snapshots,
        remove_orphan_files,
    )

    root = str(tmp_path / "maint")
    t = LocalIcebergTable(
        root, pa.schema([("id", pa.int64()), ("name", pa.string())])
    )
    s1 = t.append_snapshot(
        [pa.table({"id": [1, 2, 3], "name": ["a", "b", "c"]})],
        timestamp_ms=1700000000000,
    )
    t.position_delete_snapshot(
        [(t.live_data_paths()[0], 0)], timestamp_ms=1700000100000
    )
    compact_iceberg_table(spark, root, timestamp_ms=1700000200000)

    result = expire_snapshots(
        root, keep_last=1, timestamp_ms=1700000300000
    )
    assert s1 in result["expired"] and len(result["kept"]) == 1

    # grace window (default 3 days) protects fresh files from a
    # concurrent-writer race — nothing may be removed yet...
    assert remove_orphan_files(root)["removed"] == 0
    # ...but with the window waived (nothing else writing), the expired
    # snapshot's files reclaim
    sweep = remove_orphan_files(root, older_than_ms=0)
    assert sweep["removed"] >= 2  # original data file + pos-delete file

    cfg = ConnectionConfig(
        storageType="local", endpoint="", accessKey="", secretKey="",
        tablePath=root,
    )
    resp = run_query(
        spark, f"SELECT id FROM iceberg_scan('{root}') ORDER BY id", cfg
    )
    assert [r[0] for r in resp.rows] == [2, 3]

    with pytest.raises(CloudfloeError) as e:
        run_query(
            spark,
            f"SELECT id FROM iceberg_scan('{root}') VERSION AS OF {s1}",
            cfg,
        )
    assert e.value.status_code == 400


def test_compaction_updates_version_hint(spark, tmp_path):
    """HadoopCatalog tables carry version-hint.text, which the reader
    honors OVER the directory scan — external commits must advance it or
    the new snapshot is invisible (reads keep resolving the old version)."""
    import pyarrow as pa

    from cloudfloe_spark.service.engine import probe_table
    from cloudfloe_spark.sources import iceberg_meta as im
    from cloudfloe_spark.sources.iceberg_fixture import LocalIcebergTable
    from cloudfloe_spark.sources.maintenance import compact_iceberg_table

    root = str(tmp_path / "hint")
    t = LocalIcebergTable(root, pa.schema([("id", pa.int64())]))
    t.append_snapshot([pa.table({"id": [1, 2]})], timestamp_ms=1700000000000)
    t.position_delete_snapshot(
        [(t.live_data_paths()[0], 0)], timestamp_ms=1700000100000
    )
    # simulate a HadoopCatalog table: hint points at the current version
    hint = os.path.join(root, "metadata", "version-hint.text")
    latest = im.latest_metadata_path(root)
    with open(hint, "w") as f:
        f.write(os.path.basename(latest).split(".")[0].lstrip("v"))

    result = compact_iceberg_table(spark, root, timestamp_ms=1700000200000)
    info = probe_table(spark, root)
    assert info.snapshotId == str(result["snapshot_id"])
    assert info.hasDeletes is False


def test_expire_never_drops_current_snapshot(tmp_path):
    """After a rollback the current snapshot may not be the newest by
    sequence — expiry must retain it or the table becomes unreadable."""
    import json

    import pyarrow as pa

    from cloudfloe_spark.sources import iceberg_meta as im
    from cloudfloe_spark.sources.iceberg_fixture import LocalIcebergTable
    from cloudfloe_spark.sources.snapshots import commit_metadata
    from cloudfloe_spark.sources.maintenance import expire_snapshots

    root = str(tmp_path / "rb")
    t = LocalIcebergTable(root, pa.schema([("id", pa.int64())]))
    s1 = t.append_snapshot([pa.table({"id": [1]})], timestamp_ms=1700000000000)
    s2 = t.append_snapshot([pa.table({"id": [2]})], timestamp_ms=1700000100000)
    # roll current back to s1

    def _edit(meta):
        meta["current-snapshot-id"] = s1

    commit_metadata(root, _edit)

    result = expire_snapshots(root, keep_last=1, timestamp_ms=1700000200000)
    assert s1 in result["kept"]  # current survives despite older sequence
    assert s2 in result["kept"]  # newest by sequence also kept
    assert result["expired"] == []
    im.resolve_snapshot(root)  # current still resolves


def test_orphan_sweep_safe_on_relocated_table(spark, tmp_path):
    """A table moved to a new directory records stale absolute URIs; the
    sweep must resolve references exactly like the reader (re-anchoring at
    the root) — classifying every live file as an orphan would destroy a
    table that still reads perfectly."""
    import shutil

    import pyarrow as pa

    from cloudfloe_spark.service.config import ConnectionConfig
    from cloudfloe_spark.service.engine import run_query
    from cloudfloe_spark.sources.iceberg_fixture import LocalIcebergTable
    from cloudfloe_spark.sources.maintenance import remove_orphan_files

    orig = str(tmp_path / "orig")
    t = LocalIcebergTable(orig, pa.schema([("id", pa.int64())]))
    t.append_snapshot([pa.table({"id": [1, 2, 3]})], timestamp_ms=1700000000000)
    moved = str(tmp_path / "moved")
    shutil.move(orig, moved)

    sweep = remove_orphan_files(moved, older_than_ms=0)
    assert sweep["removed"] == 0  # every file is live — nothing to sweep

    cfg = ConnectionConfig(
        storageType="local", endpoint="", accessKey="", secretKey="",
        tablePath=moved,
    )
    resp = run_query(
        spark, f"SELECT id FROM iceberg_scan('{moved}') ORDER BY id", cfg
    )
    assert [r[0] for r in resp.rows] == [1, 2, 3]
