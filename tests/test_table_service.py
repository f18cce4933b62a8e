"""Bin-pack partial compaction + the policy-driven table-service loop
(r9): `compact_small_files` rewrites ONLY the fragmented data files
(small-file-sized IO — `compact_iceberg_table` remains the whole-table
layout rewrite), and `maintain_iceberg_table` composes
bin-pack → delete-rewrite → manifest-rewrite → expiry behind metadata
triggers, the loop a 100-TB deployment schedules.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pytest

from cloudfloe_spark.service.config import ConnectionConfig
from cloudfloe_spark.service.engine import run_query
from cloudfloe_spark.sources import iceberg_meta as im
from cloudfloe_spark.sources.iceberg_fixture import LocalIcebergTable
from cloudfloe_spark.sources.maintenance import (
    compact_small_files,
    delete_where,
    maintain_iceberg_table,
)

T1 = 1700000000000


def _cfg():
    return ConnectionConfig(
        storageType="local", endpoint="", accessKey="", secretKey=""
    )


def _rows(spark, sql):
    return [tuple(r) for r in run_query(spark, sql, _cfg()).rows]


def _live_paths(root):
    return sorted(im.live_data_paths(root, im.resolve_snapshot(root)))


@pytest.fixture()
def fragmented_table(tmp_path):
    """One big file (10k rows) + 6 tiny files (5 rows each)."""
    root = str(tmp_path / "t")
    t = LocalIcebergTable(
        root, pa.schema([("id", pa.int64()), ("v", pa.int64())])
    )
    batches = [
        pa.table(
            {"id": list(range(10_000)), "v": [i % 97 for i in range(10_000)]}
        )
    ]
    for j in range(6):
        ids = list(range(10_000 + j * 5, 10_000 + (j + 1) * 5))
        batches.append(pa.table({"id": ids, "v": [1] * 5}))
    t.append_snapshot(batches, timestamp_ms=T1)
    return root


def test_compact_small_files_rewrites_only_small(spark, fragmented_table):
    root = fragmented_table
    before = _live_paths(root)
    assert len(before) == 7
    big = max(before, key=lambda p: im.live_data_stats(
        root, im.resolve_snapshot(root))[p]["records"])
    # a delete inside a SMALL file must survive the rewrite (MOR applied)
    delete_where(spark, root, "id = 10001", timestamp_ms=T1 + 500)
    res = compact_small_files(
        spark, root, timestamp_ms=T1 + 1000,
        small_file_bytes=16 * 1024, min_files=2,
    )
    assert res["files_rewritten"] == 6
    assert res["snapshot_id"] is not None
    after = _live_paths(root)
    # the big file is carried VERBATIM; the 6 small ones are gone
    assert big in after
    assert not (set(after) & (set(before) - {big}))
    got = _rows(spark, f"SELECT COUNT(*), SUM(id) FROM iceberg_scan('{root}')")
    # 10030 rows minus the one deleted
    exp_n = 10_029
    exp_sum = sum(range(10_030)) - 10001
    assert got == [(exp_n, exp_sum)]


def test_compact_small_files_below_threshold_is_noop(spark, tmp_path):
    root = str(tmp_path / "t")
    t = LocalIcebergTable(root, pa.schema([("id", pa.int64())]))
    t.append_snapshot([pa.table({"id": [1, 2, 3]})], timestamp_ms=T1)
    res = compact_small_files(
        spark, root, timestamp_ms=T1 + 1000, min_files=2
    )
    assert res["snapshot_id"] is None and res["files_rewritten"] == 0
    assert len(im.load_metadata(root)["snapshots"]) == 1


def test_maintain_runs_triggered_steps_and_is_idempotent(
    spark, fragmented_table
):
    root = fragmented_table
    # fragment the delete-file layer too: 5 point deletes = 5 delete files
    for j in range(5):
        delete_where(spark, root, f"id = {j * 3}", timestamp_ms=T1 + 500 + j)

    # dry run: reports triggers, commits nothing
    n_snaps = len(im.load_metadata(root)["snapshots"])
    rep = maintain_iceberg_table(
        spark, root, timestamp_ms=T1 + 1000,
        small_file_bytes=16 * 1024, min_small_files=4,
        max_delete_files=4, max_manifests=3, dry_run=True,
    )
    assert rep["compact_small_files"]["ran"] is False
    assert "6 files under" in rep["compact_small_files"]["reason"]
    assert rep["rewrite_position_deletes"]["ran"] is False
    assert rep["expire_snapshots"]["ran"] is False
    assert len(im.load_metadata(root)["snapshots"]) == n_snaps

    before_rows = _rows(
        spark, f"SELECT COUNT(*), SUM(id) FROM iceberg_scan('{root}')"
    )
    rep = maintain_iceberg_table(
        spark, root, timestamp_ms=T1 + 2000,
        small_file_bytes=16 * 1024, min_small_files=4,
        max_delete_files=4, max_manifests=3,
    )
    assert rep["compact_small_files"]["ran"] is True
    assert rep["compact_small_files"]["files_rewritten"] == 6
    assert rep["rewrite_position_deletes"]["ran"] is True
    assert rep["rewrite_position_deletes"]["files_after"] <= 1
    # the delete-rewrite commit consolidates manifests as a side effect,
    # so the manifest trigger correctly reads "already tidy" — each step
    # re-evaluates against its predecessors' commits
    assert rep["rewrite_manifests"]["ran"] is False
    assert rep["expire_snapshots"]["ran"] is False
    # rows identical through the whole service pass
    assert _rows(
        spark, f"SELECT COUNT(*), SUM(id) FROM iceberg_scan('{root}')"
    ) == before_rows

    # a second pass triggers NOTHING (idempotent)
    rep2 = maintain_iceberg_table(
        spark, root, timestamp_ms=T1 + 3000,
        small_file_bytes=16 * 1024, min_small_files=4,
        max_delete_files=4, max_manifests=3,
    )
    assert not any(
        rep2[k]["ran"]
        for k in ("compact_small_files", "rewrite_position_deletes",
                  "rewrite_manifests", "expire_snapshots")
    )


def test_maintain_manifest_trigger_alone(spark, fragmented_table):
    """With the other layers tidy (thresholds effectively off), a long
    DML chain's delta manifests alone trip the manifest step."""
    root = fragmented_table
    for j in range(5):
        delete_where(spark, root, f"id = {j * 3}", timestamp_ms=T1 + 500 + j)
    rep = maintain_iceberg_table(
        spark, root, timestamp_ms=T1 + 2000,
        min_small_files=99, max_delete_files=99, max_manifests=3,
    )
    assert rep["compact_small_files"]["ran"] is False
    assert rep["rewrite_position_deletes"]["ran"] is False
    assert rep["rewrite_manifests"]["ran"] is True
    assert rep["rewrite_manifests"]["manifests_after"] <= 2
    got = _rows(spark, f"SELECT COUNT(*) FROM iceberg_scan('{root}')")
    assert got == [(10_025,)]


def test_maintain_expiry_runs_when_policy_given(spark, fragmented_table):
    root = fragmented_table
    delete_where(spark, root, "id = 1", timestamp_ms=T1 + 500)
    n_before = len(im.load_metadata(root)["snapshots"])
    assert n_before >= 2
    rep = maintain_iceberg_table(
        spark, root, timestamp_ms=T1 + 1000,
        min_small_files=99, max_delete_files=99, max_manifests=99,
        expire_keep_last=1,
    )
    assert rep["expire_snapshots"]["ran"] is True
    assert len(im.load_metadata(root)["snapshots"]) == 1
    got = _rows(spark, f"SELECT COUNT(*) FROM iceberg_scan('{root}')")
    assert got == [(10_029,)]


def test_service_pass_refreshes_stale_statistics(spark, tmp_path):
    """r12: the table-service loop keeps an EXISTING stats opt-in fresh
    — stale statistics/partition-statistics re-run; tables that never
    analyzed are left alone; dry_run only reports."""
    import pyarrow as pa

    from cloudfloe_spark.sources import iceberg_meta as im
    from cloudfloe_spark.sources.iceberg_fixture import LocalIcebergTable
    from cloudfloe_spark.sources.maintenance import (
        analyze_iceberg_table,
        compute_partition_stats,
        delete_where,
        maintain_iceberg_table,
    )

    root = str(tmp_path / "svc")
    t = LocalIcebergTable(root, pa.schema([("id", pa.int64())]))
    t.append_snapshot([pa.table({"id": list(range(10))})], timestamp_ms=T1)
    # no stats yet: the loop must NOT start analyzing on its own
    rep = maintain_iceberg_table(spark, root, timestamp_ms=T1 + 1000)
    assert rep["analyze_iceberg_table"]["ran"] is False
    assert "opt-in" in rep["analyze_iceberg_table"]["reason"]
    # opt in, then go stale
    analyze_iceberg_table(spark, root, timestamp_ms=T1 + 2000)
    compute_partition_stats(root, timestamp_ms=T1 + 3000)
    delete_where(spark, root, "id = 1", timestamp_ms=T1 + 4000)
    dry = maintain_iceberg_table(
        spark, root, timestamp_ms=T1 + 5000, dry_run=True
    )
    assert dry["analyze_iceberg_table"]["ran"] is False
    assert "stale" in dry["analyze_iceberg_table"]["reason"]
    rep2 = maintain_iceberg_table(spark, root, timestamp_ms=T1 + 6000)
    assert rep2["analyze_iceberg_table"]["ran"] is True
    assert rep2["compute_partition_stats"]["ran"] is True
    meta = im.load_metadata(root)
    cur = meta["current-snapshot-id"]
    assert any(
        e["snapshot-id"] == cur for e in meta["statistics"]
    )
    assert any(
        e["snapshot-id"] == cur for e in meta["partition-statistics"]
    )
    # idempotent: a second pass triggers nothing
    rep3 = maintain_iceberg_table(spark, root, timestamp_ms=T1 + 7000)
    assert rep3["analyze_iceberg_table"]["ran"] is False
    assert rep3["compute_partition_stats"]["ran"] is False


def test_service_stats_refresh_preserves_column_subset(spark, tmp_path):
    """r13 (ADVICE r12): the stats-freshness step refreshes the SAME
    column set the operator's last ANALYZE chose — a deliberate subset
    must not silently widen to every analyzable column."""
    from cloudfloe_spark.sources.maintenance import analyze_iceberg_table

    root = str(tmp_path / "svc_subset")
    t = LocalIcebergTable(
        root, pa.schema([("id", pa.int64()), ("name", pa.string())])
    )
    t.append_snapshot(
        [pa.table({"id": [1, 2, 3], "name": ["a", "b", "c"]})],
        timestamp_ms=T1,
    )
    analyze_iceberg_table(
        spark, root, timestamp_ms=T1 + 1000, columns=["id"]
    )
    delete_where(spark, root, "id = 2", timestamp_ms=T1 + 2000)
    rep = maintain_iceberg_table(spark, root, timestamp_ms=T1 + 3000)
    assert rep["analyze_iceberg_table"]["ran"] is True
    assert rep["analyze_iceberg_table"]["columns"] == ["id"]
    meta = im.load_metadata(root)
    cur = meta["current-snapshot-id"]
    entry = [e for e in meta["statistics"] if e["snapshot-id"] == cur][0]
    cols = {
        b["properties"]["cloudfloe.column"]
        for b in entry["blob-metadata"]
    }
    assert cols == {"id"}


def test_service_stats_refresh_unrunnable_reports_skip(spark, tmp_path):
    """r13 (ADVICE r12): when the previously-analyzed column no longer
    exists, the freshness step reports {ran: False, reason} instead of
    failing the whole maintenance pass."""
    from cloudfloe_spark.sources.maintenance import analyze_iceberg_table

    from cloudfloe_spark.sources.snapshots import commit_metadata

    root = str(tmp_path / "svc_dropped")
    t = LocalIcebergTable(
        root, pa.schema([("id", pa.int64()), ("name", pa.string())])
    )
    t.append_snapshot(
        [pa.table({"id": [1, 2], "name": ["a", "b"]})], timestamp_ms=T1
    )
    analyze_iceberg_table(
        spark, root, timestamp_ms=T1 + 1000, columns=["id"]
    )
    # simulate the analyzed column disappearing from the schema: point
    # the registered blob at a name (and field id) that no longer
    # resolves, then go stale

    def _edit(meta):
        blob = meta["statistics"][-1]["blob-metadata"][0]
        blob["properties"]["cloudfloe.column"] = "gone"
        blob["fields"] = [9999]
        meta["last-updated-ms"] = T1 + 1500

    commit_metadata(root, _edit)
    delete_where(spark, root, "id = 2", timestamp_ms=T1 + 2000)
    rep = maintain_iceberg_table(spark, root, timestamp_ms=T1 + 4000)
    step = rep["analyze_iceberg_table"]
    assert step["ran"] is False
    assert "not runnable" in step["reason"]


def test_partition_stats_identity_fields_keep_source_types(tmp_path):
    """r13 (ADVICE r12): identity partition fields in the written
    partition-statistics struct carry the SOURCE column type (long →
    int64, date → date32), not strings."""
    import datetime as dt

    import pyarrow.parquet as pq

    from cloudfloe_spark.sources.maintenance import compute_partition_stats

    root = str(tmp_path / "pstats_typed")
    t = LocalIcebergTable(
        root,
        pa.schema(
            [
                ("id", pa.int64()),
                ("day", pa.date32()),
                ("v", pa.float64()),
            ]
        ),
        partition_by=[("id", "identity"), ("day", "identity")],
    )
    d0 = dt.date(2024, 1, 1)
    t.append_snapshot(
        [
            pa.table(
                {
                    "id": [1, 1, 2],
                    "day": [d0, d0, dt.date(2024, 3, 5)],
                    "v": [0.5, 1.5, 2.5],
                }
            )
        ],
        timestamp_ms=T1,
    )
    res = compute_partition_stats(root, timestamp_ms=T1 + 1000)
    tbl = pq.read_table(res["statistics_path"])
    part_t = tbl.schema.field("partition").type
    assert part_t.field("id").type == pa.int64()
    assert part_t.field("day").type == pa.date32()
    rows = sorted(
        tbl.to_pylist(), key=lambda r: (r["partition"]["id"],
                                        str(r["partition"]["day"]))
    )
    assert rows[0]["partition"] == {"id": 1, "day": d0}
    assert rows[0]["data_record_count"] == 2
    assert rows[1]["partition"] == {"id": 2, "day": dt.date(2024, 3, 5)}


def test_incremental_analyze_appends_union_exactly(spark, tmp_path):
    """r13 (VERDICT r12 #6): after an append-only delta, ANALYZE with
    incremental=True scans only the new files and unions partials into
    the previous blobs — the resulting sketches, ndv, null counts and
    row count are IDENTICAL to a full recompute."""
    from cloudfloe_spark.sources import puffin as pf
    from cloudfloe_spark.sources.maintenance import (
        analyze_iceberg_table,
        delete_where,
    )

    def _stats_image(root):
        meta = im.load_metadata(root)
        cur = meta["current-snapshot-id"]
        entry = [
            e for e in meta["statistics"] if e["snapshot-id"] == cur
        ][0]
        p = entry["statistics-path"].removeprefix("file://")
        footer = pf.read_puffin_footer(p)
        out = {"rows": footer["properties"]["cloudfloe.row-count"]}
        for b in footer["blobs"]:
            if b["type"] != "apache-datasketches-theta-v1":
                continue  # r14: per-file partial cache blobs
            c = b["properties"]["cloudfloe.column"]
            out[c] = (
                pf.read_blob(p, b["offset"], b["length"]),
                b["properties"]["ndv"],
                b["properties"]["cloudfloe.null-count"],
            )
        return out

    root = str(tmp_path / "inc")
    t = LocalIcebergTable(
        root, pa.schema([("id", pa.int64()), ("name", pa.string())])
    )
    t.append_snapshot(
        [
            pa.table(
                {
                    "id": list(range(100)),
                    "name": [f"n{i % 7}" for i in range(100)],
                }
            )
        ],
        timestamp_ms=T1,
    )
    analyze_iceberg_table(spark, root, timestamp_ms=T1 + 1000)
    # append-only delta (delete_where-free path preserves statistics
    # through the commit point — use the commit helper)
    from cloudfloe_spark.sources.iceberg_fixture import (
        commit_row_delta_snapshot,
    )
    import pyarrow.parquet as pq

    new_path = os.path.join(root, "data", "extra-00001.parquet")
    pq.write_table(
        pa.table(
            {
                "id": list(range(100, 150)),
                "name": [None if i % 10 == 0 else f"m{i}" for i in
                         range(50)],
            },
            schema=pa.schema([("id", pa.int64()), ("name", pa.string())]),
        ),
        new_path,
    )
    commit_row_delta_snapshot(
        root, new_data_files=[(new_path, 50)], timestamp_ms=T1 + 2000
    )
    r_inc = analyze_iceberg_table(
        spark, root, timestamp_ms=T1 + 3000, incremental=True
    )
    assert r_inc["mode"] == "incremental"
    inc_image = _stats_image(root)
    # full recompute at the same snapshot must be bit-identical
    r_full = analyze_iceberg_table(spark, root, timestamp_ms=T1 + 4000)
    assert r_full["mode"] == "full"
    assert _stats_image(root) == inc_image
    assert inc_image["rows"] == "150"

    # a delete makes the delta unsound: incremental falls back to full
    delete_where(spark, root, "id = 0", timestamp_ms=T1 + 5000)
    r3 = analyze_iceberg_table(
        spark, root, timestamp_ms=T1 + 6000, incremental=True
    )
    assert r3["mode"] == "full"
    assert r3["row_count"] == 149


def test_incremental_analyze_survives_removals_via_partial_cache(
    spark, tmp_path
):
    """r14 (VERDICT r13 #7): the stats Puffin carries per-FILE partial
    sketches; after a COW rewrite removes one file, incremental ANALYZE
    unions the SURVIVING files' cached partials with a scan of the new
    file only — mode 'incremental-removal', result bit-identical to a
    full recompute."""
    from cloudfloe_spark.sources import puffin as pf
    from cloudfloe_spark.sources.maintenance import (
        analyze_iceberg_table,
        delete_where,
    )

    def _stats_image(root):
        meta = im.load_metadata(root)
        cur = meta["current-snapshot-id"]
        entry = [
            e for e in meta["statistics"] if e["snapshot-id"] == cur
        ][0]
        p = entry["statistics-path"].removeprefix("file://")
        footer = pf.read_puffin_footer(p)
        out = {"rows": footer["properties"]["cloudfloe.row-count"]}
        for b in footer["blobs"]:
            if b["type"] != "apache-datasketches-theta-v1":
                continue
            c = b["properties"]["cloudfloe.column"]
            out[c] = (
                pf.read_blob(p, b["offset"], b["length"]),
                b["properties"]["ndv"],
                b["properties"]["cloudfloe.null-count"],
            )
        return out

    root = str(tmp_path / "rmcache")
    t = LocalIcebergTable(
        root, pa.schema([("id", pa.int64()), ("name", pa.string())])
    )
    # two files in one snapshot: one will survive the COW, one won't
    t.append_snapshot(
        [
            pa.table({"id": list(range(60)),
                      "name": [f"a{i % 11}" for i in range(60)]}),
            pa.table({"id": list(range(60, 120)),
                      "name": [None if i % 9 == 0 else f"b{i % 13}"
                               for i in range(60)]}),
        ],
        timestamp_ms=T1,
    )
    analyze_iceberg_table(spark, root, timestamp_ms=T1 + 1000)
    # the cache landed: partial blobs per (file, column)
    meta = im.load_metadata(root)
    entry = meta["statistics"][0]
    p0 = entry["statistics-path"].removeprefix("file://")
    footer0 = pf.read_puffin_footer(p0)
    partials = [
        b for b in footer0["blobs"]
        if b["type"] == "cloudfloe-partial-theta-v1"
    ]
    assert len(partials) == 2 * 2  # 2 files x 2 columns
    # partial blobs are NOT advertised in the table metadata
    assert all(
        bm["type"] == "apache-datasketches-theta-v1"
        for bm in entry["blob-metadata"]
    )

    # COW delete: one file rewritten (removed + replaced), one survives
    r = delete_where(spark, root, "id = 70", timestamp_ms=T1 + 2000,
                     mode="copy-on-write")
    assert r["files_rewritten"] == 1
    r_inc = analyze_iceberg_table(
        spark, root, timestamp_ms=T1 + 3000, incremental=True
    )
    assert r_inc["mode"] == "incremental-removal"
    assert r_inc["row_count"] == 119
    inc_image = _stats_image(root)
    r_full = analyze_iceberg_table(spark, root, timestamp_ms=T1 + 4000)
    assert r_full["mode"] == "full"
    assert _stats_image(root) == inc_image

    # a MOR delete (delete records change on a surviving file) must
    # fall back to full — cached partials are MOR-applied at build time
    delete_where(spark, root, "id = 3", timestamp_ms=T1 + 5000)
    r2 = analyze_iceberg_table(
        spark, root, timestamp_ms=T1 + 6000, incremental=True
    )
    assert r2["mode"] == "full"
    assert r2["row_count"] == 118


def test_incremental_analyze_survives_renames_and_defaults(
    spark, tmp_path
):
    """r15 late (lifting the r13 bail): a column RENAME between two
    ANALYZE runs no longer forces a full recompute — main blobs resolve
    by FIELD ID, cached partial blobs translate their written-name keys
    through the name history, and the new-file scan resolves each
    file's write-time on-disk names via scan_groups (including a
    post-stats file still written under the OLD name, and the v3
    default fill for a file lacking a defaulted column). Incremental
    output must be bit-identical to a full recompute."""
    import pyarrow.parquet as pq

    from cloudfloe_spark.sources import puffin as pf
    from cloudfloe_spark.sources.iceberg_fixture import (
        commit_row_delta_snapshot,
        rename_column_on_disk,
    )
    from cloudfloe_spark.sources.maintenance import analyze_iceberg_table

    def _stats_image(root):
        meta = im.load_metadata(root)
        cur = meta["current-snapshot-id"]
        entry = [
            e for e in meta["statistics"] if e["snapshot-id"] == cur
        ][0]
        p = entry["statistics-path"].removeprefix("file://")
        footer = pf.read_puffin_footer(p)
        out = {"rows": footer["properties"]["cloudfloe.row-count"]}
        for b in footer["blobs"]:
            if b["type"] != "apache-datasketches-theta-v1":
                continue
            out[b["properties"]["cloudfloe.column"]] = (
                pf.read_blob(p, b["offset"], b["length"]),
                b["properties"]["ndv"],
                b["properties"]["cloudfloe.null-count"],
            )
        return out

    root = str(tmp_path / "rencache")
    t = LocalIcebergTable(
        root, pa.schema([("id", pa.int64()), ("name", pa.string())])
    )
    # file1 predates the defaulted column
    t.append_snapshot(
        [
            pa.table({"id": list(range(50)),
                      "name": [f"a{i % 11}" for i in range(50)]}),
        ],
        timestamp_ms=T1,
    )
    t.add_column("rank", pa.int64(), timestamp_ms=T1 + 500, default=5)
    # file2 carries it physically
    t.append_snapshot(
        [
            pa.table({"id": list(range(50, 90)),
                      "name": [f"b{i % 7}" for i in range(40)],
                      "rank": [i % 3 for i in range(40)]}),
        ],
        timestamp_ms=T1 + 700,
    )
    analyze_iceberg_table(spark, root, timestamp_ms=T1 + 1000)
    # metadata-only rename AFTER the stats landed
    rename_column_on_disk(root, "id", "doc_id", timestamp_ms=T1 + 1500)
    # a post-stats file from an OLD-schema writer: old column name,
    # defaulted column absent — the delta scan must rename AND fill
    new_path = os.path.join(root, "data", "oldname-00001.parquet")
    pq.write_table(
        pa.table(
            {"id": list(range(90, 120)),
             "name": [None if i % 6 == 0 else f"c{i}" for i in
                      range(30)]},
            schema=pa.schema(
                [("id", pa.int64()), ("name", pa.string())]
            ),
        ),
        new_path,
    )
    commit_row_delta_snapshot(
        root, new_data_files=[(new_path, 30)], timestamp_ms=T1 + 2000
    )
    r_inc = analyze_iceberg_table(
        spark, root, timestamp_ms=T1 + 3000, incremental=True
    )
    assert r_inc["mode"] == "incremental"
    assert r_inc["row_count"] == 120
    inc_image = _stats_image(root)
    assert set(inc_image) == {"rows", "doc_id", "name", "rank"}
    r_full = analyze_iceberg_table(spark, root, timestamp_ms=T1 + 4000)
    assert r_full["mode"] == "full"
    assert _stats_image(root) == inc_image

    # removal path through the rename: a COW delete on the renamed
    # surface rewrites one file; surviving cached partials still
    # translate and the rescan resolves names per group
    r = delete_where(
        spark, root, "doc_id = 95", timestamp_ms=T1 + 5000,
        mode="copy-on-write",
    )
    assert r["files_rewritten"] == 1
    r_rm = analyze_iceberg_table(
        spark, root, timestamp_ms=T1 + 6000, incremental=True
    )
    assert r_rm["mode"] == "incremental-removal"
    assert r_rm["row_count"] == 119
    rm_image = _stats_image(root)
    r_full2 = analyze_iceberg_table(spark, root, timestamp_ms=T1 + 7000)
    assert r_full2["mode"] == "full"
    assert _stats_image(root) == rm_image


def test_incremental_analyze_ns_table_hashes_consistently(spark, tmp_path):
    """r14 review finding: the full pass sketches ns columns through
    the µs read surface, but the incremental new-file scan used to read
    raw BIGINT ns longs — identical instants hashed differently and the
    merged NDV silently inflated. The delta scan now applies the read
    path's exact conversion; incremental output must be bit-identical
    to a full recompute."""
    import pyarrow.parquet as pq

    from cloudfloe_spark.sources import puffin as pf
    from cloudfloe_spark.sources.iceberg_fixture import (
        commit_row_delta_snapshot,
    )
    from cloudfloe_spark.sources.maintenance import analyze_iceberg_table

    def _blob_image(root):
        meta = im.load_metadata(root)
        cur = meta["current-snapshot-id"]
        entry = [
            e for e in meta["statistics"] if e["snapshot-id"] == cur
        ][0]
        p = entry["statistics-path"].removeprefix("file://")
        footer = pf.read_puffin_footer(p)
        return {
            b["properties"]["cloudfloe.column"]: (
                pf.read_blob(p, b["offset"], b["length"]),
                b["properties"]["ndv"],
            )
            for b in footer["blobs"]
            if b["type"] == "apache-datasketches-theta-v1"
        }

    base_ns = 1_700_000_000_000_000_000
    root = str(tmp_path / "nsndv")
    t = LocalIcebergTable(
        root,
        pa.schema([("id", pa.int64()), ("ts", pa.timestamp("ns"))]),
    )
    t.append_snapshot(
        [
            pa.table(
                {
                    "id": list(range(40)),
                    "ts": pa.array(
                        [base_ns + (i % 10) * 1000 for i in range(40)],
                        pa.timestamp("ns"),
                    ),
                }
            )
        ],
        timestamp_ms=T1,
    )
    analyze_iceberg_table(spark, root, timestamp_ms=T1 + 1000)
    # append a file REPEATING existing instants: the true ts NDV stays 10
    extra = os.path.join(root, "data", "ns-extra.parquet")
    pq.write_table(
        pa.table(
            {
                "id": pa.array(list(range(40, 60)), pa.int64()),
                "ts": pa.array(
                    [base_ns + (i % 10) * 1000 for i in range(20)],
                    pa.timestamp("ns"),
                ),
            }
        ),
        extra,
    )
    commit_row_delta_snapshot(
        root, new_data_files=[(extra, 20)], timestamp_ms=T1 + 2000
    )
    r_inc = analyze_iceberg_table(
        spark, root, timestamp_ms=T1 + 3000, incremental=True
    )
    assert r_inc["mode"] == "incremental"
    inc_image = _blob_image(root)
    # an inconsistent encoding would have doubled this to ~20
    assert int(inc_image["ts"][1]) == 10, inc_image["ts"][1]
    analyze_iceberg_table(spark, root, timestamp_ms=T1 + 4000)
    assert _blob_image(root) == inc_image


def test_incremental_analyze_rejects_stale_hash_encoding(spark, tmp_path):
    """ADVICE r13: blobs hashed under an older single-value encoding
    (negative exact powers of two changed length in v2) must not be
    unioned with new partials — a registered stats file without the
    current ``cloudfloe.hash-encoding`` stamp forces a full recompute."""
    from cloudfloe_spark.sources import puffin as pf
    from cloudfloe_spark.sources.iceberg_fixture import (
        commit_row_delta_snapshot,
    )
    from cloudfloe_spark.sources.maintenance import analyze_iceberg_table
    import pyarrow.parquet as pq

    root = str(tmp_path / "stale")
    t = LocalIcebergTable(root, pa.schema([("id", pa.int64())]))
    t.append_snapshot(
        [pa.table({"id": list(range(50))})], timestamp_ms=T1
    )
    analyze_iceberg_table(spark, root, timestamp_ms=T1 + 1000)

    # strip the encoding stamp in place — simulates a pre-v2 writer
    meta = im.load_metadata(root)
    entry = meta["statistics"][0]
    p = entry["statistics-path"].removeprefix("file://")
    footer = pf.read_puffin_footer(p)
    blobs = [
        {
            **{k: v for k, v in b.items() if k not in ("offset", "length")},
            "data": pf.read_blob(p, b["offset"], b["length"]),
        }
        for b in footer["blobs"]
    ]
    props = dict(footer["properties"])
    props.pop("cloudfloe.hash-encoding")
    pf.write_puffin(p, blobs, file_properties=props)

    new_path = os.path.join(root, "data", "extra-stale-1.parquet")
    pq.write_table(pa.table({"id": list(range(50, 80))}), new_path)
    commit_row_delta_snapshot(
        root, new_data_files=[(new_path, 30)], timestamp_ms=T1 + 2000
    )
    r = analyze_iceberg_table(
        spark, root, timestamp_ms=T1 + 3000, incremental=True
    )
    assert r["mode"] == "full"
    assert r["row_count"] == 80


def test_service_stats_refresh_runs_incremental(spark, tmp_path):
    """The table-service freshness step takes the delta path on an
    append-only history."""
    from cloudfloe_spark.sources.iceberg_fixture import (
        commit_row_delta_snapshot,
    )
    from cloudfloe_spark.sources.maintenance import analyze_iceberg_table
    import pyarrow.parquet as pq

    root = str(tmp_path / "svc_inc")
    t = LocalIcebergTable(root, pa.schema([("id", pa.int64())]))
    t.append_snapshot(
        [pa.table({"id": list(range(20))})], timestamp_ms=T1
    )
    analyze_iceberg_table(spark, root, timestamp_ms=T1 + 1000)
    new_path = os.path.join(root, "data", "extra-00002.parquet")
    pq.write_table(
        pa.table({"id": list(range(20, 30))},
                 schema=pa.schema([("id", pa.int64())])),
        new_path,
    )
    commit_row_delta_snapshot(
        root, new_data_files=[(new_path, 10)], timestamp_ms=T1 + 2000
    )
    rep = maintain_iceberg_table(spark, root, timestamp_ms=T1 + 3000)
    step = rep["analyze_iceberg_table"]
    assert step["ran"] is True
    assert step["mode"] == "incremental"
    assert step["row_count"] == 30


def _cache_stats_image(root):
    """(main-blob image, cache form counts) of the current snapshot's
    registered stats file."""
    from cloudfloe_spark.sources import puffin as pf

    meta = im.load_metadata(root)
    cur = meta["current-snapshot-id"]
    entry = [
        e for e in meta["statistics"] if e["snapshot-id"] == cur
    ][0]
    p = entry["statistics-path"].removeprefix("file://")
    footer = pf.read_puffin_footer(p)
    image = {"rows": footer["properties"]["cloudfloe.row-count"]}
    counts = {"file": 0, "group": 0, "gfiles": 0}
    group_blob_bytes = {}
    for b in footer["blobs"]:
        t = b["type"]
        if t == "apache-datasketches-theta-v1":
            c = b["properties"]["cloudfloe.column"]
            image[c] = (
                pf.read_blob(p, b["offset"], b["length"]),
                b["properties"]["ndv"],
                b["properties"]["cloudfloe.null-count"],
            )
        elif t == "cloudfloe-partial-theta-v1":
            counts["file"] += 1
        elif t == "cloudfloe-partial-theta-group-v1":
            counts["group"] += 1
            gid = b["properties"]["cloudfloe.group"]
            c = b["properties"]["cloudfloe.column"]
            group_blob_bytes[(gid, c)] = pf.read_blob(
                p, b["offset"], b["length"]
            )
        elif t == "cloudfloe-partial-group-files-v1":
            counts["gfiles"] += 1
    return image, counts, group_blob_bytes


def test_analyze_group_cache_bit_identical(spark, tmp_path):
    """r15 (VERDICT r14 #5): past the per-file cap the partial cache
    switches to GROUPED sketches (merged per ~manifest chunk + zlib'd
    membership); a removal refresh then carries fully surviving groups
    VERBATIM and rescans only the demoted group's surviving members —
    main blobs stay bit-identical to a full recompute."""
    import cloudfloe_spark.sources.maintenance as mt
    from cloudfloe_spark.sources.maintenance import analyze_iceberg_table

    root = str(tmp_path / "grpcache")
    t = LocalIcebergTable(
        root, pa.schema([("id", pa.int64()), ("name", pa.string())])
    )
    # 6 files; group chunking forced small so several groups form
    t.append_snapshot(
        [
            pa.table(
                {
                    "id": list(range(j * 40, (j + 1) * 40)),
                    "name": [f"v{(j * 40 + i) % 17}" for i in range(40)],
                }
            )
            for j in range(6)
        ],
        timestamp_ms=T1,
    )
    old_target = mt._GROUP_TARGET_FILES
    mt._GROUP_TARGET_FILES = 2
    try:
        analyze_iceberg_table(
            spark, root, timestamp_ms=T1 + 1000, cache_mode="group"
        )
        image0, counts0, gbytes0 = _cache_stats_image(root)
        # 6 files / 2 per group = 3 groups x 2 cols + 3 membership blobs
        assert counts0 == {"file": 0, "group": 6, "gfiles": 3}

        # COW delete rewrites ONE file: its group demotes (surviving
        # member rescanned), the other groups carry verbatim
        r = delete_where(
            spark, root, "id = 70", timestamp_ms=T1 + 2000,
            mode="copy-on-write",
        )
        assert r["files_rewritten"] == 1
        r_inc = analyze_iceberg_table(
            spark, root, timestamp_ms=T1 + 3000, incremental=True,
            cache_mode="group",
        )
        assert r_inc["mode"] == "incremental-removal"
        assert r_inc["row_count"] == 239
        image1, counts1, gbytes1 = _cache_stats_image(root)
        # untouched groups' sketch bytes carried VERBATIM
        carried = set(gbytes0) & set(gbytes1)
        assert len(carried) >= 4  # 2 untouched groups x 2 cols
        assert all(gbytes0[k] == gbytes1[k] for k in carried)

        # bit-identical to a full recompute at the same snapshot
        r_full = analyze_iceberg_table(
            spark, root, timestamp_ms=T1 + 4000, cache_mode="group"
        )
        assert r_full["mode"] == "full"
        image2, _c2, _g2 = _cache_stats_image(root)
        assert image1 == image2

        # append-only refresh carries the group cache forward too
        import pyarrow.parquet as pq

        from cloudfloe_spark.sources.iceberg_fixture import (
            commit_row_delta_snapshot,
        )

        extra = os.path.join(root, "data", "grp-extra.parquet")
        pq.write_table(
            pa.table(
                {
                    "id": list(range(1000, 1040)),
                    "name": [f"w{i}" for i in range(40)],
                },
                schema=pa.schema(
                    [("id", pa.int64()), ("name", pa.string())]
                ),
            ),
            extra,
        )
        commit_row_delta_snapshot(
            root, new_data_files=[(extra, 40)], timestamp_ms=T1 + 5000
        )
        r_app = analyze_iceberg_table(
            spark, root, timestamp_ms=T1 + 6000, incremental=True,
            cache_mode="group",
        )
        assert r_app["mode"] == "incremental"
        assert r_app["row_count"] == 279
        image3, counts3, _g3 = _cache_stats_image(root)
        assert counts3["group"] > 0 and counts3["file"] == 0
        r_full2 = analyze_iceberg_table(
            spark, root, timestamp_ms=T1 + 7000, cache_mode="group"
        )
        assert r_full2["mode"] == "full"
        image4, _c4, _g4 = _cache_stats_image(root)
        assert image3 == image4
    finally:
        mt._GROUP_TARGET_FILES = old_target


def test_analyze_auto_switches_to_group_past_file_cap(spark, tmp_path):
    """cache_mode='auto' keeps the r14 per-file form under the cap and
    switches to the group form past it — the removal refresh no longer
    silently degrades to a full rescan on large tables."""
    import cloudfloe_spark.sources.maintenance as mt
    from cloudfloe_spark.sources.maintenance import analyze_iceberg_table

    root = str(tmp_path / "autogrp")
    t = LocalIcebergTable(root, pa.schema([("id", pa.int64())]))
    t.append_snapshot(
        [pa.table({"id": list(range(j * 10, (j + 1) * 10))})
         for j in range(6)],
        timestamp_ms=T1,
    )
    old_cap = mt._PARTIAL_CACHE_MAX_FILES
    mt._PARTIAL_CACHE_MAX_FILES = 4  # 6 files > cap → group form
    try:
        analyze_iceberg_table(spark, root, timestamp_ms=T1 + 1000)
        _i0, counts0, _g0 = _cache_stats_image(root)
        assert counts0["file"] == 0 and counts0["group"] > 0

        r = delete_where(
            spark, root, "id = 5", timestamp_ms=T1 + 2000,
            mode="copy-on-write",
        )
        assert r["files_rewritten"] == 1
        r_inc = analyze_iceberg_table(
            spark, root, timestamp_ms=T1 + 3000, incremental=True
        )
        assert r_inc["mode"] == "incremental-removal"
        assert r_inc["row_count"] == 59
        i1, _c1, _g1 = _cache_stats_image(root)
        r_full = analyze_iceberg_table(spark, root, timestamp_ms=T1 + 4000)
        assert _cache_stats_image(root)[0] == i1
    finally:
        mt._PARTIAL_CACHE_MAX_FILES = old_cap


def test_analyze_cache_mode_none_and_validation(spark, tmp_path):
    """cache_mode='none' writes main blobs only; an unknown mode raises
    precisely."""
    from cloudfloe_spark.sources.maintenance import analyze_iceberg_table

    root = str(tmp_path / "nocache")
    t = LocalIcebergTable(root, pa.schema([("id", pa.int64())]))
    t.append_snapshot([pa.table({"id": [1, 2, 3]})], timestamp_ms=T1)
    analyze_iceberg_table(
        spark, root, timestamp_ms=T1 + 1000, cache_mode="none"
    )
    _i, counts, _g = _cache_stats_image(root)
    assert counts == {"file": 0, "group": 0, "gfiles": 0}
    with pytest.raises(ValueError, match="cache_mode"):
        analyze_iceberg_table(
            spark, root, timestamp_ms=T1 + 2000, cache_mode="bogus"
        )
