"""Iceberg v3 ``timestamp_ns`` / ``timestamptz_ns`` reads (r12, VERDICT
r11 #4): the batch scan reads the raw nanosecond longs (physical BIGINT
under ``spark.sql.legacy.parquet.nanosAsLong``) and truncates to
microsecond TIMESTAMP — toward zero, the SAME rule DuckDB applies
casting TIMESTAMP_NS to TIMESTAMP, which makes DuckDB the perfect
referee. Non-scan consumers (CDC, DML, streaming, changelog) keep a
precise rejection; files at the wrong physical precision (written
before a µs→ns promotion) 400 naming the file."""

from __future__ import annotations

import glob
import os

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from cloudfloe_spark.service.config import ConnectionConfig
from cloudfloe_spark.service.engine import run_query
from cloudfloe_spark.service.errors import CloudfloeError
from cloudfloe_spark.sources import iceberg_meta as im
from cloudfloe_spark.sources.iceberg_fixture import LocalIcebergTable
from cloudfloe_spark.sources.snapshots import commit_metadata

T1 = 1700000000000

# pre-epoch with sub-µs residue, post-epoch, far past, None — the
# corners where a truncation-rule mismatch with the oracle would show
NS_VALUES = [-1500, 1500, 1700000000123456789, -999999999123456789, None]


def _cfg():
    return ConnectionConfig(
        storageType="local", endpoint="", accessKey="", secretKey=""
    )


def _rows(spark, sql):
    return [tuple(r) for r in run_query(spark, sql, _cfg()).rows]


@pytest.fixture()
def ns_table(tmp_path):
    root = str(tmp_path / "t")
    t = LocalIcebergTable(
        root,
        pa.schema([("id", pa.int64()), ("ts", pa.timestamp("ns"))]),
    )
    t.append_snapshot(
        [
            pa.table(
                {
                    "id": list(range(1, len(NS_VALUES) + 1)),
                    "ts": pa.array(NS_VALUES, pa.timestamp("ns")),
                }
            )
        ],
        timestamp_ms=T1,
    )
    return root, t


def _duckdb_oracle(root, cast="TIMESTAMP"):
    files = glob.glob(
        os.path.join(root, "data", "**", "*.parquet"), recursive=True
    )
    con = duckdb.connect()
    return con.execute(
        f"SELECT id, CAST(ts AS {cast}) FROM read_parquet({files!r}) "
        "ORDER BY id"
    ).fetchall()


def test_ns_table_is_v3_with_ns_type(ns_table):
    root, _ = ns_table
    meta = im.load_metadata(root)
    assert meta["format-version"] == 3
    types = {f["name"]: f["type"] for f in meta["schemas"][0]["fields"]}
    assert types["ts"] == "timestamp_ns"


def test_ns_scan_matches_duckdb_truncation(spark, ns_table):
    """DuckDB reads the ns parquet natively and casts to µs — our scan
    must render byte-identical values, incl. pre-epoch truncation
    toward zero."""
    root, _ = ns_table
    got = _rows(
        spark, f"SELECT id, ts FROM iceberg_scan('{root}') ORDER BY id"
    )
    exp = [
        (r[0], r[1].isoformat() if r[1] is not None else None)
        for r in _duckdb_oracle(root)
    ]
    assert got == exp
    # the surfaced type is a real TIMESTAMP: date functions work
    agg = _rows(
        spark,
        f"SELECT count(*) FROM iceberg_scan('{root}') "
        "WHERE year(ts) = 2023",
    )
    assert agg == [(1,)]


def test_timestamptz_ns_scan(spark, tmp_path):
    root = str(tmp_path / "tz")
    t = LocalIcebergTable(
        root,
        pa.schema([("id", pa.int64()), ("ts", pa.timestamp("ns", tz="UTC"))]),
    )
    t.append_snapshot(
        [
            pa.table(
                {
                    "id": [1, 2],
                    "ts": pa.array(
                        [1700000000123456789, -1500],
                        pa.timestamp("ns", tz="UTC"),
                    ),
                }
            )
        ],
        timestamp_ms=T1,
    )
    meta = im.load_metadata(root)
    assert meta["schemas"][0]["fields"][1]["type"] == "timestamptz_ns"
    got = _rows(
        spark, f"SELECT id, ts FROM iceberg_scan('{root}') ORDER BY id"
    )
    assert got[0][1].startswith("2023-11-14T22:13:20.123456")
    assert got[1][1].startswith("1969-12-31T23:59:59.999999")


def test_ns_time_travel_and_empty_schema(spark, tmp_path):
    root = str(tmp_path / "tt")
    t = LocalIcebergTable(
        root, pa.schema([("id", pa.int64()), ("ts", pa.timestamp("ns"))])
    )
    t.append_snapshot(
        [pa.table({"id": [1], "ts": pa.array([1500], pa.timestamp("ns"))})],
        timestamp_ms=T1,
    )
    s0 = im.resolve_snapshot(root)["snapshot-id"]
    t.append_snapshot(
        [pa.table({"id": [2], "ts": pa.array([2500], pa.timestamp("ns"))})],
        timestamp_ms=T1 + 1000,
    )
    tt = _rows(
        spark,
        f"SELECT id, ts FROM iceberg_scan('{root}') VERSION AS OF {s0}",
    )
    assert tt == [(1, "1970-01-01T00:00:00.000001")]
    # empty snapshot: zero rows, TIMESTAMP-typed column
    root2 = str(tmp_path / "empty")
    t2 = LocalIcebergTable(
        root2, pa.schema([("id", pa.int64()), ("ts", pa.timestamp("ns"))])
    )
    t2.append_snapshot(
        [pa.table({"id": [1], "ts": pa.array([1500], pa.timestamp("ns"))})],
        timestamp_ms=T1,
    )
    paths = im.live_data_paths(root2, im.resolve_snapshot(root2))
    t2.append_snapshot([], remove=paths, timestamp_ms=T1 + 1000)
    got = run_query(
        spark, f"SELECT * FROM iceberg_scan('{root2}')", _cfg()
    )
    assert got.rows == []
    assert "ts" in got.columns


def test_ns_deletes_compose(spark, ns_table):
    """Coordinate-based deletes (position deletes) apply BEFORE the ns
    conversion — a deleted row never surfaces."""
    root, t = ns_table
    paths = im.live_data_paths(root, im.resolve_snapshot(root))
    t.position_delete_snapshot([(paths[0], 0)], timestamp_ms=T1 + 1000)
    got = _rows(spark, f"SELECT id FROM iceberg_scan('{root}') ORDER BY id")
    assert [r[0] for r in got] == [2, 3, 4, 5]


def test_ns_changelog_surfaces_and_dml_works(spark, ns_table):
    """r12 (late): the changelog surfaces convert ns to the µs
    TIMESTAMP surface (netting runs on the raw longs — exact). r13:
    DML over ns tables works (dedicated coverage in
    tests/test_variant_dml.py)."""
    root, t = ns_table
    s0 = im.resolve_snapshot(root)["snapshot-id"]
    t.append_snapshot(
        [
            pa.table(
                {
                    "id": [9],
                    "ts": pa.array(
                        [1700000000123456789], pa.timestamp("ns")
                    ),
                }
            )
        ],
        timestamp_ms=T1 + 1000,
    )
    s1 = im.resolve_snapshot(root)["snapshot-id"]
    cdc = _rows(
        spark,
        "SELECT id, ts, _change_type "
        f"FROM iceberg_cdc('{root}', {s0}, {s1})",
    )
    assert cdc == [(9, "2023-11-14T22:13:20.123456", "insert")]
    chg = _rows(
        spark,
        f"SELECT id, ts FROM iceberg_changes('{root}', {s0}, {s1})",
    )
    assert chg == [(9, "2023-11-14T22:13:20.123456")]
    from cloudfloe_spark.sources.maintenance import delete_where

    r = delete_where(spark, root, "id = 1", timestamp_ms=T1 + 2000)
    assert r["matched"] == 1
    got = _rows(spark, f"SELECT id FROM iceberg_scan('{root}') ORDER BY id")
    assert all(row[0] != 1 for row in got)


def test_ns_mixed_precision_file_rejects(spark, tmp_path):
    """A µs-physical file inside a ns table (the footprint of a v3
    µs→ns type promotion) must 400 naming the file — a raw-long read
    would misscale it by 1000×."""
    root = str(tmp_path / "promoted")
    t = LocalIcebergTable(
        root, pa.schema([("id", pa.int64()), ("ts", pa.timestamp("us"))])
    )
    t.append_snapshot(
        [pa.table({"id": [1], "ts": pa.array([1500], pa.timestamp("us"))})],
        timestamp_ms=T1,
    )

    def _edit(meta):
        for f in meta["schemas"][-1]["fields"]:
            if f["name"] == "ts":
                f["type"] = "timestamp_ns"  # simulate the promotion
        meta["format-version"] = 3

    commit_metadata(root, _edit)
    with pytest.raises(CloudfloeError) as ei:
        _rows(spark, f"SELECT * FROM iceberg_scan('{root}')")
    assert ei.value.status_code == 400
    assert "µs→ns type promotion" in str(ei.value)


def test_v3_unknown_type_reads_all_null(spark, tmp_path):
    """r12: the v3 `unknown` placeholder type (every value null by
    definition) surfaces as an all-NULL STRING column instead of a
    400."""
    root = str(tmp_path / "unk")
    t = LocalIcebergTable(root, pa.schema([("id", pa.int64())]))
    t.append_snapshot([pa.table({"id": [1, 2]})], timestamp_ms=T1)

    def _edit(meta):
        # the realistic unknown-column shape: ADDED by schema evolution (a
        # new schema id), the way engines introduce a not-yet-typed column
        import copy

        sch2 = copy.deepcopy(meta["schemas"][-1])
        sch2["schema-id"] = sch2.get("schema-id", 0) + 1
        sch2["fields"].append(
            {"id": 99, "name": "pending", "required": False,
             "type": "unknown"}
        )
        meta["schemas"].append(sch2)
        meta["current-schema-id"] = sch2["schema-id"]
        meta["format-version"] = 3

    commit_metadata(root, _edit)
    got = _rows(
        spark, f"SELECT id, pending FROM iceberg_scan('{root}') ORDER BY id"
    )
    assert got == [(1, None), (2, None)]


def test_v3_geometry_reads_raw_wkb(spark, tmp_path):
    """r12: v3 geometry/geography surface their PHYSICAL form — raw WKB
    bytes as BINARY (Spark has no geo type; WKB is what geo consumers
    decode). The fixture writes a WKB point and the scan returns its
    exact bytes; the CRS parameter in the type string is accepted."""
    import struct as _struct

    root = str(tmp_path / "geo")
    wkb = b"\x01\x01\x00\x00\x00" + _struct.pack("<dd", 1.5, -2.25)
    t = LocalIcebergTable(
        root, pa.schema([("id", pa.int64()), ("geo", pa.binary())])
    )
    t.append_snapshot(
        [pa.table({"id": [1], "geo": pa.array([wkb], pa.binary())})],
        timestamp_ms=T1,
    )

    def _edit(meta):
        for sch in meta["schemas"]:
            for f in sch["fields"]:
                if f["name"] == "geo":
                    f["type"] = "geometry(srid:4326)"
        meta["format-version"] = 3

    commit_metadata(root, _edit)
    from cloudfloe_spark.service.iceberg_local import resolve_iceberg_reads

    sess = spark.newSession()
    df = sess.sql(
        resolve_iceberg_reads(
            sess, f"SELECT id, geo FROM iceberg_scan('{root}')"
        )
    )
    rows = df.collect()
    assert rows[0]["geo"] == wkb
    assert dict(df.dtypes)["geo"] == "binary"


def test_ns_mixed_precision_rejects_under_rename_too(spark, tmp_path):
    """Soundness (r12 self-review): the precision probe resolves
    HISTORICAL names — a µs-physical file written before BOTH a µs→ns
    promotion and a RENAME still 400s instead of surfacing as a raw
    Spark read error (or worse)."""
    import copy

    root = str(tmp_path / "promren")
    t = LocalIcebergTable(
        root, pa.schema([("id", pa.int64()), ("ts", pa.timestamp("us"))])
    )
    t.append_snapshot(
        [pa.table({"id": [1], "ts": pa.array([1500], pa.timestamp("us"))})],
        timestamp_ms=T1,
    )

    def _edit(meta):
        sch2 = copy.deepcopy(meta["schemas"][-1])
        sch2["schema-id"] = sch2.get("schema-id", 0) + 1
        for f in sch2["fields"]:
            if f["name"] == "ts":
                f["name"] = "event_ts"          # rename
                f["type"] = "timestamp_ns"       # + promotion
        meta["schemas"].append(sch2)
        meta["current-schema-id"] = sch2["schema-id"]
        meta["format-version"] = 3

    commit_metadata(root, _edit)
    with pytest.raises(CloudfloeError) as ei:
        _rows(spark, f"SELECT * FROM iceberg_scan('{root}')")
    assert ei.value.status_code == 400
    assert "µs→ns type promotion" in str(ei.value)


def test_compaction_preserves_ns_precision(spark, ns_table):
    """r13 (lifting the r12 refusal): compaction reads the raw ns longs
    MOR-applied and rewrites through the pyarrow executor writer — the
    consolidated files keep the ns logical type and every sub-µs digit
    is byte-exact."""
    import pyarrow.parquet as pq

    from cloudfloe_spark.sources.maintenance import (
        compact_iceberg_table,
        delete_where,
    )

    root, t = ns_table
    # a second small file + a MOR delete: compaction must fold both
    extra_ns = [1700000000999999001]
    t.append_snapshot(
        [
            pa.table(
                {
                    "id": [99],
                    "ts": pa.array(extra_ns, pa.timestamp("ns")),
                }
            )
        ],
        timestamp_ms=T1 + 500,
    )
    delete_where(spark, root, "id = 1", timestamp_ms=T1 + 1000)
    sql = f"SELECT id, ts FROM iceberg_scan('{root}') ORDER BY id"
    before = _rows(spark, sql)
    res = compact_iceberg_table(spark, root, timestamp_ms=T1 + 2000)
    assert res["files_after"] <= res["files_before"] if isinstance(
        res, dict
    ) and "files_after" in res else True
    assert _rows(spark, sql) == before
    snap = im.resolve_snapshot(root)
    live = im.live_data_paths(root, snap)
    assert len(live) == 1  # consolidated
    assert not im.position_delete_paths(root, snap)
    lt = pq.read_table(live[0].removeprefix("file://"))
    assert lt.schema.field("ts").type == pa.timestamp("ns")
    got_ns = dict(
        zip(
            lt["id"].to_pylist(),
            lt["ts"].cast(pa.int64()).to_pylist(),
        )
    )
    expect = {
        i + 1: v for i, v in enumerate(NS_VALUES) if i + 1 != 1
    }
    expect[99] = extra_ns[0]
    assert got_ns == expect  # byte-exact ns, deleted row folded out
