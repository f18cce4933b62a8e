"""A bare ``SELECT COUNT(*)`` over one Iceberg scan is answered from
metadata: the live data files' manifest record counts minus the distinct
deleted positions inside them. Each case runs the statement as served and
again with the metadata count switched off, so the merge-on-read scan
answers; the two must agree, and the metadata count must start no Spark
job. Shapes it must not answer, deletes it cannot enumerate and every
refusal of the scan are pinned too."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from cloudfloe_spark.service import engine
from cloudfloe_spark.service import iceberg_local as il
from cloudfloe_spark.service.config import ConnectionConfig
from cloudfloe_spark.service.engine import run_query
from cloudfloe_spark.service.errors import CloudfloeError
from cloudfloe_spark.sources import deletes
from cloudfloe_spark.sources import iceberg_meta as im
from cloudfloe_spark.sources.iceberg_fixture import (
    LocalIcebergTable,
    commit_deletion_vector_snapshot,
    set_ref,
)
from cloudfloe_spark.sources.snapshots import commit_metadata

T1 = 1700000000000
T2 = 1700000100000
T3 = 1700000200000


def _cfg(**kw):
    return ConnectionConfig(
        storageType="local", endpoint="", accessKey="", secretKey="", **kw
    )


@pytest.fixture()
def serve(spark, spark_jobs, monkeypatch):
    """``serve(sql, metadata=True, cfg=None)`` → ``(response or the
    CloudfloeError raised, Spark jobs started, metadata counts
    computed)``; ``metadata=False`` switches the metadata count off."""
    real = il._metadata_count

    def run(sql, metadata=True, cfg=None):
        counts: list = []

        def spy(*args):
            counts.append(real(*args) if metadata else None)
            return counts[-1]

        def go():
            try:
                return run_query(spark, sql, cfg or _cfg())
            except CloudfloeError as e:
                return e

        with monkeypatch.context() as m:
            m.setattr(il, "_metadata_count", spy)
            out, jobs = spark_jobs(go)
        return out, jobs, counts

    return run


@pytest.fixture()
def same_count(serve):
    """``same_count(sql)`` → the response, after checking that metadata
    answered it with no Spark job and that the scan returns the same
    columns and rows."""

    def check(sql, cfg=None):
        got, jobs, counts = serve(sql, cfg=cfg)
        assert not isinstance(got, CloudfloeError), got
        assert len(counts) == 1 and counts[0] is not None
        assert jobs == 0
        want, _, _ = serve(sql, metadata=False, cfg=cfg)
        assert not isinstance(want, CloudfloeError), want
        assert (got.columns, got.rows) == (want.columns, want.rows)
        assert got.stats.bytesScanned == 0
        return got

    return check


@pytest.fixture()
def same_refusal(serve):
    """``same_refusal(sql)`` → the error, after checking that the scan
    refuses the statement with the same status and message."""

    def check(sql, cfg=None):
        got, _, _ = serve(sql, cfg=cfg)
        want, _, _ = serve(sql, metadata=False, cfg=cfg)
        assert isinstance(got, CloudfloeError), got
        assert isinstance(want, CloudfloeError), want
        assert (got.status_code, str(got)) == (want.status_code, str(want))
        assert got.status_code == 400
        return got

    return check


def _table(tmp_path, name="t", sizes=(10, 5)):
    """A table of ``len(sizes)`` data files holding ids 0.. in order;
    returns the root, the fixture and the file paths in id order."""
    root = str(tmp_path / name)
    t = LocalIcebergTable(root, pa.schema([("id", pa.int64())]))
    start, files = 0, []
    for n in sizes:
        files.append(pa.table({"id": list(range(start, start + n))}))
        start += n
    t.append_snapshot(files, timestamp_ms=T1)
    paths = sorted(
        im.live_data_paths(root, im.resolve_snapshot(root)),
        key=lambda p: pq.read_table(p).column(0)[0].as_py(),
    )
    return root, t, paths


def _count(root, tail=""):
    return f"SELECT COUNT(*) FROM iceberg_scan('{root}'){tail}"


def test_count_without_deletes(tmp_path, same_count):
    root, _, _ = _table(tmp_path)
    got = same_count(_count(root))
    assert (got.columns, got.rows) == (["count(1)"], [[15]])


@pytest.mark.parametrize(
    "select, tail, columns, rows",
    [
        ("SELECT COUNT(*) AS n", "", ["n"], [[15]]),
        ("select count( * ) Total", " t", ["Total"], [[15]]),
        ("SELECT Count(*)", " AS t LIMIT 0", ["count(1)"], []),
        ("SELECT COUNT(*) AS n", " LIMIT 1", ["n"], [[15]]),
    ],
)
def test_count_spellings_name_the_column_as_spark(
    tmp_path, same_count, select, tail, columns, rows
):
    root, _, _ = _table(tmp_path)
    got = same_count(f"{select} FROM iceberg_scan('{root}'){tail}")
    assert (got.columns, got.rows) == (columns, rows)


def test_count_position_deletes_with_duplicate_and_out_of_range_positions(
    tmp_path, same_count
):
    """Two delete files: a position repeated in and across them counts
    once; positions past the file's end or negative, and rows of a file
    the snapshot no longer holds, delete nothing."""
    root, t, (a, b) = _table(tmp_path)
    t.position_delete_snapshot(
        [(a, 1), (a, 1), (a, 10), (a, 99), (a, -1), (b, 0)], timestamp_ms=T2
    )
    t.position_delete_snapshot([(a, 1), (b, 4), (b, 5)], timestamp_ms=T3)
    got = same_count(_count(root))
    assert got.rows == [[12]]  # a: {1}, b: {0, 4}


def test_count_ignores_deletes_of_removed_files(tmp_path, same_count):
    root, t, (a, b) = _table(tmp_path)
    t.position_delete_snapshot([(a, 0), (b, 0)], timestamp_ms=T2)
    t.append_snapshot([pa.table({"id": [99]})], timestamp_ms=T3, remove=[a])
    assert same_count(_count(root)).rows == [[5]]  # b: 5 - 1, plus 1


def test_count_deletion_vectors(tmp_path, same_count):
    root, _, (a, b) = _table(tmp_path)
    commit_deletion_vector_snapshot(
        root, {a: [0, 3, 9], b: [4]}, timestamp_ms=T2
    )
    assert im.load_metadata(root)["format-version"] == 3
    assert same_count(_count(root)).rows == [[11]]


def test_count_deletion_vectors_mixed_with_position_deletes(
    tmp_path, same_count
):
    """A v2 table mid-migration: position-delete parquet carried next to
    deletion vectors, overlapping on one file."""
    root, t, (a, b) = _table(tmp_path)
    t.position_delete_snapshot([(a, 0), (a, 1)], timestamp_ms=T2)
    commit_deletion_vector_snapshot(root, {a: [1, 2], b: [0]}, timestamp_ms=T3)
    snap = im.resolve_snapshot(root)
    assert im.position_delete_paths(root, snap)
    assert im.deletion_vector_records(root, snap)
    assert same_count(_count(root)).rows == [[11]]  # a: {0, 1, 2}, b: {0}


def test_count_time_travel(tmp_path, same_count):
    root, t, (a, _b) = _table(tmp_path)
    s1 = im.resolve_snapshot(root)["snapshot-id"]
    t.position_delete_snapshot([(a, 0), (a, 1)], timestamp_ms=T2)
    set_ref(root, "before", s1, timestamp_ms=T3)
    assert same_count(_count(root)).rows == [[13]]
    assert same_count(_count(root, f" VERSION AS OF {s1}")).rows == [[15]]
    assert same_count(_count(root, " VERSION AS OF 'before'")).rows == [[15]]
    ts = " TIMESTAMP AS OF '2023-11-14 22:13:20'"
    assert same_count(_count(root, ts)).rows == [[15]]


def test_count_after_copy_on_write_delete(spark, tmp_path, same_count):
    from cloudfloe_spark.sources.maintenance import delete_where

    root, _, _ = _table(tmp_path)
    delete_where(
        spark, root, "id IN (2, 11)", timestamp_ms=T2, mode="copy-on-write"
    )
    assert same_count(_count(root)).rows == [[13]]


def test_count_empty_snapshot(tmp_path, same_count):
    root = str(tmp_path / "empty")
    t = LocalIcebergTable(root, pa.schema([("id", pa.int64())]))
    t.append_snapshot([], timestamp_ms=T1)
    assert same_count(_count(root)).rows == [[0]]


def test_count_of_table_without_snapshot_is_refused_alike(
    tmp_path, same_refusal
):
    root, _, _ = _table(tmp_path)

    def created(meta):
        meta["snapshots"] = []
        meta["current-snapshot-id"] = -1
        meta.pop("refs", None)
        meta["snapshot-log"] = []

    commit_metadata(root, created)
    err = same_refusal(_count(root))
    assert "no current snapshot" in str(err)


def test_count_does_not_open_data_files(tmp_path, serve):
    """Like Iceberg's own count pushdown, a bare count reads manifests,
    not data: a missing data file fails the scan but not the count."""
    root, _, (a, _b) = _table(tmp_path)
    os.remove(a)
    got, jobs, _ = serve(_count(root))
    assert (got.rows, jobs) == ([[15]], 0)
    with pytest.raises(Exception, match="PATH_NOT_FOUND"):
        serve(_count(root), metadata=False)


# --- deletes the driver does not enumerate: the scan answers ---------------------


def test_equality_deletes_take_the_scan(tmp_path, serve):
    root, t, _ = _table(tmp_path)
    t.equality_delete_snapshot(pa.table({"id": [3, 12]}), [1], timestamp_ms=T2)
    got, jobs, counts = serve(_count(root))
    assert (got.rows, counts) == ([[13]], [None])
    assert jobs >= 1


@pytest.mark.parametrize("kind", ["positions", "vectors"])
def test_deletes_over_the_driver_budget_take_the_scan(
    tmp_path, serve, plan_cache, monkeypatch, kind
):
    root, t, (a, b) = _table(tmp_path)
    if kind == "positions":
        t.position_delete_snapshot([(a, 0), (b, 1)], timestamp_ms=T2)
    else:
        commit_deletion_vector_snapshot(root, {a: [0], b: [1]}, timestamp_ms=T2)
    monkeypatch.setattr(deletes, "_DV_DRIVER_DECODE_MAX_BYTES", 0)
    got, jobs, counts = serve(_count(root))
    assert (got.rows, counts) == ([[13]], [None])
    assert jobs >= 1


# --- refusals: the same 400 either way -------------------------------------------


def test_delete_guard_refuses_alike(tmp_path, same_refusal, monkeypatch):
    root, t, (a, _b) = _table(tmp_path)
    t.position_delete_snapshot([(a, 0)], timestamp_ms=T2)
    monkeypatch.setattr(engine, "REJECT_DELETE_TABLES", True)
    err = same_refusal(_count(root), cfg=_cfg(tablePath=root))
    assert "Table has delete files" in str(err)


def test_unsupported_v3_feature_refused_alike(tmp_path, same_refusal):
    root, _, _ = _table(tmp_path)

    def future(meta):
        meta["format-version"] = 4

    commit_metadata(root, future)
    err = same_refusal(_count(root))
    assert "format-version 4" in str(err)


def test_unreadable_equality_deletes_refused_alike(tmp_path, same_refusal):
    root, t, _ = _table(tmp_path)
    t.add_delete_file_snapshot(timestamp_ms=T2)  # no equality ids
    err = same_refusal(_count(root))
    assert "equality-delete files this engine cannot apply" in str(err)


def test_unrenderable_variant_refused_alike(tmp_path, same_refusal):
    from cloudfloe_spark.functions.variant import encode_variant

    root = str(tmp_path / "bad")
    md, _ = encode_variant({"t": 1})
    leaf = pa.struct([("typed_value", pa.time64("us"))])
    col = pa.array(
        [{"metadata": md, "value": None, "typed_value": {"t": {"typed_value": 1}}}],
        pa.struct(
            [
                ("metadata", pa.binary()),
                ("value", pa.binary()),
                ("typed_value", pa.struct([("t", leaf)])),
            ]
        ),
    )
    tbl = pa.table({"id": pa.array([1], pa.int64()), "v": col})
    LocalIcebergTable(root, tbl.schema, variant_cols=("v",)).append_snapshot(
        [tbl], timestamp_ms=T1
    )
    err = same_refusal(_count(root))
    assert "unsupported shredded leaf" in str(err)


def test_ns_precision_mismatch_refused_alike(tmp_path, same_refusal):
    root = str(tmp_path / "promoted")
    t = LocalIcebergTable(
        root, pa.schema([("id", pa.int64()), ("ts", pa.timestamp("us"))])
    )
    t.append_snapshot(
        [pa.table({"id": [1], "ts": pa.array([1500], pa.timestamp("us"))})],
        timestamp_ms=T1,
    )

    def promote(meta):
        for f in meta["schemas"][-1]["fields"]:
            if f["name"] == "ts":
                f["type"] = "timestamp_ns"
        meta["format-version"] = 3

    commit_metadata(root, promote)
    err = same_refusal(_count(root))
    assert "µs→ns type promotion" in str(err)


# --- shapes that are not a bare count ---------------------------------------------


@pytest.mark.parametrize(
    "sql, rows",
    [
        ("SELECT COUNT(*) FROM {t} WHERE id > 3", [[11]]),
        ("SELECT COUNT(*) FROM {t} GROUP BY id % 2 ORDER BY 1", [[7], [8]]),
        ("SELECT DISTINCT COUNT(*) FROM {t}", [[15]]),
        ("SELECT COUNT(id) FROM {t}", [[15]]),
        ("SELECT COUNT(*), 1 AS one FROM {t}", [[15, 1]]),
        ("SELECT COUNT(*) FROM {t} TABLESAMPLE (100 PERCENT)", [[15]]),
        ("SELECT COUNT(*) FROM {t} a JOIN {t} b ON a.id = b.id", [[15]]),
        ("SELECT COUNT(*) FROM (SELECT * FROM {t}) s", [[15]]),
        ("SELECT (SELECT COUNT(*) FROM {t}) + COUNT(*) FROM {t}", [[30]]),
    ],
)
def test_other_shapes_run_the_scan(tmp_path, serve, sql, rows):
    root, _, _ = _table(tmp_path)
    got, jobs, counts = serve(sql.format(t=f"iceberg_scan('{root}')"))
    assert not isinstance(got, CloudfloeError), got
    assert (got.rows, counts) == (rows, [])
    assert jobs >= 1


def test_using_sample_is_not_answered_from_metadata(tmp_path, serve):
    """DuckDB's ``USING SAMPLE`` is a sample like any other: whatever the
    engine makes of it, the metadata count does not answer it."""
    root, _, _ = _table(tmp_path)
    sql = _count(root, " USING SAMPLE 50%")
    got, _, counts = serve(sql)
    want, _, _ = serve(sql, metadata=False)
    assert counts == []
    assert type(got) is type(want)
