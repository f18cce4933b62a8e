"""Optimistic commit-conflict retry (r10, VERDICT r9 #1): write ops no
longer abort when a concurrent commit lands between their metadata read
and their commit — they re-validate and rebase (append-shaped commits),
or re-run their scan against the new snapshot (condition-based DML,
compaction), bounded, mirroring Iceberg's SnapshotProducer retry.

The interleavings are injected deterministically: the fixture-module
commit function is wrapped so the FIRST invocation lands a foreign commit
before delegating — exactly the read-to-commit race window.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from cloudfloe_spark.sources import iceberg_fixture as fx
from cloudfloe_spark.sources import iceberg_meta as im
from cloudfloe_spark.sources.iceberg_fixture import LocalIcebergTable
from cloudfloe_spark.sources.maintenance import (
    apply_changelog,
    compact_iceberg_table,
    delete_where,
    maintain_iceberg_table,
    merge_into,
)

T1 = 1700000000000


def _rows(spark, root, cols="id"):
    from cloudfloe_spark.service.iceberg_local import resolve_iceberg_reads

    sess = spark.newSession()
    df = sess.sql(
        resolve_iceberg_reads(
            sess, f"SELECT {cols} FROM iceberg_scan('{root}')"
        )
    )
    return sorted(tuple(r) for r in df.collect())


@pytest.fixture()
def table(tmp_path):
    root = str(tmp_path / "t")
    t = LocalIcebergTable(
        root, pa.schema([("id", pa.int64()), ("v", pa.string())])
    )
    t.append_snapshot(
        [
            pa.table({"id": [1, 2, 3], "v": ["a", "b", "c"]}),
            pa.table({"id": [4, 5, 6], "v": ["d", "e", "f"]}),
        ],
        timestamp_ms=T1,
    )
    return root


def _foreign_append(root, ids, ts):
    """A concurrent writer's APPEND commit (the real, unpatched path)."""
    p = os.path.join(root, "data", f"foreign-{ts}.parquet")
    pq.write_table(
        pa.table({"id": ids, "v": ["x"] * len(ids)}), p
    )
    return _REAL_ROW_DELTA(
        root, new_data_files=[(p, len(ids))], timestamp_ms=ts
    )


_REAL_ROW_DELTA = fx.commit_row_delta_snapshot
_REAL_DELETE = fx.commit_delete_snapshot
_REAL_REWRITE = fx.commit_rewrite_snapshot
_REAL_DV = fx.commit_deletion_vector_snapshot


def _interleave_once(monkeypatch, attr, real, foreign):
    """Patch fixture commit ``attr`` so the first call runs ``foreign()``
    (moving the table on) before delegating — later calls delegate
    directly. Returns the call-count list."""
    calls = []

    def wrapper(*a, **kw):
        calls.append(1)
        if len(calls) == 1:
            foreign()
        return real(*a, **kw)

    monkeypatch.setattr(fx, attr, wrapper)
    return calls


def test_append_vs_append_rebases(spark, table, monkeypatch):
    """append ∥ append: an insert-only changelog apply whose commit races
    a foreign append simply re-points — both commits land, no re-scan."""
    root = table
    seen = []

    def wrapper(root_, **kw):
        seen.append(kw.get("new_data_files"))
        if len(seen) == 1:
            _foreign_append(root, [100], T1 + 500)
        return _REAL_ROW_DELTA(root_, **kw)

    monkeypatch.setattr(fx, "commit_row_delta_snapshot", wrapper)
    changes = spark.createDataFrame(
        [(7, "g", "insert")], "id LONG, v STRING, _change_type STRING"
    )
    res = apply_changelog(
        spark, root, changes, ["id"], timestamp_ms=T1 + 1000
    )
    assert res["inserted"] == 1 and res["snapshot_id"] is not None
    # the foreign append's row AND ours both present
    assert _rows(spark, root) == [(i,) for i in [1, 2, 3, 4, 5, 6, 7, 100]]
    # rebase, not re-run: the retry commits the very files the first
    # attempt wrote (a re-run would write and pass new ones)
    assert len(seen) == 2 and seen[0] is seen[1]


def test_append_vs_dml_rerun_is_serializable(spark, table, monkeypatch):
    """append ∥ DML: a foreign append landing mid-DELETE forces the scan
    to RE-RUN (serializable isolation) — the delete's condition then sees
    the appended rows too, and both commits land."""
    root = table
    calls = _interleave_once(
        monkeypatch, "commit_delete_snapshot", _REAL_DELETE,
        lambda: _foreign_append(root, [50, 51], T1 + 500),
    )
    res = delete_where(spark, root, "id >= 5", timestamp_ms=T1 + 1000)
    # the first pass matched only 5, 6; the re-run sees 50, 51 too
    assert res["matched"] == 4 and res["snapshot_id"] is not None
    assert _rows(spark, root) == [(i,) for i in [1, 2, 3, 4]]
    assert len(calls) >= 2  # conflicted commit + the re-run's commit


def test_dml_vs_compaction_rerun(spark, table, monkeypatch):
    """DML ∥ compaction: a compaction rewriting the DML's scanned files
    invalidates its position deletes — the DELETE re-runs against the
    compacted layout and still lands."""
    root = table
    calls = _interleave_once(
        monkeypatch, "commit_delete_snapshot", _REAL_DELETE,
        lambda: compact_iceberg_table(spark, root, timestamp_ms=T1 + 500),
    )
    res = delete_where(spark, root, "id IN (2, 5)", timestamp_ms=T1 + 1000)
    assert res["matched"] == 2
    assert _rows(spark, root) == [(i,) for i in [1, 3, 4, 6]]
    assert len(calls) == 2


def test_compaction_vs_append_rerun(spark, table, monkeypatch):
    """compaction ∥ append: a foreign append changes the live set — the
    full-table rewrite re-runs so the appended rows survive (the r9
    behavior silently ABORTED the compaction instead)."""
    root = table
    calls = _interleave_once(
        monkeypatch, "commit_rewrite_snapshot", _REAL_REWRITE,
        lambda: _foreign_append(root, [100], T1 + 500),
    )
    res = compact_iceberg_table(spark, root, timestamp_ms=T1 + 1000)
    assert res["snapshot_id"] is not None
    assert _rows(spark, root) == [(i,) for i in [1, 2, 3, 4, 5, 6, 100]]
    assert len(calls) == 2
    # and the rewrite is a real compaction: snapshot carries no deletes
    snap = im.resolve_snapshot(root)
    assert snap["summary"]["operation"] == "replace"


def test_merge_vs_append_rerun(spark, table, monkeypatch):
    """MERGE ∥ append: the merge's unmatched-insert decision must see the
    foreign append (else a key appended concurrently double-inserts) —
    serializable re-run."""
    root = table
    calls = _interleave_once(
        monkeypatch, "commit_row_delta_snapshot", _REAL_ROW_DELTA,
        lambda: _foreign_append(root, [7], T1 + 500),
    )
    src = spark.createDataFrame(
        [(7, "NEW"), (1, "A")], "id LONG, v STRING"
    )
    res = merge_into(
        spark, root, src, ["id"], when_matched={"v": "s.v"},
        timestamp_ms=T1 + 1000,
    )
    # re-run: id=7 now MATCHES the foreign row (updated, not re-inserted)
    assert res["matched"] == 2 and res["inserted"] == 0
    got = _rows(spark, root, cols="id, v")
    assert got == [
        (1, "A"), (2, "b"), (3, "c"), (4, "d"), (5, "e"), (6, "f"),
        (7, "NEW"),
    ]
    assert len(calls) >= 2


def test_table_service_survives_mid_pass_foreign_commit(
    spark, tmp_path, monkeypatch
):
    """The r9 headline composed: a maintenance pass whose bin-pack commit
    races a foreign append completes instead of dying (the exact gap
    VERDICT r9 #1 called out — 'a table service that dies whenever an
    ingest writer lands first is not a service')."""
    root = str(tmp_path / "svc")
    t = LocalIcebergTable(
        root, pa.schema([("id", pa.int64()), ("v", pa.string())])
    )
    # fragmented: many small files so bin-pack triggers
    t.append_snapshot(
        [pa.table({"id": [i], "v": [str(i)]}) for i in range(6)],
        timestamp_ms=T1,
    )
    calls = _interleave_once(
        monkeypatch, "commit_row_delta_snapshot", _REAL_ROW_DELTA,
        lambda: _foreign_append(root, [100], T1 + 500),
    )
    report = maintain_iceberg_table(
        spark, root, timestamp_ms=T1 + 1000, min_small_files=4
    )
    assert report["compact_small_files"]["ran"] is True
    assert report["compact_small_files"]["snapshot_id"] is not None
    assert _rows(spark, root) == [(i,) for i in [0, 1, 2, 3, 4, 5, 100]]
    assert len(calls) >= 2


def test_retry_is_bounded(spark, table, monkeypatch):
    """A pathological writer that lands a fresh commit before EVERY
    attempt exhausts the bounded re-runs and surfaces a clear
    CommitConflictError — no livelock."""
    from cloudfloe_spark.sources.iceberg_fixture import CommitConflictError

    root = table
    ts = [T1 + 500]

    def always_foreign(*a, **kw):
        ts[0] += 1
        _foreign_append(root, [1000 + ts[0] % 1000], ts[0])
        return _REAL_DELETE(*a, **kw)

    monkeypatch.setattr(fx, "commit_delete_snapshot", always_foreign)
    with pytest.raises(CommitConflictError, match="giving up"):
        delete_where(spark, root, "id <= 3", timestamp_ms=T1 + 1000)


def test_changelog_replay_mid_commit_is_skipped(spark, table, monkeypatch):
    """The SAME changelog apply (same ``changelog_id``) landing between an
    insert-only apply's pin and its commit: nothing was scanned, so the
    snapshot-isolation check alone would rebase and insert the rows a
    second time. The rebase check refuses once the id is present, and the
    re-run returns ``skipped``."""
    root = table
    changes = spark.createDataFrame(
        [(7, "g", "insert")], "id LONG, v STRING, _change_type STRING"
    )

    def apply():
        return apply_changelog(
            spark, root, changes, ["id"], timestamp_ms=T1 + 1000,
            changelog_id="src:1:2",
        )

    _interleave_once(
        monkeypatch, "commit_row_delta_snapshot", _REAL_ROW_DELTA, apply
    )
    res = apply()
    assert res == {
        "retracted": 0, "inserted": 0, "snapshot_id": None, "skipped": True,
    }
    assert _rows(spark, root) == [(i,) for i in [1, 2, 3, 4, 5, 6, 7]]


@pytest.fixture()
def v3_table(table, spark):
    from cloudfloe_spark.sources.maintenance import (
        migrate_position_deletes_to_dvs,
    )

    # delete-free v2 → v3 is a metadata-only format bump
    migrate_position_deletes_to_dvs(spark, table, timestamp_ms=T1 + 1)
    return table


@pytest.mark.parametrize("op", ["update_where", "merge_into"])
def test_v3_dml_vs_append_rerun(spark, v3_table, monkeypatch, op):
    """append ∥ v3 DML: a foreign append landing mid-commit of an UPDATE
    or MERGE that commits deletion vectors re-runs the scan (serializable
    isolation), so the appended rows are seen by the condition / join."""
    from cloudfloe_spark.sources.maintenance import update_where

    root = v3_table
    calls = _interleave_once(
        monkeypatch, "commit_deletion_vector_snapshot", _REAL_DV,
        lambda: _foreign_append(root, [50, 51], T1 + 500),
    )
    if op == "update_where":
        res = update_where(
            spark, root, "id >= 5", {"v": "'Z'"}, timestamp_ms=T1 + 1000
        )
        assert res["matched"] == 4
        want = [(5, "Z"), (6, "Z"), (50, "Z"), (51, "Z")]
    else:
        src = spark.createDataFrame(
            [(50, "N"), (1, "A")], "id LONG, v STRING"
        )
        res = merge_into(
            spark, root, src, ["id"], when_matched={"v": "s.v"},
            timestamp_ms=T1 + 1000,
        )
        assert res["matched"] == 2 and res["inserted"] == 0
        want = [(5, "e"), (6, "f"), (50, "N"), (51, "x")]
    assert res["deletion_vectors"] >= 1
    got = _rows(spark, root, cols="id, v")
    assert [r for r in got if r[0] >= 5] == want
    assert len(calls) >= 2


def test_v3_changelog_retraction_vs_append_rebases(spark, v3_table, monkeypatch):
    """append ∥ v3 changelog apply with retractions: snapshot isolation
    lets the apply REBASE — the retry commits the very deletion vectors
    the first attempt encoded (no re-run), and the foreign rows survive."""
    root = v3_table
    seen = []

    def wrapper(root_, deletes, **kw):
        seen.append(deletes)
        if len(seen) == 1:
            _foreign_append(root, [100], T1 + 500)
        return _REAL_DV(root_, deletes, **kw)

    monkeypatch.setattr(fx, "commit_deletion_vector_snapshot", wrapper)
    changes = spark.createDataFrame(
        [(2, "b", "delete"), (7, "g", "insert")],
        "id LONG, v STRING, _change_type STRING",
    )
    res = apply_changelog(
        spark, root, changes, ["id"], timestamp_ms=T1 + 1000
    )
    assert res["retracted"] == 1 and res["inserted"] == 1
    assert res["deletion_vectors"] == 1
    assert _rows(spark, root) == [(i,) for i in [1, 3, 4, 5, 6, 7, 100]]
    # conflict + rebased retry of the SAME encoded delta
    assert len(seen) == 2 and seen[0] is seen[1]
