"""Golden shapes of every external snapshot commit: for each commit type
on a small table, the snapshot's fields and summary, its manifest-list
records per content type, and each manifest entry's (status, data
sequence number, content, path suffix). These are what the service's
``iceberg_snapshots`` and ``iceberg_metadata`` listings report, so a
change to the snapshot producer must leave every value here as it is."""

from __future__ import annotations

import os
import re

import pyarrow as pa
import pyarrow.parquet as pq

from cloudfloe_spark.sources import iceberg_fixture as fx
from cloudfloe_spark.sources import iceberg_meta as im
from cloudfloe_spark.sources.avrolite import read_avro
from cloudfloe_spark.sources.iceberg_fixture import LocalIcebergTable

T1 = 1700000000000
SCHEMA = pa.schema([("id", pa.int64()), ("v", pa.string())])


def _table(tmp_path, **kw) -> tuple[str, LocalIcebergTable]:
    root = str(tmp_path / "t")
    t = LocalIcebergTable(root, SCHEMA, **kw)
    t.append_snapshot(
        [
            pa.table({"id": [1, 2, 3], "v": ["a", "b", "c"]}),
            pa.table({"id": [4, 5, 6], "v": ["d", "e", "f"]}),
        ],
        timestamp_ms=T1,
    )
    return root, t


def _data(root, name, ids) -> tuple[str, int]:
    p = os.path.join(root, "data", name)
    pq.write_table(
        pa.table({"id": ids, "v": [str(i) for i in ids]}, schema=SCHEMA), p
    )
    return p, len(ids)


def _pos_delete(root, name, target_uri, positions) -> tuple[str, int]:
    p = os.path.join(root, "data", name)
    pq.write_table(
        pa.table(
            {
                "file_path": [target_uri] * len(positions),
                "pos": pa.array(positions, pa.int64()),
            }
        ),
        p,
    )
    return p, len(positions)


def _suffix(path: str) -> str:
    """Table-relative path with random name parts masked."""
    s = path.rsplit("/data/", 1)[-1]
    return re.sub(r"-[0-9a-f]{8}(?=\.)", "-*", s)


def _local(uri: str) -> str:
    return uri.removeprefix("file://")


def _shape(root, snapshot_id=None):
    """(meta, snapshot, [(manifest content, written by this snapshot,
    [(status, seq, content, suffix), ...]), ...])"""
    meta = im.load_metadata(root)
    sid = meta["current-snapshot-id"] if snapshot_id is None else snapshot_id
    snap = next(s for s in meta["snapshots"] if s["snapshot-id"] == sid)
    manifests = []
    for m in read_avro(_local(snap["manifest-list"])):
        entries = [
            (
                e["status"],
                e["sequence_number"],
                e["data_file"]["content"],
                _suffix(e["data_file"]["file_path"]),
            )
            for e in read_avro(_local(m["manifest_path"]))
        ]
        manifests.append(
            (m["content"], m["added_snapshot_id"] == sid, entries)
        )
    return meta, snap, manifests


def _version(root) -> int:
    return int(os.path.basename(im.latest_metadata_path(root))[1:].split(".")[0])


def _fields(snap) -> dict:
    """Snapshot fields other than ids, list path and summary."""
    return {
        k: v
        for k, v in snap.items()
        if k not in ("snapshot-id", "manifest-list", "summary", "parent-snapshot-id")
    }


DATA0 = (0, 1, 0, "00000-*.parquet")
DATA1 = (0, 1, 0, "00001-*.parquet")


def test_rewrite_snapshot_on_lineage_table(tmp_path):
    root, _ = _table(tmp_path, row_lineage=True)
    v0 = _version(root)
    merged = _data(root, "merged.parquet", [1, 2, 3, 4, 5, 6])
    sid = fx.commit_rewrite_snapshot(
        root, [merged], timestamp_ms=T1 + 10,
        expected_metadata_path=im.latest_metadata_path(root),
    )
    meta, snap, manifests = _shape(root)
    assert snap["snapshot-id"] == sid and _version(root) == v0 + 1
    assert "parent-snapshot-id" not in snap
    assert _fields(snap) == {
        "sequence-number": 2, "timestamp-ms": T1 + 10, "first-row-id": 6,
    }
    assert snap["summary"] == {
        "operation": "replace", "total-records": "6",
        "total-data-files": "1", "total-delete-files": "0",
        "assigned-rows": "6",
    }
    assert manifests == [(0, True, [(1, 2, 0, "merged.parquet")])]
    (entry,) = read_avro(_local(read_avro(_local(snap["manifest-list"]))[0]["manifest_path"]))
    assert entry["snapshot_id"] == sid and entry["data_file"]["first_row_id"] == 6
    assert meta["next-row-id"] == 12
    assert [e["snapshot-id"] for e in meta["snapshot-log"]][-1] == sid
    assert meta["last-updated-ms"] == T1 + 10


def test_delete_rewrite_snapshot(tmp_path):
    root, t = _table(tmp_path)
    t.position_delete_snapshot(
        [(t.live_data_paths()[0], 0)], timestamp_ms=T1 + 5
    )
    parent = im.load_metadata(root)["current-snapshot-id"]
    target = "file://" + t.live_data_paths()[0]
    new_del = _pos_delete(root, "consolidated.parquet", target, [0])
    sid = fx.commit_delete_rewrite_snapshot(
        root, [new_del], timestamp_ms=T1 + 10,
        expected_metadata_path=im.latest_metadata_path(root),
    )
    meta, snap, manifests = _shape(root)
    assert snap["snapshot-id"] == sid
    assert snap["parent-snapshot-id"] == parent
    assert _fields(snap) == {"sequence-number": 3, "timestamp-ms": T1 + 10}
    assert snap["summary"] == {
        "operation": "replace", "total-records": "6",
        "total-data-files": "2", "total-delete-files": "1",
        "removed-delete-files": "1",
    }
    assert manifests == [
        (0, True, [DATA0, DATA1]),
        (1, True, [(2, 2, 1, "pdel-*.parquet"),
                   (1, 3, 1, "consolidated.parquet")]),
    ]


def test_manifest_rewrite_snapshot(tmp_path):
    root, _ = _table(tmp_path)
    for i, ids in enumerate(([7], [8])):
        fx.commit_row_delta_snapshot(
            root, new_data_files=[_data(root, f"app{i}.parquet", ids)],
            timestamp_ms=T1 + 1 + i,
        )
    parent = im.load_metadata(root)["current-snapshot-id"]
    res = fx.commit_manifest_rewrite_snapshot(
        root, timestamp_ms=T1 + 10,
        expected_metadata_path=im.latest_metadata_path(root),
    )
    meta, snap, manifests = _shape(root)
    assert res == {
        "snapshot_id": snap["snapshot-id"], "manifests_before": 3,
        "manifests_after": 1, "entries": 4,
    }
    assert snap["parent-snapshot-id"] == parent
    assert _fields(snap) == {"sequence-number": 4, "timestamp-ms": T1 + 10}
    assert snap["summary"] == {
        "operation": "replace", "total-data-files": "4",
        "total-delete-files": "0", "manifests-replaced": "3",
        "manifests-created": "1",
    }
    assert manifests == [
        (0, True, [DATA0, DATA1, (0, 2, 0, "app0.parquet"),
                   (0, 3, 0, "app1.parquet")]),
    ]


def test_row_delta_append_reuses_parent_manifests(tmp_path):
    root, _ = _table(tmp_path)
    meta0 = im.load_metadata(root)
    parent = meta0["current-snapshot-id"]
    sid = fx.commit_row_delta_snapshot(
        root, new_data_files=[_data(root, "app.parquet", [7, 8])],
        timestamp_ms=T1 + 10,
        summary_extra={"cloudfloe.test": "1"},
    )
    meta, snap, manifests = _shape(root)
    assert snap["snapshot-id"] == sid and snap["parent-snapshot-id"] == parent
    assert _fields(snap) == {"sequence-number": 2, "timestamp-ms": T1 + 10}
    assert snap["summary"] == {
        "operation": "append", "total-records": "8",
        "total-data-files": "3", "total-delete-files": "0",
        "cloudfloe.test": "1",
    }
    # the parent's manifest is referenced as it is, not rewritten
    assert manifests == [
        (0, False, [(1, 1, 0, "00000-*.parquet"),
                    (1, 1, 0, "00001-*.parquet")]),
        (0, True, [(1, 2, 0, "app.parquet")]),
    ]
    assert len(meta["snapshot-log"]) == len(meta0["snapshot-log"]) + 1
    # new data entries carry the file's column statistics
    (new,) = read_avro(_local(read_avro(_local(snap["manifest-list"]))[1]["manifest_path"]))
    df = {k: v for k, v in new["data_file"].items() if k not in ("file_path", "file_size_in_bytes")}
    assert df == {
        "content": 0, "file_format": "PARQUET", "record_count": 2,
        "equality_ids": None, "partition": None,
        "lower_bounds": {"id": "7", "v": "7"},
        "upper_bounds": {"id": "8", "v": "8"},
        "null_value_counts": {"id": 0, "v": 0}, "spec_id": None,
        "referenced_data_file": None, "content_offset": None,
        "content_size_in_bytes": None, "first_row_id": None,
    }
    assert new["snapshot_id"] is None


def test_row_delta_copy_on_write_removal(tmp_path):
    root, t = _table(tmp_path)
    first = t.live_data_paths()[0]
    t.position_delete_snapshot([(first, 0)], timestamp_ms=T1 + 5)
    parent = im.load_metadata(root)["current-snapshot-id"]
    sid = fx.commit_row_delta_snapshot(
        root,
        new_data_files=[_data(root, "cow.parquet", [2, 3])],
        removed_data_files=[first],
        timestamp_ms=T1 + 10,
        expected_metadata_path=im.latest_metadata_path(root),
    )
    meta, snap, manifests = _shape(root)
    assert snap["snapshot-id"] == sid and snap["parent-snapshot-id"] == parent
    assert _fields(snap) == {"sequence-number": 3, "timestamp-ms": T1 + 10}
    assert snap["summary"] == {
        "operation": "overwrite", "deleted-data-files": "1",
        "total-records": "5", "total-data-files": "2",
        "total-delete-files": "0",
    }
    # the removed file and the position delete that only named it are
    # both recorded DELETED; nothing of the parent's manifest is reused
    assert manifests == [
        (0, True, [DATA1, (2, 1, 0, "00000-*.parquet"),
                   (1, 3, 0, "cow.parquet")]),
        (1, True, [(2, 2, 1, "pdel-*.parquet")]),
    ]


def test_row_delta_branch_commit_and_publish(tmp_path):
    root, _ = _table(tmp_path)
    main = im.load_metadata(root)["current-snapshot-id"]
    fx.set_ref(root, "audit", main, ref_type="branch", timestamp_ms=T1 + 1)
    log0 = im.load_metadata(root)["snapshot-log"]
    sid = fx.commit_row_delta_snapshot(
        root, new_data_files=[_data(root, "staged.parquet", [9])],
        timestamp_ms=T1 + 10, parent_ref="audit",
    )
    meta, snap, manifests = _shape(root, sid)
    assert meta["current-snapshot-id"] == main
    assert meta["snapshot-log"] == log0
    assert meta["refs"]["audit"] == {"snapshot-id": sid, "type": "branch"}
    assert snap["parent-snapshot-id"] == main
    assert _fields(snap) == {"sequence-number": 2, "timestamp-ms": T1 + 10}
    assert snap["summary"] == {
        "operation": "append", "total-records": "7",
        "total-data-files": "3", "total-delete-files": "0",
    }
    assert manifests == [
        (0, False, [(1, 1, 0, "00000-*.parquet"),
                    (1, 1, 0, "00001-*.parquet")]),
        (0, True, [(1, 2, 0, "staged.parquet")]),
    ]
    assert fx.publish_ref(root, "audit", timestamp_ms=T1 + 20) == sid
    meta = im.load_metadata(root)
    assert meta["current-snapshot-id"] == sid
    assert meta["snapshot-log"][-1] == {"snapshot-id": sid, "timestamp-ms": T1 + 20}
    fx.drop_ref(root, "audit", timestamp_ms=T1 + 30)
    assert "audit" not in im.load_metadata(root)["refs"]


def test_deletion_vector_snapshot_merges_and_supersedes(tmp_path):
    root, t = _table(tmp_path)
    first = t.live_data_paths()[0]
    parent = im.load_metadata(root)["current-snapshot-id"]
    sid = fx.commit_deletion_vector_snapshot(
        root, {first: [0]}, timestamp_ms=T1 + 10,
        expected_metadata_path=im.latest_metadata_path(root),
    )
    meta, snap, manifests = _shape(root)
    assert meta["format-version"] == 3
    assert meta["properties"]["cloudfloe.dv-writer"] == "cloudfloe-spark"
    assert snap["snapshot-id"] == sid and snap["parent-snapshot-id"] == parent
    assert _fields(snap) == {"sequence-number": 2, "timestamp-ms": T1 + 10}
    assert snap["summary"] == {
        "operation": "delete", "added-dvs": "1", "total-data-files": "2",
    }
    # one content-0 manifest holds data and the vector alike
    assert manifests == [
        (0, True, [DATA0, DATA1, (1, 2, 1, "dv-1700000000010-*.puffin")]),
    ]
    # a second vector for the same file merges the first and supersedes it
    sid2 = fx.commit_deletion_vector_snapshot(
        root, {first: [2]},
        new_data_files=[_data(root, "upd.parquet", [10])],
        timestamp_ms=T1 + 20,
    )
    meta, snap, manifests = _shape(root)
    assert snap["snapshot-id"] == sid2 and snap["parent-snapshot-id"] == sid
    assert snap["summary"] == {
        "operation": "overwrite", "added-dvs": "1", "total-data-files": "3",
    }
    assert manifests == [
        (0, True, [DATA0, DATA1, (2, 2, 1, "dv-1700000000010-*.puffin"),
                   (1, 3, 1, "dv-1700000000020-*.puffin"),
                   (1, 3, 0, "upd.parquet")]),
    ]
    dv = next(
        r for r in im.deletion_vector_records(root, snap)
        if r["referenced_data_file"].endswith(os.path.basename(first))
    )
    from cloudfloe_spark.sources import puffin

    assert sorted(
        puffin.read_deletion_vector(dv["path"], dv["offset"], dv["length"])
    ) == [0, 2]
