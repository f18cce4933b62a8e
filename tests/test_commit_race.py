"""Concurrent writers against the one commit point: real processes race
for the same next metadata version, a foreign commit lands in the middle
of a DML commit, and crashed writers leave a stale hint or a temp file.
A commit that reports success must be in the table's final metadata."""

from __future__ import annotations

import multiprocessing as mp
import os
import time

import pyarrow as pa
import pyarrow.parquet as pq

from cloudfloe_spark.sources import iceberg_fixture as fx
from cloudfloe_spark.sources import iceberg_meta as im
from cloudfloe_spark.sources import snapshots
from cloudfloe_spark.sources.iceberg_fixture import LocalIcebergTable

T1 = 1700000000000
SCHEMA = pa.schema([("id", pa.int64()), ("v", pa.string())])


def _table(tmp_path) -> str:
    root = str(tmp_path / "t")
    t = LocalIcebergTable(root, SCHEMA)
    t.append_snapshot(
        [
            pa.table({"id": [1, 2, 3], "v": ["a", "b", "c"]}),
            pa.table({"id": [4, 5, 6], "v": ["d", "e", "f"]}),
        ],
        timestamp_ms=T1,
    )
    return root


def _data(root, name, ids) -> tuple[str, int]:
    p = os.path.join(root, "data", name)
    pq.write_table(pa.table({"id": ids, "v": ["x"] * len(ids)}, schema=SCHEMA), p)
    return p, len(ids)


def _append(root, path, n, expected, barrier, results) -> None:
    """One writer process: append ``path`` once every writer is ready."""
    barrier.wait(timeout=120)
    try:
        sid = fx.commit_row_delta_snapshot(
            root, new_data_files=[(path, n)], timestamp_ms=T1 + n,
            expected_metadata_path=expected,
        )
        results.put(("ok", sid))
    except fx.CommitConflictError:
        results.put(("conflict", None))
    except Exception as e:  # reported, so the test names the failure
        results.put(("error", repr(e)))


def _race(root, n_writers, expected) -> list[tuple]:
    ctx = mp.get_context("spawn")
    barrier = ctx.Barrier(n_writers)
    results = ctx.Queue()
    procs = []
    for i in range(n_writers):
        path, n = _data(root, f"w{i}.parquet", [100 + i] * (i + 1))
        procs.append(
            ctx.Process(
                target=_append,
                args=(root, path, n, expected, barrier, results),
            )
        )
    for p in procs:
        p.start()
    try:
        out = [results.get(timeout=180) for _ in procs]
    finally:
        for p in procs:
            p.join(timeout=60)
    assert not any(p.is_alive() for p in procs)
    return out


def _lineage(meta) -> set:
    by_id = {s["snapshot-id"]: s for s in meta["snapshots"]}
    walk, seen = meta["current-snapshot-id"], set()
    while walk is not None:
        seen.add(walk)
        walk = by_id[walk].get("parent-snapshot-id")
    return seen


def test_pinned_writers_race_exactly_one_lands(tmp_path):
    root = _table(tmp_path)
    base = im.latest_metadata_path(root)
    out = _race(root, 8, base)
    assert sorted(k for k, _ in out) == ["conflict"] * 7 + ["ok"], out
    (winner,) = [sid for k, sid in out if k == "ok"]
    meta = im.load_metadata(root)
    assert meta["current-snapshot-id"] == winner
    assert [s["sequence-number"] for s in meta["snapshots"]] == [1, 2]
    assert os.path.basename(im.latest_metadata_path(root)) == "v2.metadata.json"


def test_unpinned_writers_race_all_land(tmp_path):
    root = _table(tmp_path)
    out = _race(root, 4, None)
    assert [k for k, _ in out] == ["ok"] * 4, out
    meta = im.load_metadata(root)
    assert {sid for _, sid in out} <= _lineage(meta)
    assert sorted(s["sequence-number"] for s in meta["snapshots"]) == [1, 2, 3, 4, 5]
    live = {os.path.basename(p) for p in im.live_data_paths(root, im.resolve_snapshot(root))}
    assert {f"w{i}.parquet" for i in range(4)} <= live and len(live) == 6


def test_foreign_append_mid_commit_survives_delete(spark, tmp_path, monkeypatch):
    """A foreign append lands after the DELETE's commit loaded its base
    (injected from the commit's first manifest write): the delete's
    version is taken, so it re-runs on the new base — its rows are still
    deleted and the foreign rows survive."""
    from cloudfloe_spark.service.iceberg_local import resolve_iceberg_reads
    from cloudfloe_spark.sources.maintenance import delete_where

    root = _table(tmp_path)
    real = snapshots.write_avro
    foreign = []

    def write_avro(path, schema, records):
        if not foreign:
            foreign.append(None)  # the foreign commit writes manifests too
            p, n = _data(root, "foreign.parquet", [100])
            foreign[0] = fx.commit_row_delta_snapshot(
                root, new_data_files=[(p, n)], timestamp_ms=T1 + 500
            )
        return real(path, schema, records)

    monkeypatch.setattr(snapshots, "write_avro", write_avro)
    res = delete_where(spark, root, "id IN (5, 6)", timestamp_ms=T1 + 1000)
    assert res["matched"] == 2
    meta = im.load_metadata(root)
    assert {foreign[0], res["snapshot_id"]} <= _lineage(meta)
    sess = spark.newSession()
    rows = sess.sql(
        resolve_iceberg_reads(sess, f"SELECT id FROM iceberg_scan('{root}')")
    ).collect()
    assert sorted(r.id for r in rows) == [1, 2, 3, 4, 100]


def test_stale_hint_and_leftover_temp_file(tmp_path):
    from cloudfloe_spark.sources.maintenance import remove_orphan_files

    root = _table(tmp_path)
    meta_dir = os.path.join(root, "metadata")
    hint = os.path.join(meta_dir, "version-hint.text")
    sid = im.load_metadata(root)["current-snapshot-id"]
    with open(hint, "w") as f:
        f.write("1")
    fx.set_ref(root, "a", sid, timestamp_ms=T1 + 1)
    with open(hint) as f:
        assert f.read() == "2"
    # a writer that stopped between its link and the hint update
    with open(hint, "w") as f:
        f.write("1")
    assert os.path.basename(im.latest_metadata_path(root)) == "v2.metadata.json"
    fx.set_ref(root, "b", sid, timestamp_ms=T1 + 2)
    assert os.path.basename(im.latest_metadata_path(root)) == "v3.metadata.json"
    assert set(im.load_metadata(root)["refs"]) == {"a", "b"}

    # a writer that stopped before its link leaves its temp file behind
    leftover = os.path.join(
        meta_dir, f"{snapshots.TEMP_PREFIX}dead{snapshots.TEMP_SUFFIX}"
    )
    with open(leftover, "w") as f:
        f.write('{"format-version": 2}')
    os.remove(hint)
    assert os.path.basename(im.latest_metadata_path(root)) == "v3.metadata.json"
    fx.drop_ref(root, "a", timestamp_ms=T1 + 3)
    assert os.path.basename(im.latest_metadata_path(root)) == "v4.metadata.json"

    remove_orphan_files(root)
    assert os.path.exists(leftover)  # inside the grace period
    old = time.time() - 4 * 24 * 3600
    os.utime(leftover, (old, old))
    remove_orphan_files(root)
    assert not os.path.exists(leftover)
    assert sorted(f for f in os.listdir(meta_dir) if f.endswith(".metadata.json")) == [
        f"v{i}.metadata.json" for i in range(1, 5)
    ]
