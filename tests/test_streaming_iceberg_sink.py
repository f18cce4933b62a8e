"""Streaming ingest into Iceberg: foreachBatch append commits with
exactly-once epoch dedup — the streaming write half composing with the
jarless reader and the DML/maintenance surface."""

from __future__ import annotations

import os

import pyarrow as pa
import pytest

from cloudfloe_spark.sources import iceberg_meta as im
from cloudfloe_spark.sources.iceberg_fixture import LocalIcebergTable
from cloudfloe_spark.streaming.iceberg_sink import (
    append_stream_to_iceberg,
    committed_batches,
)

T1 = 1700000000000


@pytest.fixture()
def seeded_table(tmp_path):
    root = str(tmp_path / "tsink")
    t = LocalIcebergTable(root, pa.schema([("id", pa.int64()), ("v", pa.string())]))
    t.append_snapshot([pa.table({"id": [0], "v": ["seed"]})], timestamp_ms=T1)
    return root


def _source_dir(spark, tmp_path, batches):
    src = str(tmp_path / "src")
    os.makedirs(src, exist_ok=True)
    for i, rows in enumerate(batches):
        spark.createDataFrame(rows, "id LONG, v STRING").coalesce(
            1
        ).write.mode("append").parquet(src)
    return src


def _stream(spark, src):
    schema = spark.read.parquet(src).schema
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )


def _read_ids(spark, root):
    from cloudfloe_spark.service.iceberg_local import resolve_iceberg_reads

    sess = spark.newSession()
    df = sess.sql(
        resolve_iceberg_reads(sess, f"SELECT id FROM iceberg_scan('{root}')")
    )
    return sorted(r["id"] for r in df.collect())


def test_stream_appends_one_snapshot_per_batch(spark, seeded_table, tmp_path):
    root = seeded_table
    src = _source_dir(
        spark, tmp_path, [[(1, "a"), (2, "b")], [(3, "c")], [(4, "d")]]
    )
    res = append_stream_to_iceberg(
        _stream(spark, src),
        root,
        checkpoint_dir=str(tmp_path / "ckpt"),
        timestamp_ms=T1 + 1000,
    )
    assert res["batches"] >= 1 and res["skipped"] == 0
    assert _read_ids(spark, root) == [0, 1, 2, 3, 4]
    snaps = im.load_metadata(root)["snapshots"]
    appends = [
        s for s in snaps if s["summary"].get("streaming-epoch-id") is not None
    ]
    assert len(appends) == res["batches"]
    assert all(s["summary"]["operation"] == "append" for s in appends)
    assert committed_batches(root) == {
        (
            s["summary"]["streaming-query-id"],
            int(s["summary"]["streaming-epoch-id"]),
        )
        for s in appends
    }
    # one stable query id across the run's batches
    assert len({s["summary"]["streaming-query-id"] for s in appends}) == 1


def test_stream_append_into_snapshotless_table(spark, tmp_path):
    """ADVICE r13: a created-but-empty table (metadata committed, no
    snapshot, current-snapshot-id -1) must accept its first streamed
    micro-batch — the unconditional resolve_snapshot guard used to fail
    with 'table has no current snapshot' before any data drained."""
    from cloudfloe_spark.sources.snapshots import commit_metadata

    root = str(tmp_path / "empty")
    t = LocalIcebergTable(
        root, pa.schema([("id", pa.int64()), ("v", pa.string())])
    )
    t.append_snapshot([pa.table({"id": [99], "v": ["tmp"]})],
                      timestamp_ms=T1)
    # rewrite the metadata as a freshly-CREATEd table: no snapshots yet

    def _edit(meta):
        meta["snapshots"] = []
        meta["current-snapshot-id"] = -1
        meta.pop("refs", None)
        meta["snapshot-log"] = []

    commit_metadata(root, _edit)
    with pytest.raises(im.IcebergMetadataError):
        im.resolve_snapshot(root)

    src = _source_dir(spark, tmp_path, [[(1, "a"), (2, "b")]])
    res = append_stream_to_iceberg(
        _stream(spark, src),
        root,
        checkpoint_dir=str(tmp_path / "ckpt"),
        timestamp_ms=T1 + 1000,
    )
    assert res["batches"] == 1 and res["skipped"] == 0
    assert _read_ids(spark, root) == [1, 2]


def test_restart_same_checkpoint_dedups_by_query_and_epoch(
    spark, seeded_table, tmp_path
):
    """A restart from the SAME checkpoint replays already-committed epochs
    under the SAME query id — the (query id, epoch id) dedup skips them,
    leaving the table unchanged. Simulated by wiping the commit log (so
    Spark re-offers every batch) while keeping the StreamMetadata file
    (so the query id is stable) — the crash-between-commit-and-checkpoint
    window."""
    import shutil

    root = seeded_table
    src = _source_dir(spark, tmp_path, [[(1, "a")], [(2, "b")]])
    ckpt = str(tmp_path / "ckpt1")
    append_stream_to_iceberg(
        _stream(spark, src), root, checkpoint_dir=ckpt, timestamp_ms=T1 + 1000
    )
    before = _read_ids(spark, root)
    n_snaps = len(im.load_metadata(root)["snapshots"])
    for sub in ("commits", "offsets", "sources"):
        shutil.rmtree(os.path.join(ckpt, sub), ignore_errors=True)
    res2 = append_stream_to_iceberg(
        _stream(spark, src), root, checkpoint_dir=ckpt, timestamp_ms=T1 + 2000
    )
    assert res2["batches"] == 0 and res2["skipped"] >= 1
    assert _read_ids(spark, root) == before
    assert len(im.load_metadata(root)["snapshots"]) == n_snaps


def test_second_query_fresh_checkpoint_is_not_deduped(
    spark, seeded_table, tmp_path
):
    """A SECOND ingest query (fresh checkpoint → fresh query id) restarts
    its epoch ids at 0 — keying dedup on the epoch alone would silently
    drop its batches as "already seen" (the r6 ADVICE data-loss bug).
    With the (query id, epoch id) key its data lands."""
    root = seeded_table
    src1 = _source_dir(spark, tmp_path, [[(1, "a")]])
    append_stream_to_iceberg(
        _stream(spark, src1),
        root,
        checkpoint_dir=str(tmp_path / "ckpt1"),
        timestamp_ms=T1 + 1000,
    )
    src2 = str(tmp_path / "src2")
    os.makedirs(src2, exist_ok=True)
    spark.createDataFrame([(7, "q2")], "id LONG, v STRING").coalesce(
        1
    ).write.mode("append").parquet(src2)
    res2 = append_stream_to_iceberg(
        _stream(spark, src2),
        root,
        checkpoint_dir=str(tmp_path / "ckpt2"),  # new query, epochs from 0
        timestamp_ms=T1 + 2000,
    )
    assert res2["batches"] == 1 and res2["skipped"] == 0
    assert _read_ids(spark, root) == [0, 1, 7]
    # and the two queries' epoch-0 data files did not collide
    qids = {q for q, _ in committed_batches(root)}
    assert len(qids) == 2


def test_incremental_source_growth_appends_only_new(
    spark, seeded_table, tmp_path
):
    root = seeded_table
    src = _source_dir(spark, tmp_path, [[(1, "a")]])
    ckpt = str(tmp_path / "ckpt")
    append_stream_to_iceberg(
        _stream(spark, src), root, checkpoint_dir=ckpt, timestamp_ms=T1 + 1000
    )
    # more files arrive; SAME checkpoint → only the new batch processes
    spark.createDataFrame([(9, "z")], "id LONG, v STRING").coalesce(
        1
    ).write.mode("append").parquet(src)
    res = append_stream_to_iceberg(
        _stream(spark, src), root, checkpoint_dir=ckpt, timestamp_ms=T1 + 2000
    )
    assert res["batches"] == 1 and res["skipped"] == 0
    assert _read_ids(spark, root) == [0, 1, 9]


def _make_table_legacy(root):
    """Doctor the table metadata into the pre-upgrade sink format: strip
    streaming-query-id from every snapshot summary and remove the
    format-cutover property — what a table written entirely by the legacy
    sink looks like."""
    from cloudfloe_spark.sources.snapshots import commit_metadata
    from cloudfloe_spark.streaming.iceberg_sink import _CUTOVER_PROP

    def _edit(meta):
        for s in meta.get("snapshots", []):
            (s.get("summary") or {}).pop("streaming-query-id", None)
        (meta.get("properties") or {}).pop(_CUTOVER_PROP, None)

    commit_metadata(root, _edit)


def test_legacy_epoch_only_summary_dedups_genuine_replay(
    spark, seeded_table, tmp_path
):
    """ADVICE r7 + r10: a pre-upgrade snapshot that recorded only
    streaming-epoch-id (no query id) must still dedup a REPLAYED epoch —
    one this checkpoint had already started (pre-run offsets entry) in its
    pre-upgrade life. Simulated by running once, rewriting the table
    metadata to the legacy format, then wiping the checkpoint commit log
    so the epoch replays (the crash-between-commit-and-checkpoint
    window)."""
    import shutil

    root = seeded_table
    src = _source_dir(spark, tmp_path, [[(1, "a")]])
    ck = str(tmp_path / "ck")
    append_stream_to_iceberg(
        _stream(spark, src), root, checkpoint_dir=ck, timestamp_ms=T1 + 500
    )
    _make_table_legacy(root)
    assert (None, 0) in committed_batches(root)
    shutil.rmtree(os.path.join(ck, "commits"), ignore_errors=True)

    stats = append_stream_to_iceberg(
        _stream(spark, src), root, checkpoint_dir=ck, timestamp_ms=T1 + 1000
    )
    # the replayed epoch 0 is treated as already committed
    assert stats == {"batches": 0, "skipped": 1}
    assert _read_ids(spark, root) == [0, 1]


def test_fresh_checkpoint_on_legacy_table_commits_everything(
    spark, seeded_table, tmp_path
):
    """ADVICE r9 #1: a FRESH-checkpoint query against a legacy table whose
    epoch numbers all collide with legacy (None, epoch) summaries must
    commit every batch (pre-fix: every epoch matched a legacy entry, the
    cutover was never stamped, and the query's batches were silently
    dropped forever). The legacy honor now applies only to epochs in the
    checkpoint's PRE-RUN offsets log — a fresh checkpoint has none."""
    import pyarrow.parquet as pq

    from cloudfloe_spark.sources.iceberg_fixture import (
        commit_row_delta_snapshot,
    )
    from cloudfloe_spark.streaming.iceberg_sink import _format_cutover

    root = seeded_table
    # legacy summaries covering epochs 0 AND 1 — the new query's entire
    # epoch range collides
    for e in (0, 1):
        p = os.path.join(root, "data", f"legacy-epoch{e}.parquet")
        pq.write_table(pa.table({"id": [100 + e], "v": ["legacy"]}), p)
        commit_row_delta_snapshot(
            root, new_data_files=[(p, 1)], timestamp_ms=T1 + 500 + e,
            summary_extra={"streaming-epoch-id": str(e)},
        )
    assert not _format_cutover(root)

    src = _source_dir(spark, tmp_path, [[(1, "a")], [(2, "b")]])
    stats = append_stream_to_iceberg(
        _stream(spark, src), root,
        checkpoint_dir=str(tmp_path / "ck-fresh"), timestamp_ms=T1 + 1000,
    )
    assert stats == {"batches": 2, "skipped": 0}
    assert _format_cutover(root)
    assert _read_ids(spark, root) == [0, 1, 2, 100, 101]


def test_format_cutover_stops_legacy_dedup_even_for_replays(
    spark, seeded_table, tmp_path
):
    """r9 (VERDICT r08 'wrong' #3), retargeted for the r10 replay gate:
    once the ``cloudfloe.sink.format-cutover`` property is stamped, a
    legacy (None, epoch) summary stops deduping even a REPLAY-GATED match
    (an epoch in this checkpoint's pre-run offsets). Ambiguity between
    'my own pre-upgrade replay' and 'another legacy query's colliding
    epoch' is resolved in favor of committing — a possible duplicate over
    a silent drop."""
    import shutil

    import pyarrow.parquet as pq

    from cloudfloe_spark.sources.iceberg_fixture import (
        LocalIcebergTable,
        commit_row_delta_snapshot,
    )
    from cloudfloe_spark.streaming.iceberg_sink import (
        _format_cutover,
        _stamp_format_cutover,
    )

    root = seeded_table
    src = _source_dir(spark, tmp_path, [[(1, "a")]])
    ck = str(tmp_path / "ck")
    # Build REAL checkpoint state (offsets/0) by draining into a throwaway
    # table, then wipe the commit log so epoch 0 replays on the next run.
    scratch = str(tmp_path / "scratch-table")
    LocalIcebergTable(
        scratch, pa.schema([("id", pa.int64()), ("v", pa.string())])
    ).append_snapshot([pa.table({"id": [0], "v": ["seed"]})], timestamp_ms=T1)
    append_stream_to_iceberg(
        _stream(spark, src), scratch, checkpoint_dir=ck, timestamp_ms=T1 + 500
    )
    shutil.rmtree(os.path.join(ck, "commits"), ignore_errors=True)

    # Target table: legacy (None, 0) summary from a pre-upgrade writer,
    # but the cutover already stamped (some other new-format query).
    p = os.path.join(root, "data", "legacy-epoch0.parquet")
    pq.write_table(pa.table({"id": [100], "v": ["legacy"]}), p)
    commit_row_delta_snapshot(
        root, new_data_files=[(p, 1)], timestamp_ms=T1 + 400,
        summary_extra={"streaming-epoch-id": "0"},
    )
    _stamp_format_cutover(root, "other-query", T1 + 450)
    assert (None, 0) in committed_batches(root)
    assert _format_cutover(root)

    # epoch 0 replays into root; it matches the replay gate ((None, 0) in
    # seen, 0 in pre-run offsets) but the cutover is stamped → it must
    # COMMIT, not skip
    stats = append_stream_to_iceberg(
        _stream(spark, src), root, checkpoint_dir=ck, timestamp_ms=T1 + 1000
    )
    assert stats == {"batches": 1, "skipped": 0}
    assert _read_ids(spark, root) == [0, 1, 100]


def test_unreadable_stream_metadata_raises_not_guesses(tmp_path):
    """ADVICE r7: <checkpoint>/metadata EXISTS but is unreadable → raise,
    never silently fall back to the path key (a key that flips between
    runs double-commits a replayed batch). Genuinely absent → stable
    path-derived fallback (None here)."""
    from cloudfloe_spark.streaming.iceberg_sink import _checkpoint_query_id

    ck = tmp_path / "ck"
    ck.mkdir()
    assert _checkpoint_query_id(str(ck)) is None  # absent: fallback path
    (ck / "metadata").write_text("{not json")
    with pytest.raises(RuntimeError, match="cannot be read"):
        _checkpoint_query_id(str(ck))


def _read_rows(spark, root):
    from cloudfloe_spark.service.iceberg_local import resolve_iceberg_reads

    sess = spark.newSession()
    df = sess.sql(
        resolve_iceberg_reads(
            sess, f"SELECT id, v FROM iceberg_scan('{root}')"
        )
    )
    return sorted(tuple(r) for r in df.collect())


def test_upsert_stream_merges_batches(spark, seeded_table, tmp_path):
    """upsert_stream_to_iceberg: each micro-batch is one merge_into
    commit — existing keys update, new keys insert, within-batch
    duplicates collapse to one row."""
    from cloudfloe_spark.streaming.iceberg_sink import (
        upsert_stream_to_iceberg,
    )

    root = seeded_table
    src = _source_dir(
        spark,
        tmp_path,
        [
            [(0, "seed-v2"), (1, "a"), (1, "a")],  # update + insert + dup
            [(1, "a2"), (2, "b")],                 # update batch-1's insert
        ],
    )
    res = upsert_stream_to_iceberg(
        _stream(spark, src),
        root,
        "id",
        checkpoint_dir=str(tmp_path / "ckpt"),
        timestamp_ms=T1 + 1000,
    )
    assert res["batches"] >= 1 and res["skipped"] == 0
    assert _read_rows(spark, root) == [(0, "seed-v2"), (1, "a2"), (2, "b")]


def test_upsert_stream_into_shredded_target(spark, tmp_path):
    """r14 (VERDICT r13 #4): streaming upsert into a SHREDDED-seeded
    variant target — existing keys retract via DVs (or rewrite), new
    rows land unshredded, the read surface is value-identical across
    both physical layouts."""
    from cloudfloe_spark.functions.variant import shred_rows
    from cloudfloe_spark.streaming.iceberg_sink import (
        upsert_stream_to_iceberg,
    )

    shred = {
        "kind": "object",
        "fields": {"k": {"value": True, "typed": {"kind": "int"}}},
    }
    col = shred_rows([{"k": 0}, {"k": 5}], shred)
    seed = pa.table({"id": pa.array([0, 5], pa.int64()), "v": col})
    root = str(tmp_path / "shups")
    t = LocalIcebergTable(root, seed.schema, variant_cols=("v",))
    t.append_snapshot([seed], timestamp_ms=T1)

    src = _source_dir(
        spark, tmp_path,
        [[(0, '{"k": 100}'), (1, '{"k": 1, "tag": "new"}')]],
    )
    res = upsert_stream_to_iceberg(
        _stream(spark, src),
        root,
        "id",
        checkpoint_dir=str(tmp_path / "shck"),
        timestamp_ms=T1 + 1000,
    )
    assert res["batches"] == 1 and res["skipped"] == 0
    from cloudfloe_spark.service.iceberg_local import resolve_iceberg_reads

    sess = spark.newSession()
    got = sorted(
        tuple(r)
        for r in sess.sql(
            resolve_iceberg_reads(
                sess, f"SELECT id, v FROM iceberg_scan('{root}')"
            )
        ).collect()
    )
    assert got == [
        (0, '{"k":100}'),
        (1, '{"k":1,"tag":"new"}'),
        (5, '{"k":5}'),
    ]


def test_upsert_stream_replay_is_skipped(spark, seeded_table, tmp_path):
    """Replay protection is load-bearing for upserts whose when_matched
    reads the old value (counters): the same checkpoint re-run applies
    nothing, so the non-idempotent increment happens exactly once."""
    from cloudfloe_spark.streaming.iceberg_sink import (
        upsert_stream_to_iceberg,
    )

    root = str(tmp_path / "tctr")
    t = LocalIcebergTable(
        root, pa.schema([("id", pa.int64()), ("n", pa.int64())])
    )
    t.append_snapshot([pa.table({"id": [1], "n": [10]})], timestamp_ms=T1)
    src = str(tmp_path / "src")
    os.makedirs(src, exist_ok=True)
    spark.createDataFrame([(1, 5)], "id LONG, n LONG").coalesce(
        1
    ).write.mode("append").parquet(src)
    schema = spark.read.parquet(src).schema
    ck = str(tmp_path / "ckpt")

    def run():
        return upsert_stream_to_iceberg(
            spark.readStream.schema(schema).parquet(src),
            root,
            "id",
            checkpoint_dir=ck,
            timestamp_ms=T1 + 1000,
            when_matched={"n": "t.n + s.n"},
        )

    r1 = run()
    assert r1["batches"] == 1
    # wipe the checkpoint's commit log so Spark REPLAYS epoch 0; the
    # table-summary dedup alone must refuse the second apply
    import shutil

    shutil.rmtree(os.path.join(ck, "commits"), ignore_errors=True)
    r2 = run()
    assert r2["batches"] == 0 and r2["skipped"] >= 1
    from cloudfloe_spark.service.iceberg_local import resolve_iceberg_reads

    sess = spark.newSession()
    rows = sess.sql(
        resolve_iceberg_reads(
            sess, f"SELECT id, n FROM iceberg_scan('{root}')"
        )
    ).collect()
    assert [tuple(r) for r in rows] == [(1, 15)]  # incremented ONCE


def test_upsert_stream_cow_mode(spark, seeded_table, tmp_path):
    from cloudfloe_spark.streaming.iceberg_sink import (
        upsert_stream_to_iceberg,
    )

    root = seeded_table
    src = _source_dir(spark, tmp_path, [[(0, "new-seed"), (5, "e")]])
    res = upsert_stream_to_iceberg(
        _stream(spark, src),
        root,
        "id",
        checkpoint_dir=str(tmp_path / "ckpt"),
        timestamp_ms=T1 + 1000,
        mode="copy-on-write",
    )
    assert res["batches"] == 1
    assert _read_rows(spark, root) == [(0, "new-seed"), (5, "e")]
    snaps = im.load_metadata(root)["snapshots"]
    assert all(
        int(s["summary"].get("total-delete-files", "0")) == 0 for s in snaps
    )


def test_stream_append_into_variant_table(spark, tmp_path):
    """r13: the append sink over a VARIANT table encodes streamed JSON
    text to the physical (metadata, value) pair; batch reads decode it
    back canonically."""
    from cloudfloe_spark.functions.variant import encode_variant

    root = str(tmp_path / "vsink")
    seed = pa.table(
        {
            "id": pa.array([0], pa.int64()),
            "v": pa.array(
                [dict(zip(("metadata", "value"),
                          encode_variant({"k": 0})))],
                pa.struct(
                    [("metadata", pa.binary()), ("value", pa.binary())]
                ),
            ),
        }
    )
    t = LocalIcebergTable(root, seed.schema, variant_cols=("v",))
    t.append_snapshot([seed], timestamp_ms=T1)
    src = _source_dir(
        spark, tmp_path,
        [[(1, '{"k": 1, "tag": "s"}')], [(2, '{"k": 2.50}')]],
    )
    res = append_stream_to_iceberg(
        _stream(spark, src),
        root,
        checkpoint_dir=str(tmp_path / "vck"),
        timestamp_ms=T1 + 1000,
    )
    assert res["batches"] == 2
    from cloudfloe_spark.service.iceberg_local import resolve_iceberg_reads

    sess = spark.newSession()
    got = sorted(
        tuple(r)
        for r in sess.sql(
            resolve_iceberg_reads(
                sess, f"SELECT id, v FROM iceberg_scan('{root}')"
            )
        ).collect()
    )
    assert got == [
        (0, '{"k":0}'),
        (1, '{"k":1,"tag":"s"}'),
        (2, '{"k":2.50}'),  # decimal fidelity through the sink
    ]


def test_stream_append_into_ns_table(spark, tmp_path):
    """r13: the append sink over an ns-timestamp table writes real
    timestamp[ns] files (µs precision ×1000); existing ns rows keep
    their exact longs."""
    import pyarrow.parquet as pq

    root = str(tmp_path / "nssink")
    seed = pa.table(
        {
            "id": pa.array([0], pa.int64()),
            "ts": pa.array(
                [1700000000000000123], pa.timestamp("ns")
            ),
        }
    )
    t = LocalIcebergTable(root, seed.schema)
    t.append_snapshot([seed], timestamp_ms=T1)
    src = str(tmp_path / "nssrc")
    os.makedirs(src, exist_ok=True)
    spark.createDataFrame(
        [(1, "2024-06-01 12:00:00.123456")], "id LONG, ts_s STRING"
    ).selectExpr("id", "CAST(ts_s AS TIMESTAMP) AS ts").coalesce(
        1
    ).write.mode("append").parquet(src)
    schema = spark.read.parquet(src).schema
    sdf = spark.readStream.schema(schema).parquet(src)
    res = append_stream_to_iceberg(
        sdf, root,
        checkpoint_dir=str(tmp_path / "nsck"),
        timestamp_ms=T1 + 1000,
    )
    assert res["batches"] == 1
    snap = im.resolve_snapshot(root)
    phys = {}
    for p in im.live_data_paths(root, snap):
        lt = pq.read_table(p.removeprefix("file://"))
        assert lt.schema.field("ts").type == pa.timestamp("ns")
        for rid, v in zip(
            lt["id"].to_pylist(), lt["ts"].cast(pa.int64()).to_pylist()
        ):
            phys[rid] = v
    assert phys[0] == 1700000000000000123
    import datetime as dt

    exp_us = (
        dt.datetime(2024, 6, 1, 12, 0, 0, 123456)
        - dt.datetime(1970, 1, 1)
    ) // dt.timedelta(microseconds=1)
    assert phys[1] == exp_us * 1000


def test_stream_append_shredded_target_layout(spark, tmp_path):
    """r15 (VERDICT r14 #3): the append sink with
    target_layout='shredded' lands each micro-batch's variant column in
    the SHREDDED physical form — the streamed files carry typed_value
    subcolumns (no residual column when unused), the read surface is
    canonical JSON as always, and a typed extraction over the streamed
    rows runs with zero Python in the plan."""
    import pyarrow.parquet as pq

    from cloudfloe_spark.functions.variant import encode_variant, shred_rows
    from cloudfloe_spark.sources.tables import ensure_runtime_conf

    shred = {
        "kind": "object",
        "fields": {"k": {"value": False, "typed": {"kind": "int"}}},
    }
    root = str(tmp_path / "shsink")
    seedcol = shred_rows([{"k": 0}], shred, top_value=False)
    seed = pa.table({"id": pa.array([0], pa.int64()), "v": seedcol})
    t = LocalIcebergTable(root, seed.schema, variant_cols=("v",))
    t.append_snapshot([seed], timestamp_ms=T1)
    src = _source_dir(
        spark, tmp_path, [[(1, '{"k": 1}')], [(2, '{"k": 2}')]]
    )
    res = append_stream_to_iceberg(
        _stream(spark, src), root,
        checkpoint_dir=str(tmp_path / "shck"),
        timestamp_ms=T1 + 1000,
        target_layout="shredded",
        shred_descriptors={"v": shred},
    )
    assert res["batches"] == 2
    # every live file is SHREDDED, streamed ones residual-free
    snap = im.resolve_snapshot(root)
    for p in im.live_data_paths(root, snap):
        vt = pq.read_schema(p.removeprefix("file://")).field("v").type
        subs = {vt.field(i).name for i in range(vt.num_fields)}
        assert subs == {"metadata", "typed_value"}, (p, subs)
    from cloudfloe_spark.service.iceberg_local import resolve_iceberg_reads

    sess = spark.newSession()
    ensure_runtime_conf(sess)
    df = sess.sql(
        resolve_iceberg_reads(
            sess,
            "SELECT sum(variant_get(parse_json(v), '$.k', 'bigint')) "
            f"AS s FROM iceberg_scan('{root}')",
        )
    )
    assert df.first()["s"] == 3
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan
    # bad inputs refuse precisely
    with pytest.raises(ValueError, match="non-variant columns"):
        append_stream_to_iceberg(
            _stream(spark, src), root,
            checkpoint_dir=str(tmp_path / "shck2"),
            timestamp_ms=T1 + 5000,
            target_layout="shredded",
            shred_descriptors={"id": {"kind": "int"}},
        )
