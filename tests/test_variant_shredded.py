"""Iceberg v3 SHREDDED variant reads (r12): files storing a variant
column as ``(metadata, value?, typed_value)`` per the Parquet variant
shredding spec are REASSEMBLED to the engine's canonical-JSON surface —
typed wins, residuals merge, both-null means missing — with the
reassembly descriptor derived from each file's parquet footer. One
table may mix shredded and unshredded files; unsupported shred shapes
400 naming the file and leaf."""

from __future__ import annotations

import datetime
import os
import uuid as uuid_mod
from decimal import Decimal

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from cloudfloe_spark.functions.variant import (
    encode_variant,
    shred_descriptor,
    shred_rows,
    variant_to_json,
)
from cloudfloe_spark.service.config import ConnectionConfig
from cloudfloe_spark.service.engine import run_query
from cloudfloe_spark.service.errors import CloudfloeError
from cloudfloe_spark.sources import iceberg_meta as im
from cloudfloe_spark.sources.iceberg_fixture import LocalIcebergTable

T1 = 1700000000000
UTC = datetime.timezone.utc


def _cfg():
    return ConnectionConfig(
        storageType="local", endpoint="", accessKey="", secretKey=""
    )


def _rows(spark, sql):
    return [tuple(r) for r in run_query(spark, sql, _cfg()).rows]


def _expected_json(objs):
    out = []
    for o in objs:
        if o is None:
            out.append(None)
        else:
            md, val = encode_variant(o)
            out.append(variant_to_json(md, val))
    return out


def _shredded_table(tmp_path, objs, shred, name="t"):
    root = str(tmp_path / name)
    col = shred_rows(objs, shred)
    tbl = pa.table(
        {"id": pa.array(list(range(len(objs))), pa.int64()), "v": col}
    )
    t = LocalIcebergTable(root, tbl.schema, variant_cols=("v",))
    t.append_snapshot([tbl], timestamp_ms=T1)
    return root, t


OBJS = [
    {"a": 1, "s": {"x": "hi", "y": 2.5}, "tags": ["p", "q"], "extra": True},
    {"a": "not-an-int", "s": {"x": "yo"}, "tags": [1, None]},
    {"s": None, "tags": "not-a-list", "a": 7},
    None,
    "just-a-string",
    {"a": None, "tags": []},
    {"deep": {"only": "residual"}},
]
SHRED = {
    "kind": "object",
    "fields": {
        "a": {"value": True, "typed": {"kind": "int"}},
        "s": {
            "value": True,
            "typed": {
                "kind": "object",
                "fields": {
                    "x": {"value": True, "typed": {"kind": "string"}}
                },
            },
        },
        "tags": {
            "value": True,
            "typed": {
                "kind": "array",
                "element": {"value": True, "typed": {"kind": "string"}},
            },
        },
    },
}


def test_shredded_scan_matches_unshredded_rendering(spark, tmp_path):
    """Every reassembly rule in one corpus: typed object fields,
    type-mismatch residuals (int field holding a string; array field
    holding a scalar), nested-object partial shredding, null vs missing
    fields, arrays with typed hits and residual elements (incl. null
    elements), whole-row NULL, top-level non-object, empty array, and a
    row whose every field is residual."""
    root, _ = _shredded_table(tmp_path, OBJS, SHRED)
    got = [
        r[1]
        for r in _rows(
            spark, f"SELECT id, v FROM iceberg_scan('{root}') ORDER BY id"
        )
    ]
    assert got == _expected_json(OBJS)


def test_shredded_typed_extraction_jvm_side(spark, tmp_path):
    root, _ = _shredded_table(tmp_path, OBJS, SHRED)
    got = _rows(
        spark,
        "SELECT sum(try_variant_get(parse_json(v), '$.a', 'bigint')) AS s, "
        "count(try_variant_get(parse_json(v), '$.s.x', 'string')) AS n "
        f"FROM iceberg_scan('{root}')",
    )
    assert got == [(8, 2)]  # a: 1 + 7 ('not-an-int' nulls); s.x: hi, yo


def test_typed_leaves_match_unshredded(spark, tmp_path):
    objs = [
        {
            "ts": datetime.datetime(2024, 1, 2, 3, 4, 5, 123456),
            "tz": datetime.datetime(2024, 6, 7, 8, 9, 10, 654321, tzinfo=UTC),
            "d": datetime.date(2020, 2, 29),
            "dec": Decimal("12.3456"),
            "u": uuid_mod.UUID("12345678-1234-5678-1234-567812345678"),
            "b": b"\x01\x02\xff",
            "f": 2.75,
            "flag": True,
        },
        {"ts": "not-a-ts", "dec": 5, "d": None, "flag": 0},
    ]
    shred = {
        "kind": "object",
        "fields": {
            "ts": {"value": True, "typed": {"kind": "ts_us"}},
            "tz": {"value": True, "typed": {"kind": "ts_us_tz"}},
            "d": {"value": True, "typed": {"kind": "date"}},
            "dec": {"value": True, "typed": {"kind": "decimal"}},
            "u": {"value": True, "typed": {"kind": "uuid"}},
            "b": {"value": True, "typed": {"kind": "binary"}},
            "f": {"value": True, "typed": {"kind": "double"}},
            "flag": {"value": True, "typed": {"kind": "bool"}},
        },
    }
    root, _ = _shredded_table(tmp_path, objs, shred)
    got = [
        r[1]
        for r in _rows(
            spark, f"SELECT id, v FROM iceberg_scan('{root}') ORDER BY id"
        )
    ]
    assert got == _expected_json(objs)


def test_shredded_ns_timestamp_leaf(spark, tmp_path):
    """A FOREIGN writer's shredded ns-timestamp leaf reads back with the
    9-digit fraction the unshredded ns primitive ids render — the
    descriptor (footer: timestamp[ns]) tells the UDF the raw long it
    receives under nanosAsLong is nanoseconds."""
    root = str(tmp_path / "ns")
    md, _ = encode_variant({"t": None})
    ns_val = 1700000000123456789
    col = pa.array(
        [{"metadata": md, "value": None,
          "typed_value": {"t": {"typed_value": ns_val}}}],
        pa.struct(
            [
                ("metadata", pa.binary()),
                ("value", pa.binary()),
                (
                    "typed_value",
                    pa.struct(
                        [
                            (
                                "t",
                                pa.struct(
                                    [("typed_value", pa.timestamp("ns"))]
                                ),
                            )
                        ]
                    ),
                ),
            ]
        ),
    )
    tbl = pa.table({"id": pa.array([1], pa.int64()), "v": col})
    t = LocalIcebergTable(root, tbl.schema, variant_cols=("v",))
    t.append_snapshot([tbl], timestamp_ms=T1)
    got = _rows(spark, f"SELECT v FROM iceberg_scan('{root}')")
    assert got == [('{"t":"2023-11-14 22:13:20.123456789"}',)]


def test_mixed_shredded_and_unshredded_files(spark, tmp_path):
    root = str(tmp_path / "mix")
    objs1 = OBJS[:3]
    objs2 = OBJS[3:]
    col1 = shred_rows(objs1, SHRED)
    vt_un = pa.struct([("metadata", pa.binary()), ("value", pa.binary())])
    col2 = pa.array(
        [
            None
            if o is None
            else dict(zip(("metadata", "value"), encode_variant(o)))
            for o in objs2
        ],
        vt_un,
    )
    t1 = pa.table({"id": pa.array([0, 1, 2], pa.int64()), "v": col1})
    t2 = pa.table({"id": pa.array([3, 4, 5, 6], pa.int64()), "v": col2})
    t = LocalIcebergTable(root, t1.schema, variant_cols=("v",))
    t.append_snapshot([t1], timestamp_ms=T1)
    t.append_snapshot([t2], timestamp_ms=T1 + 1000)
    got = [
        r[1]
        for r in _rows(
            spark, f"SELECT id, v FROM iceberg_scan('{root}') ORDER BY id"
        )
    ]
    assert got == _expected_json(OBJS)


def test_shredded_deletes_compose(spark, tmp_path):
    """Position deletes apply to shredded file groups before decode."""
    root, t = _shredded_table(tmp_path, OBJS, SHRED)
    paths = im.live_data_paths(root, im.resolve_snapshot(root))
    t.position_delete_snapshot([(paths[0], 0)], timestamp_ms=T1 + 1000)
    got = [
        r[0]
        for r in _rows(
            spark, f"SELECT id FROM iceberg_scan('{root}') ORDER BY id"
        )
    ]
    assert got == [1, 2, 3, 4, 5, 6]


def test_unsupported_shred_leaf_gets_precise_400(spark, tmp_path):
    root = str(tmp_path / "bad")
    md, _ = encode_variant({"t": 1})
    col = pa.array(
        [{"metadata": md, "value": None,
          "typed_value": {"t": {"typed_value": 1}}}],
        pa.struct(
            [
                ("metadata", pa.binary()),
                ("value", pa.binary()),
                (
                    "typed_value",
                    pa.struct(
                        [
                            (
                                "t",
                                pa.struct(
                                    [("typed_value", pa.time64("us"))]
                                ),
                            )
                        ]
                    ),
                ),
            ]
        ),
    )
    tbl = pa.table({"id": pa.array([1], pa.int64()), "v": col})
    t = LocalIcebergTable(root, tbl.schema, variant_cols=("v",))
    t.append_snapshot([tbl], timestamp_ms=T1)
    with pytest.raises(CloudfloeError) as ei:
        _rows(spark, f"SELECT v FROM iceberg_scan('{root}')")
    assert ei.value.status_code == 400
    assert "unsupported shredded leaf" in str(ei.value)


def test_malformed_shred_group_gets_precise_400(spark, tmp_path):
    root = str(tmp_path / "mal")
    md, _ = encode_variant({"t": 1})
    col = pa.array(
        [{"metadata": md, "value": None,
          "typed_value": {"t": {"typed_value": 1, "bogus": 2}}}],
        pa.struct(
            [
                ("metadata", pa.binary()),
                ("value", pa.binary()),
                (
                    "typed_value",
                    pa.struct(
                        [
                            (
                                "t",
                                pa.struct(
                                    [
                                        ("typed_value", pa.int64()),
                                        ("bogus", pa.int64()),
                                    ]
                                ),
                            )
                        ]
                    ),
                ),
            ]
        ),
    )
    tbl = pa.table({"id": pa.array([1], pa.int64()), "v": col})
    t = LocalIcebergTable(root, tbl.schema, variant_cols=("v",))
    t.append_snapshot([tbl], timestamp_ms=T1)
    with pytest.raises(CloudfloeError) as ei:
        _rows(spark, f"SELECT v FROM iceberg_scan('{root}')")
    assert ei.value.status_code == 400
    assert "value, typed_value" in str(ei.value)


def test_shredded_scan_resolves_renames(spark, tmp_path):
    """r15 (VERDICT r14 #1, inverted from the r12 refusal): a rename of
    a NON-variant column on a shredded table no longer 400s every read
    — the shred group resolves its on-disk names and renames after
    delete application, exactly like plain groups."""
    root, t = _shredded_table(tmp_path, OBJS[:2], SHRED, name="ren")
    t.rename_column("id", "doc_id", timestamp_ms=T1 + 1000)
    got = _rows(
        spark,
        f"SELECT doc_id, v FROM iceberg_scan('{root}') ORDER BY doc_id",
    )
    assert [r[0] for r in got] == [0, 1]
    assert [r[1] for r in got] == _expected_json(OBJS[:2])


def test_shred_descriptor_from_footer(tmp_path):
    col = shred_rows(OBJS[:1], SHRED)
    p = str(tmp_path / "x.parquet")
    pq.write_table(pa.table({"v": col}), p)
    t = pq.read_schema(p).field("v").type
    d = shred_descriptor(t.field("typed_value").type)
    assert d["kind"] == "object"
    assert d["fields"]["a"]["typed"] == {"kind": "int"}
    assert d["fields"]["s"]["typed"]["kind"] == "object"
    assert d["fields"]["tags"]["typed"]["kind"] == "array"
    with pytest.raises(ValueError, match="unsupported shredded leaf"):
        shred_descriptor(pa.time64("us"))


def test_shredded_aggregate_plan_decodes_before_exchange(spark, tmp_path):
    """Scale shape: the shredded reassembly (ArrowEvalPython) runs on
    the SCAN side of the aggregate's exchange — blobs never shuffle;
    only extracted scalars cross — and one Arrow eval serves each shred
    group (here: one)."""
    from cloudfloe_spark.service.iceberg_local import resolve_iceberg_reads

    root, _ = _shredded_table(tmp_path, OBJS, SHRED, name="plan")
    sess = spark.newSession()
    sql = resolve_iceberg_reads(
        sess,
        "SELECT try_variant_get(parse_json(v), '$.a', 'bigint') AS a, "
        f"count(*) AS n FROM iceberg_scan('{root}') GROUP BY a",
    )
    df = sess.sql(sql)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]  # AQE: final plan only
    assert final.count("ArrowEvalPython") == 1, final
    # decode below the exchange: the Arrow eval appears after (deeper
    # than) the first Exchange in the tree rendering
    first_exchange = final.find("Exchange")
    arrow_at = final.find("ArrowEvalPython")
    assert first_exchange != -1 and arrow_at > first_exchange, final


def test_renamed_shredded_variant_column_reassembles(spark, tmp_path):
    """r15 (VERDICT r14 #1, inverted from the r12 refusal): a VARIANT
    column renamed after shredded files were written keeps its OLD
    parquet name in those footers. The group scan now matches the
    descriptor against the write-time name and reassembles under the
    CURRENT name — the read that used to 400 returns the exact JSON
    surface (the r12 soundness property still holds: the typed_value
    bytes are never silently dropped; they are read)."""
    import copy

    from cloudfloe_spark.sources.snapshots import commit_metadata

    root = str(tmp_path / "ren2")
    shred = {
        "kind": "object",
        "fields": {"a": {"value": True, "typed": {"kind": "int"}}},
    }
    col = shred_rows([{"a": 1, "b": "x"}, {"a": 2}], shred)
    t1 = pa.table({"id": pa.array([1, 2], pa.int64()), "v": col})
    t = LocalIcebergTable(root, t1.schema, variant_cols=("v",))
    t.append_snapshot([t1], timestamp_ms=T1)

    def _edit(meta):
        sch2 = copy.deepcopy(meta["schemas"][-1])
        sch2["schema-id"] = sch2.get("schema-id", 0) + 1
        for f in sch2["fields"]:
            if f["name"] == "v":
                f["name"] = "payload"
        meta["schemas"].append(sch2)
        meta["current-schema-id"] = sch2["schema-id"]

    commit_metadata(root, _edit)
    got = _rows(
        spark,
        f"SELECT id, payload FROM iceberg_scan('{root}') ORDER BY id",
    )
    assert got == [
        (1, _expected_json([{"a": 1, "b": "x"}])[0]),
        (2, _expected_json([{"a": 2}])[0]),
    ]
    # the typed extraction rides the renamed surface too
    got2 = _rows(
        spark,
        "SELECT try_variant_get(parse_json(payload), '$.a', 'bigint') "
        f"AS a FROM iceberg_scan('{root}') ORDER BY a",
    )
    assert [r[0] for r in got2] == [1, 2]


def test_compaction_normalizes_shredded_to_unshredded(spark, tmp_path):
    """r13 (VERDICT r12 #3): compacting a table with SHREDDED variant
    files reassembles each row's VALUE TREE and re-encodes it
    UNSHREDDED — the scan surface is identical before and after (the
    full reassembly corpus: typed hits, residuals, type mismatches,
    nulls, top-level non-objects), and the rewritten layout carries no
    typed_value subcolumn anywhere."""
    import pyarrow.parquet as pq

    from cloudfloe_spark.sources.maintenance import compact_iceberg_table

    # mixed layout: shredded corpus + one unshredded file
    root, t = _shredded_table(tmp_path, OBJS, SHRED, name="cmp")
    t.append_snapshot(
        [
            pa.table(
                {
                    "id": pa.array([100], pa.int64()),
                    "v": pa.array(
                        [
                            dict(
                                zip(
                                    ("metadata", "value"),
                                    encode_variant({"plain": True}),
                                )
                            )
                        ],
                        pa.struct(
                            [
                                ("metadata", pa.binary()),
                                ("value", pa.binary()),
                            ]
                        ),
                    ),
                }
            )
        ],
        timestamp_ms=T1 + 500,
    )
    sql = f"SELECT id, v FROM iceberg_scan('{root}') ORDER BY id"
    before = _rows(spark, sql)
    compact_iceberg_table(spark, root, timestamp_ms=T1 + 1000)
    assert _rows(spark, sql) == before
    # every live file is now unshredded
    for p in im.live_data_paths(root, im.resolve_snapshot(root)):
        sch = pq.read_schema(p.removeprefix("file://"))
        vt = sch.field("v").type
        subs = {vt.field(i).name for i in range(vt.num_fields)}
        assert subs == {"metadata", "value"}, subs
    # orphan sweep stays clean: the old shredded files are removable
    from cloudfloe_spark.sources.maintenance import (
        remove_orphan_files,
    )

    rep = remove_orphan_files(root, older_than_ms=0)
    assert _rows(spark, sql) == before, rep


def test_compaction_shredded_preserves_typed_fidelity(spark, tmp_path):
    """The normalization re-encodes the VALUE TREE, not the JSON text:
    a shredded timestamp/decimal/ns leaf keeps its exact primitive id
    semantics (rendered identically after the rewrite)."""
    import datetime as dt
    from decimal import Decimal

    from cloudfloe_spark.sources.maintenance import compact_iceberg_table

    shred = {
        "kind": "object",
        "fields": {
            "ts": {"value": True, "typed": {"kind": "ts_us"}},
            "amt": {"value": True, "typed": {"kind": "decimal"}},
        },
    }
    objs = [
        {"ts": dt.datetime(2024, 5, 6, 7, 8, 9, 123456),
         "amt": Decimal("12.3400")},
        {"ts": "not-a-ts", "amt": Decimal("-0.0001")},
        # 38-digit decimal16: the decode→re-encode pass must be
        # digit-exact, not default-context-rounded (ADVICE r13 high)
        {"ts": "n/a",
         "amt": Decimal("1234567890123456789012345678901234.5678")},
    ]
    root, _ = _shredded_table(tmp_path, objs, shred, name="fid")
    sql = f"SELECT id, v FROM iceberg_scan('{root}') ORDER BY id"
    before = _rows(spark, sql)
    assert before[0][1] == (
        '{"amt":12.3400,"ts":"2024-05-06 07:08:09.123456"}'
    )
    assert (
        '"amt":1234567890123456789012345678901234.5678'
        in before[2][1]
    ), before[2][1]
    compact_iceberg_table(spark, root, timestamp_ms=T1 + 1000)
    assert _rows(spark, sql) == before


def test_cdc_shredded_appends_and_retractions_read(spark, tmp_path):
    """r13: CDC reads SHREDDED files on the INSERT side; r15 late: a
    range that RETRACTS rows from shredded files reads too (the 400 is
    gone) — the carried shred groups reassemble to the canonical JSON
    surface through the same group scan, so the retraction emits the
    decoded value."""
    root, t = _shredded_table(tmp_path, OBJS[:3], SHRED, name="cdc")
    s0 = im.resolve_snapshot(root)["snapshot-id"]
    col2 = shred_rows(OBJS[5:6], SHRED)
    t.append_snapshot(
        [pa.table({"id": pa.array([9], pa.int64()), "v": col2})],
        timestamp_ms=T1 + 1000,
    )
    s1 = im.resolve_snapshot(root)["snapshot-id"]
    # insert-only range over a shredded append: reads
    got = _rows(
        spark,
        "SELECT id, v, _change_type "
        f"FROM iceberg_cdc('{root}', {s0}, {s1})",
    )
    assert got == [(9, _expected_json(OBJS[5:6])[0], "insert")]
    # the append feed reads the same range too
    got = _rows(
        spark,
        f"SELECT id, v FROM iceberg_changes('{root}', {s0}, {s1})",
    )
    assert got == [(9, _expected_json(OBJS[5:6])[0])]
    # retraction touching a shredded file: reads, decoded (r15 late)
    base_file = next(
        p
        for p in im.live_data_paths(root, im.resolve_snapshot(root))
        if 0
        in pq.read_table(
            p.removeprefix("file://"), columns=["id"]
        )["id"].to_pylist()
    )
    t.position_delete_snapshot([(base_file, 0)], timestamp_ms=T1 + 2000)
    s2 = im.resolve_snapshot(root)["snapshot-id"]
    got = _rows(
        spark,
        "SELECT id, v, _change_type "
        f"FROM iceberg_cdc('{root}', {s1}, {s2})",
    )
    assert got == [(0, _expected_json(OBJS[:1])[0], "delete")]


def test_compaction_passthrough_on_unshredded_variant(spark, tmp_path):
    """r12 (late): UNSHREDDED variant tables compact via a PHYSICAL
    passthrough — the (metadata, value) struct round-trips
    byte-faithfully and reads are identical after the rewrite; SHREDDED
    files keep the refusal (see test_compaction_refuses_variant_tables,
    now scoped to shredded)."""
    from cloudfloe_spark.sources.maintenance import compact_iceberg_table

    root = str(tmp_path / "vcmp")
    vt = pa.struct([("metadata", pa.binary()), ("value", pa.binary())])

    def mk(n0, n):
        col = pa.array(
            [
                dict(
                    zip(("metadata", "value"), encode_variant({"a": i}))
                )
                for i in range(n0, n0 + n)
            ],
            vt,
        )
        return pa.table(
            {"id": pa.array(range(n0, n0 + n), pa.int64()), "v": col}
        )

    t = LocalIcebergTable(root, mk(0, 3).schema, variant_cols=("v",))
    t.append_snapshot([mk(0, 3)], timestamp_ms=T1)
    t.append_snapshot([mk(3, 2)], timestamp_ms=T1 + 1000)
    paths = sorted(im.live_data_paths(root, im.resolve_snapshot(root)))
    t.position_delete_snapshot([(paths[0], 1)], timestamp_ms=T1 + 2000)
    before = _rows(
        spark, f"SELECT id, v FROM iceberg_scan('{root}') ORDER BY id"
    )
    res = compact_iceberg_table(spark, root, timestamp_ms=T1 + 3000)
    assert res["snapshot_id"] and res["files_after"] >= 1
    after = _rows(
        spark, f"SELECT id, v FROM iceberg_scan('{root}') ORDER BY id"
    )
    assert after == before
    # the compacted files keep the PHYSICAL struct (never JSON text)
    for p in im.live_data_paths(root, im.resolve_snapshot(root)):
        sch = pq.read_schema(p)
        assert pa.types.is_struct(sch.field("v").type)


def test_shredded_us_timestamp_null_leaf_falls_to_residual(spark, tmp_path):
    """r13 (ADVICE r12): a TOP-LEVEL µs-timestamp typed_value leaf
    (spec-legal foreign shredding) reaches the UDF as a datetime64
    series whose nulls are pd.NaT — a row whose datum lives in the
    residual ``value`` must render the residual, never the string
    "NaT"."""
    root = str(tmp_path / "nat")
    ts = datetime.datetime(2024, 5, 6, 7, 8, 9, 123456)
    md0, _ = encode_variant(None)
    md1, v1 = encode_variant("fallback")
    col = pa.array(
        [
            {"metadata": md0, "value": None, "typed_value": ts},
            {"metadata": md1, "value": v1, "typed_value": None},
        ],
        pa.struct(
            [
                ("metadata", pa.binary()),
                ("value", pa.binary()),
                ("typed_value", pa.timestamp("us")),
            ]
        ),
    )
    tbl = pa.table({"id": pa.array([0, 1], pa.int64()), "v": col})
    t = LocalIcebergTable(root, tbl.schema, variant_cols=("v",))
    t.append_snapshot([tbl], timestamp_ms=T1)
    got = _rows(
        spark, f"SELECT id, v FROM iceberg_scan('{root}') ORDER BY id"
    )
    assert got == [
        (0, '"2024-05-06 07:08:09.123456"'),
        (1, '"fallback"'),
    ]


def test_changes_feed_reads_shredded_appends(spark, tmp_path):
    """r13: the append feed (`iceberg_changes`) reads SHREDDED appended
    files — a foreign shredding writer's appends reassemble to the same
    canonical-JSON surface; mixed shredded + unshredded appends in one
    range align and union."""
    root, t = _shredded_table(tmp_path, OBJS[:2], SHRED, name="feed")
    s0 = im.resolve_snapshot(root)["snapshot-id"]
    # shredded append
    t.append_snapshot(
        [
            pa.table(
                {
                    "id": pa.array([10, 11], pa.int64()),
                    "v": shred_rows(OBJS[2:4], SHRED),
                }
            )
        ],
        timestamp_ms=T1 + 1000,
    )
    # unshredded append in the same range
    t.append_snapshot(
        [
            pa.table(
                {
                    "id": pa.array([20], pa.int64()),
                    "v": pa.array(
                        [
                            dict(
                                zip(
                                    ("metadata", "value"),
                                    encode_variant({"plain": 1}),
                                )
                            )
                        ],
                        pa.struct(
                            [
                                ("metadata", pa.binary()),
                                ("value", pa.binary()),
                            ]
                        ),
                    ),
                }
            )
        ],
        timestamp_ms=T1 + 2000,
    )
    s1 = im.resolve_snapshot(root)["snapshot-id"]
    got = _rows(
        spark,
        f"SELECT id, v FROM iceberg_changes('{root}', {s0}, {s1}) "
        "ORDER BY id",
    )
    assert got == [
        (10, _expected_json(OBJS[2:3])[0]),
        (11, _expected_json(OBJS[3:4])[0]),
        (20, '{"plain":1}'),
    ]


def test_changes_feed_resolves_renamed_shredded_appends(
    spark, tmp_path
):
    """r15 late REGRESSION (found live): a shredded file appended by an
    OLD-schema writer after a rename silently NULLED the renamed column
    in the append feed — the alignment step dropped the old-name data
    instead of renaming it. The feed's shredded side now resolves
    write-time names through the shared group scan."""
    import os

    from cloudfloe_spark.sources.iceberg_fixture import (
        commit_row_delta_snapshot,
        rename_column_on_disk,
    )

    root, _t = _shredded_table(tmp_path, OBJS[:2], SHRED, name="feedren")
    s0 = im.resolve_snapshot(root)["snapshot-id"]
    rename_column_on_disk(root, "id", "doc_id", timestamp_ms=T1 + 500)
    ap = os.path.join(root, "data", "old-name-shred.parquet")
    pq.write_table(
        pa.table(
            {
                "id": pa.array([9], pa.int64()),
                "v": shred_rows(OBJS[4:5], SHRED),
            }
        ),
        ap,
    )
    commit_row_delta_snapshot(
        root, new_data_files=[(ap, 1)], timestamp_ms=T1 + 1000
    )
    s1 = im.resolve_snapshot(root)["snapshot-id"]
    got = _rows(
        spark,
        f"SELECT doc_id, v FROM iceberg_changes('{root}', {s0}, {s1})",
    )
    assert got == [(9, _expected_json(OBJS[4:5])[0])]


def test_equality_delete_over_shredded_files(spark, tmp_path):
    """r15 (VERDICT r14 #4): an equality-delete manifest applies over
    SHREDDED data files exactly like plain ones — sequence-ordered, on
    the non-variant key column — and the survivors reassemble."""
    root, t = _shredded_table(tmp_path, OBJS[:3], SHRED, name="eqsh")
    t.equality_delete_snapshot(
        pa.table({"id": pa.array([1], pa.int64())}), [1],
        timestamp_ms=T1 + 1000,
    )
    got = _rows(
        spark, f"SELECT id, v FROM iceberg_scan('{root}') ORDER BY id"
    )
    assert [r[0] for r in got] == [0, 2]
    assert [r[1] for r in got] == [
        _expected_json(OBJS[:1])[0], _expected_json(OBJS[2:3])[0]
    ]
    # a shredded row re-inserted AFTER the delete survives (sequence)
    col2 = shred_rows([OBJS[1]], SHRED)
    t.append_snapshot(
        [pa.table({"id": pa.array([1], pa.int64()), "v": col2})],
        timestamp_ms=T1 + 2000,
    )
    got2 = _rows(spark, f"SELECT id FROM iceberg_scan('{root}') ORDER BY id")
    assert [r[0] for r in got2] == [0, 1, 2]


def test_shredded_rename_default_fill_composes(spark, tmp_path):
    """r15 (VERDICT r14 #1): renames AND v3 initial-defaults together
    over shredded files — predating rows fill the default, the renamed
    key surfaces under its current name, and an equality delete on the
    RENAMED column still applies against the group's on-disk name."""
    root, t = _shredded_table(tmp_path, OBJS[:3], SHRED, name="rdsh")
    t.rename_column("id", "doc_id", timestamp_ms=T1 + 500)
    t.add_column("rank", pa.int64(), timestamp_ms=T1 + 600, default=9)
    got = _rows(
        spark,
        f"SELECT doc_id, rank, v FROM iceberg_scan('{root}') "
        "ORDER BY doc_id",
    )
    assert [(r[0], r[1]) for r in got] == [(0, 9), (1, 9), (2, 9)]
    assert [r[2] for r in got] == _expected_json(OBJS[:3])
    # eq delete keyed on the renamed column (field id 1): the value
    # column translates to the group's on-disk name 'id'
    t.equality_delete_snapshot(
        pa.table({"doc_id": pa.array([0], pa.int64())}), [1],
        timestamp_ms=T1 + 1000,
    )
    got2 = _rows(
        spark,
        f"SELECT doc_id FROM iceberg_scan('{root}') ORDER BY doc_id",
    )
    assert [r[0] for r in got2] == [1, 2]


def test_compaction_normalizes_renamed_defaulted_shredded(spark, tmp_path):
    """r15: compact_iceberg_table over a shredded table WITH renames
    and defaults (refused until r14) — the rewrite lands unshredded
    files under the CURRENT names with the default value physically
    written, and the scan surface is identical before and after."""
    from cloudfloe_spark.sources.maintenance import compact_iceberg_table

    root, t = _shredded_table(tmp_path, OBJS, SHRED, name="cren")
    t.rename_column("id", "doc_id", timestamp_ms=T1 + 500)
    t.add_column("rank", pa.int64(), timestamp_ms=T1 + 600, default=9)
    sql = (
        f"SELECT doc_id, rank, v FROM iceberg_scan('{root}') "
        "ORDER BY doc_id"
    )
    before = _rows(spark, sql)
    compact_iceberg_table(spark, root, timestamp_ms=T1 + 1000)
    assert _rows(spark, sql) == before
    snap = im.resolve_snapshot(root)
    paths = im.live_data_paths(root, snap)
    assert len(paths) == 1
    sch = pq.read_schema(paths[0].removeprefix("file://"))
    assert "doc_id" in sch.names and "rank" in sch.names
    vt = sch.field("v").type
    assert {vt.field(i).name for i in range(vt.num_fields)} == {
        "metadata", "value"
    }
    tblc = pq.read_table(paths[0].removeprefix("file://"))
    assert tblc.column("rank").to_pylist() == [9] * len(OBJS)


def _unshredded_col(objs):
    vt = pa.struct([("metadata", pa.binary()), ("value", pa.binary())])
    return pa.array(
        [
            None
            if o is None
            else dict(zip(("metadata", "value"), encode_variant(o)))
            for o in objs
        ],
        vt,
    )


def test_write_side_shredding_restores_typed_layout(spark, tmp_path):
    """r15 (VERDICT r14 #3): compact_iceberg_table(target_layout=
    'shredded') re-encodes an UNSHREDDED variant table to the shredded
    physical form — the scan surface is identical before and after, the
    rewritten footer carries the typed_value subcolumns WITHOUT a
    top-level residual column (no row needed one), and the typed-path
    pushdown then reads the native parquet subcolumn with zero Python
    in the plan."""
    from cloudfloe_spark.service.iceberg_local import resolve_iceberg_reads
    from cloudfloe_spark.sources.maintenance import compact_iceberg_table
    from cloudfloe_spark.sources.tables import ensure_runtime_conf

    objs = [{"a": i, "s": f"x{i}"} for i in range(6)]
    root = str(tmp_path / "wshred")
    tbl = pa.table(
        {
            "id": pa.array(list(range(6)), pa.int64()),
            "v": _unshredded_col(objs),
        }
    )
    t = LocalIcebergTable(root, tbl.schema, variant_cols=("v",))
    t.append_snapshot([tbl], timestamp_ms=T1)
    desc = {
        "kind": "object",
        "fields": {
            "a": {"value": False, "typed": {"kind": "int"}},
            "s": {"value": False, "typed": {"kind": "string"}},
        },
    }
    sql = f"SELECT id, v FROM iceberg_scan('{root}') ORDER BY id"
    before = _rows(spark, sql)
    compact_iceberg_table(
        spark, root, timestamp_ms=T1 + 1000,
        target_layout="shredded", shred_descriptors={"v": desc},
    )
    assert _rows(spark, sql) == before
    paths = im.live_data_paths(root, im.resolve_snapshot(root))
    assert len(paths) == 1
    vt = pq.read_schema(paths[0].removeprefix("file://")).field("v").type
    subs = {vt.field(i).name for i in range(vt.num_fields)}
    assert subs == {"metadata", "typed_value"}  # auto: no residual col
    # typed extraction now reads the native subcolumn — zero Python
    sess = spark.newSession()
    ensure_runtime_conf(sess)
    resolved = resolve_iceberg_reads(
        sess,
        "SELECT sum(variant_get(parse_json(v), '$.a', 'bigint')) AS s "
        f"FROM iceberg_scan('{root}')",
    )
    df = sess.sql(resolved)
    assert df.first()["s"] == sum(range(6))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan
    assert "typed_value:struct<a:struct<typed_value:bigint>>" in (
        plan.replace(" ", "")
    )


def test_write_side_shredding_keeps_residuals(spark, tmp_path):
    """The residual half of the spec: a value-bearing descriptor over
    rows with extra fields / type mismatches lands the residual in the
    value columns (top-level column kept — rows need it), and the
    reassembled surface is byte-identical to the unshredded original."""
    from cloudfloe_spark.sources.maintenance import compact_iceberg_table

    objs = [
        {"a": 1, "extra": [1, 2]},
        {"a": "not-an-int"},
        None,
        "top-level-string",
        {"b": {"deep": True}},
    ]
    root = str(tmp_path / "wres")
    tbl = pa.table(
        {
            "id": pa.array(list(range(len(objs))), pa.int64()),
            "v": _unshredded_col(objs),
        }
    )
    t = LocalIcebergTable(root, tbl.schema, variant_cols=("v",))
    t.append_snapshot([tbl], timestamp_ms=T1)
    desc = {
        "kind": "object",
        "fields": {"a": {"value": True, "typed": {"kind": "int"}}},
    }
    sql = f"SELECT id, v FROM iceberg_scan('{root}') ORDER BY id"
    before = _rows(spark, sql)
    assert [r[1] for r in before] == _expected_json(objs)
    compact_iceberg_table(
        spark, root, timestamp_ms=T1 + 1000,
        target_layout="shredded", shred_descriptors={"v": desc},
    )
    assert _rows(spark, sql) == before
    paths = im.live_data_paths(root, im.resolve_snapshot(root))
    vt = pq.read_schema(paths[0].removeprefix("file://")).field("v").type
    subs = {vt.field(i).name for i in range(vt.num_fields)}
    assert subs == {"metadata", "value", "typed_value"}


def test_write_side_shredding_validates_inputs(spark, tmp_path):
    from cloudfloe_spark.sources.maintenance import compact_iceberg_table

    root, _ = _shredded_table(tmp_path, OBJS[:2], SHRED, name="wbad")
    with pytest.raises(ValueError, match="unknown target_layout"):
        compact_iceberg_table(
            spark, root, timestamp_ms=T1 + 1000, target_layout="weird"
        )
    with pytest.raises(ValueError, match="requires shred_descriptors"):
        compact_iceberg_table(
            spark, root, timestamp_ms=T1 + 1000, target_layout="shredded"
        )
    with pytest.raises(ValueError, match="non-variant columns"):
        compact_iceberg_table(
            spark, root, timestamp_ms=T1 + 1000,
            target_layout="shredded",
            shred_descriptors={"id": {"kind": "int"}},
        )
    with pytest.raises(ValueError, match="unsupported leaf kind"):
        compact_iceberg_table(
            spark, root, timestamp_ms=T1 + 1000,
            target_layout="shredded",
            shred_descriptors={"v": {"kind": "time64"}},
        )
