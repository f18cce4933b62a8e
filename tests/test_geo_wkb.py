"""WKB envelope parsing over the v3 geometry surface (r13): golden
byte vectors hand-assembled from the OGC WKB layout — never captured
from the parser — plus the Spark UDF path over an Iceberg geometry
table."""

from __future__ import annotations

import struct

import pyarrow as pa
import pytest

from cloudfloe_spark.functions.geo import (
    encode_wkb_point,
    parse_wkb_envelope,
    wkb_envelope_udf,
)

LE = b"\x01"
BE = b"\x00"


def _le(t, payload):
    return LE + struct.pack("<I", t) + payload


def test_point_le_and_be():
    assert parse_wkb_envelope(encode_wkb_point(1.5, -2.25)) == (
        "POINT", 1, 1.5, -2.25, 1.5, -2.25
    )
    be = BE + struct.pack(">I", 1) + struct.pack(">dd", 3.0, 4.0)
    assert parse_wkb_envelope(be) == ("POINT", 1, 3.0, 4.0, 3.0, 4.0)


def test_linestring_envelope():
    pts = [(0.0, 0.0), (2.0, -1.0), (1.0, 5.0)]
    payload = struct.pack("<I", 3) + b"".join(
        struct.pack("<dd", x, y) for x, y in pts
    )
    assert parse_wkb_envelope(_le(2, payload)) == (
        "LINESTRING", 3, 0.0, -1.0, 2.0, 5.0
    )


def test_polygon_with_hole():
    outer = [(0.0, 0.0), (4.0, 0.0), (4.0, 4.0), (0.0, 0.0)]
    hole = [(1.0, 1.0), (2.0, 1.0), (1.0, 2.0), (1.0, 1.0)]
    payload = struct.pack("<I", 2)
    for ring in (outer, hole):
        payload += struct.pack("<I", len(ring)) + b"".join(
            struct.pack("<dd", x, y) for x, y in ring
        )
    assert parse_wkb_envelope(_le(3, payload)) == (
        "POLYGON", 8, 0.0, 0.0, 4.0, 4.0
    )


def test_multipoint_mixed_endianness():
    p1 = encode_wkb_point(-1.0, 2.0)
    p2 = BE + struct.pack(">I", 1) + struct.pack(">dd", 7.0, -3.0)
    payload = struct.pack("<I", 2) + p1 + p2
    assert parse_wkb_envelope(_le(4, payload)) == (
        "MULTIPOINT", 2, -1.0, -3.0, 7.0, 2.0
    )


def test_iso_z_point_skips_third_ordinate():
    # ISO code 1001 = Point Z: three doubles, envelope stays XY
    payload = struct.pack("<ddd", 1.0, 2.0, 99.0)
    assert parse_wkb_envelope(_le(1001, payload)) == (
        "POINT", 1, 1.0, 2.0, 1.0, 2.0
    )


def test_ewkb_srid_and_z_flags():
    # EWKB: Z flag + SRID flag, srid payload skipped
    t = 1 | 0x80000000 | 0x20000000
    buf = LE + struct.pack("<I", t) + struct.pack("<I", 4326)
    buf += struct.pack("<ddd", 5.0, 6.0, 7.0)
    assert parse_wkb_envelope(buf) == ("POINT", 1, 5.0, 6.0, 5.0, 6.0)


def test_rejects_truncated_and_unknown():
    with pytest.raises(ValueError, match="truncated"):
        parse_wkb_envelope(encode_wkb_point(1.0, 2.0)[:-1])
    with pytest.raises(ValueError, match="not supported"):
        parse_wkb_envelope(_le(99, b""))


def test_udf_over_iceberg_geometry_table(spark, tmp_path):
    from pyspark.sql import functions as F

    from cloudfloe_spark.service.iceberg_local import resolve_iceberg_reads
    from cloudfloe_spark.sources.iceberg_fixture import LocalIcebergTable
    from cloudfloe_spark.sources.snapshots import commit_metadata

    root = str(tmp_path / "geo")
    wkbs = [encode_wkb_point(float(i), float(-i)) for i in range(5)]
    t = LocalIcebergTable(
        root, pa.schema([("id", pa.int64()), ("geo", pa.binary())])
    )
    t.append_snapshot(
        [
            pa.table(
                {
                    "id": pa.array(list(range(5)), pa.int64()),
                    "geo": pa.array(wkbs + [], pa.binary()),
                }
            )
        ],
        timestamp_ms=1700000000000,
    )

    def _edit(meta):
        for sch in meta["schemas"]:
            for f in sch["fields"]:
                if f["name"] == "geo":
                    f["type"] = "geometry(srid:4326)"
        meta["format-version"] = 3

    commit_metadata(root, _edit)
    sess = spark.newSession()
    df = sess.sql(
        resolve_iceberg_reads(
            sess, f"SELECT id, geo FROM iceberg_scan('{root}')"
        )
    )
    env = df.withColumn("e", wkb_envelope_udf()(F.col("geo")))
    row = env.agg(
        F.min("e.xmin").alias("x0"),
        F.max("e.xmax").alias("x1"),
        F.min("e.ymin").alias("y0"),
        F.max("e.ymax").alias("y1"),
        F.count_distinct("e.geom_type").alias("t"),
    ).first()
    assert (row["x0"], row["x1"], row["y0"], row["y1"], row["t"]) == (
        0.0, 4.0, -4.0, 0.0, 1
    )


def test_bbox_predicates_are_pure_expressions(spark):
    """r14 (VERDICT r13 #6): bbox_intersects / bbox_contains /
    bbox_expand are pure column expressions — correct on the closed-box
    semantics (shared edges intersect) and containing no Python stage."""
    from pyspark.sql import functions as F

    from cloudfloe_spark.functions.geo import (
        bbox_contains,
        bbox_expand,
        bbox_intersects,
    )

    def box(x0, y0, x1, y1):
        return F.struct(
            F.lit(float(x0)).alias("xmin"), F.lit(float(y0)).alias("ymin"),
            F.lit(float(x1)).alias("xmax"), F.lit(float(y1)).alias("ymax"),
        )

    df = spark.range(1).select(
        bbox_intersects(box(0, 0, 2, 2), box(1, 1, 3, 3)).alias("overlap"),
        bbox_intersects(box(0, 0, 2, 2), box(2, 2, 3, 3)).alias("edge"),
        bbox_intersects(box(0, 0, 2, 2), box(3, 3, 4, 4)).alias("apart"),
        bbox_intersects(box(0, 0, 2, 2), box(0, 3, 2, 4)).alias("above"),
        bbox_contains(box(0, 0, 4, 4), box(1, 1, 2, 2)).alias("inside"),
        bbox_contains(box(0, 0, 4, 4), box(1, 1, 5, 2)).alias("spill"),
        bbox_contains(box(0, 0, 4, 4), box(0, 0, 4, 4)).alias("exact"),
        bbox_expand(box(1, 1, 2, 2), 0.5).alias("grown"),
    )
    r = df.first()
    assert (r["overlap"], r["edge"], r["apart"], r["above"]) == (
        True, True, False, False
    )
    assert (r["inside"], r["spill"], r["exact"]) == (True, False, True)
    assert (
        r["grown"]["xmin"], r["grown"]["ymin"],
        r["grown"]["xmax"], r["grown"]["ymax"],
    ) == (0.5, 0.5, 2.5, 2.5)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan and "Arrow" not in plan


def test_geo_bbox_join_broadcasts_tiles(spark):
    """The spatial join's plan: tiles broadcast, geometry bytes never
    cross an exchange (decode precedes the join)."""
    import os

    from cloudfloe_spark.queries.multimodal import geo_bbox_join

    sf = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    df = geo_bbox_join(spark, sf)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_geo_bounds_stamp_and_bbox_file_skip(spark, tmp_path):
    """r14: compute_geo_bounds stamps per-file envelopes into the
    manifest bounds (manifest rewrite, live set identical);
    iceberg_geo_scan then SKIPS files whose stored box misses the query
    window and applies the exact row-level intersect on the survivors."""
    from pyspark.sql import functions as F

    from cloudfloe_spark.service.iceberg_local import resolve_iceberg_reads
    from cloudfloe_spark.sources import iceberg_meta as im
    from cloudfloe_spark.sources.iceberg_fixture import LocalIcebergTable
    from cloudfloe_spark.sources.snapshots import commit_metadata
    from cloudfloe_spark.sources.maintenance import compute_geo_bounds

    root = str(tmp_path / "geoskip")
    t = LocalIcebergTable(
        root, pa.schema([("id", pa.int64()), ("geo", pa.binary())])
    )
    # three files with disjoint x ranges: [0,9], [100,109], [200,209]
    t.append_snapshot(
        [
            pa.table(
                {
                    "id": pa.array(
                        [base * 100 + i for i in range(10)], pa.int64()
                    ),
                    "geo": pa.array(
                        [
                            encode_wkb_point(
                                float(base * 100 + i), float(i)
                            )
                            for i in range(10)
                        ],
                        pa.binary(),
                    ),
                }
            )
            for base in range(3)
        ],
        timestamp_ms=1700000000000,
    )

    def _edit(meta):
        for sch in meta["schemas"]:
            for f in sch["fields"]:
                if f["name"] == "geo":
                    f["type"] = "geometry(srid:4326)"
        meta["format-version"] = 3

    commit_metadata(root, _edit)

    rep = compute_geo_bounds(
        spark, root, timestamp_ms=1700000001000
    )
    assert rep["files_stamped"] == 3 and rep["geo_columns"] == ["geo"]
    # live file set untouched; bounds stamped as "x y" strings
    snap = im.resolve_snapshot(root)
    stats = im.live_data_stats(root, snap)
    boxes = sorted(
        (
            tuple(float(v) for v in s["lower"]["geo"].split()),
            tuple(float(v) for v in s["upper"]["geo"].split()),
        )
        for s in stats.values()
    )
    assert boxes[0] == ((0.0, 0.0), (9.0, 9.0))
    assert boxes[2] == ((200.0, 0.0), (209.0, 9.0))

    sess = spark.newSession()
    sql = (
        f"SELECT id FROM iceberg_geo_scan('{root}', 'geo', "
        "95.0, -1.0, 115.0, 50.0) ORDER BY id"
    )
    df = sess.sql(resolve_iceberg_reads(sess, sql))
    assert [r["id"] for r in df.collect()] == [100 + i for i in range(10)]
    # file skip proven at execution: only the middle file was read
    resolved = resolve_iceberg_reads(sess, sql)
    files = (
        sess.sql(resolved.replace("SELECT id", "SELECT id", 1))
        .select(F.input_file_name())
        .distinct()
        .count()
    )
    assert files == 1
    # a window crossing two files reads exactly two
    sql2 = (
        f"SELECT count(*) AS n FROM iceberg_geo_scan('{root}', 'geo', "
        "5.0, -1.0, 105.0, 50.0)"
    )
    assert sess.sql(resolve_iceberg_reads(sess, sql2)).first()["n"] == (
        5 + 6
    )
    # non-geometry column → precise 400
    from cloudfloe_spark.service.errors import CloudfloeError

    with pytest.raises(CloudfloeError, match="geometry"):
        resolve_iceberg_reads(
            sess,
            f"SELECT * FROM iceberg_geo_scan('{root}', 'id', "
            "0.0, 0.0, 1.0, 1.0)",
        )


def _geo_table(tmp_path, name, geo_type):
    from cloudfloe_spark.sources.iceberg_fixture import LocalIcebergTable
    from cloudfloe_spark.sources.snapshots import commit_metadata

    root = str(tmp_path / name)
    t = LocalIcebergTable(
        root, pa.schema([("id", pa.int64()), ("geo", pa.binary())])
    )
    t.append_snapshot(
        [
            pa.table(
                {
                    "id": pa.array([0, 1], pa.int64()),
                    "geo": pa.array(
                        [encode_wkb_point(1.0, 2.0),
                         encode_wkb_point(3.0, 4.0)],
                        pa.binary(),
                    ),
                }
            )
        ],
        timestamp_ms=1700000000000,
    )

    def _edit(meta):
        for sch in meta["schemas"]:
            for f in sch["fields"]:
                if f["name"] == "geo":
                    f["type"] = geo_type
        meta["format-version"] = 3

    commit_metadata(root, _edit)
    return root, t


def _ring_wkb(rings):
    """Little-endian 2-D WKB POLYGON from [[(x, y), ...], ...]."""
    import struct

    b = b"\x01" + struct.pack("<I", 3) + struct.pack("<I", len(rings))
    for r in rings:
        b += struct.pack("<I", len(r)) + b"".join(
            struct.pack("<dd", x, y) for x, y in r
        )
    return b


def test_wrap_interval_and_circular_intersect():
    """Golden cases for the circular-longitude helpers (r15): the
    minimal covering interval wraps exactly when the largest gap does
    NOT contain the antimeridian, and the intersect test covers all
    four wrap combinations."""
    from cloudfloe_spark.functions.geo import (
        wrap_interval,
        wrapped_x_intersects,
    )

    assert wrap_interval([10.0]) == (10.0, 10.0)
    assert wrap_interval([10.0, 20.0, 170.0]) == (10.0, 170.0)
    # points hugging ±180: minimal interval wraps
    assert wrap_interval([178.0, -178.0]) == (178.0, -178.0)
    assert wrap_interval([170.0, 179.0, -179.0, -170.0]) == (
        170.0, -170.0
    )
    # the largest gap can be anywhere on the circle: points at
    # -170/0/170 leave only a 20° gap across ±180, so the minimal
    # cover is the WRAPPED [0, -170] (complement of the 170° gap)
    assert wrap_interval([-170.0, 0.0, 170.0]) == (0.0, -170.0)
    assert wrapped_x_intersects(178.0, -178.0, 179.0, 179.5)
    assert wrapped_x_intersects(178.0, -178.0, -179.5, -179.0)
    assert not wrapped_x_intersects(178.0, -178.0, 0.0, 100.0)
    assert wrapped_x_intersects(10.0, 20.0, 15.0, 17.0)
    assert wrapped_x_intersects(170.0, -170.0, 175.0, -175.0)
    # wrapped QUERY [30, 5] covers [30,180] ∪ [-180,5] — misses [10,20]
    assert not wrapped_x_intersects(10.0, 20.0, 30.0, 5.0)


def test_geography_wrapped_bounds_stamp_scan_and_skip(spark, tmp_path):
    """r15 (lifting the ADVICE r14 refusal): geography columns get
    WRAPPED longitude bounds (lower.x > upper.x crosses the
    antimeridian, the v3 convention) from POINT features —
    compute_geo_bounds stamps them, iceberg_geo_scan prunes files with
    circular-interval intersection and filters rows against a
    possibly-wrapped query window."""
    from pyspark.sql import functions as F

    from cloudfloe_spark.service.iceberg_local import resolve_iceberg_reads
    from cloudfloe_spark.sources import iceberg_meta as im
    from cloudfloe_spark.sources.iceberg_fixture import LocalIcebergTable
    from cloudfloe_spark.sources.snapshots import commit_metadata
    from cloudfloe_spark.sources.maintenance import compute_geo_bounds

    root = str(tmp_path / "geog")
    t = LocalIcebergTable(
        root, pa.schema([("id", pa.int64()), ("geo", pa.binary())])
    )
    # three files: lon band [0..9]; band [170..179]∪[-179..-170]
    # (wrapping); band [-100..-91]
    bands = [
        [(i, float(i), float(i % 7)) for i in range(10)],
        [
            (100 + i, 170.0 + i if i < 5 else -175.0 + (i - 5) - 4.0,
             float(i % 5))
            for i in range(10)
        ],
        [(200 + i, -100.0 + i, float(i % 3)) for i in range(10)],
    ]
    t.append_snapshot(
        [
            pa.table(
                {
                    "id": pa.array([r[0] for r in band], pa.int64()),
                    "geo": pa.array(
                        [encode_wkb_point(r[1], r[2]) for r in band],
                        pa.binary(),
                    ),
                }
            )
            for band in bands
        ],
        timestamp_ms=1700000000000,
    )

    def _edit(meta):
        for sch in meta["schemas"]:
            for f in sch["fields"]:
                if f["name"] == "geo":
                    f["type"] = "geography(srid:4326)"
        meta["format-version"] = 3

    commit_metadata(root, _edit)

    rep = compute_geo_bounds(spark, root, timestamp_ms=1700000001000)
    assert rep["files_stamped"] == 3
    snap = im.resolve_snapshot(root)
    stats = im.live_data_stats(root, snap)
    boxes = sorted(
        (
            tuple(float(v) for v in s["lower"]["geo"].split()),
            tuple(float(v) for v in s["upper"]["geo"].split()),
        )
        for s in stats.values()
    )
    assert boxes[0] == ((-100.0, 0.0), (-91.0, 2.0))
    assert boxes[1] == ((0.0, 0.0), (9.0, 6.0))
    # the straddling file stores the WRAPPED interval: lower.x > upper.x
    assert boxes[2] == ((170.0, 0.0), (-175.0, 4.0))

    # wrapped QUERY window [175, -172]: only the straddling band file
    # is read; rows on both sides of ±180 return
    sess = spark.newSession()
    sql = (
        f"SELECT id FROM iceberg_geo_scan('{root}', 'geo', "
        "175.0, -1.0, -172.0, 50.0)"
    )
    df = sess.sql(resolve_iceberg_reads(sess, sql))
    got = sorted(r["id"] for r in df.collect())
    # lons: 175..179 (ids 105-109 → wait: i<5 gives 170..174) —
    # ids 100..104 have lon 170..174 (excluded), ids 105..109 have lon
    # -179..-175 (included: x <= -172 fails for -175? -175 <= -172 ✓)
    assert got == [105, 106, 107, 108, 109]
    files = df.select(F.input_file_name()).distinct().count()
    assert files == 1
    # ordinary window touching only the negative band
    sql2 = (
        f"SELECT count(*) AS n FROM iceberg_geo_scan('{root}', 'geo', "
        "-95.0, -1.0, -80.0, 50.0)"
    )
    df2 = sess.sql(resolve_iceberg_reads(sess, sql2))
    assert df2.first()["n"] == 5  # lons -95..-91


def test_geography_line_features_stamp_scan_and_skip(spark, tmp_path):
    """r15 late (lifting the point-only limitation): LINESTRING
    geography features get an EXACT spherical-edge envelope — the write
    stamp and the retrofit stamp both record the wrapped interval for a
    line crossing the antimeridian, the scan's row predicate intersects
    the feature envelope (no more raise), and a wrapped query window
    prunes to the one file whose interval it touches."""
    import os
    import struct

    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from cloudfloe_spark.service.iceberg_local import resolve_iceberg_reads
    from cloudfloe_spark.sources import iceberg_meta as im
    from cloudfloe_spark.sources.iceberg_fixture import (
        commit_row_delta_snapshot,
    )
    from cloudfloe_spark.sources.maintenance import compute_geo_bounds

    # a 2-point linestring crossing the antimeridian
    ls = (
        b"\x01" + struct.pack("<I", 2) + struct.pack("<I", 2)
        + struct.pack("<dd", 179.0, 0.0)
        + struct.pack("<dd", -179.0, 1.0)
    )
    root, _t = _geo_table(tmp_path, "geogline", "geography(srid:4326)")
    lp = os.path.join(root, "data", "lines.parquet")
    pq.write_table(
        pa.table(
            {
                "id": pa.array([50], pa.int64()),
                "geo": pa.array([ls], pa.binary()),
            }
        ),
        lp,
    )
    commit_row_delta_snapshot(
        root, new_data_files=[(lp, 1)], timestamp_ms=1700000001000
    )
    # write-time stamp recorded the WRAPPED interval for the line file
    snap = im.resolve_snapshot(root)
    stats = im.live_data_stats(root, snap)
    line_stat = next(
        s for p, s in stats.items() if p.endswith("lines.parquet")
    )
    assert line_stat["lower"]["geo"].split()[0] == "179.0"
    assert line_stat["upper"]["geo"].split()[0] == "-179.0"
    # the retrofit stamp covers it too (both files stamped)
    rep = compute_geo_bounds(spark, root, timestamp_ms=1700000002000)
    assert rep["files_stamped"] == 2 and rep["files_total"] == 2
    # a wrapped window near ±180 intersects the LINE's envelope, reads
    # exactly the line file, and returns the row (no raise)
    sess = spark.newSession()
    sql = (
        f"SELECT id FROM iceberg_geo_scan('{root}', 'geo', "
        "178.0, -5.0, -178.0, 5.0)"
    )
    df = sess.sql(resolve_iceberg_reads(sess, sql))
    assert [r["id"] for r in df.collect()] == [50]
    assert df.select(F.input_file_name()).distinct().count() == 1
    # an ordinary window away from the line (and the base points)
    # misses everything
    sql2 = (
        f"SELECT count(*) AS n FROM iceberg_geo_scan('{root}', 'geo', "
        "-90.0, -5.0, -30.0, 5.0)"
    )
    assert (
        sess.sql(resolve_iceberg_reads(sess, sql2)).first()["n"] == 0
    )


def test_geography_polygon_stamp_scan_and_full_sphere(spark, tmp_path):
    """POLYGON geography works (r15 late, lifting the refusal): a
    winding-0 pole-free ring gets its exact boundary envelope —
    stamped at write time, pruned and row-filtered by the scan — while
    a ring winding around a pole takes the full-sphere envelope and
    matches every window (sound under any interior convention)."""
    import os
    import struct

    import pyarrow.parquet as pq

    from cloudfloe_spark.service.iceberg_local import resolve_iceberg_reads
    from cloudfloe_spark.sources import iceberg_meta as im
    from cloudfloe_spark.sources.iceberg_fixture import (
        commit_row_delta_snapshot,
    )
    from cloudfloe_spark.sources.maintenance import compute_geo_bounds

    tri = _ring_wkb([[(100.0, 10.0), (110.0, 10.0), (110.0, 20.0),
                     (100.0, 10.0)]])
    polar = _ring_wkb([[(0.0, 80.0), (90.0, 80.0), (180.0, 80.0),
                       (-90.0, 80.0), (0.0, 80.0)]])
    root, _t = _geo_table(tmp_path, "geogpoly", "geography(srid:4326)")
    lp = os.path.join(root, "data", "polys.parquet")
    pq.write_table(
        pa.table(
            {
                "id": pa.array([60, 61], pa.int64()),
                "geo": pa.array([tri, polar], pa.binary()),
            }
        ),
        lp,
    )
    commit_row_delta_snapshot(
        root, new_data_files=[(lp, 1)], timestamp_ms=1700000001000
    )
    # write-time stamp: the polar ring widened the file to full sphere
    snap = im.resolve_snapshot(root)
    stats = im.live_data_stats(root, snap)
    poly_stat = next(
        s for p, s in stats.items() if p.endswith("polys.parquet")
    )
    assert poly_stat["lower"]["geo"] == "-180.0 -90.0"
    assert poly_stat["upper"]["geo"] == "180.0 90.0"
    # the retrofit stamp agrees (both files stamped)
    rep = compute_geo_bounds(spark, root, timestamp_ms=1700000002000)
    assert rep["files_stamped"] == 2 and rep["files_total"] == 2
    sess = spark.newSession()
    # a window over the triangle returns BOTH polygon rows: the
    # triangle by boundary envelope, the polar ring by full sphere
    sql = (
        f"SELECT id FROM iceberg_geo_scan('{root}', 'geo', "
        "105.0, 12.0, 108.0, 14.0) ORDER BY id"
    )
    got = [r["id"] for r in
           sess.sql(resolve_iceberg_reads(sess, sql)).collect()]
    assert got == [60, 61]
    # a window away from the triangle still matches the polar ring
    sql2 = (
        f"SELECT id FROM iceberg_geo_scan('{root}', 'geo', "
        "-30.0, -60.0, -20.0, -50.0)"
    )
    got2 = [r["id"] for r in
            sess.sql(resolve_iceberg_reads(sess, sql2)).collect()]
    assert got2 == [61]


def test_geo_bounds_resolves_renamed_table(spark, tmp_path):
    """r15 late (lifting the ADVICE r14 refusal): compute_geo_bounds on
    a RENAMED table resolves files through scan_groups — each group
    reads under its write-time on-disk names (field-id binding, so the
    rename can never mis-bind a physical column) — and the stamp lands
    under the CURRENT column name, which the geo scan then prunes with.
    The name-REUSE hazard the old guard feared is refused upstream for
    every consumer (schema_name_history raises 'ambiguous column
    history'), so the lift cannot reintroduce it."""
    import os

    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from cloudfloe_spark.service.iceberg_local import resolve_iceberg_reads
    from cloudfloe_spark.sources import iceberg_meta as im
    from cloudfloe_spark.sources.iceberg_fixture import (
        commit_row_delta_snapshot,
        rename_column_on_disk,
    )
    from cloudfloe_spark.sources.maintenance import compute_geo_bounds

    root, _t = _geo_table(tmp_path, "georen", "geometry(srid:4326)")
    # a second file in a DISJOINT band, committed externally so the
    # geo-typed metadata survives
    p2 = os.path.join(root, "data", "band100.parquet")
    pq.write_table(
        pa.table(
            {
                "id": pa.array([10, 11], pa.int64()),
                "geo": pa.array(
                    [encode_wkb_point(100.0, 5.0),
                     encode_wkb_point(101.0, 6.0)],
                    pa.binary(),
                ),
            }
        ),
        p2,
    )
    commit_row_delta_snapshot(
        root, new_data_files=[(p2, 2)], timestamp_ms=1700000000500
    )
    rename_column_on_disk(root, "geo", "loc", timestamp_ms=1700000001000)
    rename_column_on_disk(root, "id", "rid", timestamp_ms=1700000001100)
    rep = compute_geo_bounds(spark, root, timestamp_ms=1700000002000)
    assert rep["files_stamped"] == 2 and rep["files_total"] == 2
    assert rep["geo_columns"] == ["loc"]
    # every live file carries bounds under the CURRENT name
    snap = im.resolve_snapshot(root)
    for s in im.live_data_stats(root, snap).values():
        assert "loc" in (s["lower"] or {}), s
    # a window over the first band reads exactly that file and the
    # renamed surface filters correctly
    sess = spark.newSession()
    sql = (
        f"SELECT rid FROM iceberg_geo_scan('{root}', 'loc', "
        "0.0, 0.0, 10.0, 10.0)"
    )
    df = sess.sql(resolve_iceberg_reads(sess, sql))
    assert sorted(r["rid"] for r in df.collect()) == [0, 1]
    assert df.select(F.input_file_name()).distinct().count() == 1


def test_geo_bounds_stamped_at_write_time(spark, tmp_path):
    """r15 (VERDICT r14 #6): once the table declares a geometry column,
    every commit that lands data files computes the file's WKB envelope
    in the same per-file stats pass and stamps it into the manifest
    bounds — so bbox file-skipping stays alive on appended/DML'd/
    compacted files with NO manual compute_geo_bounds rewrite."""
    import os

    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from cloudfloe_spark.service.iceberg_local import resolve_iceberg_reads
    from cloudfloe_spark.sources import iceberg_meta as im
    from cloudfloe_spark.sources.iceberg_fixture import (
        commit_row_delta_snapshot,
    )
    from cloudfloe_spark.sources.maintenance import compute_geo_bounds

    root, _ = _geo_table(tmp_path, "geowrite", "geometry(srid:4326)")
    compute_geo_bounds(spark, root, timestamp_ms=1700000001000)

    # append a file in a DISJOINT band via the external commit — its
    # envelope must land in the manifest with no manifest rewrite
    new_path = os.path.join(root, "data", "band200.parquet")
    pq.write_table(
        pa.table(
            {
                "id": pa.array([200 + i for i in range(5)], pa.int64()),
                "geo": pa.array(
                    [
                        encode_wkb_point(200.0 + i, float(i))
                        for i in range(5)
                    ],
                    pa.binary(),
                ),
            }
        ),
        new_path,
    )
    commit_row_delta_snapshot(
        root, new_data_files=[(new_path, 5)],
        timestamp_ms=1700000002000,
    )
    snap = im.resolve_snapshot(root)
    stats = im.live_data_stats(root, snap)
    new_stat = next(
        s for p, s in stats.items() if p.endswith("band200.parquet")
    )
    assert new_stat["lower"]["geo"] == "200.0 0.0"
    assert new_stat["upper"]["geo"] == "204.0 4.0"

    # file skip proven at execution on the POST-APPEND snapshot: a
    # window over the new band reads exactly the new file
    sess = spark.newSession()
    sql = (
        f"SELECT id FROM iceberg_geo_scan('{root}', 'geo', "
        "150.0, -1.0, 300.0, 50.0)"
    )
    df = sess.sql(resolve_iceberg_reads(sess, sql))
    assert sorted(r["id"] for r in df.collect()) == [
        200 + i for i in range(5)
    ]
    files = df.select(F.input_file_name()).distinct().count()
    assert files == 1
    # and a window missing every band returns nothing, reading 0 files
    sql0 = (
        f"SELECT count(*) AS n FROM iceberg_geo_scan('{root}', 'geo', "
        "500.0, 500.0, 600.0, 600.0)"
    )
    assert sess.sql(resolve_iceberg_reads(sess, sql0)).first()["n"] == 0

    # compaction rewrites through the same commit: bounds survive
    from cloudfloe_spark.sources.maintenance import compact_iceberg_table

    compact_iceberg_table(
        spark, root, timestamp_ms=1700000003000, sort_by=["id"]
    )
    snap2 = im.resolve_snapshot(root)
    stats2 = im.live_data_stats(root, snap2)
    assert all("geo" in (s["lower"] or {}) for s in stats2.values())
    lo = sorted(
        float((s["lower"] or {})["geo"].split()[0])
        for s in stats2.values()
    )
    assert lo[0] == 1.0  # compacted layout keeps exact envelopes


def test_geo_write_stamp_sound_by_omission(tmp_path):
    """Unparseable WKB / EMPTY-only / NaN-coordinate files commit
    normally but carry NO geometry bounds (a wrong box would prune
    matching rows; no box just reads the file)."""
    import struct

    from cloudfloe_spark.sources.iceberg_fixture import (
        _column_stats,
        _geo_stat_cols,
    )

    geo = frozenset({"geo"})
    # garbage bytes → no geo bounds, other columns still bounded
    t = pa.table(
        {
            "id": pa.array([1, 2], pa.int64()),
            "geo": pa.array([b"\x01\xff", None], pa.binary()),
        }
    )
    lower, upper, nulls = _column_stats(t, geo_cols=geo)
    assert "geo" not in (lower or {})
    assert lower["id"] == "1"
    # NaN coordinate → no bounds (NaN is unordered)
    nan_pt = encode_wkb_point(float("nan"), 1.0)
    t2 = pa.table(
        {"geo": pa.array([nan_pt, encode_wkb_point(0.0, 0.0)],
                         pa.binary())}
    )
    lower2, _u2, _n2 = _column_stats(t2, geo_cols=geo)
    assert not (lower2 or {}).get("geo")
    # EMPTY geometry rows are skipped; real rows still bound the file
    empty_ls = b"\x01" + struct.pack("<I", 2) + struct.pack("<I", 0)
    t3 = pa.table(
        {"geo": pa.array([empty_ls, encode_wkb_point(5.0, 6.0)],
                         pa.binary())}
    )
    lower3, upper3, _n3 = _column_stats(t3, geo_cols=geo)
    assert lower3["geo"] == "5.0 6.0" and upper3["geo"] == "5.0 6.0"
    # _geo_stat_cols reports each geo column's kind (r15: geography
    # stamps too, with wrapped point-only envelopes)
    meta = {
        "current-schema-id": 0,
        "schemas": [
            {
                "schema-id": 0,
                "fields": [
                    {"name": "g1", "type": "geometry(srid:4326)"},
                    {"name": "g2", "type": "geography(srid:4326)"},
                ],
            }
        ],
    }
    assert _geo_stat_cols(meta) == {
        "g1": "geometry", "g2": "geography"
    }


def test_point_stamp_vectorized_fast_path_equivalence():
    """The write-time stamp's bulk numpy decode (all values 21-byte LE
    WKB points) must agree exactly with the per-row parser, decode
    sliced/chunked/large_binary arrays correctly, and FALL BACK on any
    shape it can't prove (nulls, other endianness, other lengths)."""
    import struct

    from cloudfloe_spark.functions.geo import parse_wkb_envelope
    from cloudfloe_spark.sources.iceberg_fixture import (
        _geo_envelope,
        _geog_envelope,
        _point_xy_vectorized,
    )

    pts = [
        encode_wkb_point(float(i % 360) - 180.0 + 0.25,
                         float(i % 180) - 90.0 + 0.5)
        for i in range(1000)
    ]
    chunked = pa.chunked_array(
        [pa.array(pts[:600], pa.binary()),
         pa.array(pts[600:], pa.binary())]
    )
    fast = _point_xy_vectorized(chunked)
    assert fast is not None and len(fast[0]) == 1000
    assert _geo_envelope(chunked) == (-179.75, -89.5, 179.25, 89.5)

    # sliced array with non-zero offset decodes the right window
    sl = pa.array(pts[:100], pa.binary()).slice(10, 50)
    xs, ys = _point_xy_vectorized(sl)
    exp = parse_wkb_envelope(pts[10])
    assert xs[0] == exp[2] and ys[0] == exp[3] and len(xs) == 50

    # large_binary offsets are int64 — must not misread as int32
    lb = pa.array(pts[:100], pa.large_binary())
    xs2, ys2 = _point_xy_vectorized(lb)
    assert len(xs2) == 100
    assert xs2[0] == -179.75 and ys2[0] == -89.5

    # fallbacks: nulls, a big-endian point, a non-21-byte value — the
    # slow path then produces the identical envelope where sound
    assert _point_xy_vectorized(
        pa.array(pts[:5] + [None], pa.binary())
    ) is None
    be = b"\x00" + struct.pack(">I", 1) + struct.pack(">dd", 3.0, 4.0)
    mixed = pa.array(pts[:50] + [be], pa.binary())
    assert _point_xy_vectorized(mixed) is None
    assert _geo_envelope(mixed) == _geo_envelope(
        pa.array(pts[:50] + [encode_wkb_point(3.0, 4.0)], pa.binary())
    )

    # geography: the fast path feeds the same wrapped-interval logic
    geo = pa.array(
        [encode_wkb_point(178.0, 1.0), encode_wkb_point(-178.0, 2.0)],
        pa.binary(),
    )
    assert _geog_envelope(geo) == (178.0, 1.0, -178.0, 2.0)
    assert _geog_envelope(
        pa.array([encode_wkb_point(200.0, 1.0)], pa.binary())
    ) is None


def test_wrap_interval_properties():
    """Property: wrap_interval returns a COVER of every input (circle
    membership) whose width is exactly 360° minus the largest circular
    gap — i.e. the minimal cover. Checked against a brute-force gap
    computation over random longitude sets. The oracle's arithmetic is
    exact (``Fraction``): in floats, a gap of 360 - 2.8e-14 rounds to
    360 and ``% 360`` makes it 0."""
    from fractions import Fraction

    from hypothesis import example, given, settings
    from hypothesis import strategies as st

    from cloudfloe_spark.functions.geo import wrap_interval

    def member(x, lo, hi):
        return lo <= x <= hi if lo <= hi else (x >= lo or x <= hi)

    def width(lo, hi):
        lo, hi = Fraction(lo), Fraction(hi)
        return hi - lo if lo <= hi else (180 - lo) + (hi + 180)

    lons = st.lists(
        st.floats(min_value=-180.0, max_value=180.0,
                  allow_nan=False, allow_infinity=False),
        min_size=1, max_size=40,
    )

    @settings(max_examples=300, deadline=None)
    @given(lons)
    @example([179.99999999999997, -180.0])
    def check(vals):
        if -180.0 in vals and 180.0 in vals:
            return  # ±180 alias the same circular point — the gap
            # brute force below would count a phantom 0° gap
        lo, hi = wrap_interval(vals)
        pts = sorted(set(vals))
        assert all(member(v, lo, hi) for v in pts)
        if len(pts) == 1:
            assert lo == hi == pts[0]
            return
        gaps = [
            (Fraction(pts[(i + 1) % len(pts)]) - Fraction(pts[i])) % 360
            for i in range(len(pts))
        ]
        # minimality: the cover's width is the circle minus the
        # largest gap
        assert abs(width(lo, hi) - (360 - max(gaps))) < 1e-9

    check()


def test_wrap_interval_cover_properties():
    """Properties of the interval generalization (r15 late):
    degenerate point intervals reduce EXACTLY to wrap_interval, and
    the cover contains every input interval (circle membership of both
    endpoints plus the wrap flag implying coverage of the span)."""
    from hypothesis import example, given, settings
    from hypothesis import strategies as st

    from cloudfloe_spark.functions.geo import (
        wrap_interval,
        wrap_interval_cover,
        wrapped_x_intersects,
    )

    lon = st.floats(min_value=-180.0, max_value=180.0,
                    allow_nan=False, allow_infinity=False)

    @settings(max_examples=300, deadline=None)
    @given(st.lists(lon, min_size=1, max_size=30))
    def check_points(vals):
        if -180.0 in vals and 180.0 in vals:
            return  # ±180 alias one circular point; the two impls
            # pick different (equally minimal, width-0-different)
            # representations of the degenerate cover
        assert wrap_interval_cover(
            [(v, v) for v in vals]
        ) == wrap_interval(vals)

    def fwd_span(s, e):
        # a non-wrapping interval's span is exactly e - s; `% 360` of a
        # span within an ulp of 360 would round it to 0
        return e - s if s <= e else (e - s) % 360.0

    @settings(max_examples=300, deadline=None)
    @given(st.lists(st.tuples(lon, lon), min_size=1, max_size=12))
    @example([(0.0, 0.0), (-179.99999999999997, 180.0)])
    def check_cover(ivs):
        lo, hi = wrap_interval_cover(ivs)
        # exact circular containment: the interval's forward span from
        # its start must fit inside the cover's span from ITS start
        cover_span = fwd_span(lo, hi)
        if cover_span >= 360.0:
            return  # full circle: contains everything
        for a, b in ivs:
            span = fwd_span(a, b)
            offset = (a - lo) % 360.0
            assert offset + span <= cover_span + 1e-9, (
                ivs, (lo, hi), (a, b)
            )
            assert wrapped_x_intersects(lo, hi, a, b)

    check_points()
    check_cover()


def test_geodesic_envelope_golden():
    """Golden spherical-edge envelopes (r15 late): longitude takes the
    SHORTER arc per edge; latitude includes the great circle's
    Clairaut vertex when the arc contains it (arccos(1/√3) for the
    equal-45° Δλ=90° edge); meridian edges (Δλ=180°) run through a
    pole — full longitude circle, pole latitude; antipodal endpoints
    and polygons raise."""
    import math
    import struct

    from cloudfloe_spark.functions.geo import (
        encode_wkb_point,
        parse_geodesic_envelope,
    )

    def ls(*pts):
        b = b"\x01" + struct.pack("<I", 2) + struct.pack(
            "<I", len(pts)
        )
        for x, y in pts:
            b += struct.pack("<dd", x, y)
        return b

    # point: degenerate envelope
    assert parse_geodesic_envelope(encode_wkb_point(5.0, 6.0)) == (
        5.0, 5.0, 6.0, 6.0
    )
    # equatorial edge: latitude constant
    assert parse_geodesic_envelope(ls((0, 0), (90, 0))) == (
        0.0, 90.0, 0.0, 0.0
    )
    # same-meridian edge: pure latitude span
    assert parse_geodesic_envelope(ls((10, 0), (10, 50))) == (
        10.0, 10.0, 0.0, 50.0
    )
    # the classic vertex case: both endpoints at 45°N, Δλ = 90° — the
    # arc's midpoint reaches arccos(1/√3) ≈ 54.7356°N
    lo, hi, y0, y1 = parse_geodesic_envelope(ls((0, 45), (90, 45)))
    assert (lo, hi, y0) == (0.0, 90.0, 45.0)
    assert abs(y1 - math.degrees(math.acos(1 / math.sqrt(3)))) < 1e-12
    # antimeridian edge: wrapped interval, no vertex inflation needed
    assert parse_geodesic_envelope(ls((170, 0), (-170, 10))) == (
        170.0, -170.0, 0.0, 10.0
    )
    # meridian edge through the north pole (Δλ = 180, lats positive)
    assert parse_geodesic_envelope(ls((10, 80), (-170, 70))) == (
        -180.0, 180.0, 70.0, 90.0
    )
    # antipodal endpoints: undefined geodesic — loud
    with pytest.raises(ValueError, match="antipodal"):
        parse_geodesic_envelope(ls((10, 20), (-170, -20)))

    # polygons (r15 late, lifting the refusal)
    # winding-0 triangle: exact boundary envelope
    tri = _ring_wkb([[(10, 10), (20, 10), (20, 20), (10, 10)]])
    assert parse_geodesic_envelope(tri) == (10.0, 20.0, 10.0, 20.0)
    # equal-lat top edge bulges by the Clairaut vertex, and a hole
    # adds no extent beyond its own vertices
    holed = _ring_wkb(
        [
            [(0, 0), (30, 0), (30, 30), (0, 30), (0, 0)],
            [(10, 10), (20, 10), (20, 20), (10, 20), (10, 10)],
        ]
    )
    lo, hi, y0, y1 = parse_geodesic_envelope(holed)
    assert (lo, hi, y0) == (0.0, 30.0, 0.0)
    assert 30.0 < y1 < 31.0  # vertex of the lat-30 Δλ=30 edge
    # a ring WINDING around a pole (Δλ sums to +360) contains a pole
    # whichever side is interior → full-sphere envelope
    polar_ring = _ring_wkb(
        [[(0, 80), (90, 80), (180, 80), (-90, 80), (0, 80)]]
    )
    assert parse_geodesic_envelope(polar_ring) == (
        -180.0, 180.0, -90.0, 90.0
    )
    # a ring TOUCHING a pole (vertex at ±90) → full sphere too
    pole_vertex = _ring_wkb([[(0, 80), (10, 90), (20, 80), (0, 80)]])
    assert parse_geodesic_envelope(pole_vertex) == (
        -180.0, 180.0, -90.0, 90.0
    )
    # multipolygon straddling the antimeridian: wrapped cover
    mp2 = (
        b"\x01" + struct.pack("<I", 6) + struct.pack("<I", 2)
        + _ring_wkb([[(175, 0), (179, 0), (179, 5), (175, 0)]])
        + _ring_wkb([[(-179, 0), (-175, 0), (-175, 5), (-179, 0)]])
    )
    assert parse_geodesic_envelope(mp2) == (175.0, -175.0, 0.0, 5.0)
    # collection mixing a point and a polygon
    coll = (
        b"\x01" + struct.pack("<I", 7) + struct.pack("<I", 2)
        + encode_wkb_point(50.0, 50.0) + tri
    )
    assert parse_geodesic_envelope(coll) == (10.0, 50.0, 10.0, 50.0)
    # review r15 late: UNCLOSED rings (GeoJSON-converter artifacts)
    # close implicitly — the closing edge enters the winding pre-pass
    # and the envelope work, so a closing meridian edge through the
    # pole still classifies full-sphere and a closing Clairaut bulge
    # still inflates the envelope
    unclosed_polar = _ring_wkb(
        [[(0, 50), (60, 50), (120, 50), (180, 50)]]
    )  # closing edge (180,50)->(0,50) runs through the north pole
    assert parse_geodesic_envelope(unclosed_polar) == (
        -180.0, 180.0, -90.0, 90.0
    )
    unclosed = _ring_wkb([[(0, 60), (90, 60), (170, 60)]])
    closed = _ring_wkb([[(0, 60), (90, 60), (170, 60), (0, 60)]])
    assert parse_geodesic_envelope(unclosed) == (
        parse_geodesic_envelope(closed)
    )
    # a multipoint straddling ±180 wraps like its point set
    mp = (
        b"\x01" + struct.pack("<I", 4) + struct.pack("<I", 2)
        + encode_wkb_point(179.0, 2.0)
        + encode_wkb_point(-178.0, 3.0)
    )
    assert parse_geodesic_envelope(mp) == (179.0, -178.0, 2.0, 3.0)
    # review r15 late: an edge whose endpoint lons ALIAS the seam
    # (-180 vs 180 — the same meridian) must cover just that meridian,
    # never the full circle, in either vertex order
    assert parse_geodesic_envelope(ls((-180, 0), (180, 10))) == (
        180.0, -180.0, 0.0, 10.0
    )
    assert parse_geodesic_envelope(ls((180, 0), (-180, 10))) == (
        180.0, -180.0, 0.0, 10.0
    )
    # review r15 late: a repeated consecutive vertex (common in real
    # data) is a zero-length edge, not an error
    lo, hi, y0, y1 = parse_geodesic_envelope(
        ls((10, 20), (10, 20), (30, 20))
    )
    assert (lo, hi, y0) == (10.0, 30.0, 20.0)
    assert y1 >= 20.0  # Clairaut vertex of the real edge
    # review r15 late: truncated count fields surface as ValueError
    # (the sound-by-omission contract), never a raw struct.error, in
    # BOTH parsers
    from cloudfloe_spark.functions.geo import parse_wkb_envelope

    for trunc in (b"\x01\x02\x00\x00\x00", b"\x01\x04\x00\x00\x00"):
        with pytest.raises(ValueError, match="truncated or malformed"):
            parse_geodesic_envelope(trunc)
        with pytest.raises(ValueError, match="truncated or malformed"):
            parse_wkb_envelope(trunc)
    # pathologically nested collections surface as ValueError too
    deep = b"\x01\x07\x00\x00\x00\x01\x00\x00\x00" * 5000 + (
        encode_wkb_point(1.0, 2.0)
    )
    with pytest.raises(ValueError, match="nesting"):
        parse_geodesic_envelope(deep)
    with pytest.raises(ValueError, match="nesting"):
        parse_wkb_envelope(deep)


def test_streaming_append_stamps_geo_bounds(spark, tmp_path):
    """Streaming micro-batches into a geometry table go through
    commit_row_delta_snapshot, so every appended file carries its
    envelope — the bbox skip stays alive on streamed data with no
    manual rewrite."""
    import os

    import pyarrow.parquet as pq

    from cloudfloe_spark.sources import iceberg_meta as im
    from cloudfloe_spark.sources.iceberg_fixture import (
        commit_row_delta_snapshot,
    )

    root, _ = _geo_table(tmp_path, "geostream", "geometry(srid:4326)")
    # two micro-batch-shaped appends, disjoint bands
    for i, base in enumerate((300.0, 400.0)):
        p = os.path.join(root, "data", f"epoch-{i}.parquet")
        pq.write_table(
            pa.table(
                {
                    "id": pa.array([int(base) + j for j in range(4)],
                                   pa.int64()),
                    "geo": pa.array(
                        [encode_wkb_point(base + j, float(j))
                         for j in range(4)],
                        pa.binary(),
                    ),
                }
            ),
            p,
        )
        commit_row_delta_snapshot(
            root, new_data_files=[(p, 4)],
            timestamp_ms=1700000001000 + i,
        )
    snap = im.resolve_snapshot(root)
    stats = im.live_data_stats(root, snap)
    got = sorted(
        (s["lower"] or {}).get("geo")
        for p, s in stats.items()
        if "/epoch-" in p or p.rsplit("/", 1)[-1].startswith("epoch-")
    )
    assert got == ["300.0 0.0", "400.0 0.0"]


def test_geography_wrap_scan_opens_one_file(spark, sf_dir):
    """The wrap-scan entry's circular file skip, pinned here instead of
    inline in the query (r16 — the inline assert ran a distinct-count
    job on every invocation): both matching longitude buckets live in
    the one antimeridian-straddling file, so the resolved scan opens at
    most one file."""
    from pyspark.sql import functions as F

    from cloudfloe_spark.queries.multimodal import _geog_fixture
    from cloudfloe_spark.service.iceberg_local import resolve_iceberg_reads
    from cloudfloe_spark.sources.tables import ensure_runtime_conf

    root = _geog_fixture(spark, sf_dir)
    ensure_runtime_conf(spark)
    sql = (
        f"SELECT lang, geo FROM iceberg_geo_scan('{root}', 'geo', "
        "170.0, -90.0, -170.0, 90.0)"
    )
    df = spark.sql(resolve_iceberg_reads(spark, sql))
    n_files = df.select(F.input_file_name().alias("f")).distinct().count()
    assert n_files <= 1, f"wrapped skip failed: {n_files} files scanned"


def test_geo_scan_pushdown_opens_one_file(spark, sf_dir):
    """The pushdown entry's bbox file skip, pinned here instead of inline
    in the query (r16 — same rationale as the wrap-scan test above): the
    [-50, -10] query window lies inside one 90° band, so the resolved
    scan opens at most one of the four band files."""
    from pyspark.sql import functions as F

    from cloudfloe_spark.queries.multimodal import _geo_skip_fixture
    from cloudfloe_spark.service.iceberg_local import resolve_iceberg_reads
    from cloudfloe_spark.sources.tables import ensure_runtime_conf

    # the entry's own fixture, then re-resolve its scan
    root = _geo_skip_fixture(spark, sf_dir)
    ensure_runtime_conf(spark)
    sql = (
        f"SELECT lang, geo FROM iceberg_geo_scan('{root}', 'geo', "
        "-50.0, -90.0, -10.0, 90.0)"
    )
    df = spark.sql(resolve_iceberg_reads(spark, sql))
    n_files = df.select(F.input_file_name().alias("f")).distinct().count()
    assert n_files <= 1, f"bbox skip failed: {n_files} files scanned"
