"""Multimodal-column queries: decode / frame-sample over opaque binary
payloads (north-star extension; no counterpart in the reference, which is
text-only SQL — `reference/README.md:26`).

The decode itself is the deterministic stub from
:mod:`cloudfloe_spark.functions.multimodal` (media libs aren't in this
container); what these queries actually pin is the REAL Spark machinery:
binary columns through Arrow ``mapInPandas`` batches, typed decoded
schema, and built-in sequence/explode frame planning. The oracle mirrors
the stub arithmetic in SQL: DuckDB ``md5(text)`` hashes the same UTF-8
bytes as Spark ``md5(encode(text, 'UTF-8'))``, and ``strlen`` is the byte
length.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cloudfloe_spark.functions.multimodal import (
    decode_media,
    sample_frames,
    with_fake_media,
)
from cloudfloe_spark.queries.catalog import build_once, register
from cloudfloe_spark.sources.tables import load_table, spread

# SQL twins of functions.multimodal.fake_decode_dims / with_fake_media —
# any change there must change these (and vice versa).
_MEDIA_TYPE_SQL = "['image','audio','video'][CAST(doc_id % 3 + 1 AS INT)]"
_BYTES_SQL = "STRLEN(COALESCE(text, ''))"
_MD5_SQL = "MD5(COALESCE(text, ''))"
_WIDTH_SQL = f"16 + {_BYTES_SQL} % 64"
_HEIGHT_SQL = f"16 + CAST(('0x' || SUBSTRING({_MD5_SQL}, 1, 2)) AS INT) % 64"
_DURATION_SQL = f"1000 + {_BYTES_SQL} % 9000"


def _decoded(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(load_table(spark, sf_dir, "documents"))
    return decode_media(with_fake_media(docs))


@register(
    "mm_decode_media",
    oracle=f"""
        SELECT doc_id,
               {_MEDIA_TYPE_SQL} AS media_type,
               CAST({_WIDTH_SQL} AS INT) AS width,
               CAST({_HEIGHT_SQL} AS INT) AS height,
               CAST({_DURATION_SQL} AS BIGINT) AS duration_ms,
               {_MD5_SQL} AS checksum
        FROM documents
    """,
    tags=("multimodal", "pandas-udf"),
)
def mm_decode_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level decode through Arrow-batched mapInPandas: binary payload →
    typed (width, height, duration, checksum). Embarrassingly parallel —
    no shuffle; blob column pruned everywhere downstream of the decode."""
    return _decoded(spark, sf_dir)


@register(
    "mm_decode_stats",
    oracle=f"""
        SELECT {_MEDIA_TYPE_SQL} AS media_type,
               CAST(COUNT(*) AS BIGINT) AS n_media,
               ROUND(AVG({_WIDTH_SQL}), 6) AS avg_width,
               ROUND(AVG({_HEIGHT_SQL}), 6) AS avg_height,
               CAST(SUM({_BYTES_SQL}) AS BIGINT) AS total_bytes
        FROM documents
        GROUP BY 1
    """,
    tags=("multimodal", "agg"),
)
def mm_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate over decoded metadata: the decode is map-side; the single
    shuffle is the 3-key groupBy on media_type."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    media = with_fake_media(docs)
    decoded = decode_media(media).join(
        media.select("doc_id", "size_bytes"), "doc_id"
    )
    return (
        decoded.groupBy("media_type")
        .agg(
            F.count("*").alias("n_media"),
            F.round(F.avg("width"), 6).alias("avg_width"),
            F.round(F.avg("height"), 6).alias("avg_height"),
            F.sum("size_bytes").alias("total_bytes"),
        )
    )


@register(
    "mm_frame_sample",
    oracle=f"""
        WITH video AS (
            SELECT doc_id,
                   CAST({_DURATION_SQL} AS BIGINT) AS duration_ms,
                   {_MD5_SQL} AS checksum
            FROM documents
            WHERE {_MEDIA_TYPE_SQL} = 'video'
        )
        SELECT doc_id, CAST(f.frame_ms AS BIGINT) AS frame_ms, checksum
        FROM video,
             LATERAL (
                 SELECT UNNEST(GENERATE_SERIES(0, duration_ms - 1,
                                               duration_ms // 4)) AS frame_ms
             ) f
    """,
    tags=("multimodal", "explode"),
)
def mm_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame-sampling plan: decode → sequence(0, duration, step) →
    explode. The sampling schedule is pure built-in Spark; only pixel
    extraction would be a pandas UDF (stubbed)."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    return sample_frames(with_fake_media(docs), n_frames=4)


@register(
    "mm_metadata_pruning",
    oracle=f"""
        SELECT {_MEDIA_TYPE_SQL} AS media_type,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM({_BYTES_SQL}) AS BIGINT) AS total_bytes
        FROM documents
        GROUP BY 1
    """,
    tags=("multimodal", "pruning"),
)
def mm_metadata_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-only aggregate over the media table: never touches the
    payload column, so column pruning keeps the blobs out of the scan —
    the property that makes 100 TB multimodal tables queryable."""
    media = with_fake_media(load_table(spark, sf_dir, "documents"))
    return media.groupBy("media_type").agg(
        F.count("*").alias("n"),
        F.sum("size_bytes").alias("total_bytes"),
    )


@register(
    "mm_resize_thumbnail",
    oracle=f"""
        WITH decoded AS (
            SELECT doc_id,
                   {_MEDIA_TYPE_SQL} AS media_type,
                   CAST({_WIDTH_SQL} AS INT) AS width,
                   CAST({_HEIGHT_SQL} AS INT) AS height
            FROM documents
        )
        SELECT doc_id, media_type, width, height,
               CAST(GREATEST(width * 64 // GREATEST(width, height), 1)
                    AS INT) AS out_width,
               CAST(GREATEST(height * 64 // GREATEST(width, height), 1)
                    AS INT) AS out_height,
               CAST(GREATEST(width * 64 // GREATEST(width, height), 1)
                    * GREATEST(height * 64 // GREATEST(width, height), 1)
                    * 3 AS BIGINT) AS out_bytes
        FROM decoded
        WHERE media_type = 'image'
    """,
    tags=("multimodal",),
)
def mm_resize_thumbnail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Thumbnail-resize plumbing (the brief's decode → RESIZE stage):
    aspect-preserving 64-box fit of every image payload through a second
    Arrow ``mapInPandas`` stage, emitting output geometry + the byte size
    the RGB thumbnail occupies. Integer-exact arithmetic so the oracle
    checks the whole two-stage mapInPandas pipeline.

    Scale: both stages stream Arrow batches (peak memory O(batch));
    the media_type filter prunes non-images before the resize stage, and
    untouched payload bytes never cross into the second stage's Arrow
    frame (metadata-only columns selected)."""
    from cloudfloe_spark.functions.multimodal import resize_media

    decoded = _decoded(spark, sf_dir)
    return resize_media(decoded.filter(F.col("media_type") == "image"))


@register(
    "mm_dedup_candidates",
    oracle=f"""
        SELECT {_MEDIA_TYPE_SQL} AS media_type,
               CAST({_WIDTH_SQL} AS INT) AS width,
               CAST({_HEIGHT_SQL} AS INT) AS height,
               CAST(COUNT(*) AS BIGINT) AS n_items,
               CAST(COUNT(DISTINCT {_MD5_SQL}) AS BIGINT)
                   AS n_distinct_contents,
               CAST(MIN(doc_id) AS BIGINT) AS keeper_doc_id
        FROM documents
        GROUP BY media_type, width, height
        HAVING COUNT(*) >= 2
    """,
    tags=("multimodal", "dedup"),
)
def mm_dedup_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Media dedup candidate generation: bucket decoded payloads by their
    feature signature (media type x decoded dimensions — the stand-in for
    a perceptual hash, same blocking role LSH bands play for text), then
    count items and DISTINCT content digests per bucket. n_items minus
    n_distinct_contents is the exact-duplicate count inside the bucket;
    buckets with many items but few contents are where a perceptual
    near-dup pass would run next. The two-stage exact-then-perceptual
    recipe every multimodal curation pipeline uses.

    Scale shape: the decode runs through Arrow mapInPandas once; the
    aggregation shuffles ONLY the (type, width, height, md5) projection
    — 32-byte digests and three small ints, never the blobs (shuffling
    media bytes to dedup them is the classic multimodal pipeline
    mistake). Map-side combinable; candidate buckets are bounded by the
    signature space, not the corpus."""
    decoded = _decoded(spark, sf_dir)
    return (
        decoded.select("doc_id", "media_type", "width", "height", "checksum")
        .groupBy("media_type", "width", "height")
        .agg(
            F.count("*").cast("bigint").alias("n_items"),
            F.count_distinct("checksum").cast("bigint").alias(
                "n_distinct_contents"
            ),
            F.min("doc_id").cast("bigint").alias("keeper_doc_id"),
        )
        .filter(F.col("n_items") >= 2)
    )


def _declare_geo_column(root: str, geo_type: str) -> None:
    """Declare the fixture table's ``geo`` column as the v3 type
    ``geo_type`` (the parquet column stays WKB binary)."""
    from cloudfloe_spark.sources.snapshots import commit_metadata

    def update(meta: dict) -> None:
        for sch in meta["schemas"]:
            for f in sch["fields"]:
                if f["name"] == "geo":
                    f["type"] = geo_type
        meta["format-version"] = 3

    commit_metadata(root, update)


def _geo_fixture(sf_dir: str) -> str:
    """Deterministic v3 geometry table shared by the geo entries: one
    WKB POINT per document, coordinates synthesized from doc_id /
    n_chars as exact dyadic doubles, column declared
    ``geometry(srid:4326)``."""
    import os

    from cloudfloe_spark.functions.geo import encode_wkb_point
    from cloudfloe_spark.sources.iceberg_fixture import LocalIcebergTable

    def build(parent: str) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        root = os.path.join(parent, "t")
        tbl = pq.read_table(
            os.path.join(sf_dir, "documents.parquet"),
            columns=["doc_id", "lang", "n_chars"],
        ).sort_by("doc_id")
        rows = tbl.to_pylist()
        geos = [
            encode_wkb_point(
                float(r["doc_id"] % 360) - 180.0 + 0.25,
                float(r["n_chars"] % 180) - 90.0 + 0.5,
            )
            for r in rows
        ]
        data = pa.table(
            {
                "doc_id": pa.array(
                    [r["doc_id"] for r in rows], pa.int64()
                ),
                "lang": pa.array([r["lang"] for r in rows], pa.string()),
                "geo": pa.array(geos, pa.binary()),
            }
        )
        t = LocalIcebergTable(root, data.schema)
        t.append_snapshot([data], timestamp_ms=1700000000000)
        _declare_geo_column(root, "geometry(srid:4326)")

    docs = os.path.join(sf_dir, "documents.parquet")
    return os.path.join(build_once("geobbox_v1", [docs], build), "t")


@register(
    "iceberg_geometry_bbox_scan",
    oracle="""
        SELECT lang,
               count(*) AS n,
               min(CAST(doc_id % 360 AS DOUBLE) - 180.0 + 0.25)
                   AS xmin,
               max(CAST(doc_id % 360 AS DOUBLE) - 180.0 + 0.25)
                   AS xmax,
               min(CAST(n_chars % 180 AS DOUBLE) - 90.0 + 0.5)
                   AS ymin,
               max(CAST(n_chars % 180 AS DOUBLE) - 90.0 + 0.5)
                   AS ymax
        FROM documents
        GROUP BY lang
    """,
    tags=("iceberg", "v3", "geometry", "wkb"),
)
def iceberg_geometry_bbox_scan(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """v3 GEOMETRY envelope aggregation driver-checked (r13): the
    fixture writes a WKB POINT per document (coordinates synthesized
    deterministically from doc_id / n_chars — exact dyadic doubles),
    declares the column ``geometry(srid:4326)``, and the query decodes
    the raw-WKB surface with the Arrow-batched envelope UDF
    (``functions/geo.py`` — pure stdlib WKB parsing, OGC layout) into a
    per-lang bbox. The oracle recomputes the same coordinates
    arithmetically — a byte-order, offset, or truncation bug in the
    parser shifts every envelope.

    Scale shape: one Arrow pass over the geometry bytes (blobs never
    shuffle; the exchange carries only (lang, 4 doubles) partials)."""
    from cloudfloe_spark.functions.geo import wkb_envelope_udf
    from cloudfloe_spark.service.iceberg_local import resolve_iceberg_reads
    from cloudfloe_spark.sources.tables import ensure_runtime_conf

    root = _geo_fixture(sf_dir)
    # Resolve in the CALLER's session (r16): view names are content-hashed
    # (cf_ice_*), so no caller view can collide, and the resolver's
    # process-wide plan cache serves repeat resolutions of the same
    # immutable snapshot.
    sess = spark
    ensure_runtime_conf(sess)
    df = sess.sql(
        resolve_iceberg_reads(
            sess, f"SELECT lang, geo FROM iceberg_scan('{root}')"
        )
    )
    env = df.withColumn("e", wkb_envelope_udf()(F.col("geo")))
    return env.groupBy("lang").agg(
        F.count("*").alias("n"),
        F.min("e.xmin").alias("xmin"),
        F.max("e.xmax").alias("xmax"),
        F.min("e.ymin").alias("ymin"),
        F.max("e.ymax").alias("ymax"),
    )


@register(
    "geo_point_filter",
    oracle="""
        SELECT lang, count(*) AS n
        FROM documents
        WHERE (CAST(doc_id % 360 AS DOUBLE) - 180.0 + 0.25)
                  BETWEEN -90.0 AND 0.0
          AND (CAST(n_chars % 180 AS DOUBLE) - 90.0 + 0.5)
                  BETWEEN 0.0 AND 45.0
        GROUP BY lang
    """,
    tags=("geo", "v3", "geometry", "filter"),
)
def geo_point_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-bbox spatial FILTER (r14, VERDICT r13 #6): decode each
    document's WKB point to its envelope once, then a PURE column
    predicate (``functions/geo.py bbox_contains`` — closed semantics)
    keeps the points inside a fixed query window; count per lang. The
    oracle recomputes the synthetic coordinates arithmetically.

    Scale shape: one Arrow decode pass, then JVM-side filter +
    combinable count — the geometry bytes never cross an exchange, the
    only shuffle carries (lang, partial count)."""
    from cloudfloe_spark.functions.geo import (
        bbox_contains,
        wkb_envelope_udf,
    )
    from cloudfloe_spark.service.iceberg_local import resolve_iceberg_reads
    from cloudfloe_spark.sources.tables import ensure_runtime_conf

    root = _geo_fixture(sf_dir)
    # Resolve in the CALLER's session (r16): view names are content-hashed
    # (cf_ice_*), so no caller view can collide, and the resolver's
    # process-wide plan cache serves repeat resolutions of the same
    # immutable snapshot.
    sess = spark
    ensure_runtime_conf(sess)
    df = sess.sql(
        resolve_iceberg_reads(
            sess, f"SELECT lang, geo FROM iceberg_scan('{root}')"
        )
    )
    window = F.struct(
        F.lit(-90.0).alias("xmin"),
        F.lit(0.0).alias("ymin"),
        F.lit(0.0).alias("xmax"),
        F.lit(45.0).alias("ymax"),
    )
    env = df.withColumn("e", wkb_envelope_udf()(F.col("geo")))
    return (
        env.filter(bbox_contains(window, F.col("e")))
        .groupBy("lang")
        .agg(F.count("*").alias("n"))
    )


@register(
    "geo_bbox_join",
    oracle="""
        WITH pts AS (
            SELECT CAST(doc_id % 360 AS DOUBLE) - 180.0 + 0.25 AS x
            FROM documents
        ), tiles AS (
            SELECT t, -180.0 + 45.0 * t AS xlo,
                   -180.0 + 45.0 * (t + 1) AS xhi
            FROM (VALUES (0),(1),(2),(3),(4),(5),(6),(7)) AS v(t)
        )
        SELECT t AS tile, count(*) AS n
        FROM pts JOIN tiles
          ON NOT (x + 1.5 < xlo OR xhi < x - 1.5)
        GROUP BY t
    """,
    tags=("geo", "v3", "geometry", "join"),
)
def geo_bbox_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bbox-INTERSECTS spatial join (r14, VERDICT r13 #6): each
    document's point envelope is buffered ±1.5° (``bbox_expand``) and
    joined against 8 longitude tiles on the closed-box intersection
    predicate (``bbox_intersects``) — documents near a tile boundary
    genuinely match TWO tiles, so the join is one-to-many, not a
    disguised assignment. The oracle replays the interval arithmetic.

    Scale shape: the tile table is broadcast (8 rows); the geometry
    decode happens before the join, the predicate is a pure column
    expression, and the only exchange carries (tile, partial count) —
    the classic broadcast-range spatial-join plan at any corpus size."""
    from cloudfloe_spark.functions.geo import (
        bbox_expand,
        bbox_intersects,
        wkb_envelope_udf,
    )
    from cloudfloe_spark.service.iceberg_local import resolve_iceberg_reads
    from cloudfloe_spark.sources.tables import ensure_runtime_conf

    root = _geo_fixture(sf_dir)
    # Resolve in the CALLER's session (r16): view names are content-hashed
    # (cf_ice_*), so no caller view can collide, and the resolver's
    # process-wide plan cache serves repeat resolutions of the same
    # immutable snapshot.
    sess = spark
    ensure_runtime_conf(sess)
    df = sess.sql(
        resolve_iceberg_reads(
            sess, f"SELECT geo FROM iceberg_scan('{root}')"
        )
    )
    env = df.select(
        bbox_expand(wkb_envelope_udf()(F.col("geo")), 1.5).alias("box")
    )
    tiles = sess.range(8).select(
        F.col("id").alias("tile"),
        F.struct(
            (F.lit(-180.0) + F.lit(45.0) * F.col("id")).alias("xmin"),
            F.lit(-90.0).alias("ymin"),
            (F.lit(-180.0) + F.lit(45.0) * (F.col("id") + 1)).alias(
                "xmax"
            ),
            F.lit(90.0).alias("ymax"),
        ).alias("tbox"),
    )
    joined = env.join(
        F.broadcast(tiles),
        bbox_intersects(F.col("box"), F.col("tbox")),
    )
    return joined.groupBy("tile").agg(F.count("*").alias("n"))


def _geo_skip_fixture(spark: SparkSession, sf_dir: str) -> str:
    """Deterministic v3 geometry table for the bbox file-skip entry: the
    corpus as four spatially DISJOINT files (x bands of 90°) whose
    envelopes ``compute_geo_bounds`` stamps into the manifest bounds."""
    import os

    from cloudfloe_spark.functions.geo import encode_wkb_point
    from cloudfloe_spark.sources.iceberg_fixture import LocalIcebergTable
    from cloudfloe_spark.sources.maintenance import compute_geo_bounds

    def build(parent: str) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        root = os.path.join(parent, "t")
        tbl = pq.read_table(
            os.path.join(sf_dir, "documents.parquet"),
            columns=["doc_id", "lang", "n_chars"],
        ).sort_by("doc_id")
        rows = tbl.to_pylist()
        bands: list[list[dict]] = [[], [], [], []]
        for r in rows:
            bands[(r["doc_id"] % 360) // 90].append(r)

        def _band_table(band_rows):
            return pa.table(
                {
                    "doc_id": pa.array(
                        [r["doc_id"] for r in band_rows], pa.int64()
                    ),
                    "lang": pa.array(
                        [r["lang"] for r in band_rows], pa.string()
                    ),
                    "geo": pa.array(
                        [
                            encode_wkb_point(
                                float(r["doc_id"] % 360) - 180.0 + 0.25,
                                float(r["n_chars"] % 180) - 90.0 + 0.5,
                            )
                            for r in band_rows
                        ],
                        pa.binary(),
                    ),
                }
            )

        tables = [_band_table(b) for b in bands if b]
        t = LocalIcebergTable(root, tables[0].schema)
        t.append_snapshot(tables, timestamp_ms=1700000000000)
        _declare_geo_column(root, "geometry(srid:4326)")
        rep = compute_geo_bounds(
            spark, root, timestamp_ms=1700000001000
        )
        assert rep["files_stamped"] == len(tables), rep

    docs = os.path.join(sf_dir, "documents.parquet")
    return os.path.join(build_once("geoskip_v1", [docs], build), "t")


@register(
    "iceberg_geo_scan_pushdown",
    oracle="""
        SELECT lang, count(*) AS n
        FROM documents
        WHERE (CAST(doc_id % 360 AS DOUBLE) - 180.0 + 0.25)
                  BETWEEN -50.0 AND -10.0
        GROUP BY lang
    """,
    tags=("geo", "v3", "geometry", "pushdown", "iceberg"),
)
def iceberg_geo_scan_pushdown(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Geometry bbox FILE SKIPPING driver-checked (r14, VERDICT r13 #6
    optional leg): the fixture writes the corpus as four spatially
    DISJOINT files (x bands of 90°), ``compute_geo_bounds`` stamps each
    file's envelope into the manifest bounds via a manifest rewrite,
    and ``iceberg_geo_scan(root, col, x0, y0, x1, y1)`` prunes to the
    one band intersecting the query window before applying the exact
    row-level envelope intersect — the fixture asserts exactly one
    file survives at execution. Oracle: the same interval arithmetic.

    Scale shape: the skip is manifest-metadata work (no parquet
    opened for pruned bands); the survivors pay one Arrow decode +
    JVM filter, blobs never shuffle."""
    from cloudfloe_spark.service.iceberg_local import resolve_iceberg_reads
    from cloudfloe_spark.sources.tables import ensure_runtime_conf

    root = _geo_skip_fixture(spark, sf_dir)
    # Resolve in the CALLER's session (r16): view names are content-hashed
    # (cf_ice_*), so no caller view can collide, and the resolver's
    # process-wide plan cache serves repeat resolutions of the same
    # immutable snapshot.
    sess = spark
    ensure_runtime_conf(sess)
    sql = (
        f"SELECT lang, geo FROM iceberg_geo_scan('{root}', 'geo', "
        "-50.0, -90.0, -10.0, 90.0)"
    )
    df = sess.sql(resolve_iceberg_reads(sess, sql))
    # The band skip (the query window lies inside ONE 90° band) is pinned
    # by tests/test_geo_wkb.py::test_geo_scan_pushdown_opens_one_file —
    # r14 asserted it INLINE with a distinct-count job on every
    # invocation, a full verification job in the timed path (r16).
    return df.groupBy("lang").agg(F.count("*").alias("n"))


def _geog_fixture(spark: SparkSession, sf_dir: str) -> str:
    """Deterministic v3 GEOGRAPHY table (r15): one WKB POINT per
    document — lon = (doc_id % 36)·10 − 180 + 0.5 (exact dyadic
    doubles around the full circle), lat = (n_chars % 18)·10 − 90 +
    0.5 — written as THREE files bucketed so one file's longitudes
    hug BOTH sides of the antimeridian (its stamped interval WRAPS:
    lower.x > upper.x, the v3 convention); ``compute_geo_bounds``
    stamps all three."""
    import os

    from cloudfloe_spark.functions.geo import encode_wkb_point
    from cloudfloe_spark.sources import iceberg_meta as im
    from cloudfloe_spark.sources.iceberg_fixture import LocalIcebergTable
    from cloudfloe_spark.sources.maintenance import compute_geo_bounds

    def build(parent: str) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        root = os.path.join(parent, "t")
        tbl = pq.read_table(
            os.path.join(sf_dir, "documents.parquet"),
            columns=["doc_id", "lang", "n_chars"],
        ).sort_by("doc_id")
        rows = tbl.to_pylist()

        def _lon(r):
            return (r["doc_id"] % 36) * 10.0 - 180.0 + 0.5

        def _lat(r):
            return (r["n_chars"] % 18) * 10.0 - 90.0 + 0.5

        # file A holds the buckets hugging ±180 from BOTH sides →
        # its minimal longitude interval wraps; B and C are ordinary
        def _bucket_file(r):
            b = r["doc_id"] % 36
            if b < 6 or b >= 30:
                return 0
            return 1 if b < 18 else 2

        def _tbl(members):
            return pa.table(
                {
                    "doc_id": pa.array(
                        [r["doc_id"] for r in members], pa.int64()
                    ),
                    "lang": pa.array(
                        [r["lang"] for r in members], pa.string()
                    ),
                    "geo": pa.array(
                        [
                            encode_wkb_point(_lon(r), _lat(r))
                            for r in members
                        ],
                        pa.binary(),
                    ),
                }
            )

        parts = [
            [r for r in rows if _bucket_file(r) == i] for i in range(3)
        ]
        tables = [_tbl(p) for p in parts if p]
        t = LocalIcebergTable(root, tables[0].schema)
        t.append_snapshot(tables, timestamp_ms=1700000000000)
        _declare_geo_column(root, "geography(srid:4326)")
        rep = compute_geo_bounds(
            spark, root, timestamp_ms=1700000001000
        )
        assert rep["files_stamped"] == len(tables), rep
        # the straddling file's stored interval must WRAP
        snap = im.resolve_snapshot(root)
        stats = im.live_data_stats(root, snap)
        wraps = 0
        for s in stats.values():
            lo = float((s["lower"] or {})["geo"].split()[0])
            hi = float((s["upper"] or {})["geo"].split()[0])
            wraps += int(lo > hi)
        assert wraps == 1, f"expected one wrapped file interval: {wraps}"

    docs = os.path.join(sf_dir, "documents.parquet")
    return os.path.join(build_once("geogwrap_v1", [docs], build), "t")


@register(
    "geo_geography_wrap_scan",
    oracle="""
        WITH pts AS (
            SELECT lang,
                   CAST(doc_id % 36 AS DOUBLE) * 10.0 - 180.0 + 0.5
                       AS lon,
                   CAST(n_chars % 18 AS DOUBLE) * 10.0 - 90.0 + 0.5
                       AS lat
            FROM documents
        )
        SELECT lang,
               count(*) AS n,
               min(lon) AS lonmin,
               max(lon) AS lonmax,
               min(lat) AS latmin,
               max(lat) AS latmax
        FROM pts
        WHERE lon >= 170.0 OR lon <= -170.0
        GROUP BY lang
    """,
    tags=("geo", "v3", "geography", "wraparound", "iceberg"),
)
def geo_geography_wrap_scan(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """GEOGRAPHY scan across the ANTIMERIDIAN (r15, lifting the ADVICE
    r14 refusal): the fixture's straddling file carries a WRAPPED
    stored interval (lower.x > upper.x per the v3 geography bounds
    convention), the query window [170, −170] wraps too, and
    ``iceberg_geo_scan`` must (a) keep that file via circular-interval
    intersection — a planar evaluator would prune it and silently drop
    every match — and (b) filter rows with the wrapped longitude test.
    The oracle recomputes the coordinates arithmetically with a plain
    OR filter.

    Scale shape: file skip is manifest-metadata work; the only data
    read is the surviving band file(s); the point decode is one Arrow
    pass with no shuffle before the per-lang aggregate."""
    from cloudfloe_spark.functions.geo import wkb_point_lonlat_udf
    from cloudfloe_spark.service.iceberg_local import resolve_iceberg_reads
    from cloudfloe_spark.sources.tables import ensure_runtime_conf

    root = _geog_fixture(spark, sf_dir)
    # Resolve in the CALLER's session (r16): view names are content-hashed
    # (cf_ice_*), so no caller view can collide, and the resolver's
    # process-wide plan cache serves repeat resolutions of the same
    # immutable snapshot.
    sess = spark
    ensure_runtime_conf(sess)
    sql = (
        f"SELECT lang, geo FROM iceberg_geo_scan('{root}', 'geo', "
        "170.0, -90.0, -170.0, 90.0)"
    )
    df = sess.sql(resolve_iceberg_reads(sess, sql))
    # The circular skip (both matching buckets live in the ONE straddling
    # file; the ordinary-band files never open) is pinned by
    # tests/test_geo_wkb.py::test_geography_wrap_scan_opens_one_file —
    # r15 asserted it INLINE with a distinct-count job on every
    # invocation, ~0.5 s of pure verification in the timed path (r16).
    pt = wkb_point_lonlat_udf()(F.col("geo"))
    return (
        df.select(
            "lang",
            pt["x"].alias("lon"),
            pt["y"].alias("lat"),
        )
        .groupBy("lang")
        .agg(
            F.count("*").alias("n"),
            F.min("lon").alias("lonmin"),
            F.max("lon").alias("lonmax"),
            F.min("lat").alias("latmin"),
            F.max("lat").alias("latmax"),
        )
    )


#: shared reference points for the haversine entries — coordinates are
#: asymmetric to the fixtures' 10° grid (no equidistant ties) and
#: include Pacific cities so antimeridian geometry matters
_HAV_CITIES = [
    ("auckland", -36.85, 174.76),
    ("suva", -18.14, 178.44),
    ("apia", -13.83, -171.76),
    ("anchorage", 61.22, -149.9),
    ("reykjavik", 64.13, -21.9),
    ("cape_town", -33.92, 18.42),
    ("singapore", 1.35, 103.82),
    ("lima", -12.05, -77.04),
]

#: 2·R (mean earth radius, km) as one literal so Spark and the oracle
#: parse the identical double
_HAV_2R = "12742.0176"


@register(
    "geo_haversine_nearest",
    oracle=f"""
        WITH pts AS (
            SELECT doc_id,
                   CAST(doc_id % 36 AS DOUBLE) * 10.0 - 180.0 + 0.5
                       AS lon,
                   CAST(n_chars % 18 AS DOUBLE) * 10.0 - 90.0 + 0.5
                       AS lat
            FROM documents
        ),
        c(city, clat, clon) AS (VALUES {", ".join(
            f"('{n}', {la}, {lo})" for n, la, lo in _HAV_CITIES
        )}),
        k AS (
            SELECT doc_id,
                   min(printf('%018.6f|%s',
                       {_HAV_2R} * asin(least(sqrt(
                           pow(sin(radians(clat - lat) / 2), 2)
                           + cos(radians(lat)) * cos(radians(clat))
                           * pow(sin(radians(clon - lon) / 2), 2)
                       ), 1.0)),
                       city)) AS key
            FROM pts CROSS JOIN c
            GROUP BY doc_id
        )
        SELECT split_part(key, '|', 2) AS city,
               count(*) AS n,
               round(min(CAST(split_part(key, '|', 1) AS DOUBLE)), 4)
                   AS dmin,
               round(max(CAST(split_part(key, '|', 1) AS DOUBLE)), 4)
                   AS dmax
        FROM k
        GROUP BY 1
    """,
    tags=("geo", "haversine", "hof", "zero-shuffle"),
)
def geo_haversine_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Great-circle NEAREST-REFERENCE-POINT classification (r15): each
    document's synthesized (lon, lat) is assigned to the closest of 8
    reference cities by HAVERSINE distance — the geodesic metric, so
    Δλ is naturally periodic (sin²(Δλ/2) is the same for Δλ ± 360°)
    and points near ±180 classify to Pacific cities correctly where a
    planar metric would send them across the whole map.

    Plan shape: the reference points ride as an 8-element ARRAY
    LITERAL folded per row with higher-order functions — trig, argmin
    (via a zero-padded sortable key, city name as tiebreak) and
    formatting all JVM-side whole-stage-codegen, ZERO Python and zero
    shuffle before the final per-city aggregate (one combinable
    exchange). At 100 TB the classify stage is pure map work.

    The oracle recomputes the identical formula (same 2R literal, same
    clamp, same key format) over a CROSS JOIN — an 8× row blowup the
    Spark plan deliberately avoids."""
    from cloudfloe_spark.sources.tables import load_table, spread

    docs = spread(load_table(spark, sf_dir, "documents"))
    pts = docs.select(
        ((F.col("doc_id") % 36).cast("double") * 10.0 - 180.0 + 0.5)
        .alias("lon"),
        ((F.col("n_chars") % 18).cast("double") * 10.0 - 90.0 + 0.5)
        .alias("lat"),
    )
    arr = F.array(
        *[
            F.struct(
                F.lit(n).alias("city"),
                F.lit(float(la)).alias("clat"),
                F.lit(float(lo)).alias("clon"),
            )
            for n, la, lo in _HAV_CITIES
        ]
    )
    two_r = float(_HAV_2R)

    def _hav_km(lat1, lon1, lat2, lon2):
        a = (
            F.pow(F.sin(F.radians(lat2 - lat1) / 2), F.lit(2.0))
            + F.cos(F.radians(lat1))
            * F.cos(F.radians(lat2))
            * F.pow(F.sin(F.radians(lon2 - lon1) / 2), F.lit(2.0))
        )
        # clamp: fp noise can push a marginally past 1 (antipodes) and
        # asin(>1) is NaN — same least() clamp in the oracle
        return F.lit(two_r) * F.asin(F.least(F.sqrt(a), F.lit(1.0)))

    keys = F.transform(
        arr,
        lambda c: F.format_string(
            "%018.6f|%s",
            _hav_km(F.col("lat"), F.col("lon"), c["clat"], c["clon"]),
            c["city"],
        ),
    )
    best = F.array_min(keys)
    res = pts.select(
        F.substring_index(best, "|", -1).alias("city"),
        F.substring_index(best, "|", 1).cast("double").alias("d"),
    )
    return res.groupBy("city").agg(
        F.count("*").alias("n"),
        F.round(F.min("d"), 4).alias("dmin"),
        F.round(F.max("d"), 4).alias("dmax"),
    )
