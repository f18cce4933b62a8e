"""Query execution + connection probing over a shared SparkSession.

Ports the reference's engine-facing operators (SURVEY.md §2A):

- A4  session factory      → :func:`request_session` (``spark.newSession``
  per request: isolated SQL conf + temp views over one shared JVM — the
  architectural replacement for DuckDB's per-request ``:memory:`` engine,
  `backend/main.py:361-388`, trade-offs in SURVEY.md §3.4/§7.3)
- A5  S3 config            → :func:`s3a_options` (`backend/main.py:274-314`)
- A7  delete-file guard    → :func:`probe_table` emits ``hasDeletes``;
  rejection is ALWAYS on when the Iceberg runtime is absent (the parquet
  fallback cannot apply merge-on-read deletes — reference hard-rejects for
  the same reason, `backend/main.py:398-414`), and opt-in via
  ``CLOUDFLOE_REJECT_DELETES`` when the runtime is present
- A10 table probe          → :func:`probe_table` (`backend/main.py:452-526`)
- A11 connection test      → :func:`run_connection_test` (`backend/main.py:529-564`)
- A12 query exec + stats   → :func:`run_query` (`backend/main.py:567-620`),
  with REAL bytesScanned (scan-input file sizes) instead of the
  reference's ``len(str(rows))*2`` estimate
"""

from __future__ import annotations

import base64
import datetime
import decimal
import glob as globmod
import json
import math
import os
import re
import threading
import time
from typing import Optional

from cloudfloe_spark.service.config import (
    ConnectionConfig,
    QueryResponse,
    QueryStats,
    TableInfo,
)
from cloudfloe_spark.service.convert import (
    CATALOG_NAME,
    convert_scan_functions,
    transpile_duckdb,
)
from cloudfloe_spark.service.errors import CloudfloeError, bad_request
from cloudfloe_spark.sources.fsio import local_path
from cloudfloe_spark.sources.tables import ensure_runtime_conf
from cloudfloe_spark.service.validation import (
    assert_plan_is_query,
    validate_and_limit_sql,
    validate_statement_shape,
)

# Hard-reject tables with delete files — reference behavior
# (`backend/main.py:398-414`: DuckDB's scan "would silently return deleted
# rows"). The env flag can force rejection even with the Iceberg runtime
# present; WITHOUT the runtime the guard is always on, because the fallback
# raw-parquet scan of <root>/data would silently resurrect deleted rows —
# the exact trap the reference 400s on.
REJECT_DELETE_TABLES = os.environ.get("CLOUDFLOE_REJECT_DELETES", "0") == "1"


def _must_reject_deletes(spark) -> bool:
    """Delete-file guard is active when forced by env OR whenever the
    Iceberg runtime is absent. Without the runtime, position AND
    field-id-resolvable equality deletes are applied by iceberg_local's
    anti-joins; only unresolvable equality deletes — or the env force —
    actually reject."""
    return REJECT_DELETE_TABLES or not iceberg_runtime_available(spark)


def _has_unreadable_deletes(root: str) -> bool:
    """True when the current snapshot carries delete files the no-runtime
    reader cannot apply. Position deletes and equality deletes with
    resolvable field ids ARE applied (iceberg_local anti-joins); only
    equality deletes with missing/unresolvable equality_ids remain
    unreadable. Conservative: metadata errors count as unreadable."""
    from cloudfloe_spark.sources import iceberg_meta as im

    try:
        snap = im.resolve_snapshot(root)
        return bool(im.unreadable_equality_deletes(root, snap))
    except im.IcebergMetadataError:
        return True

DEMO_TABLE = os.environ.get(
    "CLOUDFLOE_DEMO_TABLE", "/root/testdata/sf0.01/lineitem.parquet"
)


def iceberg_runtime_available(spark) -> bool:
    """True iff the Iceberg Spark runtime is on the JVM classpath."""
    return _class_available(spark, "org.apache.iceberg.spark.SparkCatalog")


# --- A4/A5: per-request session + storage conf --------------------------------


def s3a_options(config: ConnectionConfig) -> dict[str, str]:
    """Hadoop S3A properties for a storage config (`backend/main.py:274-314`).

    Returned as per-bucket-scoped keys (``fs.s3a.bucket.<b>.…``) where a
    bucket can be derived from ``tablePath`` — scoping credentials to the
    bucket is the port's mitigation for the shared-JVM credential-leak risk
    (SURVEY.md §7.3 item 1); global keys otherwise.
    """
    if config.storageType == "local":
        return {}
    opts: dict[str, str] = {}
    endpoint = config.endpoint
    # Reference rewrites localhost → in-network minio host (main.py:286-288)
    if config.storageType == "minio" and endpoint:
        endpoint = endpoint.replace("localhost", "minio").replace(
            "127.0.0.1", "minio"
        )
    if config.storageType in ("minio", "r2"):
        opts["fs.s3a.path.style.access"] = "true"
    opts["fs.s3a.connection.ssl.enabled"] = (
        "false" if config.storageType == "minio" else "true"
    )
    if endpoint:
        opts["fs.s3a.endpoint"] = endpoint
    if config.storageType == "s3":
        opts["fs.s3a.endpoint.region"] = config.region
    if config.accessKey:
        opts["fs.s3a.access.key"] = config.accessKey
    if config.secretKey:
        opts["fs.s3a.secret.key"] = config.secretKey
    if config.sessionToken:
        opts["fs.s3a.session.token"] = config.sessionToken
        opts["fs.s3a.aws.credentials.provider"] = (
            "org.apache.hadoop.fs.s3a.TemporaryAWSCredentialsProvider"
        )

    bucket = _bucket_of(config.tablePath)
    if bucket:
        opts = {
            k.replace("fs.s3a.", f"fs.s3a.bucket.{bucket}.", 1): v
            for k, v in opts.items()
        }
    return opts


def _bucket_of(table_path: Optional[str]) -> Optional[str]:
    if table_path and table_path.startswith("s3://"):
        return table_path[5:].split("/", 1)[0]
    return None


def catalog_options(config: ConnectionConfig) -> dict[str, str]:
    """Spark conf for a REST Iceberg catalog (A6, `backend/main.py:317-358`)."""
    if config.catalogType != "rest" or not config.catalogEndpoint:
        return {}
    prefix = f"spark.sql.catalog.{CATALOG_NAME}"
    opts = {
        prefix: "org.apache.iceberg.spark.SparkCatalog",
        f"{prefix}.type": "rest",
        f"{prefix}.uri": config.catalogEndpoint,
    }
    if config.accessKey or config.secretKey:
        # Reference builds token as accessKey:secretKey (main.py:330)
        opts[f"{prefix}.credential"] = f"{config.accessKey}:{config.secretKey}"
    return opts


# hadoopConfiguration() is SparkContext-GLOBAL — newSession() isolates SQL
# conf and temp views, not Hadoop conf. Credential installs are therefore
# (a) bucket-scoped whenever a bucket is derivable, (b) serialized under a
# lock, and (c) idempotent per (bucket, creds) so concurrent requests for
# the same bucket+creds never churn the shared conf. Remaining documented
# race: two tenants querying the SAME bucket with DIFFERENT credentials
# overwrite each other's bucket-scoped keys — last writer wins for reads
# started after the overwrite. A true fix needs per-read FileSystem conf
# (hadoop-aws per-bucket is the closest upstream mechanism); until then the
# conflict is detected and logged via the fingerprint mismatch below.
_HADOOP_CONF_LOCK = threading.Lock()
_INSTALLED_S3A: dict[str, int] = {}  # scope ("bucket:<b>" | "global") → creds fp


def _install_s3a_options(spark, opts: dict[str, str], bucket: Optional[str]) -> None:
    if not opts:
        return
    scope = f"bucket:{bucket}" if bucket else "global"
    fp = hash(tuple(sorted(opts.items())))
    hadoop = spark.sparkContext._jsc.hadoopConfiguration()
    with _HADOOP_CONF_LOCK:
        if _INSTALLED_S3A.get(scope) == fp:
            return  # same creds already installed — no churn
        for k, v in opts.items():
            hadoop.set(k, v)
        # Reference table paths are DuckDB-style s3:// URIs
        # (backend/main.py:125); Hadoop maps no FileSystem to that bare
        # scheme out of the box, so alias it onto S3A when the connector
        # is on the classpath — only if nothing else claimed the scheme
        # (deployments may mount it, e.g. via ViewFs overload).
        if not hadoop.get("fs.s3.impl") and _class_available(
            spark, "org.apache.hadoop.fs.s3a.S3AFileSystem"
        ):
            hadoop.set("fs.s3.impl", "org.apache.hadoop.fs.s3a.S3AFileSystem")
        _INSTALLED_S3A[scope] = fp


#: (JVM view, class name) → loadable. The classpath cannot change once the
#: JVM has started, and a failing probe costs a py4j round trip plus a
#: Java exception (~9 ms) — ``run_query`` asks several times per request.
_CLASS_PROBES: dict = {}


def _class_available(spark, name: str) -> bool:
    """True iff ``name`` loads in the shared JVM; probed once per JVM."""
    key = (spark._jvm, name)
    found = _CLASS_PROBES.get(key)
    if found is None:
        found = _load_class(spark._jvm, name)
        _CLASS_PROBES[key] = found
    return found


def _load_class(jvm, name: str) -> bool:
    try:
        jvm.java.lang.Class.forName(name)
        return True
    except Exception:
        return False


def filesystem_available(spark, scheme: str) -> bool:
    """True iff the shared JVM can produce a Hadoop FileSystem for
    ``<scheme>://`` URIs — real S3A in production, or whatever the
    deployment mounted over the scheme (tests use ViewFs overload backed
    by the local filesystem; see ``tests/test_s3a_seam.py``). Delegates to
    the source-layer probe so there is exactly one implementation."""
    from cloudfloe_spark.sources import fsio

    return fsio.scheme_served(spark, scheme)


def request_session(spark, config: Optional[ConnectionConfig]):
    """Isolated session for one request: fresh SQL conf + temp-view
    namespace over the shared SparkContext (A4 analog). S3 credentials are
    installed bucket-scoped + serialized (see :data:`_HADOOP_CONF_LOCK`)."""
    sess = spark.newSession()
    # The service path bypasses load_table for its parquet/iceberg reads, so
    # the runtime conf (UTC session tz, nanosAsLong, no NTZ inference) must
    # be pinned here too — newSession() under a caller-provided SparkSession
    # otherwise inherits whatever the caller set (ADVICE r03).
    ensure_runtime_conf(sess)
    if iceberg_runtime_available(spark):
        # The scan rewrites target `iceberg.`<root>`` — register the
        # path-capable catalog that name refers to (catalogs are created
        # lazily per session, so session-level conf is sufficient).
        # Without this the runtime-present path emitted names that could
        # never resolve.
        sess.conf.set(
            "spark.sql.catalog.iceberg",
            "org.apache.iceberg.spark.SparkCatalog",
        )
        sess.conf.set("spark.sql.catalog.iceberg.type", "hadoop")
        sess.conf.set(
            "spark.sql.catalog.iceberg.warehouse",
            os.environ.get("CLOUDFLOE_ICEBERG_WAREHOUSE", "file:///tmp/cf-warehouse"),
        )
    if config is not None:
        for k, v in catalog_options(config).items():
            sess.conf.set(k, v)
        _install_s3a_options(
            sess, s3a_options(config), _bucket_of(config.tablePath)
        )
    return sess


# --- A10: table probe ----------------------------------------------------------


def probe_table(spark, table_path: str) -> TableInfo:
    """Probe a table root and return :class:`TableInfo`
    (`backend/main.py:452-526`).

    Layout detection order:
    1. Iceberg layout (``<root>/metadata/*.metadata.json``): parse the
       latest metadata JSON exactly like the reference (glob + filename
       DESC — works for pyiceberg ``NNNNN-uuid`` and Spark ``vN`` naming,
       `backend/main.py:474-475`) for format-version / snapshot-id /
       last-updated-ms; row/file/delete counts from the current snapshot's
       summary (pure-Python metadata read — no Spark job, no Avro dep).
    2. Parquet layout (a directory of ``*.parquet`` or a single file):
       rows/files from parquet footers via pyarrow (no full scan).

    ≥1 sub-probe must succeed, mirroring `backend/main.py:521-524`.
    """
    local = local_path(table_path)
    if local is None:
        scheme = table_path.split("://", 1)[0]
        if not filesystem_available(spark, scheme):
            raise RuntimeError(
                f"no filesystem serves {scheme}:// in this JVM — remote "
                "table paths need the S3A connector (hadoop-aws) on the "
                "classpath"
            )
        # Iceberg layout probes work over any served scheme now that
        # iceberg_meta streams metadata through the Hadoop FileSystem
        # (sources/fsio); fall back to the parquet-scan probe otherwise.
        meta = _probe_iceberg_metadata(table_path)
        if meta is not None:
            return _iceberg_table_info(spark, table_path, table_path, meta)
        return _probe_remote_parquet(spark, table_path)

    meta = _probe_iceberg_metadata(local)
    if meta is not None:
        return _iceberg_table_info(spark, table_path, local, meta)

    rows, files = _probe_parquet(local)
    return TableInfo(
        path=table_path,
        suggestedQuery=f"SELECT * FROM parquet.`{table_path}` LIMIT 100",
        format="parquet",
        rows=rows,
        files=files,
        hasDeletes=False,
    )


def _iceberg_table_info(spark, table_path: str, root: str, meta: dict) -> TableInfo:
    has_deletes = meta.get("hasDeletes")
    if (
        has_deletes
        and _must_reject_deletes(spark)
        and (REJECT_DELETE_TABLES or _has_unreadable_deletes(root))
    ):
        # Reference 400 with compaction advice (backend/main.py:405-413);
        # position-delete-only tables pass — the reader applies them.
        raise bad_request(
            "Table has delete files. Run compaction "
            "(rewrite_data_files + rewrite_position_delete_files) "
            "before querying. (This table's equality-delete files "
            "have unresolvable field ids, so reading around them "
            "would silently return deleted rows.)"
        )
    # Reference parity (backend/main.py:482): the suggested query uses
    # the iceberg_scan() form — run_query resolves it to a
    # manifest-pinned read even without the runtime jar.
    return TableInfo(
        path=table_path,
        suggestedQuery=f"SELECT * FROM iceberg_scan('{table_path}') LIMIT 100",
        format=meta.get("format"),
        rows=meta.get("rows"),
        files=meta.get("files"),
        hasDeletes=has_deletes,
        snapshotId=meta.get("snapshotId"),
        lastSnapshotAt=meta.get("lastSnapshotAt"),
    )


def _probe_remote_parquet(spark, table_path: str) -> TableInfo:
    """Probe a non-local parquet root through whatever FileSystem the JVM
    serves for its scheme (footer-only local probing can't reach it).
    ``count()`` on a parquet scan is metadata-cheap: Spark answers it from
    row-group statistics without materializing columns."""
    df = spark.read.parquet(table_path)
    return TableInfo(
        path=table_path,
        suggestedQuery=f"SELECT * FROM parquet.`{table_path}` LIMIT 100",
        format="parquet",
        rows=df.count(),
        files=len(df.inputFiles()),
        hasDeletes=False,
    )


def _probe_iceberg_metadata(root: str) -> Optional[dict]:
    from cloudfloe_spark.sources import iceberg_meta as im

    try:
        # Layout detection only (numeric-version sort; lists through fsio
        # for remote schemes) — parse failures below degrade, not reject.
        latest = im.latest_metadata_path(root)
    except im.IcebergMetadataError:
        return None
    out: dict = {}
    try:
        # Pass the already-resolved path so load_metadata doesn't list the
        # metadata directory a second time (remote listings cost a
        # round-trip each).
        meta = im.load_metadata(root, metadata_path=latest)
        out["format"] = f"iceberg-v{meta.get('format-version', 1)}"
        snap_id = meta.get("current-snapshot-id")
        if snap_id is not None and snap_id != -1:
            # Stringified: 64-bit ids lose precision in JS (main.py:488-490)
            out["snapshotId"] = str(snap_id)
        ms = meta.get("last-updated-ms")
        if ms is not None:
            out["lastSnapshotAt"] = (
                datetime.datetime.fromtimestamp(
                    ms / 1000, tz=datetime.timezone.utc
                )
                .isoformat()
                .replace("+00:00", "Z")
            )
        snap = next(
            (
                s
                for s in meta.get("snapshots", [])
                if s.get("snapshot-id") == snap_id
            ),
            None,
        )
        if snap is not None:
            summary = snap.get("summary", {})
            if "total-records" in summary:
                out["rows"] = int(summary["total-records"])
            if "total-data-files" in summary:
                out["files"] = int(summary["total-data-files"])
            out["hasDeletes"] = (
                int(summary.get("total-delete-files", 0) or 0) > 0
            )
    except (OSError, ValueError, KeyError, im.IcebergMetadataError):
        # Partial probe still succeeds with degraded fields
        # (tests/test_connection_probing.py:111-134)
        if not out:
            return {"format": "iceberg-v?"}
    return out


def _probe_parquet(local: str) -> tuple[int, int]:
    import pyarrow.parquet as pq

    if os.path.isfile(local):
        files = [local]
    else:
        files = sorted(globmod.glob(os.path.join(local, "*.parquet")))
        if not files:
            files = sorted(
                globmod.glob(os.path.join(local, "**", "*.parquet"), recursive=True)
            )
    if not files:
        raise RuntimeError(f"no parquet files under {local}")
    rows = sum(pq.ParquetFile(f).metadata.num_rows for f in files)
    return rows, len(files)


# --- A11: connection test -------------------------------------------------------


_PATH_FUNC_RE = re.compile(
    r"(?i)\b(?:iceberg_[a-z_]+|read_(?:parquet|csv|json|text)(?:_auto)?)"
    r"\s*\(",
)


def _reject_unimplemented_catalog(
    config: Optional[ConnectionConfig], sql: "str | None" = None
) -> None:
    """catalogType 'glue' is accepted by the config model for wire
    compatibility (the reference accepts it too, `backend/main.py:151`,
    and then silently falls through to path reads). r9 made it an
    explicit 501; r10 (ADVICE r9 #4) narrows that to requests that
    actually DEPEND on catalog resolution — a glue config with a usable
    ``tablePath``, or a query that reads through explicit path functions
    (``iceberg_scan``/``read_parquet``/...), is served by the same path
    reads the reference falls through to, so rejecting it regressed
    previously-working requests. Only when neither is present would the
    request need the (unimplemented) catalog, and THERE a 501 with
    guidance beats a 'table not found' mis-diagnosis."""
    if config is None or config.catalogType != "glue":
        return
    if config.tablePath:
        return  # path reads serve it, reference-parity fall-through
    if sql is not None and _PATH_FUNC_RE.search(sql):
        return  # self-contained path-function query
    from cloudfloe_spark.service.errors import CloudfloeError

    raise CloudfloeError(
        501,
        "catalogType 'glue' is not implemented and this request has no "
        "tablePath or path-function read to fall back on. Use "
        "catalogType 'rest' with catalogEndpoint, or query the table "
        "directly via tablePath / iceberg_scan('<table root>').",
    )


def run_connection_test(spark, config: ConnectionConfig) -> Optional[TableInfo]:
    """Branching per `backend/main.py:529-564`; returns ``None`` on failure
    (details logged, not leaked — `backend/main.py:533-537`). An
    unimplemented catalogType raises 501 BEFORE the swallow-to-None guard:
    'connection failed' would be the wrong diagnosis for 'feature
    missing'."""
    _reject_unimplemented_catalog(config)
    try:
        sess = request_session(spark, config)
        if config.catalogType == "rest" and config.catalogEndpoint:
            if iceberg_runtime_available(spark):
                tables = sess.sql(
                    f"SHOW TABLES IN {CATALOG_NAME}.{config.namespace}"
                ).collect()
                names = [t.tableName for t in tables]
            else:
                # No runtime jar: speak the Iceberg REST protocol directly
                # (stdlib client) — same listing the Spark catalog would
                # produce, and the same path run_query resolves reads
                # through (iceberg_local.resolve_rest_tables).
                from cloudfloe_spark.sources.rest_catalog import (
                    RestCatalogClient,
                )

                credential = None
                if config.accessKey or config.secretKey:
                    credential = f"{config.accessKey}:{config.secretKey}"
                client = RestCatalogClient(config.catalogEndpoint, credential)
                names = client.list_tables(config.namespace)
            name = names[0] if names else "<table>"
            return TableInfo(
                path=f"{CATALOG_NAME}.{config.namespace}",
                suggestedQuery=(
                    f"SELECT * FROM {CATALOG_NAME}.{config.namespace}.{name} "
                    f"LIMIT 100"
                ),
                format="iceberg",
            )
        if config.tablePath:
            return probe_table(sess, config.tablePath)
        return probe_table(sess, DEMO_TABLE)
    except CloudfloeError:
        raise  # deliberate 400s (delete guard) pass through
    except Exception:
        return None


# --- A12: query execution --------------------------------------------------------


def _json_value(v):
    if v is None or isinstance(v, (bool, int, str)):
        return v
    if isinstance(v, float):
        return None if math.isnan(v) else v
    if isinstance(v, (datetime.datetime, datetime.date, datetime.time)):
        return v.isoformat()
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, (bytes, bytearray)):
        return base64.b64encode(bytes(v)).decode("ascii")
    if isinstance(v, (list, tuple)):
        return [_json_value(x) for x in v]
    if isinstance(v, dict):
        return {str(k): _json_value(x) for k, x in v.items()}
    if hasattr(v, "asDict"):  # Row / struct
        return {k: _json_value(x) for k, x in v.asDict().items()}
    return str(v)


def _bytes_scanned(df) -> int:
    """Sum of distinct scan-input file sizes — real I/O upper bound,
    replacing the reference's string-length estimate
    (`backend/main.py:594-595`, upgrade noted in SURVEY.md §4.2)."""
    total = 0
    try:
        for uri in set(df.inputFiles()):
            p = local_path(uri)
            if p is not None:
                try:
                    total += os.path.getsize(p)
                except OSError:
                    pass
    except Exception:
        pass
    return total


def run_query(
    spark,
    sql: str,
    config: Optional[ConnectionConfig] = None,
    row_limit: int = 1000,
) -> QueryResponse:
    """Full query path (`backend/main.py:567-620`): shape-validate →
    rewrite → transpile → validate+LIMIT → Spark-parser guard → execute →
    rows + stats.

    The statement-shape gate runs on the RAW text before any rewrite, so a
    request that will be rejected (multi-statement, forbidden keyword)
    never triggers file loads / schema inference. The session is always a
    request-scoped ``newSession()`` — even with ``config=None`` — so the
    rewrites' ``cf_*`` temp views cannot leak across requests."""
    t0 = time.perf_counter()
    validate_statement_shape(sql)
    _reject_unimplemented_catalog(config, sql)
    sess = request_session(spark, config)

    guard_root = None
    if config is not None and config.tablePath and _must_reject_deletes(sess):
        # Same root-resolution the reader itself uses (local path, or a
        # remote root whose scheme a filesystem serves) — probe and query
        # must agree on the rejection contract.
        from cloudfloe_spark.service.iceberg_local import _readable_root

        guard_root = _readable_root(sess, config.tablePath)
    if guard_root is not None:
        # Metadata-only pre-check (A7): no data scan, just the latest
        # metadata.json summary. Position deletes are APPLIED by the
        # no-runtime reader (iceberg_local anti-join), so without the
        # runtime only equality deletes reject; the env flag still forces
        # the reference's blanket rejection.
        meta = _probe_iceberg_metadata(guard_root)
        if meta is not None and meta.get("hasDeletes"):
            if REJECT_DELETE_TABLES or _has_unreadable_deletes(guard_root):
                raise bad_request(
                    "Table has delete files. Run compaction "
                    "(rewrite_data_files + rewrite_position_delete_files) "
                    "before querying. (These equality-delete files have "
                    "unresolvable field ids, so reading around them would "
                    "silently return deleted rows.)"
                )

    from cloudfloe_spark.service.file_reads import resolve_file_reads

    sql = resolve_file_reads(sess, sql)
    # iceberg_changes() is OURS (no DuckDB/Spark analog), so it resolves
    # through the metadata reader REGARDLESS of the runtime jar — with the
    # jar present the catalog rewrite below has no mapping for it and the
    # raw name would reach Spark as an undefined function.
    from cloudfloe_spark.service.iceberg_local import resolve_incremental_reads

    sql = resolve_incremental_reads(sess, sql)
    if not iceberg_runtime_available(spark):
        # Pure-Python snapshot resolution for local Iceberg tables: pins
        # iceberg_scan to the manifest-listed file set (with VERSION AS OF
        # / TIMESTAMP AS OF time travel) and backs snapshot/metadata
        # listings — instead of degrading to a raw data/-dir glob.
        from cloudfloe_spark.service.iceberg_local import resolve_iceberg_reads

        sql = resolve_iceberg_reads(sess, sql)
    converted = convert_scan_functions(
        sql, config, iceberg_available=iceberg_runtime_available(spark)
    )
    if (
        not iceberg_runtime_available(spark)
        and config is not None
        and config.catalogType == "rest"
        and config.catalogEndpoint
    ):
        # REST-cataloged reads without the runtime jar: resolve
        # metadata-location over the REST protocol, serve the table via
        # the pure-Python manifest reader.
        from cloudfloe_spark.service.iceberg_local import resolve_rest_tables

        converted = resolve_rest_tables(sess, converted, config)
    converted = transpile_duckdb(converted)
    final_sql = validate_and_limit_sql(converted, row_limit)
    assert_plan_is_query(sess, final_sql)

    try:
        df = sess.sql(final_sql)
        collected = df.collect()
    except CloudfloeError:
        raise
    except Exception as e:
        raise bad_request(f"Query execution failed: {_short(e)}") from None

    columns = list(df.columns)
    rows = [[_json_value(v) for v in row] for row in collected]
    elapsed_ms = int((time.perf_counter() - t0) * 1000)
    return QueryResponse(
        columns=columns,
        rows=rows,
        stats=QueryStats(
            executionTimeMs=elapsed_ms,
            bytesScanned=_bytes_scanned(df),
            rowsReturned=len(rows),
        ),
        truncated=len(rows) >= row_limit,
    )


def _short(e: Exception) -> str:
    s = str(e).strip()
    return s.splitlines()[0][:500] if s else type(e).__name__


# --- maintenance (opt-in write path) -------------------------------------------


def maintenance_enabled() -> bool:
    """Write operations are opt-in: the reference is a read-only query
    service, so compaction over HTTP must be explicitly enabled."""
    return os.environ.get("CLOUDFLOE_ENABLE_MAINTENANCE", "0") == "1"


def run_maintenance_compact(
    spark, config: ConnectionConfig, target_file_bytes: int
) -> dict:
    """Compact the Iceberg table at ``config.tablePath`` — the executable
    form of the advice our (and the reference's) delete-guard 400 gives
    ("run compaction before querying", `backend/main.py:405-413`).

    Local Iceberg-layout roots only: the rewrite WRITES data files and
    commits a snapshot, and the remote path has no atomic commit story
    without a real catalog. Concurrent commits abort with 409 (Iceberg's
    rewrite conflict validation) — the caller just retries."""
    from cloudfloe_spark.sources.iceberg_fixture import CommitConflictError
    from cloudfloe_spark.sources.maintenance import compact_iceberg_table

    if not maintenance_enabled():
        raise CloudfloeError(
            403,
            "Maintenance API is disabled. Set CLOUDFLOE_ENABLE_MAINTENANCE=1 "
            "to allow table-rewriting operations.",
        )
    local = local_path(config.tablePath)
    if local is None:
        raise bad_request(
            "Maintenance supports local table roots only; compact remote "
            "tables with the Iceberg runtime's rewrite_data_files procedure."
        )
    if _probe_iceberg_metadata(local) is None:
        raise bad_request(
            f"No Iceberg table at {config.tablePath!r} (metadata/*.metadata.json "
            "not found) — only Iceberg-layout tables are compacted here."
        )
    try:
        result = compact_iceberg_table(
            spark,
            local,
            timestamp_ms=int(time.time() * 1000),
            target_file_bytes=target_file_bytes,
        )
    except CommitConflictError as e:
        raise CloudfloeError(409, f"Compaction aborted: {e}") from None
    except CloudfloeError:
        raise
    except Exception as e:
        raise bad_request(f"Compaction failed: {_short(e)}") from None
    return {
        "status": "success",
        "snapshotId": str(result["snapshot_id"]),  # stringified: JS precision
        "filesBefore": result["files_before"],
        "filesAfter": result["files_after"],
        "rows": result["rows"],
    }
