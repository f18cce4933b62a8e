"""Engine-layer tests: probe (A10/A11), S3A conf mapping (A5), query
execution + stats (A12). Real Spark over local fixtures — the port's
replacement for the reference's fully-mocked probe tests (SURVEY.md §5.2)."""

from __future__ import annotations

import json

import pytest

from cloudfloe_spark.service.config import ConnectionConfig
from cloudfloe_spark.service.engine import (
    probe_table,
    run_connection_test,
    run_query,
    s3a_options,
)
from cloudfloe_spark.service.errors import CloudfloeError


def _cfg(**kw):
    base = dict(storageType="local", endpoint="", accessKey="", secretKey="")
    base.update(kw)
    return ConnectionConfig(**base)


# --- probe ---------------------------------------------------------------------


def test_probe_parquet_file(spark, sf_dir):
    info = probe_table(spark, f"{sf_dir}/orders.parquet")
    assert info.format == "parquet"
    assert info.files == 1
    assert info.rows and info.rows > 0
    assert info.hasDeletes is False
    assert "SELECT * FROM parquet." in info.suggestedQuery


def test_probe_iceberg_layout(spark, tmp_path):
    """Iceberg metadata probe against a synthetic v2 layout — pins the
    fields the reference's probe tests pin (stringified 64-bit snapshot id,
    ISO-8601 Z timestamp, rows/files/deletes from the current snapshot)."""
    (tmp_path / "metadata").mkdir()
    (tmp_path / "data").mkdir()
    snap_id = 9223372036854775000  # > JS Number.MAX_SAFE_INTEGER
    meta = {
        "format-version": 2,
        "current-snapshot-id": snap_id,
        "last-updated-ms": 1700000000000,
        "snapshots": [
            {
                "snapshot-id": snap_id,
                "summary": {
                    "total-records": "37537",
                    "total-data-files": "1",
                    "total-delete-files": "0",
                },
            }
        ],
    }
    # Both pyiceberg (NNNNN-uuid) and Spark (vN) metadata names sort last
    (tmp_path / "metadata" / "00002-abc.metadata.json").write_text(json.dumps(meta))
    (tmp_path / "metadata" / "00001-abc.metadata.json").write_text("{}")

    info = probe_table(spark, str(tmp_path))
    assert info.format == "iceberg-v2"
    assert info.snapshotId == str(snap_id)  # stringified (main.py:488-490)
    assert info.lastSnapshotAt == "2023-11-14T22:13:20Z"
    assert info.rows == 37537 and info.files == 1
    assert info.hasDeletes is False


def _deletes_meta_dir(tmp_path):
    (tmp_path / "metadata").mkdir()
    meta = {
        "format-version": 2,
        "current-snapshot-id": 1,
        "last-updated-ms": 1700000000000,
        "snapshots": [
            {"snapshot-id": 1, "summary": {"total-delete-files": "3"}}
        ],
    }
    (tmp_path / "metadata" / "v1.metadata.json").write_text(json.dumps(meta))
    return tmp_path


def test_probe_iceberg_with_deletes_rejected_without_runtime(spark, tmp_path):
    """No Iceberg runtime (sandbox default) → the parquet fallback cannot
    apply merge-on-read deletes, so the probe hard-rejects like the
    reference (backend/main.py:398-414)."""
    _deletes_meta_dir(tmp_path)
    with pytest.raises(CloudfloeError) as e:
        probe_table(spark, str(tmp_path))
    assert e.value.status_code == 400
    assert "compaction" in e.value.detail.lower()


def test_probe_iceberg_with_deletes_flagged_when_runtime_present(
    monkeypatch, spark, tmp_path
):
    """With the Iceberg runtime present (merge-on-read applied correctly)
    and the env flag off, deletes are INFO not a 400 (SURVEY.md §1.1)."""
    from cloudfloe_spark.service import engine as eng

    _deletes_meta_dir(tmp_path)
    monkeypatch.setattr(eng, "iceberg_runtime_available", lambda s: True)
    monkeypatch.setattr(eng, "REJECT_DELETE_TABLES", False)
    info = probe_table(spark, str(tmp_path))
    assert info.hasDeletes is True


def test_probe_degrades_on_malformed_metadata_json(spark, tmp_path):
    (tmp_path / "metadata").mkdir()
    (tmp_path / "metadata" / "v1.metadata.json").write_text("not json{")
    info = probe_table(spark, str(tmp_path))
    assert info.format  # still succeeds with degraded fields (probing.py:111-134)


def test_connection_test_returns_none_on_failure(spark):
    assert run_connection_test(spark, _cfg(tablePath="/nonexistent/path9")) is None


def test_connection_test_probes_table_path(spark, sf_dir):
    info = run_connection_test(spark, _cfg(tablePath=f"{sf_dir}/orders.parquet"))
    assert info is not None and info.rows > 0


# --- S3A conf mapping (A5) -------------------------------------------------------


def test_s3a_minio_path_style_no_ssl_host_rewrite():
    opts = s3a_options(
        ConnectionConfig(
            storageType="minio",
            endpoint="localhost:9000",
            accessKey="ak",
            secretKey="sk",
        )
    )
    assert opts["fs.s3a.endpoint"] == "minio:9000"  # main.py:286-288
    assert opts["fs.s3a.path.style.access"] == "true"
    assert opts["fs.s3a.connection.ssl.enabled"] == "false"


def test_s3a_r2_path_style_with_ssl():
    opts = s3a_options(
        ConnectionConfig(
            storageType="r2",
            endpoint="acct.r2.cloudflarestorage.com",
            accessKey="ak",
            secretKey="sk",
        )
    )
    assert opts["fs.s3a.path.style.access"] == "true"
    assert opts["fs.s3a.connection.ssl.enabled"] == "true"


def test_s3a_credentials_scoped_to_bucket():
    """Credential-leak mitigation (SURVEY.md §7.3 item 1): with a known
    bucket, every key is bucket-scoped so another request's reads of other
    buckets can never pick these up."""
    opts = s3a_options(
        ConnectionConfig(
            storageType="s3",
            endpoint="",
            accessKey="AK",
            secretKey="SK",
            sessionToken="TOK",
            tablePath="s3://prod-bucket/wh/t",
        )
    )
    assert opts["fs.s3a.bucket.prod-bucket.access.key"] == "AK"
    assert opts["fs.s3a.bucket.prod-bucket.session.token"] == "TOK"
    assert not any(k.startswith("fs.s3a.access") for k in opts)


def test_s3a_local_storage_no_opts():
    assert s3a_options(_cfg()) == {}


# --- run_query (A12) --------------------------------------------------------------


def test_run_query_end_to_end(spark, sf_dir):
    resp = run_query(
        spark,
        f"SELECT o_orderpriority, COUNT(*) AS n FROM read_parquet('{sf_dir}/orders.parquet') "
        "GROUP BY o_orderpriority ORDER BY n DESC",
        _cfg(),
        row_limit=100,
    )
    assert resp.columns == ["o_orderpriority", "n"]
    assert 0 < len(resp.rows) <= 100
    assert resp.truncated is False
    assert resp.stats.rowsReturned == len(resp.rows)
    assert resp.stats.bytesScanned > 0  # real input bytes, not an estimate
    assert resp.stats.executionTimeMs >= 0


def test_run_query_truncation_flag(spark, sf_dir):
    resp = run_query(
        spark,
        f"SELECT o_orderkey FROM read_parquet('{sf_dir}/orders.parquet')",
        _cfg(),
        row_limit=10,
    )
    assert len(resp.rows) == 10 and resp.truncated is True


def test_run_query_rejects_writes(spark):
    with pytest.raises(CloudfloeError) as e:
        run_query(spark, "DROP TABLE important", _cfg())
    assert e.value.status_code == 400


def test_run_query_duckdb_dialect_corpus(spark, sf_dir):
    """The reference's 'Popular Genres' shape (backend/main.py:767) runs
    through rewrite + transpile unchanged."""
    resp = run_query(
        spark,
        "SELECT TRIM(word) as word, COUNT(*) as count FROM "
        "(SELECT UNNEST(string_split(text, ' ')) as word "
        f"FROM read_parquet('{sf_dir}/documents.parquet')) "
        "WHERE word <> '' GROUP BY word ORDER BY count DESC LIMIT 5",
        _cfg(),
    )
    assert len(resp.rows) == 5


def test_run_query_execution_error_is_400(spark):
    with pytest.raises(CloudfloeError) as e:
        run_query(spark, "SELECT * FROM parquet.`/nope/missing`", _cfg())
    assert e.value.status_code == 400
    assert "Query execution failed" in e.value.detail


def test_run_query_json_safe_values(spark, sf_dir):
    resp = run_query(
        spark,
        f"SELECT o_orderdate, o_totalprice FROM read_parquet('{sf_dir}/orders.parquet') LIMIT 3",
        _cfg(),
    )
    json.dumps(resp.rows)  # must not raise


# --- per-request isolation (SURVEY.md §7.3 hard part 1) ------------------------


def test_request_sessions_are_isolated(spark):
    """newSession-per-request must isolate SQL conf and temp views — the
    replacement for the reference's per-request DuckDB engine."""
    from cloudfloe_spark.service.engine import request_session

    s1 = request_session(spark, None)
    s2 = request_session(spark, None)
    s1.conf.set("spark.sql.cf.test", "one")
    assert s2.conf.get("spark.sql.cf.test", None) != "one"
    s1.range(3).createOrReplaceTempView("req_scoped_view")
    assert s1.catalog.tableExists("req_scoped_view")
    assert not s2.catalog.tableExists("req_scoped_view")


def test_delete_guard_reject_mode(monkeypatch, spark, tmp_path):
    """With CLOUDFLOE_REJECT_DELETES on, a table with delete files gets
    the reference's 400 + compaction advice (backend/main.py:398-414)."""
    import json as _json

    from cloudfloe_spark.service import engine as eng

    (tmp_path / "metadata").mkdir()
    meta = {
        "format-version": 2,
        "current-snapshot-id": 1,
        "last-updated-ms": 1700000000000,
        "snapshots": [{"snapshot-id": 1, "summary": {"total-delete-files": "2"}}],
    }
    (tmp_path / "metadata" / "v1.metadata.json").write_text(_json.dumps(meta))
    monkeypatch.setattr(eng, "REJECT_DELETE_TABLES", True)
    with pytest.raises(CloudfloeError) as e:
        probe_table(spark, str(tmp_path))
    assert e.value.status_code == 400
    assert "compaction" in e.value.detail.lower()


def test_s3a_install_is_bucket_scoped_and_idempotent(spark):
    """Credential installs go under fs.s3a.bucket.<b>. keys, serialized and
    fingerprinted so repeat requests with the same creds don't churn the
    shared Hadoop conf (ADVICE r01: hadoopConfiguration is global)."""
    from cloudfloe_spark.service import engine as eng

    cfg = _cfg(
        storageType="s3",
        tablePath="s3://bucket-a/tbl",
        accessKey="AK1",
        secretKey="SK1",
        region="us-east-1",
    )
    sess = eng.request_session(spark, cfg)
    hadoop = sess.sparkContext._jsc.hadoopConfiguration()
    assert hadoop.get("fs.s3a.bucket.bucket-a.access.key") == "AK1"
    # No global key leaked for a bucket-derivable path
    assert hadoop.get("fs.s3a.access.key") is None
    # Re-request with identical creds: fingerprint short-circuits (no error,
    # value unchanged)
    eng.request_session(spark, cfg)
    assert hadoop.get("fs.s3a.bucket.bucket-a.access.key") == "AK1"
    # Different bucket gets its own scope without touching bucket-a
    cfg_b = _cfg(
        storageType="s3",
        tablePath="s3://bucket-b/tbl",
        accessKey="AK2",
        secretKey="SK2",
        region="us-east-1",
    )
    eng.request_session(spark, cfg_b)
    assert hadoop.get("fs.s3a.bucket.bucket-a.access.key") == "AK1"
    assert hadoop.get("fs.s3a.bucket.bucket-b.access.key") == "AK2"


def test_iceberg_catalog_registered_when_runtime_present(monkeypatch, spark):
    """The `iceberg.` names the scan rewrites emit must have a catalog
    behind them when the runtime jar is on the classpath."""
    from cloudfloe_spark.service import engine as eng

    monkeypatch.setattr(eng, "iceberg_runtime_available", lambda s: True)
    sess = eng.request_session(spark, None)
    assert (
        sess.conf.get("spark.sql.catalog.iceberg")
        == "org.apache.iceberg.spark.SparkCatalog"
    )
    assert sess.conf.get("spark.sql.catalog.iceberg.type") == "hadoop"
    # and the sandbox default (no runtime) leaves the session clean
    sess2 = eng.request_session(spark, None)
    monkeypatch.undo()
    sess3 = eng.request_session(spark, None)
    assert sess3.conf.get("spark.sql.catalog.iceberg", None) is None


def test_rejected_query_triggers_no_file_load(spark, tmp_path):
    """Statement-shape validation runs BEFORE rewrites: a request that will
    be rejected must not read files / register temp views (side-effect-free
    rejection, matching the reference's validate-first order)."""
    import pytest

    from cloudfloe_spark.service.engine import run_query
    from cloudfloe_spark.service.errors import CloudfloeError

    p = tmp_path / "data.csv"
    p.write_text("a,b\n1,2\n")
    before = {v.name for v in spark.catalog.listTables()}
    with pytest.raises(CloudfloeError) as ei:
        run_query(
            spark,
            f"SELECT * FROM read_csv('{p}'); DROP TABLE x",
            _cfg(),
        )
    assert ei.value.status_code == 400
    # No cf_* view materialized anywhere (rewrite never ran).
    after = {v.name for v in spark.catalog.listTables()}
    assert before == after
    # Even a would-be file error never surfaces for a forbidden statement.
    with pytest.raises(CloudfloeError):
        run_query(spark, "DROP TABLE read_csv('/no/such.csv')", _cfg())


def test_no_config_run_uses_request_scoped_session(spark, tmp_path):
    """config=None must still execute in a request-scoped newSession() so
    rewrite temp views (cf_*) never persist on the shared session."""
    from cloudfloe_spark.service.engine import run_query

    p = tmp_path / "rows.json"
    p.write_text('{"k": 1}\n{"k": 2}\n')
    # Diff, not absolute emptiness: other tests may call rewrite helpers
    # directly on the shared session; this run must add nothing to it.
    before = {v.name for v in spark.catalog.listTables()}
    resp = run_query(spark, f"SELECT k FROM read_json('{p}') ORDER BY k", None)
    assert [r[0] for r in resp.rows] == [1, 2]
    leaked = {
        v.name for v in spark.catalog.listTables() if v.name.startswith("cf_")
    } - before
    assert leaked == set()


def test_classpath_probed_once_per_class(spark, monkeypatch):
    """The classpath cannot change once the JVM has started, so each class
    name is probed at most once however many requests ask."""
    import collections

    from cloudfloe_spark.service import engine as eng

    calls = collections.Counter()
    real = eng._load_class

    def counting(jvm, name):
        calls[name] += 1
        return real(jvm, name)

    monkeypatch.setattr(eng, "_CLASS_PROBES", {})
    monkeypatch.setattr(eng, "_load_class", counting)
    for _ in range(3):
        assert run_query(spark, "SELECT 1 AS x", _cfg()).rows == [[1]]
    assert calls["org.apache.iceberg.spark.SparkCatalog"] == 1
    assert max(calls.values()) == 1
