"""DuckDB file-reading table functions → Spark reads, served as temp views.

The reference delegates SQL to DuckDB, so its users legitimately write
``read_csv('...')`` / ``read_csv_auto('...')`` / ``read_json('...')`` /
``read_json_auto('...')`` in the query box (the validator admits any
read-only SELECT — `backend/main.py:36-43`). Spark SQL has no such table
functions; these rewrites load the file with the matching DataFrameReader
(header + schema inference ≈ DuckDB's auto-detection) into a per-request
temp view, exactly like the no-runtime Iceberg path
(:mod:`service.iceberg_local`).

Local paths only — remote (s3://) reads remain the S3A-configured
``read_parquet``/Iceberg path. Matches inside string literals are left
untouched (same lexer-based guard as every other rewrite).
"""

from __future__ import annotations

import hashlib
import os
import re

from cloudfloe_spark.service.convert import _sub_outside_literals
from cloudfloe_spark.service.errors import bad_request
from cloudfloe_spark.sources.fsio import local_path

_READ_CSV_RE = re.compile(
    r"read_csv(?:_auto)?\(\s*['\"]([^'\"]+)['\"]\s*\)", re.IGNORECASE
)
_READ_JSON_RE = re.compile(
    r"read_json(?:_auto)?\(\s*['\"]([^'\"]+)['\"]\s*\)", re.IGNORECASE
)


def _view_name(kind: str, path: str) -> str:
    # md5 of the path, not builtin hash(): stable across processes
    # (PYTHONHASHSEED) and collision-safe at any realistic path count —
    # truncated builtin hash could alias two files to one temp view.
    digest = hashlib.md5(path.encode("utf-8")).hexdigest()[:16]
    return f"cf_{kind}_{digest}"


def resolve_file_reads(sess, sql: str) -> str:
    """Rewrite DuckDB CSV/JSON table functions over local files into
    temp-view references backed by the matching Spark reader."""

    def _csv(m: re.Match) -> str:
        path = local_path(m.group(1))
        if path is None:
            return m.group(0)
        if not os.path.exists(path):
            raise bad_request(f"CSV file not found: {m.group(1)}")
        name = _view_name("csv", path)
        (
            sess.read.option("header", "true")
            .option("inferSchema", "true")
            .csv(path)
            .createOrReplaceTempView(name)
        )
        return name

    def _json(m: re.Match) -> str:
        path = local_path(m.group(1))
        if path is None:
            return m.group(0)
        if not os.path.exists(path):
            raise bad_request(f"JSON file not found: {m.group(1)}")
        name = _view_name("json", path)
        sess.read.json(path).createOrReplaceTempView(name)
        return name

    out = _sub_outside_literals(_READ_CSV_RE, _csv, sql)
    out = _sub_outside_literals(_READ_JSON_RE, _json, out)
    return out
