"""Scan-function rewriting + DuckDB→Spark dialect translation (A3 + §2C).

Two pre-parse string transforms, applied in this order (matching the
reference, which rewrites before validating — `backend/main.py:580-581`):

1. :func:`convert_scan_functions` — the reference's
   ``read_parquet('s3://…/**/*.parquet')`` → Iceberg rewrite
   (`backend/main.py:426-449`), extended to also map the reference's own
   scan forms ``iceberg_scan('<path>')`` / ``iceberg_snapshots`` /
   ``iceberg_metadata`` onto this engine's scan forms, so the reference's
   entire demo corpus (`backend/main.py:743-769`) runs unchanged.

2. :func:`transpile_duckdb` — targeted dialect renames for the DuckDB
   functions the reference corpus exercises (SURVEY.md §2C):
   ``string_split`` → ``split``, ``UNNEST(x)`` → ``explode(x)``,
   ``expr::TYPE`` → ``CAST(expr AS TYPE)``. This is intentionally a
   corpus-complete translator, not a general transpiler — anything it
   doesn't recognize passes through for Spark SQL to judge.

Scan-form resolution for a table reference:

- REST catalog configured → ``iceberg_catalog.<namespace>.<table>``
  (reference parity, `backend/main.py:437-439`).
- Iceberg Spark runtime on the classpath → ``iceberg.`<root>``` (path-based
  Iceberg read; correct with v2 delete files).
- Otherwise → plain parquet scan. ``read_parquet`` globs pass through
  verbatim (Spark's parquet reader understands globs). NOTE: local
  ``iceberg_scan`` roots with readable metadata never reach this module —
  ``service.iceberg_local.resolve_iceberg_reads`` intercepts them first
  with a manifest-pinned snapshot read (incl. time travel); the
  ``<root>/data`` fallback here only remains for unreadable/remote
  layouts.
"""

from __future__ import annotations

import os
import re
from typing import Optional

from cloudfloe_spark.service.config import ConnectionConfig
from cloudfloe_spark.sources.fsio import local_path

CATALOG_NAME = "iceberg_catalog"  # reference's attach name (backend/main.py:340)


def _protected_spans(sql: str) -> list[tuple[int, int]]:
    """(start, end) spans of string literals, quoted identifiers, and
    comments. The regex rewrites below must never fire inside these — the
    reference's sqlglot transpile is literal-aware, so ``SELECT 'a::b'``
    must survive untouched (ADVICE r01). Uses the same lexer as the policy
    gate, so the two layers agree on what is a literal."""
    from cloudfloe_spark.service.validation import tokenize

    spans: list[tuple[int, int]] = []
    pos = 0
    for t in tokenize(sql):
        if t.kind in ("string", "quoted_ident", "comment"):
            spans.append((pos, pos + len(t.text)))
        pos += len(t.text)
    return spans


def _in_spans(i: int, spans: list[tuple[int, int]]) -> bool:
    return any(a <= i < b for a, b in spans)


def _sub_outside_literals(
    pattern: re.Pattern[str], repl, sql: str
) -> str:
    """``pattern.sub(repl, sql)`` restricted to matches that START outside
    string/identifier/comment spans. (A scan-function match legitimately
    CONTAINS a string argument — only the match start must be code.)"""
    spans = _protected_spans(sql)
    out: list[str] = []
    last = 0
    for m in pattern.finditer(sql):
        if _in_spans(m.start(), spans):
            continue
        out.append(sql[last:m.start()])
        out.append(repl(m) if callable(repl) else m.expand(repl))
        last = m.end()
    out.append(sql[last:])
    return "".join(out)

_READ_PARQUET_RE = re.compile(
    r"read_parquet\(\s*['\"]([^'\"]+)['\"]\s*\)", re.IGNORECASE
)
_ICEBERG_SCAN_RE = re.compile(
    r"iceberg_scan\(\s*['\"]([^'\"]+)['\"]\s*\)", re.IGNORECASE
)
_ICEBERG_SNAPSHOTS_RE = re.compile(
    r"iceberg_snapshots\(\s*['\"]([^'\"]+)['\"]\s*\)", re.IGNORECASE
)
_ICEBERG_METADATA_RE = re.compile(
    r"iceberg_metadata\(\s*['\"]([^'\"]+)['\"]\s*\)", re.IGNORECASE
)


def _strip_glob(path: str) -> str:
    """Drop trailing glob components: ``s3://b/t/**/*.parquet`` → ``s3://b/t``."""
    parts = path.rstrip("/").split("/")
    while parts and "*" in parts[-1]:
        parts.pop()
    return "/".join(parts)


def _iceberg_data_dir(root: str) -> Optional[str]:
    """``<root>/data`` if ``root`` is locally checkable and laid out as an
    Iceberg table; None when undecidable (remote paths)."""
    local = local_path(root)
    if local is not None and os.path.isdir(os.path.join(local, "data")):
        return f"{root}/data"
    return None


def spark_scan_form(root: str, *, iceberg_available: bool = False) -> str:
    """FROM-clause form for a table root on this engine."""
    if iceberg_available:
        return f"iceberg.`{root}`"
    data = _iceberg_data_dir(root)
    return f"parquet.`{data or root}`"


def convert_scan_functions(
    sql: str,
    config: Optional[ConnectionConfig] = None,
    *,
    iceberg_available: bool = False,
) -> str:
    """Rewrite reference scan functions into this engine's scan forms."""

    def _catalog_ref(root: str) -> Optional[str]:
        if config is not None and config.catalogType == "rest":
            table_name = root.rstrip("/").split("/")[-1]
            return f"{CATALOG_NAME}.{config.namespace}.{table_name}"
        return None

    def _read_parquet(m: re.Match) -> str:
        path = m.group(1)
        root = _strip_glob(path)
        ref = _catalog_ref(root)
        if ref:
            return ref
        if iceberg_available and root != path.rstrip("/"):
            # glob form ⇒ table-root semantics, as in the reference rewrite
            return f"iceberg.`{root}`"
        return f"parquet.`{path}`"  # Spark's parquet reader handles globs

    def _iceberg_scan(m: re.Match) -> str:
        root = m.group(1).rstrip("/")
        ref = _catalog_ref(root)
        if ref:
            return ref
        return spark_scan_form(root, iceberg_available=iceberg_available)

    out = _sub_outside_literals(_READ_PARQUET_RE, _read_parquet, sql)
    out = _sub_outside_literals(_ICEBERG_SCAN_RE, _iceberg_scan, out)
    # Metadata-table functions — Spark/Iceberg exposes these as suffixed
    # tables (SURVEY.md §1.1); they require the Iceberg runtime (no parquet
    # fallback exists), so the rewrite always targets the iceberg catalog
    # and analysis produces a clear error when the runtime is absent.
    out = _sub_outside_literals(
        _ICEBERG_SNAPSHOTS_RE,
        lambda m: f"iceberg.`{m.group(1).rstrip('/')}`.snapshots",
        out,
    )
    out = _sub_outside_literals(
        _ICEBERG_METADATA_RE,
        lambda m: f"iceberg.`{m.group(1).rstrip('/')}`.files",
        out,
    )
    return out


# --- DuckDB → Spark dialect (corpus-complete, SURVEY.md §7.3 risk 2) ---------

_STRING_SPLIT_RE = re.compile(r"\bstring_split\s*\(", re.IGNORECASE)
_UNNEST_RE = re.compile(r"\bUNNEST\s*\(", re.IGNORECASE)
_CAST_SUFFIX_RE = re.compile(
    r"::\s*([A-Za-z]+(?:\s*\(\s*\d+(?:\s*,\s*\d+)?\s*\))?)"
)


def _rewrite_cast_suffix(sql: str) -> str:
    """``expr::TYPE`` → ``CAST(expr AS TYPE)`` for simple operands.

    Handles the operand shapes the corpus uses (function call, identifier,
    literal, parenthesized expr) by scanning back over one balanced
    primary expression.
    """
    search_from = 0
    while True:
        spans = _protected_spans(sql)
        m = _CAST_SUFFIX_RE.search(sql, search_from)
        while m is not None and _in_spans(m.start(), spans):
            m = _CAST_SUFFIX_RE.search(sql, m.end())
        if not m:
            return sql
        type_name = m.group(1)
        end = m.start()
        # String-literal operand ('a b'::INT): take its full lexed span —
        # the character scan-back would stop at whitespace inside it.
        literal = next((a for a, b in spans if b == end), None)
        start = literal if literal is not None else _operand_start(sql, end)
        sql = (
            sql[:start]
            + f"CAST({sql[start:end]} AS {type_name})"
            + sql[m.end():]
        )


def _operand_start(sql: str, end: int) -> int:
    """Index where the primary expression ending at ``end`` starts."""
    i = end
    # Trailing balanced parens (function call / grouped expr), possibly
    # preceded by a dotted identifier chain.
    if i > 0 and sql[i - 1] == ")":
        depth = 0
        while i > 0:
            i -= 1
            if sql[i] == ")":
                depth += 1
            elif sql[i] == "(":
                depth -= 1
                if depth == 0:
                    break
    # Identifier / number / dotted chain / string literal before the parens.
    while i > 0 and (sql[i - 1].isalnum() or sql[i - 1] in "_.$'\""):
        i -= 1
    return i


def transpile_duckdb(sql: str) -> str:
    """Translate the DuckDB-dialect constructs the reference corpus uses
    into Spark SQL. Unknown constructs pass through untouched; string
    literals, quoted identifiers, and comments are never rewritten."""
    out = _sub_outside_literals(_STRING_SPLIT_RE, "split(", sql)
    out = _sub_outside_literals(_UNNEST_RE, "explode(", out)
    out = _rewrite_cast_suffix(out)
    return out
