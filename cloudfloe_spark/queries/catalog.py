"""Registry infrastructure for the query catalog.

Each catalog entry pairs a PySpark DataFrame program with an equivalent
ANSI/DuckDB SQL oracle over the same parquet fixture tables. The driver (and
our own tests) run both and compare row count + schema + order-insensitive
value hash. This is strictly stronger than the reference's mocked unit tests
(reference backend/tests/ — SURVEY.md §5).

Parity rules every entry follows (FIXTURES.md §4):
- alias every computed column identically on both sides;
- cast integer SUMs to BIGINT in the oracle (DuckDB sums to HUGEINT);
- round double aggregates on both sides to absorb float summation order;
- no bare LIMIT without a deterministic ORDER BY.
"""

from __future__ import annotations

import fcntl
import hashlib
import os
import shutil
import tempfile
from collections.abc import Callable, Sequence
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from cloudfloe_spark.sources.fsio import file_identity

SparkQuery = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class CatalogQuery:
    name: str
    fn: SparkQuery
    oracle: str | None
    doc: str = ""
    tags: tuple[str, ...] = field(default_factory=tuple)


_REGISTRY: dict[str, CatalogQuery] = {}
# Immutable registration order — reorder() permutes _REGISTRY but never this,
# so priority computations stay deterministic (and idempotent) after reorders.
_REGISTRATION_ORDER: list[str] = []


def register(
    name: str, oracle: str | None = None, tags: tuple[str, ...] = ()
) -> Callable[[SparkQuery], SparkQuery]:
    """Decorator: add a (spark_fn, oracle_sql) pair to the catalog."""

    def deco(fn: SparkQuery) -> SparkQuery:
        if name in _REGISTRY:
            raise ValueError(f"duplicate catalog query name {name!r}")
        _REGISTRY[name] = CatalogQuery(
            name=name, fn=fn, oracle=oracle, doc=(fn.__doc__ or "").strip(), tags=tags
        )
        _REGISTRATION_ORDER.append(name)
        return fn

    return deco


def build_once(
    tag: str, inputs: Sequence[str], builder: Callable[[str], None]
) -> str:
    """The directory of a derived fixture, built on first use.

    The directory is ``<tempdir>/cloudfloe_<tag>/<key>``; ``key`` hashes
    ``tag`` and the :func:`~cloudfloe_spark.sources.fsio.file_identity`
    of every input, so a regenerated input (new inode, size or mtime)
    gets a fresh build instead of a stale table. ``builder(dir)`` fills
    the empty directory. The build holds an exclusive ``flock`` on the
    sibling ``<key>.lock`` while it re-checks the ``_BUILT`` marker,
    clears the directory, runs the builder and writes the marker last:
    concurrent callers (threads or processes) build once and never see a
    half-built table, and a builder that raises leaves no marker, so the
    next call rebuilds. The build runs in place, not in a temporary
    directory renamed into place, because Iceberg tables record absolute
    file URIs in manifests and metadata — a renamed table would point at
    the temporary directory."""
    ident = [file_identity(p) for p in inputs]
    key = hashlib.md5(repr((tag, ident)).encode()).hexdigest()[:12]
    parent = os.path.join(tempfile.gettempdir(), f"cloudfloe_{tag}")
    out = os.path.join(parent, key)
    marker = os.path.join(out, "_BUILT")
    if os.path.exists(marker):
        return out
    os.makedirs(parent, exist_ok=True)
    with open(out + ".lock", "a") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)  # released when the file closes
        if not os.path.exists(marker):
            shutil.rmtree(out, ignore_errors=True)
            os.makedirs(out)
            builder(out)
            with open(marker, "w") as f:
                f.write("ok")
    return out


def all_queries() -> dict[str, CatalogQuery]:
    return dict(_REGISTRY)


def registration_order() -> list[str]:
    """Catalog names in original registration order, unaffected by reorder()."""
    return list(_REGISTRATION_ORDER)


def reorder(first: list[str]) -> None:
    """Rebuild registry ordering: ``first`` names lead (in the given order),
    everything else follows in original registration order.

    The driver's correctness gate samples queries() in dict order, so ordering
    controls which operators get a hard driver CORRECTNESS row each round.
    """
    missing = [n for n in first if n not in _REGISTRY]
    if missing:
        raise KeyError(f"reorder: unknown catalog names {missing}")
    lead = {n: _REGISTRY[n] for n in first}
    rest = {n: q for n, q in _REGISTRY.items() if n not in lead}
    _REGISTRY.clear()
    _REGISTRY.update(lead)
    _REGISTRY.update(rest)


def query_map() -> dict[str, SparkQuery]:
    """The driver-contract ``queries()`` dict."""
    return {name: q.fn for name, q in _REGISTRY.items()}


def oracle_map() -> dict[str, str]:
    """The driver-contract ``oracle_sql()`` dict (only SQL-expressible ops)."""
    return {name: q.oracle for name, q in _REGISTRY.items() if q.oracle is not None}
