"""Transform-aware Iceberg partition pruning (inclusive projection).

The reference inherits full partition pruning from DuckDB's iceberg
extension (`README.md:199`): a WHERE on a partition SOURCE column prunes
manifest file entries even when the partition spec uses a derived
transform — ``bucket[N]``, ``truncate[W]``, ``year``/``month``/``day``/
``hour``. Identity transforms are handled Catalyst-side by stamping the
value as a typed literal per file group (`service/iceberg_local.py`);
derived transforms CANNOT be constant-folded that way (the predicate is on
the source column, the manifest carries the transformed value), so this
module implements the same planning-time *inclusive projection* Iceberg's
own engines use (Iceberg spec "Partition Transforms"; `Projections` in the
reference implementation): map each simple WHERE conjunct on a source
column into partition-value space and drop file groups that provably
cannot contain a matching row.

Soundness rule: pruning may only REMOVE a file when NO row in it can
satisfy the conjunct. Anything unrecognised — OR trees, function calls,
subqueries, non-constant comparands, unparseable SQL — contributes no
pruning and the file is read normally.

Predicates are extracted from the (view-substituted) statement text with
DuckDB's ``json_serialize_sql`` parser — already a hard dependency as the
correctness oracle — so no hand-rolled SQL parsing. A scan is pruned when
it appears exactly once in the statement and is either the sole relation
of its SELECT's FROM or a base-table leaf of that SELECT's JOIN tree
(qualified-column, null-rejecting conjuncts only in the JOIN case — see
``extract_scan_conjuncts``); self-unions read unpruned.

At 100 TB this is manifest-level pruning on the driver: O(#live files)
dict lookups per query against metadata already fetched for planning — the
same cost shape as Iceberg's own ``ManifestEvaluator`` path, and it runs
before any parquet footer is opened.
"""

from __future__ import annotations

import datetime
import functools
import json
import re
import struct
from typing import Any, Optional

_EPOCH_DATE = datetime.date(1970, 1, 1)
_EPOCH_DT = datetime.datetime(1970, 1, 1)

# --- Iceberg bucket hash (spec Appendix B: 32-bit murmur3, seed 0) ------------


def murmur3_x86_32(data: bytes, seed: int = 0) -> int:
    """Pure-Python murmur3_x86_32 (public algorithm; Austin Appleby,
    public domain). Returns the UNSIGNED 32-bit hash."""
    c1, c2 = 0xCC9E2D51, 0x1B873593
    h = seed & 0xFFFFFFFF
    rounded = len(data) & ~3
    for i in range(0, rounded, 4):
        k = int.from_bytes(data[i:i + 4], "little")
        k = (k * c1) & 0xFFFFFFFF
        k = ((k << 15) | (k >> 17)) & 0xFFFFFFFF
        k = (k * c2) & 0xFFFFFFFF
        h ^= k
        h = ((h << 13) | (h >> 19)) & 0xFFFFFFFF
        h = (h * 5 + 0xE6546B64) & 0xFFFFFFFF
    k = 0
    tail = data[rounded:]
    if len(tail) >= 3:
        k ^= tail[2] << 16
    if len(tail) >= 2:
        k ^= tail[1] << 8
    if len(tail) >= 1:
        k ^= tail[0]
        k = (k * c1) & 0xFFFFFFFF
        k = ((k << 15) | (k >> 17)) & 0xFFFFFFFF
        k = (k * c2) & 0xFFFFFFFF
        h ^= k
    h ^= len(data)
    h ^= h >> 16
    h = (h * 0x85EBCA6B) & 0xFFFFFFFF
    h ^= h >> 13
    h = (h * 0xC2B2AE35) & 0xFFFFFFFF
    h ^= h >> 16
    return h


def _bucket_bytes(v: Any, iceberg_type: str) -> Optional[bytes]:
    """Iceberg single-value serialization for bucketing (spec Appendix B):
    int/long/date/time/timestamp hash as 8-byte little-endian long,
    strings as UTF-8 bytes. None for types we don't bucket."""
    t = iceberg_type
    try:
        if t in ("int", "long"):
            return struct.pack("<q", int(v))
        if t == "string":
            return str(v).encode("utf-8")
        if t == "date":
            d = v if isinstance(v, datetime.date) else _parse_date(str(v))
            if d is None:
                return None
            return struct.pack("<q", (d - _EPOCH_DATE).days)
        if t.startswith("timestamp"):
            dt = v if isinstance(v, datetime.datetime) else _parse_ts(str(v))
            if dt is None:
                return None
            return struct.pack("<q", _epoch_micros(dt))
    except (ValueError, TypeError, struct.error, OverflowError):
        # unserializable literal (wrong-type comparand, out-of-int64 range):
        # no pruning rather than a planner crash — the query itself decides
        return None
    return None


def bucket_value(v: Any, n: int, iceberg_type: str) -> Optional[int]:
    """``bucket[n]`` partition value of ``v`` per the Iceberg spec:
    ``(murmur3_x86_32(serialize(v)) & Integer.MAX_VALUE) % n``."""
    data = _bucket_bytes(v, iceberg_type)
    if data is None:
        return None
    return (murmur3_x86_32(data) & 0x7FFFFFFF) % n


# --- transform application (write side — used by the fixture writer) ----------

_TRANSFORM_RE = re.compile(r"^(identity|year|month|day|hour)$|^(bucket|truncate)\[(\d+)\]$")


def parse_transform(transform: str) -> tuple[str, Optional[int]]:
    """``"bucket[16]"`` → ``("bucket", 16)``; ``"day"`` → ``("day", None)``."""
    m = _TRANSFORM_RE.match(transform.strip())
    if not m:
        raise ValueError(f"unsupported partition transform {transform!r}")
    if m.group(1):
        return m.group(1), None
    return m.group(2), int(m.group(3))


def _epoch_micros(dt: datetime.datetime) -> int:
    if dt.tzinfo is not None:
        dt = dt.astimezone(datetime.timezone.utc).replace(tzinfo=None)
    td = dt - _EPOCH_DT
    # exact integer arithmetic (total_seconds() is float — loses µs
    # precision on deltas this large)
    return (td.days * 86_400 + td.seconds) * 1_000_000 + td.microseconds


def transform_value(transform: str, v: Any, iceberg_type: str) -> Any:
    """Partition value of source value ``v`` under ``transform`` (Iceberg
    spec semantics). ``None`` source stays ``None``."""
    if v is None:
        return None
    kind, param = parse_transform(transform)
    if kind == "identity":
        return v
    if kind == "bucket":
        return bucket_value(v, param, iceberg_type)
    if kind == "truncate":
        if iceberg_type in ("int", "long"):
            return int(v) - (int(v) % param)  # Python % floors: spec-correct
        if iceberg_type == "string":
            return str(v)[:param]
        raise ValueError(f"truncate on unsupported type {iceberg_type!r}")
    # temporal transforms
    if isinstance(v, datetime.datetime):
        dt = v
    elif isinstance(v, datetime.date):
        dt = datetime.datetime(v.year, v.month, v.day)
    else:
        dt = _parse_ts(str(v))
        if dt is None:
            raise ValueError(f"cannot parse temporal value {v!r}")
    if dt.tzinfo is not None:
        dt = dt.astimezone(datetime.timezone.utc).replace(tzinfo=None)
    if kind == "year":
        return dt.year - 1970
    if kind == "month":
        return (dt.year - 1970) * 12 + dt.month - 1
    if kind == "day":
        return (dt.date() - _EPOCH_DATE).days
    if kind == "hour":
        if iceberg_type == "date":
            raise ValueError("hour transform on a date source column is "
                             "invalid per the Iceberg spec")
        return _epoch_micros(dt) // 3_600_000_000
    raise AssertionError(kind)


# --- source-value intervals (read side) ----------------------------------------


def _parse_date(s: str) -> Optional[datetime.date]:
    try:
        return datetime.date.fromisoformat(s.strip()[:10])
    except ValueError:
        return None


def _parse_ts(s: str) -> Optional[datetime.datetime]:
    t = s.strip().replace("T", " ").removesuffix("Z")
    for fmt in ("%Y-%m-%d %H:%M:%S.%f", "%Y-%m-%d %H:%M:%S", "%Y-%m-%d"):
        try:
            return datetime.datetime.strptime(t, fmt)
        except ValueError:
            continue
    return None


def _next_prefix(p: str) -> Optional[str]:
    """Smallest string strictly greater than every string with prefix
    ``p`` (exclusive upper bound of the prefix interval), or None when no
    bound exists."""
    chars = list(p)
    while chars:
        cp = ord(chars[-1])
        if cp < 0x10FFFF:
            chars[-1] = chr(cp + 1)
            return "".join(chars)
        chars.pop()
    return None


class _Bucket:
    """Marker interval for bucket transforms: equality-only pruning."""

    def __init__(self, n: int, value: int, iceberg_type: str):
        self.n = n
        self.value = value
        self.type = iceberg_type


def source_interval(
    transform: str, tvalue: str, iceberg_type: str
) -> Optional[object]:
    """The set of SOURCE values a file with partition value ``tvalue``
    (stringified, as the fixture manifests record it) can contain:
    ``(lo, hi, hi_inclusive)`` with lo always inclusive, a :class:`_Bucket`
    marker, or None when unknown (→ no pruning)."""
    kind, param = parse_transform(transform)
    try:
        if kind == "identity":
            v = _typed(tvalue, iceberg_type)
            return None if v is None else (v, v, True)
        if kind == "bucket":
            return _Bucket(param, int(tvalue), iceberg_type)
        if kind == "truncate":
            if iceberg_type in ("int", "long"):
                t = int(tvalue)
                return (t, t + param, False)
            if iceberg_type == "string":
                nxt = _next_prefix(tvalue)
                if nxt is None:
                    return None
                return (tvalue, nxt, False)
            return None
        # temporal: interval in the source column's comparable domain
        n = int(tvalue)
        if kind == "year":
            lo = datetime.datetime(1970 + n, 1, 1)
            hi = datetime.datetime(1971 + n, 1, 1)
        elif kind == "month":
            y, m = divmod(n, 12)
            lo = datetime.datetime(1970 + y, m + 1, 1)
            y2, m2 = divmod(n + 1, 12)
            hi = datetime.datetime(1970 + y2, m2 + 1, 1)
        elif kind == "day":
            lo = _EPOCH_DT + datetime.timedelta(days=n)
            hi = lo + datetime.timedelta(days=1)
        else:  # hour
            if iceberg_type == "date":
                # hour-on-date is invalid per the Iceberg spec; projecting it
                # onto the date domain collapses to an empty interval that
                # would prune every comparison — contribute no pruning instead
                return None
            lo = _EPOCH_DT + datetime.timedelta(hours=n)
            hi = lo + datetime.timedelta(hours=1)
        if iceberg_type == "date":
            return (lo.date(), hi.date(), False)
        return (lo, hi, False)
    except (ValueError, OverflowError):
        return None


def _typed(s: str, iceberg_type: str) -> Any:
    if iceberg_type in ("int", "long"):
        return int(s)
    if iceberg_type in ("float", "double"):
        return float(s)
    if iceberg_type == "date":
        return _parse_date(s)
    if iceberg_type.startswith("timestamp"):
        return _parse_ts(s)
    if iceberg_type == "boolean":
        return s.lower() == "true"
    return s


def _literal_in_domain(lit: Any, iceberg_type: str) -> Any:
    """Normalize a SQL literal into the source column's comparable domain;
    None when it can't be (→ conjunct contributes no pruning)."""
    if lit is None:
        return None
    if iceberg_type in ("int", "long"):
        if isinstance(lit, bool):
            return None
        if isinstance(lit, int):
            return lit
        if isinstance(lit, float) and lit.is_integer():
            return int(lit)
        return None
    if iceberg_type in ("float", "double"):
        return float(lit) if isinstance(lit, (int, float)) else None
    if iceberg_type == "date":
        return _parse_date(lit) if isinstance(lit, str) else None
    if iceberg_type.startswith("timestamp"):
        return _parse_ts(lit) if isinstance(lit, str) else None
    if iceberg_type == "string":
        return lit if isinstance(lit, str) else None
    return None


def _interval_satisfies(iv: tuple, op: str, lit: Any) -> bool:
    """Can any value in interval ``iv`` = (lo, hi, hi_incl) satisfy
    ``value <op> lit``? Loose (never false-prunes): open upper bounds use
    the continuous-domain test."""
    lo, hi, hi_incl = iv
    try:
        if op == "=":
            return lo <= lit and (lit < hi or (hi_incl and lit == hi))
        if op == "<":
            return lo < lit
        if op == "<=":
            return lo <= lit
        if op == ">":
            return lit < hi or (hi_incl and False)
        if op == ">=":
            return lit < hi or (hi_incl and lit == hi)
        if op == "<>":
            # only a single-point interval can be fully excluded
            return not (hi_incl and lo == hi == lit)
    except TypeError:
        return True  # incomparable literal — never prune on it
    return True


# --- SQL conjunct extraction ----------------------------------------------------

_OPS = {
    "COMPARE_EQUAL": "=",
    "COMPARE_LESSTHAN": "<",
    "COMPARE_LESSTHANOREQUALTO": "<=",
    "COMPARE_GREATERTHAN": ">",
    "COMPARE_GREATERTHANOREQUALTO": ">=",
    "COMPARE_NOTEQUAL": "<>",
}
_FLIP = {"=": "=", "<": ">", "<=": ">=", ">": "<", ">=": "<=", "<>": "<>"}


def _unwrap_const(node: Any) -> tuple[bool, Any]:
    """(is_constant, python_value) — unwraps CAST chains around a constant
    (e.g. ``TIMESTAMP '...'`` parses as CAST(VARCHAR → TIMESTAMP))."""
    while isinstance(node, dict) and node.get("class") == "CAST":
        node = node.get("child")
    if isinstance(node, dict) and node.get("class") == "CONSTANT":
        v = (node.get("value") or {}).get("value")
        vt = ((node.get("value") or {}).get("type") or {}).get("id", "")
        if (node.get("value") or {}).get("is_null") or vt == '"NULL"':
            return True, None
        return True, v
    return False, None


def _colname(
    node: Any, rel_names: set[str], qualified_only: bool = False
) -> Optional[str]:
    if not (isinstance(node, dict) and node.get("class") == "COLUMN_REF"):
        return None
    names = node.get("column_names") or []
    if len(names) == 1 and not qualified_only:
        # sole-relation context: an unqualified column can only bind there.
        # In a JOIN context it is ambiguous — qualified_only rejects it.
        return names[0]
    if len(names) == 2 and names[0] in rel_names:
        return names[1]
    return None


def _flatten_and(node: Any) -> list:
    if isinstance(node, dict) and node.get("type") == "CONJUNCTION_AND":
        out = []
        for c in node.get("children") or []:
            out.extend(_flatten_and(c))
        return out
    return [node] if node else []


def _conjuncts_from_where(
    where: Any,
    rel_names: set[str],
    qualified_only: bool = False,
    drop_isnull: bool = False,
) -> list[tuple]:
    """Simple conjuncts ``(col, op, literal)`` — ``op`` in =,<,<=,>,>=,<>
    plus ``("in", [literals])``. Unrecognised conjuncts are dropped (no
    pruning contribution), never guessed.

    ``qualified_only``: in a multi-relation (JOIN) scope an unqualified
    column is ambiguous — only ``alias.col`` references bind.
    ``drop_isnull``: IS NULL is the one extracted conjunct a NULL row
    SATISFIES; on the null-supplying side of an outer join, pruning files
    by it could turn matched-and-filtered rows into null-extended rows
    that PASS the filter — so JOIN contexts keep only null-rejecting
    conjuncts (comparisons, IN, IS NOT NULL), which are side-agnostic."""
    out: list[tuple] = []
    for c in _flatten_and(where):
        if not isinstance(c, dict):
            continue
        cls, typ = c.get("class"), c.get("type")
        if drop_isnull and cls == "OPERATOR" and typ == "OPERATOR_IS_NULL":
            continue
        if cls == "COMPARISON" and typ in _OPS:
            lcol = _colname(c.get("left"), rel_names, qualified_only)
            rcol = _colname(c.get("right"), rel_names, qualified_only)
            lconst, lval = _unwrap_const(c.get("left"))
            rconst, rval = _unwrap_const(c.get("right"))
            if lcol and rconst and rval is not None:
                out.append((lcol, _OPS[typ], rval))
            elif rcol and lconst and lval is not None:
                out.append((rcol, _FLIP[_OPS[typ]], lval))
        elif cls == "OPERATOR" and typ == "COMPARE_IN":
            kids = c.get("children") or []
            col = _colname(kids[0], rel_names, qualified_only) if kids else None
            vals = [_unwrap_const(k) for k in kids[1:]]
            if col and vals and all(ok for ok, _ in vals):
                vs = [v for _, v in vals]
                if None not in vs:
                    out.append((col, "in", vs))
        elif cls == "OPERATOR" and typ in ("OPERATOR_IS_NULL", "OPERATOR_IS_NOT_NULL"):
            kids = c.get("children") or []
            col = _colname(kids[0], rel_names, qualified_only) if kids else None
            if col:
                out.append(
                    (col, "isnull" if typ == "OPERATOR_IS_NULL" else "notnull", None)
                )
        elif cls == "BETWEEN" and typ == "COMPARE_BETWEEN":
            col = _colname(c.get("input"), rel_names, qualified_only)
            lok, lval = _unwrap_const(c.get("lower"))
            uok, uval = _unwrap_const(c.get("upper"))
            if col and lok and lval is not None:
                out.append((col, ">=", lval))
            if col and uok and uval is not None:
                out.append((col, "<=", uval))
    return out


def _join_leaves(node: Any) -> list[dict]:
    """BASE_TABLE leaves reachable through a FROM join tree (nested JOIN
    nodes, incl. comma/CROSS joins — DuckDB models both as type JOIN).
    Subquery/derived relations are skipped here: their own SELECT nodes
    are visited by the outer walk and resolve independently."""
    out: list[dict] = []

    def rec(n: Any) -> None:
        if not isinstance(n, dict):
            return
        if n.get("type") == "BASE_TABLE":
            out.append(n)
        elif n.get("type") == "JOIN":
            rec(n.get("left"))
            rec(n.get("right"))

    rec(node)
    return out


@functools.lru_cache(maxsize=64)
def statement_ast(sql: str) -> Optional[dict]:
    """DuckDB's ``json_serialize_sql`` AST of ``sql``, or None when it does
    not parse. Memoized: the service asks once to match a statement's
    shape and once to extract its conjuncts. Callers share the returned
    dict and must not mutate it."""
    try:
        import duckdb

        lit = sql.replace("'", "''")
        # a cursor per call: the module-level default connection is not
        # thread-safe, and service requests resolve concurrently
        with duckdb.cursor() as cur:
            raw = cur.execute(
                f"SELECT json_serialize_sql('{lit}')"
            ).fetchone()[0]
        ast = json.loads(raw)
    except Exception:
        return None
    if not isinstance(ast, dict) or ast.get("error"):
        return None
    return ast


def extract_scan_conjuncts(
    sql: str, view_names: set[str]
) -> dict[str, list[tuple]]:
    """Per-view simple WHERE conjuncts from the (already view-substituted)
    statement. A view qualifies when it is referenced EXACTLY once in the
    whole statement AND that reference is either the sole FROM relation of
    its SELECT node, or a base-table leaf of that SELECT's JOIN tree
    (r7, VERDICT r06 #5 — the reference's DuckDB engine prunes joined
    scans too, `README.md:199`). In the JOIN case only QUALIFIED column
    references bind (unqualified ones are ambiguous across relations) and
    IS NULL conjuncts are dropped (they are satisfiable by the null-
    extended rows an outer join fabricates — see _conjuncts_from_where).
    Any parse failure returns {} (every scan reads unpruned)."""
    ast = statement_ast(sql)
    if ast is None:
        return {}

    refs: dict[str, int] = {}
    hits: dict[str, list[tuple]] = {}

    def walk(node: Any) -> None:
        if isinstance(node, list):
            for x in node:
                walk(x)
            return
        if not isinstance(node, dict):
            return
        if node.get("type") == "SELECT_NODE":
            ft = node.get("from_table") or {}
            if (
                ft.get("type") == "BASE_TABLE"
                and ft.get("table_name") in view_names
            ):
                name = ft["table_name"]
                rel_names = {name}
                if ft.get("alias"):
                    rel_names.add(ft["alias"])
                hits.setdefault(name, []).extend(
                    _conjuncts_from_where(node.get("where_clause"), rel_names)
                )
            elif ft.get("type") == "JOIN":
                for leaf in _join_leaves(ft):
                    if leaf.get("table_name") not in view_names:
                        continue
                    name = leaf["table_name"]
                    rel_names = {name}
                    if leaf.get("alias"):
                        rel_names.add(leaf["alias"])
                    hits.setdefault(name, []).extend(
                        _conjuncts_from_where(
                            node.get("where_clause"),
                            rel_names,
                            qualified_only=True,
                            drop_isnull=True,
                        )
                    )
        if node.get("type") == "BASE_TABLE" and node.get("table_name") in view_names:
            refs[node["table_name"]] = refs.get(node["table_name"], 0) + 1
        for v in node.values():
            walk(v)

    walk(ast)
    return {
        name: conj
        for name, conj in hits.items()
        if refs.get(name) == 1 and conj
    }


# --- file survival ---------------------------------------------------------------


def spec_resolver(specs_by_id: dict, file_spec_ids: dict):
    """Per-file partition-spec resolution for pruning across SPEC
    EVOLUTION: returns ``fields_for(path) -> spec_fields | None`` where
    None means "spec unknown → never prune this file".

    Soundness rules:
    - a file stamped with a spec id is evaluated under THAT spec (its
      tuple was written by it; the table default may use the same field
      name with a different transform);
    - an unstamped file (pre-stamp manifests) may only be pruned when the
      table has exactly ONE spec — with several, its write spec is
      unknowable and any choice could false-prune.
    """
    single = (
        next(iter(specs_by_id.values())) if len(specs_by_id) == 1 else None
    )

    def fields_for(path):
        sid = file_spec_ids.get(path)
        if sid is None:
            return single
        return specs_by_id.get(sid)

    return fields_for


def file_survives(
    spec_fields: list[dict],
    pvals: Optional[dict],
    conjuncts: list[tuple],
    old_to_current: Optional[dict] = None,
) -> bool:
    """May this file contain a row satisfying every conjunct?

    ``spec_fields``: ``iceberg_meta.partition_spec_fields`` rows
    (field_name / column / transform / type). ``pvals``: the file's
    manifest partition tuple (stringified values; None tuple = file with
    no partition metadata — never pruned). ``old_to_current``: rename
    history so tuples recorded under write-time field names still match.
    """
    if not isinstance(pvals, dict) or not conjuncts or not spec_fields:
        return True
    hist = old_to_current or {}

    def tuple_value(field_name: str) -> tuple[bool, Any]:
        if field_name in pvals:
            return True, pvals[field_name]
        for k, v in pvals.items():  # write-time key renamed since
            if hist.get(k) == field_name:
                return True, v
        return False, None

    for col, op, lit in conjuncts:
        for f in spec_fields:
            if f["column"] != col:
                continue
            present, tval = tuple_value(f["field_name"])
            if not present:
                continue
            # Every supported transform is NULL-PRESERVING: a null tuple
            # value means every row's source value is NULL, a non-null
            # tuple value means none is — so IS [NOT] NULL prunes exactly.
            if op == "isnull":
                if tval is not None:
                    return False
                continue
            if op == "notnull":
                if tval is None:
                    return False
                continue
            if tval is None:
                # every row in this file has a NULL source value: no
                # comparison/IN conjunct can match → prune
                return False
            iv = source_interval(f["transform"], str(tval), f["type"])
            if iv is None:
                continue
            if isinstance(iv, _Bucket):
                # Normalize literals into the SOURCE column's domain first
                # (mirrors the interval path): Spark coerces '0123' = 123 to
                # TRUE on numeric columns, so hashing the raw lexical form
                # would bucket-prune files that actually hold matching rows.
                if op == "=":
                    dlit = _literal_in_domain(lit, f["type"])
                    if dlit is None:
                        continue
                    b = bucket_value(dlit, iv.n, iv.type)
                    if b is not None and b != iv.value:
                        return False
                elif op == "in":
                    dlits = [_literal_in_domain(v, f["type"]) for v in lit]
                    if any(v is None for v in dlits):
                        continue
                    bs = [bucket_value(v, iv.n, iv.type) for v in dlits]
                    if all(b is not None for b in bs) and iv.value not in bs:
                        return False
                continue
            if op == "in":
                lits = [_literal_in_domain(v, f["type"]) for v in lit]
                if all(v is not None for v in lits) and not any(
                    _interval_satisfies(iv, "=", v) for v in lits
                ):
                    return False
                continue
            dlit = _literal_in_domain(lit, f["type"])
            if dlit is None:
                continue
            if not _interval_satisfies(iv, op, dlit):
                return False
    return True


# --- file-statistics skipping (InclusiveMetricsEvaluator analog) ---------------


def _bound_in_domain(raw: Any, iceberg_type: str) -> Any:
    """Parse a stored (stringified) bound back into the column's comparable
    domain; None when it can't be (→ that column contributes no pruning)."""
    if raw is None:
        return None
    s = str(raw)
    try:
        if iceberg_type in ("int", "long"):
            return int(s)
        if iceberg_type in ("float", "double"):
            v = float(s)
            return None if v != v else v  # NaN guard (writer omits, but be safe)
        if iceberg_type == "date":
            return _parse_date(s)
        if iceberg_type.startswith("timestamp"):
            return _parse_ts(s)
        if iceberg_type == "string":
            return s
    except (TypeError, ValueError):
        return None
    return None


def file_survives_stats(
    stats: Optional[dict],
    conjuncts: list[tuple],
    col_types: dict[str, str],
    old_to_current: Optional[dict] = None,
) -> bool:
    """May this file contain a row satisfying every conjunct, judged by its
    per-column min/max bounds and null counts (``iceberg_meta.
    live_data_stats`` record)? The metrics twin of ``file_survives`` —
    Iceberg's InclusiveMetricsEvaluator: a file is skipped only when its
    closed value interval [lower, upper] provably excludes the conjunct.

    Soundness: missing stats, unknown columns, unparseable bounds, or
    unsupported operators contribute NO pruning. Bounds are keyed by
    write-time column names; ``old_to_current`` (rename history) maps them
    to the current names the conjuncts use.

    Production caveat: the spec keys bounds by FIELD ID, which survives
    drop-then-re-add of a same-named column; this name-keyed stand-in
    would mis-bind old stats in that scenario. The fixture writer has no
    drop operation, so the state is unreachable here — a field-id keyed
    manifest reader must switch this lookup to ids.
    """
    if not stats or not conjuncts:
        return True
    lower = stats.get("lower") or {}
    upper = stats.get("upper") or {}
    nulls = stats.get("nulls") or {}
    records = stats.get("records")
    hist = old_to_current or {}

    def write_key(col: str, m: dict) -> Optional[str]:
        if col in m:
            return col
        for k in m:  # recorded under a since-renamed write-time name
            if hist.get(k) == col:
                return k
        return None

    for col, op, lit in conjuncts:
        if op == "isnull":
            kn = write_key(col, nulls)
            if kn is not None and int(nulls[kn]) == 0:
                return False
            continue
        if op == "notnull":
            kn = write_key(col, nulls)
            if (
                kn is not None
                and isinstance(records, int)
                and records > 0
                and int(nulls[kn]) >= records
            ):
                return False
            continue
        t = col_types.get(col)
        if t is None:
            continue
        kl = write_key(col, lower)
        ku = write_key(col, upper)
        if kl is None or ku is None:
            continue
        lo = _bound_in_domain(lower[kl], t)
        hi = _bound_in_domain(upper[ku], t)
        if lo is None or hi is None:
            continue
        iv = (lo, hi, True)  # closed interval: file min/max are attained
        if op == "in":
            lits = [_literal_in_domain(v, t) for v in lit]
            if all(v is not None for v in lits) and not any(
                _interval_satisfies(iv, "=", v) for v in lits
            ):
                return False
            continue
        dlit = _literal_in_domain(lit, t)
        if dlit is None:
            continue
        if not _interval_satisfies(iv, op, dlit):
            return False
    return True
