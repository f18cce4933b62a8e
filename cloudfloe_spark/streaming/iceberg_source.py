"""Structured Streaming SOURCE tailing a local/jarless Iceberg table.

The missing half of the streaming story: ``streaming/iceberg_sink.py``
writes an Iceberg table exactly-once from a stream; this module READS one
as a stream — a PySpark 4 Python Data Source (``spark.dataSource
.register``) whose microbatches are the table's own commits. A curation
pipeline points ``readStream.format("iceberg_commits")`` at the corpus
table and processes each upstream append (or, in CDC mode, each row-level
change) incrementally, with Spark's checkpoint giving exactly-once
offset tracking — instead of re-scanning 100 TB per refresh.

Reference parity: the reference (gordonmurray/cloudfloe,
``backend/main.py:383-420``) reads Iceberg batch-only through DuckDB;
this source is beyond-reference depth on the same table format, built on
the identical pure-metadata machinery (``sources/iceberg_meta.py``) the
batch ``iceberg_scan`` / ``iceberg_cdc`` paths use.

Semantics
---------
- Offsets are snapshot ids on the table's main snapshot-log; a
  microbatch covers the commits in ``(start, end]``. Batches are
  deterministic functions of immutable snapshots, so checkpoint replay
  reproduces them exactly (the exactly-once contract).
- ``mode=append`` (default): each batch emits the rows ADDED by its
  commits, net of same-commit position deletes. Commits that RETRACT
  rows (row-level DML, metadata-only erasure) cannot be represented by
  an append feed: the source fails the batch unless ``on_delete=skip``
  (which emits the commit's added rows and drops its retractions —
  Iceberg's ``streaming-skip-delete-snapshots`` hazard, caller's
  choice). REPLACE commits (compaction) change no logical rows and are
  always skipped.
- ``mode=cdc``: each batch is the commits' row-level changelog — every
  table column plus ``_change_type`` (``'insert'``/``'delete'``) and
  ``_commit_snapshot_id`` — the streaming twin of the batch
  ``iceberg_cdc_commits`` table function. Updates surface as
  delete+insert, exactly the row delta merge-on-read DML commits.
- Position deletes only (the kind every ``delete_where`` /
  ``update_where`` / ``merge_into`` commit writes). A commit carrying
  EQUALITY deletes fails with a clear error — same policy as the DML
  scan: run compaction first. Pre-existing equality deletes from before
  the stream's start offset are irrelevant by construction (they can
  only hit pre-start rows).

Scale shape
-----------
Planning is driver-side FOOTER/MANIFEST work only, proportional to the
batch's commits — never the table. Each batch reads exactly the files
its commits touched: added files for inserts; for retractions, the data
files the commit's position-delete files NAME (``position_delete_
targets`` — delete-set-sized IO, not a table scan, the same pruning the
batch CDC path got in r8). One ``InputPartition`` per (kind, data file)
gives executor-parallel reads that scale with the commit's width; rows
cross to the JVM as Arrow RecordBatches, never Python rows. A 10-row
DELETE on a 100-TB table costs this source one delete-file read plus one
targeted data-file read.

Schema evolution: files written before a rename/add are resolved
per-file through the same field-id footer mapping as the batch read path
(``scan_groups``); the OUTPUT schema is pinned at stream start, and a
mid-stream evolution that changes the current schema fails the batch
with an explicit restart instruction (a streaming sink cannot widen its
schema mid-query anyway).
"""

from __future__ import annotations

import os
from typing import Iterator, Optional

from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
)

_BEFORE_ALL = 0  # offset sentinel: before the table's first snapshot

#: repo root captured at DRIVER import time (where the package is
#: importable) and carried into the by-value pickle — see ``_im``.
_SOURCE_ROOT = os.path.dirname(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)


def _im():
    """Import :mod:`cloudfloe_spark.sources.iceberg_meta` from inside a
    Spark PYTHON WORKER, self-healing ``sys.path`` first.

    This module is registered for BY-VALUE cloudpickle serialization
    (see :func:`register_iceberg_commits_source`), so the DataSource
    class materializes in any worker without the package installed; the
    runtime dependency on the metadata reader is then resolved here, at
    call time. Two healing paths, tried in order:

    1. ``_SOURCE_ROOT`` — the repo root stamped at driver import. The
       planning workers (schema/offsets/partitions) always run ON the
       driver node, so this path exists there by construction.
    2. The ``cloudfloe_spark_pkg_*.zip`` shipped via ``addPyFile`` —
       looked up under the Spark ``userFiles-*`` staging dirs. Needed
       because Spark's STREAMING planner worker advertises a per-query
       ``.../userFiles-*/streaming_job`` files dir that is never
       populated in local mode (the zip lands one level up), so the
       worker's own include path is dead on arrival.
    """
    try:
        from cloudfloe_spark.sources import iceberg_meta
        return iceberg_meta
    except ModuleNotFoundError:
        pass
    import glob
    import sys

    cands = [_SOURCE_ROOT]
    for p in list(sys.path):
        i = p.find("userFiles-")
        if i >= 0:
            cands.extend(
                glob.glob(
                    os.path.join(
                        p[:i], "userFiles-*", "cloudfloe_spark_pkg_*.zip"
                    )
                )
            )
    for c in cands:
        if os.path.exists(c) and c not in sys.path:
            sys.path.insert(1, c)
    from cloudfloe_spark.sources import iceberg_meta
    return iceberg_meta


class IcebergSourceError(Exception):
    """Planning/read error with a clear operator-facing message."""


class CommitSlice(InputPartition):
    """One (kind, data file) slice of a microbatch — the unit of
    executor parallelism. Self-contained and picklable: local file
    paths plus the per-file rename map; workers need pyarrow only.
    Paths come from the metadata reader's relocation, which already
    resolved ``file:`` URIs to plain paths on the driver.

    kind='insert': emit the data file's rows minus positions named by
    ``exclude_deletes`` (same-commit net). kind='delete': emit the rows
    at positions named by ``include_deletes`` minus ``exclude_deletes``
    (re-deletes are net no-ops); ``whole_file=True`` inverts to "all
    rows except ``exclude_deletes``" (the file was REMOVED — metadata-
    only erasure)."""

    def __init__(
        self,
        kind: str,
        data_file: str,
        include_deletes: tuple,
        exclude_deletes: tuple,
        whole_file: bool,
        rename_map: tuple,
        columns: tuple,
        column_ddls: tuple,
        snapshot_id: int,
        emit_cdc: bool,
        default_fills: tuple = (),
    ):
        self.kind = kind
        self.data_file = data_file
        self.include_deletes = include_deletes
        self.exclude_deletes = exclude_deletes
        self.whole_file = whole_file
        self.rename_map = rename_map
        self.columns = columns
        self.column_ddls = column_ddls
        self.snapshot_id = snapshot_id
        self.emit_cdc = emit_cdc
        # v3 initial-default (r11): ((current_name, json_value), ...) for
        # columns this data file predates — read() materializes the
        # default instead of nulls, matching the batch scan
        self.default_fills = default_fills


def _suffix(p: str) -> str:
    return p.rsplit("/data/", 1)[-1]


def _ddl_to_arrow(ddl: str):
    """Arrow type for the small DDL vocabulary ``current_schema_ddl``
    emits — needed only to null-fill columns ADDED after a file was
    written and to pin timestamp units."""
    import pyarrow as pa

    t = ddl.strip().upper()
    table = {
        "BIGINT": pa.int64(),
        "INT": pa.int32(),
        "STRING": pa.string(),
        "DOUBLE": pa.float64(),
        "FLOAT": pa.float32(),
        "BOOLEAN": pa.bool_(),
        "DATE": pa.date32(),
        "TIMESTAMP": pa.timestamp("us", tz="UTC"),
        "TIMESTAMP_NTZ": pa.timestamp("us"),
        "BINARY": pa.binary(),
    }
    if t in table:
        return table[t]
    if t.startswith("DECIMAL"):
        p, s = t[t.index("(") + 1 : t.index(")")].split(",")
        return pa.decimal128(int(p), int(s))
    raise IcebergSourceError(
        f"iceberg_commits: unsupported column type {ddl!r} for the "
        "streaming source"
    )


def _parse_ddl(ddl: str) -> list[tuple[str, str]]:
    """``current_schema_ddl`` output → [(name, type), ...]. The DDL is
    machine-generated flat ``\\`name\\` TYPE, ...`` — names never contain
    commas, types are the closed vocabulary above (DECIMAL's comma sits
    inside parens, handled by the paren-depth split)."""
    out, depth, cur = [], 0, []
    for ch in ddl:
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        if ch == "," and depth == 0:
            out.append("".join(cur))
            cur = []
        else:
            cur.append(ch)
    if cur:
        out.append("".join(cur))
    cols = []
    for item in out:
        name, typ = item.strip().split(" ", 1)
        cols.append((name.strip().strip("`"), typ.strip()))
    return cols


def _delete_positions(paths: tuple, data_suffix: str) -> set:
    """Worker-side: the set of row positions the given position-delete
    parquet files name for ONE data file. Row-group pruned through the
    same footer-stats rule as the driver planner (position-delete files
    are sorted by file_path, so most row groups resolve on min/max
    without reading; only trust untruncated '.parquet'-suffixed stats)."""
    import pyarrow.parquet as pq

    out: set = set()
    for p in paths:
        pf = pq.ParquetFile(p)
        idx = pf.schema_arrow.get_field_index("file_path")
        for rg in range(pf.metadata.num_row_groups):
            st = pf.metadata.row_group(rg).column(idx).statistics
            if (
                st is not None
                and st.has_min_max
                and st.min is not None
                and str(st.min).endswith(".parquet")
                and str(st.max).endswith(".parquet")
            ):
                lo, hi = _suffix(str(st.min)), _suffix(str(st.max))
                if not (lo <= data_suffix <= hi):
                    continue
            t = pf.read_row_group(rg, columns=["file_path", "pos"])
            fps, poss = t.column("file_path"), t.column("pos")
            for fp, pos in zip(fps.to_pylist(), poss.to_pylist()):
                if fp is not None and _suffix(fp) == data_suffix:
                    out.add(pos)
    return out


class IcebergCommitsStreamReader(DataSourceStreamReader):
    """Microbatch planner for ``format("iceberg_commits")``. Offsets are
    ``{"snapshot_id": <id>}`` (``0`` = before the first snapshot);
    ``partitions(start, end)`` walks the snapshot-log commits in
    ``(start, end]`` and plans one :class:`CommitSlice` per touched data
    file. All planning IO is manifest/footer-sized."""

    def __init__(self, options):
        root = options.get("path") or options.get("root")
        if not root:
            raise IcebergSourceError(
                "iceberg_commits requires .load('<table root>') or "
                "option('path', ...)"
            )
        self.root = root.rstrip("/")
        self.mode = (options.get("mode") or "append").lower()
        if self.mode not in ("append", "cdc"):
            raise IcebergSourceError(
                f"iceberg_commits: unknown mode {self.mode!r} "
                "(append | cdc)"
            )
        self.start = (options.get("start") or "earliest").lower()
        self.on_delete = (options.get("on_delete") or "fail").lower()
        if self.on_delete not in ("fail", "skip"):
            raise IcebergSourceError(
                f"iceberg_commits: unknown on_delete {self.on_delete!r} "
                "(fail | skip)"
            )
        mcb = options.get("max_commits_per_batch")
        self.max_commits = int(mcb) if mcb else None
        im = _im()
        mp = im.latest_metadata_path(self.root)
        # v3 variant / ns (r12 late): the stream surfaces the same
        # forms the batch scan does — variant as canonical-JSON STRING,
        # ns timestamps as µs TIMESTAMP. The decode closure is captured
        # HERE (driver side) from the codec factory so it pickles BY
        # VALUE with the reader instance — executors never import the
        # package (the standing Arrow-worker constraint).
        self.pinned_ddl = im.current_schema_ddl(
            self.root, mp, variant_as="string", ns_as="timestamp"
        )
        self._cols = tuple(n for n, _ in _parse_ddl(self.pinned_ddl))
        self._ddls = tuple(t for _, t in _parse_ddl(self.pinned_ddl))
        meta_now = im.load_metadata(self.root, mp)
        self._variant_cols = tuple(im.variant_columns(meta_now))
        self._ns_cols = tuple(im.ns_timestamp_columns(meta_now))
        self._variant_to_json = None
        if self._variant_cols:
            from cloudfloe_spark.functions.variant import _build_codec

            self._variant_to_json = _build_codec()[4]  # to_json
        self._last_planned: Optional[int] = None

    # -- offset bookkeeping -------------------------------------------------

    def _log_ids(self, meta: dict) -> list[int]:
        ids = [e["snapshot-id"] for e in meta.get("snapshot-log", [])]
        if not ids:  # fixture tables always log; fall back to seq order
            ids = [
                s["snapshot-id"]
                for s in sorted(
                    meta.get("snapshots", []),
                    key=lambda s: s.get("sequence-number", 0),
                )
            ]
        return ids

    def initialOffset(self) -> dict:
        im = _im()
        meta = im.load_metadata(self.root, im.latest_metadata_path(self.root))
        ids = self._log_ids(meta)
        if self.start == "earliest":
            return {"snapshot_id": _BEFORE_ALL}
        if self.start == "latest":
            return {"snapshot_id": ids[-1] if ids else _BEFORE_ALL}
        sid = int(self.start)
        if sid not in ids:
            raise IcebergSourceError(
                f"iceberg_commits: start snapshot {sid} is not in the "
                "table's snapshot log"
            )
        return {"snapshot_id": sid}

    def latestOffset(self) -> dict:
        im = _im()
        meta = im.load_metadata(self.root, im.latest_metadata_path(self.root))
        ids = self._log_ids(meta)
        head = ids[-1] if ids else _BEFORE_ALL
        if self.max_commits and self._last_planned in ids:
            i = ids.index(self._last_planned)
            head = ids[min(i + self.max_commits, len(ids) - 1)]
        return {"snapshot_id": head}

    # -- batch planning -----------------------------------------------------

    def partitions(self, start: dict, end: dict) -> list[CommitSlice]:
        s, e = int(start["snapshot_id"]), int(end["snapshot_id"])
        self._last_planned = e
        if s == e:
            return []
        im = _im()
        mp = im.latest_metadata_path(self.root)
        meta = im.load_metadata(self.root, mp)
        if im.current_schema_ddl(
            self.root, mp, variant_as="string", ns_as="timestamp"
        ) != self.pinned_ddl:
            raise IcebergSourceError(
                "iceberg_commits: the table's schema evolved after the "
                "stream started; restart the streaming query to pick up "
                "the new schema"
            )
        ids = self._log_ids(meta)
        if e not in ids or (s != _BEFORE_ALL and s not in ids):
            raise IcebergSourceError(
                "iceberg_commits: a checkpointed offset snapshot is no "
                "longer in the snapshot log (expired?); restart the "
                "stream with start=earliest|latest"
            )
        lo = 0 if s == _BEFORE_ALL else ids.index(s) + 1
        chain = ids[lo : ids.index(e) + 1]
        by_id = {sn["snapshot-id"]: sn for sn in meta.get("snapshots", [])}

        prev_live: dict[str, int] = (
            {}
            if s == _BEFORE_ALL
            else im.live_data_seqs(self.root, by_id[s])
        )
        prev_seq = 0 if s == _BEFORE_ALL else by_id[s].get(
            "sequence-number", 0
        )
        slices: list[CommitSlice] = []
        for sid in chain:
            snap = by_id[sid]
            cur_live = im.live_data_seqs(self.root, snap)
            cur_seq = snap.get("sequence-number", 0)
            op = (snap.get("summary") or {}).get("operation")
            if op == "replace":
                prev_live, prev_seq = cur_live, cur_seq
                continue
            slices.extend(
                self._commit_slices(
                    snap, prev_live, prev_seq, cur_live, cur_seq, mp
                )
            )
            prev_live, prev_seq = cur_live, cur_seq
        return slices

    def _commit_slices(
        self, snap, prev_live, prev_seq, cur_live, cur_seq, mp
    ) -> list[CommitSlice]:
        im = _im()
        sid = snap["snapshot-id"]
        added = sorted(p for p in cur_live if p not in prev_live)
        removed = sorted(p for p in prev_live if p not in cur_live)
        eq_new = [
            d
            for d in im.equality_delete_records(self.root, snap)
            if prev_seq < int(d["seq"]) <= cur_seq
        ]
        if eq_new:
            raise IcebergSourceError(
                f"iceberg_commits: commit {sid} carries equality-delete "
                "files, which a per-file streaming read cannot apply — "
                "run compaction, then restart the stream past it"
            )
        if im.has_deletion_vectors(self.root, snap):
            raise IcebergSourceError(
                f"iceberg_commits: commit {sid} carries v3 deletion "
                "vectors, which this source cannot represent as a "
                "changelog yet — run compaction, then restart past it"
            )
        pos_new = tuple(
            r["path"]
            for r in im.position_delete_records(self.root, snap)
            if prev_seq < int(r["seq"]) <= cur_seq
        )
        pos_old = tuple(im.position_delete_paths(self.root, snap))
        pos_old = tuple(p for p in pos_old if p not in pos_new)
        retracts = bool(pos_new) or bool(removed)
        if self.mode == "append" and retracts:
            if self.on_delete == "fail":
                raise IcebergSourceError(
                    f"iceberg_commits: commit {sid} retracts rows "
                    "(row-level delete or file removal), which an "
                    "append-mode stream cannot represent — use "
                    "mode=cdc, or option('on_delete','skip') to drop "
                    "retractions knowingly"
                )
            removed, pos_new = [], ()

        rename_of: dict[str, tuple] = {}
        fill_of: dict[str, tuple] = {}
        for paths, rmap, _ddl, fills in im.scan_groups(
            self.root, sorted(set(added) | set(removed)), mp,
            variant_as="physical", ns_as="physical",
        ):
            fill_t = tuple(sorted((n, v) for n, (v, _t) in fills.items()))
            for p in paths:
                rename_of[p] = tuple(sorted(rmap.items()))
                fill_of[p] = fill_t

        out = []
        for p in added:
            out.append(
                CommitSlice(
                    "insert",
                    p,
                    (),
                    pos_new,  # same-commit net: drop rows deleted here
                    False,
                    rename_of.get(p, ()),
                    self._cols,
                    self._ddls,
                    sid,
                    self.mode == "cdc",
                    default_fills=fill_of.get(p, ()),
                )
            )
        if self.mode == "cdc" and pos_new:
            # retractions hit PRE-commit files only (same-commit ones
            # netted above): plan one slice per file the deletes NAME
            targets = im.position_delete_targets(list(pos_new))
            for p in sorted(prev_live):
                if _suffix(p) in targets and p in cur_live:
                    rn, fl = (
                        (rename_of[p], fill_of.get(p, ()))
                        if p in rename_of
                        else self._group_for(p, mp)
                    )
                    out.append(
                        CommitSlice(
                            "delete",
                            p,
                            pos_new,
                            pos_old,  # already-deleted rows: net no-op
                            False,
                            rn,
                            self._cols,
                            self._ddls,
                            sid,
                            True,
                            default_fills=fl,
                        )
                    )
        if self.mode == "cdc" and removed:
            for p in removed:
                out.append(
                    CommitSlice(
                        "delete",
                        p,
                        (),
                        pos_old,  # rows already deleted don't re-retract
                        True,
                        rename_of.get(p, ()),
                        self._cols,
                        self._ddls,
                        sid,
                        True,
                        default_fills=fill_of.get(p, ()),
                    )
                )
        return out

    def _group_for(self, path: str, mp) -> "tuple[tuple, tuple]":
        for paths, rmap, _ddl, fills in _im().scan_groups(
            self.root, [path], mp,
            variant_as="physical", ns_as="physical",
        ):
            if path in paths:
                return (
                    tuple(sorted(rmap.items())),
                    tuple(sorted((n, v) for n, (v, _t) in fills.items())),
                )
        return ((), ())

    # -- executor-side read -------------------------------------------------

    def read(self, partition: CommitSlice) -> Iterator:
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        t = pq.read_table(partition.data_file)
        sfx = _suffix(partition.data_file)
        excl = _delete_positions(partition.exclude_deletes, sfx)
        if partition.kind == "insert" or partition.whole_file:
            keep = [i for i in range(t.num_rows) if i not in excl]
            full = not excl
        else:
            incl = _delete_positions(partition.include_deletes, sfx)
            keep = sorted(incl - excl)
            full = False
        if not full:
            t = t.take(pa.array(keep, type=pa.int64()))

        rename = dict(partition.rename_map)  # on-disk name -> current
        t = t.rename_columns([rename.get(n, n) for n in t.column_names])
        fills = dict(partition.default_fills)  # v3 initial-default values
        arrays, names = [], []
        for name, ddl in zip(partition.columns, partition.column_ddls):
            target = _ddl_to_arrow(ddl)
            if name in t.column_names:
                col = t.column(name)
                # v3 variant (r12 late): decode the physical struct to
                # the canonical-JSON surface with the codec closure
                # captured at stream start (pickled by value — workers
                # never import the package)
                if name in getattr(self, "_variant_cols", ()):
                    if pa.types.is_struct(col.type):
                        sub = {
                            col.type.field(i).name
                            for i in range(col.type.num_fields)
                        }
                        if "typed_value" in sub:
                            raise IcebergSourceError(
                                "iceberg_commits: SHREDDED variant "
                                f"file {sfx} — the stream supports "
                                "unshredded variant only; rewrite the "
                                "shredded files with a shredding-aware "
                                "engine"
                            )
                        tj = self._variant_to_json
                        col = pa.array(
                            [
                                None
                                if r is None
                                else tj(r["metadata"], r["value"])
                                for r in col.to_pylist()
                            ],
                            pa.string(),
                        )
                # v3 ns timestamps (r12 late): truncate toward zero to
                # the µs surface — integer division, the batch rule
                if (
                    name in getattr(self, "_ns_cols", ())
                    and pa.types.is_timestamp(col.type)
                    and col.type.unit == "ns"
                ):
                    col = pc.cast(
                        pc.divide(
                            pc.cast(col, pa.int64()), pa.scalar(1000)
                        ),
                        target,
                    )
                if col.type != target:
                    col = pc.cast(col, target)
            elif name in fills:
                # column added WITH a default after this file was
                # written: rows logically carry the default (the JSON
                # single-value form casts — date/timestamp/decimal
                # defaults arrive as their ISO/decimal strings)
                col = pc.cast(
                    pa.array([fills[name]] * t.num_rows), target
                )
            else:  # column added after this file was written
                col = pa.nulls(t.num_rows, type=target)
            arrays.append(col)
            names.append(name)
        if partition.emit_cdc:
            label = "insert" if partition.kind == "insert" else "delete"
            arrays.append(
                pa.array([label] * t.num_rows, type=pa.string())
            )
            names.append("_change_type")
            arrays.append(
                pa.array(
                    [partition.snapshot_id] * t.num_rows, type=pa.int64()
                )
            )
            names.append("_commit_snapshot_id")
        yield from pa.table(
            dict(zip(names, arrays))
        ).to_batches(max_chunksize=1 << 16)

    def commit(self, end: dict) -> None:
        pass  # snapshots are immutable; nothing to clean up


class IcebergCommitsDataSource(DataSource):
    """``spark.dataSource.register(IcebergCommitsDataSource)`` then
    ``spark.readStream.format("iceberg_commits").option(...).load(root)``.

    Options: ``mode`` append|cdc, ``start`` earliest|latest|<snapshot
    id>, ``on_delete`` fail|skip (append mode), ``max_commits_per_batch``
    (admission control for processing-time triggers)."""

    @classmethod
    def name(cls) -> str:
        return "iceberg_commits"

    def schema(self) -> str:
        root = self.options.get("path") or self.options.get("root")
        if not root:
            raise IcebergSourceError(
                "iceberg_commits requires .load('<table root>')"
            )
        ddl = _im().current_schema_ddl(
            root.rstrip("/"), variant_as="string", ns_as="timestamp"
        )
        if (self.options.get("mode") or "append").lower() == "cdc":
            ddl += ", _change_type STRING, _commit_snapshot_id BIGINT"
        return ddl

    def streamReader(self, schema) -> IcebergCommitsStreamReader:
        return IcebergCommitsStreamReader(self.options)


def register_iceberg_commits_source(spark) -> None:
    """Idempotent per-session registration of the source format.

    The DataSource class and its planning/read code run in SEPARATE
    Python workers (planner on the driver node, readers on executors)
    that unpickle what the session pickled. A class from an installed
    package pickles BY REFERENCE, which breaks the moment the driver
    runs from a cwd without the repo on PYTHONPATH (the driver-harness
    deployment this repo verifies against) — so register THIS module
    for BY-VALUE cloudpickle serialization. The module deliberately has
    no module-level package imports: the class then pickles as pure
    code, and the one runtime dependency (the metadata reader) resolves
    at call time through ``_im``'s self-healing import. Package-zip
    shipping stays as the second line of defence for executor paths."""
    import cloudfloe_spark.streaming.iceberg_source as _self
    from cloudfloe_spark.sources.tables import ensure_package_shipped

    try:
        from pyspark import cloudpickle

        cloudpickle.register_pickle_by_value(_self)
    except Exception:
        pass  # older cloudpickle: fall back to the package zip alone
    ensure_package_shipped(spark)
    spark.dataSource.register(IcebergCommitsDataSource)
