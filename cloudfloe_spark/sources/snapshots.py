"""The one commit point and the one snapshot producer behind every Iceberg
metadata write this engine makes (DML, compaction, appends, refs, schema
and property changes, maintenance, views).

The commit point, :func:`commit_metadata`, follows the spec's rule for
file-system tables (https://iceberg.apache.org/spec/#file-system-tables):
version ``N+1`` is created by an atomic operation that fails when the
version already exists. The new metadata goes to a hidden temp file in
``metadata/`` and is hard-linked to ``v{N+1}.metadata.json``; ``os.link``
never replaces a file, so of two writers building on version ``N`` exactly
one lands. ``version-hint.text`` moves only after the link succeeds, and
readers probe forward past a stale hint
(:func:`iceberg_meta.latest_metadata_path`), so a writer that dies between
the two steps leaves the table readable. Roots bound to a REST catalog
commit through the catalog's own compare-and-swap instead
(:func:`rest_catalog.commit_table_metadata`).

The producer, :class:`SnapshotProducer`, builds one snapshot on the base
metadata the commit point loaded: sequence number and snapshot id, new
file entries with column statistics, manifests and the manifest list,
row-lineage ids, the ref it moves and the snapshot log. The commit
functions in :mod:`iceberg_fixture` keep only their argument checks and
their choice of entries.
"""

from __future__ import annotations

import json
import os
import re
import uuid

from cloudfloe_spark.sources.avrolite import write_avro

#: In-flight metadata and hint files: hidden, and never named like a
#: version, so no reader lists one. ``remove_orphan_files`` sweeps the
#: ones a crashed writer left behind.
TEMP_PREFIX = ".commit-"
TEMP_SUFFIX = ".tmp"

#: How many times an unpinned commit is rebuilt on a newer base when other
#: writers keep taking the version it aimed at.
UNPINNED_ATTEMPTS = 10


#: The manifest ``data_file`` fields an entry records.
_DATA_FILE_KEYS = (
    "content",
    "file_path",
    "file_format",
    "record_count",
    "file_size_in_bytes",
    "equality_ids",
    "partition",
    "lower_bounds",
    "upper_bounds",
    "null_value_counts",
    "spec_id",
    # v3 deletion-vector reference (null on v2 entries)
    "referenced_data_file",
    "content_offset",
    "content_size_in_bytes",
    # v3 row lineage (null on non-lineage tables / rewritten files)
    "first_row_id",
)


def _assign_row_ids(meta: dict, new_entries: list) -> "int | None":
    """v3 row lineage (r11): on a lineage-carrying table (metadata has
    ``next-row-id``), stamp each NEW content=0 manifest entry's
    ``first_row_id`` from the table counter and advance it by the file's
    record count — the spec's commit-time assignment. Returns the
    snapshot's ``first-row-id`` (the counter before this commit), or
    None for non-lineage tables. Entries already carrying a
    ``first_row_id`` (an apply replaying preserved files) are left
    alone."""
    nri = meta.get("next-row-id")
    if nri is None:
        return None
    mark = int(nri)
    cur = mark
    for e in new_entries:
        df_ = e["data_file"]
        if df_.get("content", 0) != 0:
            continue
        if df_.get("first_row_id") is not None:
            continue
        df_["first_row_id"] = cur
        cur += int(df_.get("record_count") or 0)
    meta["next-row-id"] = cur
    return mark


class CommitConflictError(RuntimeError):
    """Another commit landed between a write's read and its commit."""


def _temp_path(meta_dir: str) -> str:
    return os.path.join(meta_dir, f"{TEMP_PREFIX}{uuid.uuid4().hex}{TEMP_SUFFIX}")


def _version_of(metadata_path: str) -> int:
    m = re.match(r"v?(\d+)", os.path.basename(metadata_path))
    return int(m.group(1)) if m else 0


def _link_version(root: str, meta: dict, version: int) -> bool:
    """Publish ``meta`` as ``v{version}.metadata.json`` unless that version
    exists; then point an existing ``version-hint.text`` at it."""
    meta_dir = os.path.join(root, "metadata")
    tmp = _temp_path(meta_dir)
    with open(tmp, "w") as f:
        json.dump(meta, f)
    try:
        os.link(tmp, os.path.join(meta_dir, f"v{version}.metadata.json"))
    except FileExistsError:
        return False
    finally:
        os.unlink(tmp)
    hint = os.path.join(meta_dir, "version-hint.text")
    if os.path.exists(hint):
        tmp = _temp_path(meta_dir)
        with open(tmp, "w") as f:
            f.write(str(version))
        os.replace(tmp, hint)
    return True


def commit_metadata(root: str, update, *, expected_metadata_path=None):
    """Commit the next metadata version of the table (or view) at ``root``
    and return what ``update`` returned.

    ``update(meta)`` gets the base metadata as a fresh dict — the version
    at ``expected_metadata_path`` when given, else the latest — and edits
    it in place into the next version, writing any new manifests on the
    way. When another writer published the next version first, a caller
    that pinned its base gets :class:`CommitConflictError`: its checks ran
    against a state that is gone, and ``row_delta._commit_with_rebase``
    re-validates before retrying. An unpinned caller's ``update`` runs
    again on the new latest version, up to :data:`UNPINNED_ATTEMPTS`
    times."""
    from cloudfloe_spark.sources import iceberg_meta as im
    from cloudfloe_spark.sources import rest_catalog

    binding = rest_catalog.binding_for(root)
    for _ in range(UNPINNED_ATTEMPTS):
        base = expected_metadata_path or im.latest_metadata_path(root)
        if binding is not None and expected_metadata_path is not None:
            # the catalog's CAS is derived from its own current state,
            # not from this base, so a stale pinned base is refused here
            latest = im.latest_metadata_path(root)
            if os.path.realpath(latest) != os.path.realpath(base):
                raise CommitConflictError(
                    f"table {root} moved on: read {base}, current {latest}"
                )
        meta = im.load_metadata(root, base)
        result = update(meta)
        try:
            if binding is not None:
                rest_catalog.commit_table_metadata(binding, root, meta)
            elif not _link_version(root, meta, _version_of(base) + 1):
                raise CommitConflictError(
                    f"table {root} moved on: version "
                    f"{_version_of(base) + 1} was committed after {base} "
                    "was read; re-run against the new current snapshot"
                )
            return result
        except CommitConflictError:
            if expected_metadata_path is not None:
                raise
    raise CommitConflictError(
        f"table {root}: still conflicting after {UNPINNED_ATTEMPTS} "
        "commit attempts; giving up"
    )


def create_metadata(root: str, meta: dict) -> None:
    """Publish ``meta`` as version 1 of a new table or view at ``root``;
    :class:`CommitConflictError` when one already exists there."""
    os.makedirs(os.path.join(root, "metadata"), exist_ok=True)
    if not _link_version(root, meta, 1):
        raise CommitConflictError(f"{root} already has metadata")


def snapshot_of(meta: dict, snapshot_id: "int | None" = None) -> dict:
    """Snapshot ``snapshot_id`` of ``meta``, by default the current one."""
    from cloudfloe_spark.sources import iceberg_meta as im

    sid = meta.get("current-snapshot-id") if snapshot_id is None else snapshot_id
    for s in meta.get("snapshots", []):
        if s.get("snapshot-id") == sid:
            return s
    raise im.IcebergMetadataError(f"snapshot {sid} not in the table metadata")


_NO_PARENT = object()


class SnapshotProducer:
    """One new snapshot on ``meta``, the base metadata the commit point
    loaded for ``root``. The sequence number and snapshot id are fixed at
    construction: a deletion-vector commit stamps both into its Puffin
    file before any manifest is written."""

    def __init__(self, root: str, meta: dict, timestamp_ms: int):
        self.root = root
        self.meta = meta
        self.timestamp_ms = timestamp_ms
        self.sequence_number = (
            max(
                (s.get("sequence-number", 0) for s in meta.get("snapshots", [])),
                default=0,
            )
            + 1
        )
        # Random 63-bit id (still > 2^53, so stringified like every other
        # id): seq-derived ids would collide with a live LocalIcebergTable's
        # private counter if it commits again after an external commit.
        self.snapshot_id = (uuid.uuid4().int & ((1 << 62) - 1)) | (1 << 62)

    @staticmethod
    def entry(status: int, sequence: int, data_file: dict) -> dict:
        """A manifest entry recording ``data_file`` (projected onto the
        manifest's data_file fields) with ``status`` at data sequence
        number ``sequence``."""
        return {
            "status": status,
            "snapshot_id": None,
            "sequence_number": sequence,
            "data_file": {k: data_file.get(k) for k in _DATA_FILE_KEYS},
        }

    def added(self, path: str, record_count: int, content: int = 0, **fields) -> dict:
        """ADDED entry at this snapshot's sequence for the local file
        ``path``; ``fields`` fill the remaining data_file fields."""
        return self.entry(
            1,
            self.sequence_number,
            {
                "content": content,
                "file_path": f"file://{path}",
                "file_format": "PARQUET",
                "record_count": record_count,
                "file_size_in_bytes": os.path.getsize(path),
                **fields,
            },
        )

    def data_entry(self, item: tuple) -> dict:
        """ADDED data-file entry for ``(path, n)`` — an unpartitioned file
        — or ``(path, n, pvals[, spec_id])`` for a write fanned out per
        partition tuple, so partition pruning keeps working on it. Column
        statistics come from the file, so metrics skipping does too."""
        import pyarrow.parquet as pq

        from cloudfloe_spark.sources.iceberg_fixture import (
            _column_stats,
            _geo_stat_cols,
        )

        path, n = item[0], item[1]
        pvals = item[2] if len(item) > 2 else None
        spec_id = item[3] if len(item) > 3 else None
        if pvals is not None and spec_id is None:
            spec_id = self.meta.get("default-spec-id", 0)
        lower, upper, nulls = _column_stats(
            pq.read_table(path), geo_cols=_geo_stat_cols(self.meta)
        )
        return self.added(
            path,
            n,
            lower_bounds=lower,
            upper_bounds=upper,
            null_value_counts=nulls,
            partition=pvals,
            spec_id=spec_id,
        )

    def commit(
        self,
        groups,
        summary: dict,
        *,
        reused=(),
        parent=_NO_PARENT,
        ref: "str | None" = None,
        publish: bool = True,
    ) -> int:
        """Record the snapshot on ``meta`` and return its id.

        ``groups`` are ``(tag, content, entries)``: one manifest each,
        skipped when empty, listed after the ``reused`` manifest-list
        records of the parent. New content-0 entries get row ids first on
        a row-lineage table. ``parent`` is the snapshot this one builds on
        (None for a table's first snapshot), recorded as
        ``parent-snapshot-id``; the full-table rewrite records none.
        ``ref`` names a branch moved to the new snapshot; ``publish``
        makes it the table's current snapshot."""
        from cloudfloe_spark.sources.iceberg_fixture import (
            _MANIFEST_LIST_SCHEMA,
            _MANIFEST_SCHEMA,
            _stamp_row_lineage,
            _sync_main_ref,
        )

        meta, sid = self.meta, self.snapshot_id
        mark = _assign_row_ids(
            meta, [e for _, _, entries in groups for e in entries if e["status"] == 1]
        )
        meta_dir = os.path.join(self.root, "metadata")
        manifests = list(reused)
        for tag, content, entries in groups:
            if not entries:
                continue
            mpath = os.path.join(
                meta_dir, f"manifest-{tag}-{uuid.uuid4().hex[:12]}.avro"
            )
            write_avro(mpath, _MANIFEST_SCHEMA, entries)
            manifests.append(
                {
                    "manifest_path": f"file://{mpath}",
                    "manifest_length": os.path.getsize(mpath),
                    "content": content,
                    "added_snapshot_id": sid,
                }
            )
        mlist = os.path.join(meta_dir, f"snap-{sid}-manifest-list.avro")
        write_avro(mlist, _MANIFEST_LIST_SCHEMA, manifests)
        snap = {"snapshot-id": sid}
        if parent is not _NO_PARENT:
            snap["parent-snapshot-id"] = (
                parent.get("snapshot-id") if parent is not None else None
            )
        snap.update(
            {
                "sequence-number": self.sequence_number,
                "timestamp-ms": self.timestamp_ms,
                "manifest-list": f"file://{mlist}",
                "summary": summary,
            }
        )
        _stamp_row_lineage(snap, mark, int(meta.get("next-row-id") or 0))
        meta["snapshots"] = meta.get("snapshots", []) + [snap]
        if ref is not None:
            # merge: spec-optional retention fields survive staged commits
            refs = meta.setdefault("refs", {})
            refs[ref] = {**(refs.get(ref) or {}), "snapshot-id": sid, "type": "branch"}
        if publish:
            meta["current-snapshot-id"] = sid
            _sync_main_ref(meta, sid)
            meta.setdefault("snapshot-log", []).append(
                {"snapshot-id": sid, "timestamp-ms": self.timestamp_ms}
            )
        meta["last-updated-ms"] = self.timestamp_ms
        return sid
