"""Merge-on-read row-level deletes for the jarless Iceberg reader.

One :class:`RowDeletes` per scan gathers the snapshot's delete files once:
position-delete parquet pruned to the files the scan reads, the v3
deletion vectors (DVs) naming those files, and equality deletes with the
field names, data sequence numbers and rename history they resolve
against. :meth:`RowDeletes.apply` then removes the deleted rows from each
file group — position deletes, then DVs, then equality deletes — through
delete frames built once and shared by every group, so each DV blob
decodes once per scan. The service's scans and changelogs and the DML and
compaction scans all read through it.

Deletes apply to a fresh parquet scan of the group's files, before any
rename: the anti-joins key on the ``_metadata.file_path`` /
``_metadata.row_index`` pseudo-columns, and equality-delete value columns
resolve against the group's on-disk names. A delete this engine cannot
apply raises :class:`~cloudfloe_spark.sources.iceberg_meta.
IcebergMetadataError` — reading around it would silently resurrect
deleted rows.
"""

from __future__ import annotations

from cloudfloe_spark.session import local_frame
from cloudfloe_spark.sources import iceberg_meta as im

#: The Iceberg spec's fixed position-delete schema (field ids 2147483546
#: and 2147483545). Reading under it skips footer schema inference, which
#: is a Spark job per read; the optional ``row`` column is not needed.
_POSITION_DELETE_DDL = "file_path STRING, pos BIGINT"

#: above this combined blob size the DV decode moves to the executors —
#: a driver-side Python list of every deleted position would not survive
#: a 100-TB table's delete debt (compressed roaring ≈ ≤2 bytes/position,
#: so 8 MB ≈ ≥4M positions)
_DV_DRIVER_DECODE_MAX_BYTES = 8 * 1024 * 1024

#: a file group whose vectors touch ONE of its files, with at most this
#: many deleted positions, drops them with a literal scan filter (file ==
#: suffix AND pos NOT IN (...)) instead of the broadcast anti-join: no
#: broadcast exchange, no join node. Measured on a 24-file sf0.1
#: lineitem (GROUP BY read, 4 cores, warm median of 9): one file with 1
#: to 1,000 positions reads 15-20% faster through the filter; one file
#: with 9,000 positions, two files (a tie), four files (10-28% slower)
#: and 24 files (3x slower, and up to 10x on the first, compiling run)
#: favour the anti-join — each more touched file is another OR term
#: that re-evaluates the file-path expression on every row.
_DV_LITERAL_FILTER_MAX_POSITIONS = 1_000


def _suffix(path: str) -> str:
    """A data-file path after its last ``/data/`` component — unique
    within a table (uuid file names) and stable when the table moves, so
    delete files that record stale absolute URIs still match."""
    return path.rsplit("/data/", 1)[-1]


def _sql_string(s: str) -> str:
    """``s`` escaped for the body of a single-quoted Spark SQL literal."""
    return s.replace("\\", "\\\\").replace("'", "\\'")


def _suffix_col(col):
    from pyspark.sql import functions as F

    return F.substring_index(col, "/data/", -1)


class RowDeletes:
    """The row-level deletes of ``snap`` that can touch ``paths``.

    ``schema_id`` resolves equality-delete field ids and the rename
    history under a time-travel snapshot's schema (default: the current
    one). ``positions`` (position-delete file paths) and ``equality``
    (equality-delete records) replace the snapshot's own lists — a
    changelog passes only the deletes committed inside its range.
    Deletion vectors always come from ``snap``: each names exactly one
    data file."""

    def __init__(
        self,
        sess,
        root: str,
        snap: dict,
        metadata_path,
        paths: "list[str]",
        *,
        schema_id=None,
        positions: "list[str] | None" = None,
        equality: "list[dict] | None" = None,
    ):
        eq_all = im.equality_delete_records(root, snap)
        if eq_all and im.unreadable_equality_deletes(root, snap, metadata_path):
            raise im.IcebergMetadataError(
                "table carries equality-delete files this engine cannot "
                "apply (missing or unresolvable equality field ids); run "
                "compaction (compact_iceberg_table) first"
            )
        self._sess = sess
        self._root, self._snap = root, snap
        self._ctx: dict = {}
        if positions is None:
            positions = im.position_delete_paths(root, snap)
        # a delete file naming none of the scanned files cannot match a row
        self.positions = (
            im.prune_position_deletes(positions, paths)
            if positions and paths
            else []
        )
        self._scanned = {_suffix(p): p for p in paths}
        self.vectors = [
            r
            for r in im.deletion_vector_records(root, snap)
            if _suffix(r["referenced_data_file"]) in self._scanned
        ]
        self.equality = eq_all if equality is None else equality
        if self.equality:
            self._field_names = im.schema_field_names(
                root, metadata_path, schema_id=schema_id
            )
            self._file_seqs = im.live_data_seqs(root, snap)
            self._name_history = im.schema_name_history(
                root, metadata_path, schema_id=schema_id
            )

    def apply(self, df, group_paths, renames: "dict | None" = None):
        """``df`` — a fresh parquet scan of ``group_paths`` — without its
        deleted rows. ``renames`` maps the group's on-disk column names to
        the current ones (equality deletes name current columns)."""
        if self.positions:
            df = _apply_position_deletes(
                self._sess, df, self.positions, self._ctx
            )
        if self.vectors:
            df = _apply_deletion_vectors(
                self._sess, df, self.vectors, self._ctx, group_paths
            )
        if self.equality:
            df = _apply_equality_deletes(
                self._sess, df, self.equality, self._field_names,
                self._file_seqs, renames, self._name_history, self._ctx,
            )
        return df

    def deleted_positions(self) -> "dict | None":
        """``{scanned data file: sorted unique deleted positions}``, read
        on the driver: position-delete parquet with pyarrow, deletion
        vectors through the same decode as :meth:`apply`. Positions are
        not range-checked against the files' row counts. None when the
        deletes cannot be enumerated on the driver: equality deletes match
        by value, not position, and delete files past
        ``_DV_DRIVER_DECODE_MAX_BYTES`` are too large to gather here."""
        import numpy as np
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        from cloudfloe_spark.sources import fsio

        if self.equality:
            return None
        sizes = {
            r["path"]: r["size"]
            for r in im.position_delete_records(self._root, self._snap)
        }
        nbytes = sum(int(r["length"]) for r in self.vectors) + sum(
            sizes.get(p) or float("inf") for p in self.positions
        )
        if nbytes > _DV_DRIVER_DECODE_MAX_BYTES:
            return None
        parts: dict = {}
        for s, ps in _dv_decode_driver(self.vectors).items():
            parts.setdefault(s, []).append(np.asarray(ps, dtype=np.int64))
        for p in self.positions:
            t = pq.read_table(
                fsio.arrow_source(p), columns=["file_path", "pos"]
            )
            # a NULL key matches no row in the anti-join either
            t = t.filter(
                pc.and_(pc.is_valid(t["file_path"]), pc.is_valid(t["pos"]))
            )
            files = t["file_path"].combine_chunks().dictionary_encode()
            codes = files.indices.to_numpy()
            pos = t["pos"].to_numpy()
            for i, f in enumerate(files.dictionary.to_pylist()):
                if (s := _suffix(f)) in self._scanned:
                    parts.setdefault(s, []).append(pos[codes == i])
        return {
            self._scanned[s]: np.unique(np.concatenate(a))
            for s, a in parts.items()
        }


def position_delete_frame(sess, delete_paths: "list[str]"):
    """``(__cf_del_file, __cf_del_pos)`` rows — data-file suffix and row
    position — of a set of position-delete parquet files. Not deduplicated:
    every consumer is a LEFT ANTI or LEFT SEMI join, whose result a
    repeated build-side key cannot change, so a ``.distinct()`` would only
    add a shuffle."""
    from pyspark.sql import functions as F

    return (
        sess.read.schema(_POSITION_DELETE_DDL)
        .parquet(*delete_paths)
        .select(
            _suffix_col(F.col("file_path")).alias("__cf_del_file"),
            F.col("pos").alias("__cf_del_pos"),
        )
    )


def _drop_coordinates(data, dels):
    """LEFT ANTI join of a fresh scan against a ``(__cf_del_file,
    __cf_del_pos)`` frame on the scan's own file suffix and row index."""
    from pyspark.sql import functions as F

    keyed = data.withColumns(
        {
            "__cf_file": _suffix_col(F.col("_metadata.file_path")),
            "__cf_pos": F.col("_metadata.row_index"),
        }
    )
    return keyed.join(
        dels,
        (keyed["__cf_file"] == dels["__cf_del_file"])
        & (keyed["__cf_pos"] == dels["__cf_del_pos"]),
        "left_anti",
    ).drop("__cf_file", "__cf_pos")


def _apply_position_deletes(sess, data, delete_paths: "list[str]", ctx: dict):
    """Merge-on-read for Iceberg v2 position deletes, no runtime jar
    needed: a position-delete file is plain parquet ``(file_path, pos)``,
    and Spark's parquet source exposes exactly the matching coordinates as
    ``_metadata.file_path`` / ``_metadata.row_index`` — so deletion is one
    LEFT ANTI join on the composite key. The delete side is a fraction of
    the data side; no forced hint, AQE broadcasts it when it fits.

    Every group's anti-join reuses the one frame in ``ctx``, so the
    subtree canonicalizes identically and ReuseExchange builds it once."""
    if "pos_frame" not in ctx:
        ctx["pos_frame"] = position_delete_frame(sess, delete_paths)
    return _drop_coordinates(data, ctx["pos_frame"])


def read_deletion_vector(record: dict) -> "list[int]":
    """Deleted row positions of one deletion-vector record's Puffin blob."""
    from cloudfloe_spark.sources import puffin

    try:
        return puffin.read_deletion_vector(
            record["path"], record["offset"], record["length"]
        )
    except (OSError, puffin.PuffinError) as e:
        raise im.IcebergMetadataError(
            f"v3 deletion vector unreadable: {e}"
        ) from None


def _dv_decode_driver(dv_records: "list[dict]") -> dict:
    """All Puffin blobs decoded once → ``{file suffix: sorted unique
    positions}``."""
    by_suffix: dict = {}
    for r in dv_records:
        positions = read_deletion_vector(r)
        if positions:
            by_suffix.setdefault(_suffix(r["referenced_data_file"]), set()).update(
                int(p) for p in positions
            )
    return {s: sorted(ps) for s, ps in by_suffix.items()}


def _apply_deletion_vectors(
    sess, data, dv_records: "list[dict]", ctx: dict, group_paths
):
    """Merge-on-read for Iceberg v3 DELETION VECTORS: each record names
    one data file's Puffin blob, so a group holding none of the
    referenced files needs no delete machinery at all. Small delete sets
    decode DRIVER-side once (``ctx`` carries the decoded state across
    file groups); a few positions of one file apply as a literal scan
    filter, the rest through ONE shared broadcast anti-join frame. Past
    ``_DV_DRIVER_DECODE_MAX_BYTES`` of combined blob bytes the decode
    runs ON THE EXECUTORS — one task per vector reads its own blob from
    shared storage and emits that file's positions, so the deleted-row
    frame is born distributed and the driver never materializes it."""
    from pyspark.sql import functions as F

    if "suffixes" not in ctx:
        ctx["suffixes"] = {_suffix(r["referenced_data_file"]) for r in dv_records}
    hit = {_suffix(str(p)) for p in group_paths} & ctx["suffixes"]
    if not hit:
        return data
    if sum(int(r["length"]) for r in dv_records) > _DV_DRIVER_DECODE_MAX_BYTES:
        if "frame" not in ctx:
            ctx["frame"] = _dv_frame_distributed(sess, dv_records)
        return _drop_coordinates(data, ctx["frame"])
    if "by_suffix" not in ctx:
        ctx["by_suffix"] = _dv_decode_driver(dv_records)
    by_suffix = ctx["by_suffix"]
    rel = {s: ps for s, ps in by_suffix.items() if s in hit}
    if not rel:
        return data  # every DV touching this group is empty
    if len(rel) == 1:
        ((s, ps),) = rel.items()
        if len(ps) <= _DV_LITERAL_FILTER_MAX_POSITIONS:
            # Literal mask: keep rows whose (file, pos) is not deleted.
            # One SQL string: ``Column.isin`` would make a py4j call per
            # position, the parser takes the whole list at once.
            return data.filter(
                F.expr(
                    f"NOT (substring_index(_metadata.file_path, '/data/', -1)"
                    f" = '{_sql_string(s)}' AND _metadata.row_index IN "
                    f"({', '.join(map(str, ps))}))"
                )
            )
    if "frame" not in ctx:
        # One Arrow-backed frame for the whole scan, deduped driver-side
        # (no ``.distinct()`` exchange) and broadcast once.
        import pandas as pd

        files: list = []
        poss: list = []
        for s in sorted(by_suffix):
            ps = by_suffix[s]
            files.extend([s] * len(ps))
            poss.extend(ps)
        ctx["frame"] = F.broadcast(
            sess.createDataFrame(
                pd.DataFrame(
                    {
                        "__cf_del_file": pd.Series(files, dtype="object"),
                        "__cf_del_pos": pd.Series(poss, dtype="int64"),
                    }
                )
            )
        )
    return _drop_coordinates(data, ctx["frame"])


def _dv_frame_distributed(sess, dv_records: "list[dict]"):
    """``(__cf_del_file, __cf_del_pos)`` of every vector, decoded on the
    executors: one task per blob reference."""
    refs = local_frame(
        sess,
        [
            (
                r["path"],
                int(r["offset"]),
                int(r["length"]),
                _suffix(r["referenced_data_file"]),
            )
            for r in dv_records
        ],
        "path STRING, offset BIGINT, length BIGINT, suffix STRING",
    ).repartition(min(len(dv_records), 256))

    def decode(batches):
        # SELF-CONTAINED closure (stdlib + pandas): Arrow UDF workers do
        # not resolve repo modules — the portable-roaring READ side is
        # inlined, format-matched to sources/puffin.py.
        import struct
        import zlib

        import pandas as pd

        def rb32(buf, pos):
            (cookie,) = struct.unpack_from("<i", buf, pos)
            run_bits = b""
            if (cookie & 0xFFFF) == 12347:
                n = (cookie >> 16) + 1
                pos += 4
                nb = (n + 7) // 8
                run_bits = buf[pos:pos + nb]
                pos += nb
            elif cookie == 12346:
                (n,) = struct.unpack_from("<i", buf, pos + 4)
                pos += 8
            else:
                raise ValueError(f"roaring cookie {cookie}")
            kc = []
            for i in range(n):
                k, c = struct.unpack_from("<HH", buf, pos)
                kc.append((k, c + 1))
                pos += 4
            if cookie == 12346 or n >= 4:
                pos += 4 * n
            vals = []
            for i, (k, card) in enumerate(kc):
                base = k << 16
                if run_bits and (run_bits[i // 8] & (1 << (i % 8))):
                    (nr,) = struct.unpack_from("<H", buf, pos)
                    pos += 2
                    for _ in range(nr):
                        s, ln = struct.unpack_from("<HH", buf, pos)
                        pos += 4
                        vals.extend(base + v for v in range(s, s + ln + 1))
                elif card <= 4096:
                    vs = struct.unpack_from(f"<{card}H", buf, pos)
                    pos += 2 * card
                    vals.extend(base + v for v in vs)
                else:
                    bits = buf[pos:pos + 8192]
                    pos += 8192
                    for bi, byte in enumerate(bits):
                        while byte:
                            low = byte & -byte
                            vals.append(base + bi * 8 + low.bit_length() - 1)
                            byte ^= low
            return vals, pos

        for pdf in batches:
            for _, row in pdf.iterrows():
                with open(row["path"], "rb") as fh:
                    fh.seek(int(row["offset"]))
                    blob = fh.read(int(row["length"]))
                (ln,) = struct.unpack_from(">I", blob, 0)
                body = blob[4:4 + ln]
                if body[:4] != b"\xd1\xd3\x39\x64":
                    raise ValueError("deletion vector: bad magic")
                (crc,) = struct.unpack_from(">I", blob, 4 + ln)
                if (zlib.crc32(body) & 0xFFFFFFFF) != crc:
                    raise ValueError("deletion vector: CRC mismatch")
                vec = body[4:]
                (nb,) = struct.unpack_from("<Q", vec, 0)
                p = 8
                out = []
                for _ in range(nb):
                    (hi,) = struct.unpack_from("<I", vec, p)
                    p += 4
                    lows, p = rb32(vec, p)
                    out.extend((hi << 32) | v for v in lows)
                yield pd.DataFrame(
                    {
                        "__cf_del_file": [row["suffix"]] * len(out),
                        "__cf_del_pos": out,
                    }
                )

    return refs.mapInPandas(
        decode, schema="__cf_del_file STRING, __cf_del_pos BIGINT"
    )


def _delete_file_column(path: str, current: str, hist: dict) -> str:
    """On-disk column name inside a delete parquet FILE for the current
    field name ``current``: a delete file written before a rename carries
    the old parquet name — resolved per file against its own footer using
    the table's full rename history (schema evolution is metadata-only;
    already-written files are never rewritten)."""
    if not hist:
        return current
    try:
        avail = set(im.parquet_column_names(path))
    except Exception:
        return current
    if current in avail:
        return current
    for old, cur in hist.items():
        if cur == current and old in avail:
            return old
    return current


def equality_delete_frames(
    sess, records: "list[dict]", field_names: dict, name_history: dict
) -> "list[tuple[tuple, object]]":
    """Equality-delete records grouped by column set → ``[(cols,
    frame)]``: each frame is the union of that set's delete files, value
    columns aliased ``__cf_del_<col>`` (``cols`` are CURRENT names), plus
    each delete's data sequence number as ``__cf_del_seq``."""
    from pyspark.sql import functions as F

    by_cols: dict = {}
    for d in records:
        cols = tuple(field_names[i] for i in d["equality_ids"])
        by_cols.setdefault(cols, []).append(d)
    out = []
    for cols, group in by_cols.items():
        dels = None
        for d in group:
            one = (
                sess.read.parquet(d["path"])
                .select(
                    *[
                        F.col(
                            _delete_file_column(d["path"], c, name_history)
                        ).alias(f"__cf_del_{c}")
                        for c in cols
                    ]
                )
                .withColumn("__cf_del_seq", F.lit(int(d["seq"])))
            )
            dels = one if dels is None else dels.unionByName(one)
        out.append((cols, dels))
    return out


def _apply_equality_deletes(
    sess,
    data,
    deletes: "list[dict]",
    field_names: dict,
    file_seqs: dict,
    renames: "dict | None",
    name_history: dict,
    ctx: dict,
):
    """Merge-on-read for Iceberg v2 equality deletes, no runtime jar
    needed. Per the spec, an equality-delete row removes every data row
    whose values NULL-SAFE-equal it on the delete's ``equality_ids``
    columns AND whose data sequence number is STRICTLY LOWER than the
    delete's — rows (re-)written after the delete survive.

    Construction: attach each data row's sequence number by joining a
    tiny broadcast (file-suffix → seq) map derived from the manifests,
    then one LEFT ANTI join per distinct equality-column-set against the
    union of that set's delete files. A group read under pre-rename names
    matches through the inverse of its rename map. The delete side is a
    fraction of the data side; no forced hint on it — AQE broadcasts it
    when it fits."""
    from pyspark.sql import functions as F

    if "seq_frame" not in ctx:
        ctx["seq_frame"] = F.broadcast(
            local_frame(
                sess,
                [(_suffix(p), int(s)) for p, s in file_seqs.items()],
                "__cf_seq_file STRING, __cf_data_seq BIGINT",
            )
        )
        ctx["eq_frames"] = equality_delete_frames(
            sess, deletes, field_names, name_history
        )
    keyed = data.withColumn(
        "__cf_eq_file", _suffix_col(F.col("_metadata.file_path"))
    ).join(
        ctx["seq_frame"],
        F.col("__cf_eq_file") == F.col("__cf_seq_file"),
        "left",
    )
    inv = {v: k for k, v in (renames or {}).items()}
    for cols, dels in ctx["eq_frames"]:
        cond = F.col("__cf_data_seq") < F.col("__cf_del_seq")
        for c in cols:
            cond = cond & F.col(inv.get(c, c)).eqNullSafe(
                F.col(f"__cf_del_{c}")
            )
        keyed = keyed.join(dels, cond, "left_anti")
    return keyed.drop("__cf_eq_file", "__cf_seq_file", "__cf_data_seq")
