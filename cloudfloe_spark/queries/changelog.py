"""Changelog consumption: driver-provable queries over the ``iceberg_cdc``
surface (round 8, VERDICT r07 stretch item).

The CDC view itself (``service/iceberg_local._cdc_view``) is pytest-proven
against a DuckDB snapshot-diff oracle; these catalog entries put a
DRIVER-green row over the same surface. Each builds a small deterministic
Iceberg table from the ``documents`` fixture (built once per input state
by :func:`catalog.build_once`, cached under the temp dir), applies a
fixed DML script through the engine's own ``delete_where`` /
``update_where``, and then reads the changelog — so the oracle can
reproduce the expected changes with plain SQL over the ORIGINAL
``documents`` table, exactly the cross-engine contract every other
catalog entry follows.

The fixture build is test scaffolding (driver-side pyarrow read of the
small documents fixture), not the query path: the registered queries
themselves are pure Spark plans over the changelog/time-travel views.
At 100 TB the equivalent table already exists — only the reads are the
operator under test, and their scale shape is the CDC view's
(insert side reads only added files; the retraction side reads only
delete-referenced files — see SCALING.md `cdc_after_point_delete`).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from cloudfloe_spark.queries.catalog import build_once, register

#: bump to invalidate previously built fixture tables when the DML script
#: or schema below changes
_FIXTURE_VERSION = 1
_T0 = 1_700_000_000_000

#: the fixed DML script, expressed identically in the engine calls below
#: and in the oracles: DELETE one deterministic slice, then UPDATE another
#: (conditions on the ORIGINAL integer column — engine-identical arithmetic)
_DELETE_COND = "n_chars % 5 = 0"
_UPDATE_COND = "n_chars % 7 = 1"
_UPDATE_BUMP = 1000


def _build(tag: str, sf_dir: str, build, table: str = "documents") -> str:
    """:func:`build_once` keyed on one ``sf_dir`` table — a regenerated
    testdata file gets a fresh fixture, never a stale one whose rows no
    longer match the oracle's. ``_FIXTURE_VERSION`` rides in the tag."""
    return build_once(
        f"{tag}_v{_FIXTURE_VERSION}",
        [os.path.join(sf_dir, f"{table}.parquet")],
        build,
    )


def _docs(sf_dir: str, columns: list[str]):
    """The ``documents`` fixture's ``columns`` as a pyarrow table sorted by
    ``doc_id`` — the seed rows of most tables below."""
    import pyarrow.parquet as pq

    return pq.read_table(
        os.path.join(sf_dir, "documents.parquet"), columns=columns
    ).sort_by("doc_id")


def _under(parent: str, *names: str) -> list[str]:
    return [os.path.join(parent, n) for n in names]


def _fixture(spark: SparkSession, sf_dir: str) -> tuple[str, int, int]:
    """Build-once Iceberg table derived from ``documents`` (doc_id, lang,
    n_chars) with the fixed DML script applied; returns (root, from_id,
    to_id) — the full snapshot range."""
    from cloudfloe_spark.sources import iceberg_meta as im
    from cloudfloe_spark.sources.iceberg_fixture import LocalIcebergTable
    from cloudfloe_spark.sources.maintenance import delete_where, update_where

    def build(parent: str) -> None:
        root = os.path.join(parent, "t")
        tbl = _docs(sf_dir, ["doc_id", "lang", "n_chars"])
        t = LocalIcebergTable(root, tbl.schema)
        t.append_snapshot([tbl], timestamp_ms=_T0)
        delete_where(spark, root, _DELETE_COND, timestamp_ms=_T0 + 1000)
        update_where(
            spark,
            root,
            _UPDATE_COND,
            {"n_chars": f"n_chars + {_UPDATE_BUMP}"},
            timestamp_ms=_T0 + 2000,
        )

    root = os.path.join(_build("changelog", sf_dir, build), "t")
    snaps = im.snapshots(root)
    return root, snaps[0]["snapshot-id"], snaps[-1]["snapshot-id"]


def _resolved(spark: SparkSession, sql: str) -> DataFrame:
    from cloudfloe_spark.service.iceberg_local import (
        resolve_iceberg_reads,
        resolve_incremental_reads,
    )

    return spark.sql(
        resolve_incremental_reads(spark, resolve_iceberg_reads(spark, sql))
    )


# The oracle reproduces the net changelog from the ORIGINAL documents
# table: deletes = the delete slice (original values) plus the update
# slice (update retracts the old row); inserts = the update slice with
# the new value. The update condition applies only to rows the delete
# left alive — exactly what update_where's MOR scan guarantees.
@register(
    "cdc_doc_changelog",
    oracle=f"""
        WITH base AS (SELECT doc_id, lang, n_chars FROM documents),
        del AS (SELECT * FROM base WHERE {_DELETE_COND}),
        upd AS (
            SELECT * FROM base
            WHERE NOT ({_DELETE_COND}) AND {_UPDATE_COND}
        )
        SELECT doc_id, lang, n_chars,
               CAST('delete' AS VARCHAR) AS _change_type FROM del
        UNION ALL
        SELECT doc_id, lang, n_chars, 'delete' FROM upd
        UNION ALL
        SELECT doc_id, lang, n_chars + {_UPDATE_BUMP}, 'insert' FROM upd
    """,
    tags=("iceberg", "cdc"),
)
def cdc_doc_changelog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Net row-level changelog across a DELETE + UPDATE range: every
    retraction and insertion the two DML commits produced, as
    (row, _change_type) — the feed an incremental consumer applies to
    survive row-level DML without a full refresh (``iceberg_changes`` is
    append-only and cannot represent these). Updates surface as
    delete+insert pairs; a row hit by the DELETE never reappears.

    Scale shape (the CDC view's): inserts read ONLY files added in the
    range; retractions scan ONLY the data files the position-delete files
    name (r8 pruning) — both delete-set-sized, never table-sized.
    """
    root, s_from, s_to = _fixture(spark, sf_dir)
    return _resolved(
        spark,
        f"SELECT doc_id, lang, n_chars, _change_type "
        f"FROM iceberg_cdc('{root}', {s_from}, {s_to})",
    )


@register(
    "cdc_incremental_lang_counts",
    oracle=f"""
        SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs
        FROM documents
        WHERE NOT ({_DELETE_COND})
        GROUP BY lang
    """,
    tags=("iceberg", "cdc"),
)
def cdc_incremental_lang_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The incremental-consumer contract, driver-checked: a per-lang doc
    count maintained WITHOUT rescanning the table — the from-snapshot
    aggregate (time travel) plus the changelog's per-lang insert−delete
    delta must equal the to-snapshot aggregate (the oracle computes the
    final state directly; the update rewrites rows in place so only the
    DELETE changes counts). Langs whose count reaches zero drop out,
    matching a direct GROUP BY of the final state.

    Scale shape: the corpus-sized input is the from-state aggregate a
    real consumer already holds; the refresh itself touches only the
    delete-set-sized changelog plus a |langs|-row join.
    """
    root, s_from, s_to = _fixture(spark, sf_dir)
    base = (
        _resolved(
            spark,
            f"SELECT lang FROM iceberg_scan('{root}') "
            f"VERSION AS OF {s_from}",
        )
        .groupBy("lang")
        .agg(F.count("*").alias("n_base"))
    )
    delta = (
        _resolved(
            spark,
            f"SELECT lang, _change_type "
            f"FROM iceberg_cdc('{root}', {s_from}, {s_to})",
        )
        .groupBy("lang")
        .agg(
            F.sum(
                F.when(F.col("_change_type") == "insert", 1).otherwise(-1)
            ).alias("n_delta")
        )
    )
    return (
        base.join(delta, "lang", "full_outer")
        .select(
            "lang",
            (
                F.coalesce(F.col("n_base"), F.lit(0))
                + F.coalesce(F.col("n_delta"), F.lit(0))
            ).alias("n_docs"),
        )
        .filter(F.col("n_docs") > 0)
    )


@register(
    "cdc_incremental_dedup_refresh",
    oracle=f"""
        WITH final AS (
            SELECT lang,
                   CASE WHEN {_UPDATE_COND}
                        THEN n_chars + {_UPDATE_BUMP}
                        ELSE n_chars END AS fp
            FROM documents
            WHERE NOT ({_DELETE_COND})
        )
        SELECT lang, CAST(COUNT(DISTINCT fp) AS BIGINT) AS n_fp
        FROM final GROUP BY lang
    """,
    tags=("iceberg", "cdc", "dedup"),
)
def cdc_incremental_dedup_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental DEDUP-STATE refresh from the changelog (the loop
    ``test_incremental_curation.py`` sketches batch-side, driver-checked):
    an exact-dedup pass keyed on a fingerprint column maintains a
    (fingerprint → multiplicity) state; applying the changelog's ±1
    deltas and counting fingerprints whose multiplicity stays positive
    reproduces the to-state's per-lang DISTINCT count — without
    rescanning the corpus. Retractions can extinguish a fingerprint
    (count→0 drops it) and an update can both retire an old fingerprint
    and mint a new one, the two transitions an append-only feed cannot
    express.

    Scale shape: the corpus-sized side is the from-state fingerprint
    aggregate a real pipeline already materializes; the refresh joins it
    only against the delete-set-sized changelog delta on the
    (lang, fingerprint) key — one small shuffle, no rescan.
    """
    root, s_from, s_to = _fixture(spark, sf_dir)
    fp = F.col("n_chars")  # toy fingerprint: the dedup key under test
    base = (
        _resolved(
            spark,
            f"SELECT lang, n_chars FROM iceberg_scan('{root}') "
            f"VERSION AS OF {s_from}",
        )
        .groupBy("lang", fp.alias("fp"))
        .agg(F.count("*").alias("n_base"))
    )
    delta = (
        _resolved(
            spark,
            f"SELECT lang, n_chars, _change_type "
            f"FROM iceberg_cdc('{root}', {s_from}, {s_to})",
        )
        .groupBy("lang", fp.alias("fp"))
        .agg(
            F.sum(
                F.when(F.col("_change_type") == "insert", 1).otherwise(-1)
            ).alias("n_delta")
        )
    )
    live = base.join(delta, ["lang", "fp"], "full_outer").select(
        "lang",
        "fp",
        (
            F.coalesce(F.col("n_base"), F.lit(0))
            + F.coalesce(F.col("n_delta"), F.lit(0))
        ).alias("n"),
    )
    return (
        live.filter(F.col("n") > 0)
        .groupBy("lang")
        .agg(F.count("*").alias("n_fp"))
    )


@register(
    "cdc_update_images",
    oracle=f"""
        WITH base AS (SELECT doc_id, lang, n_chars FROM documents),
        del AS (SELECT * FROM base WHERE {_DELETE_COND}),
        upd AS (
            SELECT * FROM base
            WHERE NOT ({_DELETE_COND}) AND {_UPDATE_COND}
        )
        SELECT doc_id, lang, n_chars,
               CAST('delete' AS VARCHAR) AS _change_type FROM del
        UNION ALL
        SELECT doc_id, lang, n_chars, 'update_preimage' FROM upd
        UNION ALL
        SELECT doc_id, lang, n_chars + {_UPDATE_BUMP},
               'update_postimage' FROM upd
    """,
    tags=("iceberg", "cdc"),
)
def cdc_update_images(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Changelog with UPDATE pre/post images (the jarless analog of
    Spark-Iceberg's ``create_changelog_view(identifier_columns=...)``):
    passing the table's identifier column to ``iceberg_cdc`` relabels a
    key with exactly one retraction + one insertion in the range as
    ``update_preimage`` / ``update_postimage`` — the row-before /
    row-after images an UPSERT consumer keys on — while rows the DELETE
    removed outright keep the plain ``delete`` label (doc_id is unique in
    the fixture, so every update pairs and nothing else does).

    Scale shape: the pairing adds ONE changelog-sized (delete-set-sized)
    shuffle on the identifier key on top of the CDC view's pruned reads —
    never a table scan.
    """
    root, s_from, s_to = _fixture(spark, sf_dir)
    return _resolved(
        spark,
        f"SELECT doc_id, lang, n_chars, _change_type "
        f"FROM iceberg_cdc('{root}', {s_from}, {s_to}, 'doc_id')",
    )


def _replica_fixture(spark: SparkSession, sf_dir: str) -> str:
    """Build-once DOWNSTREAM replica: seeded from the changelog fixture's
    from-state (the raw documents subset), then synced with ONE
    apply_changelog of the full CDC range. Returns the replica root."""
    from cloudfloe_spark.sources.iceberg_fixture import LocalIcebergTable
    from cloudfloe_spark.sources.maintenance import apply_changelog

    def build(parent: str) -> None:
        root, s_from, s_to = _fixture(spark, sf_dir)
        replica = os.path.join(parent, "t")
        tbl = _docs(sf_dir, ["doc_id", "lang", "n_chars"])
        t = LocalIcebergTable(replica, tbl.schema)
        t.append_snapshot([tbl], timestamp_ms=_T0)
        changes = _resolved(
            spark,
            f"SELECT * FROM iceberg_cdc('{root}', {s_from}, {s_to}, "
            f"'doc_id')",
        )
        apply_changelog(
            spark, replica, changes, "doc_id", timestamp_ms=_T0 + 5000
        )

    return os.path.join(_build("replica", sf_dir, build), "t")


@register(
    "cdc_replica_sync",
    oracle=f"""
        SELECT doc_id, lang,
               CASE WHEN {_UPDATE_COND}
                    THEN n_chars + {_UPDATE_BUMP}
                    ELSE n_chars END AS n_chars
        FROM documents
        WHERE NOT ({_DELETE_COND})
    """,
    tags=("iceberg", "cdc"),
)
def cdc_replica_sync(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The WRITE half of the incremental-consumer loop, driver-checked:
    a downstream replica seeded from the from-snapshot and synced with
    ONE ``apply_changelog`` of the ``iceberg_cdc`` range must equal the
    primary's to-snapshot row for row — the oracle computes that final
    state directly from the original documents table (delete slice
    removed, update slice bumped).

    Scale shape: the sync's retraction pass is one MOR scan of the
    replica semi-joined against BROADCAST changelog keys; inserts and
    the commit are changelog-sized — a replica refresh never rescans or
    rewrites the table.
    """
    replica = _replica_fixture(spark, sf_dir)
    return _resolved(
        spark,
        f"SELECT doc_id, lang, n_chars FROM iceberg_scan('{replica}')",
    )


@register(
    "cdc_commit_history",
    oracle=f"""
        WITH base AS (SELECT doc_id, lang, n_chars FROM documents),
        del AS (SELECT * FROM base WHERE {_DELETE_COND}),
        upd AS (
            SELECT * FROM base
            WHERE NOT ({_DELETE_COND}) AND {_UPDATE_COND}
        )
        SELECT doc_id, lang, n_chars,
               CAST('delete' AS VARCHAR) AS _change_type,
               1 AS _commit_ordinal
        FROM del
        UNION ALL
        SELECT doc_id, lang, n_chars, 'update_preimage', 2 FROM upd
        UNION ALL
        SELECT doc_id, lang, n_chars + {_UPDATE_BUMP},
               'update_postimage', 2 FROM upd
    """,
    tags=("iceberg", "cdc"),
)
def cdc_commit_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PER-COMMIT changelog (``iceberg_cdc_commits`` — Spark-Iceberg's
    default changelog granularity, where the net view collapses
    intermediate states): each DML commit's own delta stamped with its
    1-based ordinal, updates paired within their commit via the
    identifier column. The fixture's history makes the expectation
    exact: ordinal 1 is the DELETE commit, ordinal 2 the UPDATE commit.

    Scale shape: the union is bounded by the range's total churn — each
    pair costs added-file reads plus a delete-referenced carried scan,
    never O(commits × table).
    """
    root, s_from, s_to = _fixture(spark, sf_dir)
    return _resolved(
        spark,
        f"SELECT doc_id, lang, n_chars, _change_type, _commit_ordinal "
        f"FROM iceberg_cdc_commits('{root}', {s_from}, {s_to}, 'doc_id')",
    )


@register(
    "cdc_stream_tail",
    oracle=f"""
        WITH base AS (SELECT doc_id, lang, n_chars FROM documents),
        del AS (SELECT * FROM base WHERE {_DELETE_COND}),
        upd AS (
            SELECT * FROM base
            WHERE NOT ({_DELETE_COND}) AND {_UPDATE_COND}
        )
        SELECT doc_id, lang, n_chars,
               CAST('delete' AS VARCHAR) AS _change_type,
               1 AS _commit_ordinal
        FROM del
        UNION ALL
        SELECT doc_id, lang, n_chars, 'delete', 2 FROM upd
        UNION ALL
        SELECT doc_id, lang, n_chars + {_UPDATE_BUMP}, 'insert', 2 FROM upd
    """,
    tags=("iceberg", "cdc", "streaming"),
)
def cdc_stream_tail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING CDC tail, driver-checked: the PySpark-4 Python Data
    Source ``format("iceberg_commits")`` (streaming/iceberg_source.py)
    pointed at the fixture table with ``mode=cdc``, started AFTER the
    seed append, run to the head with a checkpointed single-pass
    trigger into a parquet sink. The sink contents must equal the two
    DML commits' row-level changelog — ordinal 1 the DELETE commit,
    ordinal 2 the UPDATE commit (delete+insert pair), which the oracle
    states from the original documents table. The streaming twin of
    ``cdc_commit_history``: same change set, produced by the
    microbatch engine through source offsets instead of a batch range
    read.

    Scale shape: each microbatch reads exactly the files its commits
    touched — added files for inserts, position-delete-NAMED files for
    retractions — one Arrow-read InputPartition per (kind, file), so a
    tail over a 100-TB table costs per-commit IO, never a table scan.
    """
    import tempfile

    from cloudfloe_spark.streaming.iceberg_source import (
        register_iceberg_commits_source,
    )

    root, s_from, _ = _fixture(spark, sf_dir)
    register_iceberg_commits_source(spark)
    base = tempfile.mkdtemp(prefix="cf_cdctail_")
    out = os.path.join(base, "out")
    q = (
        spark.readStream.format("iceberg_commits")
        .option("mode", "cdc")
        .option("start", str(s_from))
        .load(root)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", os.path.join(base, "cp"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    try:
        if not q.awaitTermination(180):
            raise TimeoutError("cdc_stream_tail run exceeded 180s")
    finally:
        q.stop()
    sink = spark.read.parquet(out)
    # snapshot ids are run-dependent: fold to the deterministic 1-based
    # commit ordinal via the table's sequence ordering (tiny broadcast)
    snaps = _resolved(
        spark, f"SELECT * FROM iceberg_snapshots('{root}')"
    ).select(
        F.col("snapshot_id").cast("long").alias("_commit_snapshot_id"),
        F.col("sequence_number").cast("long").alias("__seq"),
    )
    ordinals = snaps.withColumn(
        "_commit_ordinal",
        (F.row_number().over(W.orderBy("__seq")) - 1).cast("int"),
    ).drop("__seq")
    return sink.join(F.broadcast(ordinals), "_commit_snapshot_id").select(
        "doc_id", "lang", "n_chars", "_change_type", "_commit_ordinal"
    )


@register(
    "cdc_stream_replica_sync",
    oracle=f"""
        SELECT doc_id, lang,
               CASE WHEN {_UPDATE_COND}
                    THEN n_chars + {_UPDATE_BUMP}
                    ELSE n_chars END AS n_chars
        FROM documents
        WHERE NOT ({_DELETE_COND})
    """,
    tags=("iceberg", "cdc", "streaming"),
)
def cdc_stream_replica_sync(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL streaming replication loop, driver-checked
    (``streaming/replication.py``): an EMPTY replica is synced by one
    checkpointed pass of ``replicate_iceberg_table`` — the
    ``iceberg_commits`` source tails the primary's whole history (seed
    append + DELETE + UPDATE) in one batch, the per-key fold nets it to
    each key's final state, and one idempotent ``apply_changelog``
    commit lands it. The replica read back must equal the primary's
    final state, which the oracle computes from the original documents
    table. Unlike ``cdc_replica_sync`` (batch range read + apply), this
    row proves the path a CONTINUOUS pipeline runs: source offsets,
    microbatch planning, batch netting, epoch-keyed idempotent apply.

    Scale shape: steady-state passes cost per-commit IO (touched files
    only) + a changelog-sized netting shuffle + a metadata-only commit;
    the initial sync is the one table-sized pass, same as any seed.
    """
    from cloudfloe_spark.sources.iceberg_fixture import LocalIcebergTable
    from cloudfloe_spark.streaming.replication import (
        replicate_iceberg_table,
    )

    def build(parent: str) -> None:
        import pyarrow as pa

        root, _, _ = _fixture(spark, sf_dir)
        replica, ck = _under(parent, "t", "ck")
        schema = pa.schema(
            [
                ("doc_id", pa.int64()),
                ("lang", pa.string()),
                ("n_chars", pa.int64()),
            ]
        )
        t = LocalIcebergTable(replica, schema)
        t.append_snapshot(
            [
                pa.table(
                    {
                        "doc_id": pa.array([], pa.int64()),
                        "lang": pa.array([], pa.string()),
                        "n_chars": pa.array([], pa.int64()),
                    }
                )
            ],
            timestamp_ms=_T0,
        )
        replicate_iceberg_table(
            spark,
            root,
            replica,
            "doc_id",
            ck,
            base_timestamp_ms=_T0 + 9000,
        )

    replica = os.path.join(_build("stream_replica", sf_dir, build), "t")
    return _resolved(
        spark,
        f"SELECT doc_id, lang, n_chars FROM iceberg_scan('{replica}')",
    )


@register(
    "iceberg_partitioned_dml_scan",
    oracle=f"""
        SELECT lang,
               count(*) AS n_docs,
               CAST(sum(CASE WHEN {_UPDATE_COND}
                             THEN n_chars + {_UPDATE_BUMP}
                             ELSE n_chars END) AS BIGINT) AS sum_chars
        FROM documents
        WHERE NOT ({_DELETE_COND}) AND lang IS NOT NULL
        GROUP BY lang
    """,
    tags=("iceberg", "dml", "partition"),
)
def iceberg_partitioned_dml_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DML on a PARTITIONED Iceberg table, driver-checked: the fixture is
    rebuilt identity-partitioned by ``lang``, the same DELETE + UPDATE
    script runs through the engine's merge-on-read DML, and the final
    per-lang aggregate must equal the oracle computed from the original
    documents table. What this drives end-to-end (r8 partition-aware
    writes): the UPDATE's rewritten rows fan out per partition tuple and
    stamp it in the manifest, so the post-DML table still partition-prunes
    (pinned structurally by tests/test_partition_dml.py; this row pins
    cross-engine RESULT correctness of the partitioned write+read loop).

    Scale shape: the DML scan prunes to the matched partitions' files;
    the per-lang aggregate is a map-side-combinable groupBy on the
    partition key over a pruned scan.
    """
    from cloudfloe_spark.sources.iceberg_fixture import LocalIcebergTable
    from cloudfloe_spark.sources.maintenance import delete_where, update_where

    def build(parent: str) -> None:
        root = os.path.join(parent, "t")
        tbl = _docs(sf_dir, ["doc_id", "lang", "n_chars"])
        t = LocalIcebergTable(
            root, tbl.schema, partition_by=[("lang", "identity")]
        )
        t.append_snapshot([tbl], timestamp_ms=_T0)
        delete_where(spark, root, _DELETE_COND, timestamp_ms=_T0 + 1000)
        update_where(
            spark,
            root,
            _UPDATE_COND,
            {"n_chars": f"n_chars + {_UPDATE_BUMP}"},
            timestamp_ms=_T0 + 2000,
        )

    root = os.path.join(_build("partdml", sf_dir, build), "t")
    return _resolved(
        spark,
        f"SELECT lang, count(*) AS n_docs, sum(n_chars) AS sum_chars "
        f"FROM iceberg_scan('{root}') WHERE lang IS NOT NULL GROUP BY lang",
    )


@register(
    "iceberg_zorder_scan",
    oracle="""
        SELECT doc_id, n_chars
        FROM documents
        WHERE doc_id < 100 AND n_chars BETWEEN 100 AND 300
    """,
    tags=("iceberg", "maintenance", "zorder"),
)
def iceberg_zorder_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order rewrite, driver-checked end-to-end: the fixture table
    (doc_id, n_chars) is compacted with
    ``compact_iceberg_table(zorder_by=["doc_id", "n_chars"])`` — Morton
    interleave of equi-depth bucket ids (``maintenance._zorder_value``) —
    and then range-filtered on BOTH dimensions; the result must equal the
    same filter over the original ``documents`` table (the rewrite may
    reorder and recluster, never add/drop/alter a row).

    Scale shape: each compacted file owns a small (doc_id, n_chars)
    hyper-rectangle with exact manifest bounds, so the stats evaluator
    skips most files for a predicate on either column — multi-dimensional
    skipping that lexicographic sort cannot give (pinned structurally by
    tests/test_stats_file_skipping.py::
    test_zorder_compaction_skips_on_both_dimensions; this row pins
    cross-engine RESULT correctness of the z-ordered write+read loop).
    """
    import glob as globmod

    from cloudfloe_spark.sources.iceberg_fixture import LocalIcebergTable
    from cloudfloe_spark.sources.maintenance import compact_iceberg_table

    def build(parent: str) -> None:
        root = os.path.join(parent, "t")
        tbl = _docs(sf_dir, ["doc_id", "n_chars"])
        t = LocalIcebergTable(root, tbl.schema)
        t.append_snapshot([tbl], timestamp_ms=_T0)
        live = sum(
            os.path.getsize(p)
            for p in globmod.glob(os.path.join(root, "data", "*.parquet"))
        )
        compact_iceberg_table(
            spark,
            root,
            timestamp_ms=_T0 + 1000,
            target_file_bytes=max(1, live // 10),
            zorder_by=["doc_id", "n_chars"],
        )

    root = os.path.join(_build("zorder", sf_dir, build), "t")
    return _resolved(
        spark,
        f"SELECT doc_id, n_chars FROM iceberg_scan('{root}') "
        "WHERE doc_id < 100 AND n_chars BETWEEN 100 AND 300",
    )


@register(
    "iceberg_cow_dml_scan",
    oracle=f"""
        SELECT lang,
               count(*) AS n_docs,
               CAST(sum(CASE WHEN {_UPDATE_COND}
                             THEN n_chars + {_UPDATE_BUMP}
                             ELSE n_chars END) AS BIGINT) AS sum_chars
        FROM documents
        WHERE NOT ({_DELETE_COND}) AND lang IS NOT NULL
        GROUP BY lang
    """,
    tags=("iceberg", "dml", "cow"),
)
def iceberg_cow_dml_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COPY-ON-WRITE DML, driver-checked: the same partitioned fixture
    and DML script as ``iceberg_partitioned_dml_scan``, but run with
    ``mode="copy-on-write"`` (`maintenance._cow_dml`) — affected data
    files are rewritten and committed as removed + replacements, never
    a delete file — and the final per-lang aggregate must equal the
    merge-on-read entry's oracle exactly (the two modes are
    semantically interchangeable; only the physical layout differs).

    Scale shape: pass 1 reduces the pruned candidate scan to per-file
    match counts; pass 2 rewrites only the affected files,
    partition-aware. Reads of the result pay NO merge-on-read anti-join
    (the table carries zero delete files — pinned structurally by
    tests/test_cow_dml.py).
    """
    from cloudfloe_spark.sources.iceberg_fixture import LocalIcebergTable
    from cloudfloe_spark.sources.maintenance import delete_where, update_where

    def build(parent: str) -> None:
        root = os.path.join(parent, "t")
        tbl = _docs(sf_dir, ["doc_id", "lang", "n_chars"])
        t = LocalIcebergTable(
            root, tbl.schema, partition_by=[("lang", "identity")]
        )
        t.append_snapshot([tbl], timestamp_ms=_T0)
        delete_where(
            spark, root, _DELETE_COND, timestamp_ms=_T0 + 1000,
            mode="copy-on-write",
        )
        update_where(
            spark,
            root,
            _UPDATE_COND,
            {"n_chars": f"n_chars + {_UPDATE_BUMP}"},
            timestamp_ms=_T0 + 2000,
            mode="copy-on-write",
        )

    root = os.path.join(_build("cowdml", sf_dir, build), "t")
    return _resolved(
        spark,
        f"SELECT lang, count(*) AS n_docs, sum(n_chars) AS sum_chars "
        f"FROM iceberg_scan('{root}') WHERE lang IS NOT NULL GROUP BY lang",
    )


@register(
    "cdc_cow_commit_diff",
    oracle=f"""
        SELECT doc_id, n_chars AS n_chars, 'update_preimage' AS _change_type
        FROM documents WHERE {_UPDATE_COND}
        UNION ALL
        SELECT doc_id, n_chars + {_UPDATE_BUMP} AS n_chars,
               'update_postimage' AS _change_type
        FROM documents WHERE {_UPDATE_COND}
    """,
    tags=("iceberg", "cdc", "cow"),
)
def cdc_cow_commit_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-commit CDC over a COPY-ON-WRITE update (r8): the commit
    removed and replaced whole data files, yet the changelog emits
    EXACTLY the changed rows — `_cow_commit_frame`'s restricted
    exceptAll row-diff cancels every rewritten-but-unchanged row — and
    identifier-column pairing labels them update_preimage /
    update_postimage. The oracle reproduces both images from the
    original ``documents`` table.

    Scale shape: reads only the removed+added files of the one commit
    (churn-sized, never O(table)); the diff shuffles churn-sized inputs
    through two exceptAll passes.
    """
    from cloudfloe_spark.sources import iceberg_meta as im
    from cloudfloe_spark.sources.iceberg_fixture import LocalIcebergTable
    from cloudfloe_spark.sources.maintenance import update_where

    def build(parent: str) -> None:
        root = os.path.join(parent, "t")
        tbl = _docs(sf_dir, ["doc_id", "n_chars"])
        t = LocalIcebergTable(root, tbl.schema)
        t.append_snapshot([tbl], timestamp_ms=_T0)
        update_where(
            spark,
            root,
            _UPDATE_COND,
            {"n_chars": f"n_chars + {_UPDATE_BUMP}"},
            timestamp_ms=_T0 + 1000,
            mode="copy-on-write",
        )

    root = os.path.join(_build("cowcdc", sf_dir, build), "t")
    snaps = im.snapshots(root)
    s0, s1 = snaps[0]["snapshot-id"], snaps[-1]["snapshot-id"]
    return _resolved(
        spark,
        f"SELECT doc_id, n_chars, _change_type "
        f"FROM iceberg_cdc_commits('{root}', {s0}, {s1}, 'doc_id')",
    )


@register(
    "iceberg_schema_evolution_scan",
    oracle="""
        SELECT lang AS language,
               count(*) AS n_docs,
               CAST(sum(n_chars) AS BIGINT) AS sum_chars,
               ROUND(SUM(CASE WHEN doc_id % 2 = 1
                              THEN n_chars * 0.5 ELSE 0 END), 6)
                   AS sum_quality
        FROM documents
        WHERE lang IS NOT NULL
        GROUP BY lang
    """,
    tags=("iceberg", "schema-evolution"),
)
def iceberg_schema_evolution_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full schema-evolution surface in one driver-checked read: the
    fixture is written in two generations around a metadata-only
    evolution burst — promote (``n_chars`` int→long), rename
    (``lang``→``language``), add (``quality``, so generation-1 files
    read it as NULL), and an add+drop of a scratch column (retired field
    id) — then aggregated under the CURRENT schema. Generation-1 files
    carry the narrow type and the old column name on disk; the oracle
    reproduces the same numbers from the original ``documents`` table.

    Scale shape: scan_groups resolves the two file generations into two
    read groups by field id (footer reads cached per immutable file);
    everything else is one map-side-combinable groupBy.
    """
    import pyarrow as pa

    from cloudfloe_spark.sources.iceberg_fixture import LocalIcebergTable

    def build(parent: str) -> None:
        import pyarrow.compute as pc

        root = os.path.join(parent, "t")
        tbl = _docs(sf_dir, ["doc_id", "lang", "n_chars"])
        odd = pc.equal(pc.bit_wise_and(tbl["doc_id"], 1), 1)
        gen1 = tbl.filter(pc.invert(odd))
        gen2 = tbl.filter(odd)
        narrow = pa.table(
            {
                "doc_id": gen1["doc_id"],
                "lang": gen1["lang"],
                "n_chars": pc.cast(gen1["n_chars"], pa.int32()),
            }
        )
        t = LocalIcebergTable(root, narrow.schema)
        t.append_snapshot([narrow], timestamp_ms=_T0)
        t.promote_column("n_chars", pa.int64(), timestamp_ms=_T0 + 10)
        t.rename_column("lang", "language", timestamp_ms=_T0 + 20)
        t.add_column("quality", pa.float64(), timestamp_ms=_T0 + 30)
        t.add_column("scratch", pa.int64(), timestamp_ms=_T0 + 40)
        t.drop_column("scratch", timestamp_ms=_T0 + 50)
        wide = pa.table(
            {
                "doc_id": gen2["doc_id"],
                "language": gen2["lang"],
                "n_chars": gen2["n_chars"],
                "quality": pc.multiply(
                    pc.cast(gen2["n_chars"], pa.float64()), 0.5
                ),
            }
        )
        t.append_snapshot([wide], timestamp_ms=_T0 + 60)

    root = os.path.join(_build("schemaevo", sf_dir, build), "t")
    return _resolved(
        spark,
        f"SELECT language, count(*) AS n_docs, "
        f"sum(n_chars) AS sum_chars, "
        f"ROUND(SUM(COALESCE(quality, 0)), 6) AS sum_quality "
        f"FROM iceberg_scan('{root}') WHERE language IS NOT NULL "
        f"GROUP BY language",
    )


@register(
    "stream_upsert_dimension",
    oracle=f"""
        SELECT doc_id, lang,
               CASE WHEN n_chars % 3 = 0 THEN n_chars + 7
                    ELSE n_chars END AS n_chars
        FROM documents
        WHERE lang IS NOT NULL
    """,
    tags=("iceberg", "streaming", "upsert"),
)
def stream_upsert_dimension(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming UPSERT sink, driver-checked
    (``streaming/iceberg_sink.upsert_stream_to_iceberg``): the dimension
    table is seeded with every document, then a checkpointed stream of
    corrections (the ``n_chars % 3 = 0`` slice with ``n_chars + 7``)
    drains through one merge_into commit per micro-batch — matched keys
    update in place. The final scan must equal the oracle's CASE over
    the original documents table.

    Scale shape: each micro-batch costs a broadcast-source merge against
    the manifest-pruned candidate files plus a batch-sized write —
    steady-state dimension maintenance never rescans the table.
    """
    from cloudfloe_spark.sources.iceberg_fixture import LocalIcebergTable
    from cloudfloe_spark.streaming.iceberg_sink import (
        upsert_stream_to_iceberg,
    )

    def build(parent: str) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        root = os.path.join(parent, "t")
        tbl = _docs(sf_dir, ["doc_id", "lang", "n_chars"])
        t = LocalIcebergTable(root, tbl.schema)
        t.append_snapshot([tbl], timestamp_ms=_T0)
        # the correction stream, written as a parquet source dir
        # driver-side (pyarrow/numpy — no Spark collect in a query path)
        nch = tbl["n_chars"].to_numpy()
        mask = (nch % 3) == 0
        upd = tbl.filter(pa.array(mask)).set_column(
            2, "n_chars", pa.array(nch[mask] + 7, pa.int64())
        )
        src = os.path.join(parent, "src")
        os.makedirs(src, exist_ok=True)
        pq.write_table(upd, os.path.join(src, "batch-0.parquet"))
        sdf = spark.readStream.schema(
            "doc_id LONG, lang STRING, n_chars LONG"
        ).parquet(src)
        upsert_stream_to_iceberg(
            sdf,
            root,
            "doc_id",
            checkpoint_dir=os.path.join(parent, "ck"),
            timestamp_ms=_T0 + 1000,
        )

    root = os.path.join(_build("upsert", sf_dir, build), "t")
    return _resolved(
        spark,
        f"SELECT doc_id, lang, n_chars FROM iceberg_scan('{root}') "
        "WHERE lang IS NOT NULL",
    )


@register(
    "merge_full_table_sync",
    oracle=f"""
        SELECT doc_id, lang,
               CASE WHEN {_UPDATE_COND}
                    THEN n_chars + {_UPDATE_BUMP}
                    ELSE n_chars END AS n_chars
        FROM documents
        WHERE NOT ({_DELETE_COND})
    """,
    tags=("iceberg", "dml", "merge"),
)
def merge_full_table_sync(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replica sync as ONE MERGE statement (r9 — VERDICT r08 #2): a
    replica seeded from the PRE-DML state is mirrored to the primary's
    current state by a single ``merge_into`` carrying all three clauses —
    ``WHEN MATCHED`` updates, ``WHEN NOT MATCHED`` inserts, and the new
    ``WHEN NOT MATCHED BY SOURCE`` deletes — in one atomic commit. The
    final replica scan must equal the oracle's post-DML state of the
    original documents table; ``cdc_replica_sync`` proves the same state
    via changelog netting, this row proves the full-outer MERGE path.

    Scale shape: one target MOR scan drives the matched join AND the
    by-source anti-join; retractions are position deletes sized by the
    non-matching row count; the commit is metadata-only.
    """
    from cloudfloe_spark.sources.iceberg_fixture import LocalIcebergTable
    from cloudfloe_spark.sources.maintenance import merge_into

    def build(parent: str) -> None:
        root, _, _ = _fixture(spark, sf_dir)
        replica = os.path.join(parent, "t")
        tbl = _docs(sf_dir, ["doc_id", "lang", "n_chars"])
        t = LocalIcebergTable(replica, tbl.schema)
        t.append_snapshot([tbl], timestamp_ms=_T0)
        src = _resolved(
            spark,
            f"SELECT doc_id, lang, n_chars FROM iceberg_scan('{root}')",
        )
        merge_into(
            spark,
            replica,
            src,
            "doc_id",
            when_matched={"lang": "s.lang", "n_chars": "s.n_chars"},
            when_not_matched_by_source="delete",
            timestamp_ms=_T0 + 5000,
        )

    replica = os.path.join(_build("merge_replica", sf_dir, build), "t")
    return _resolved(
        spark,
        f"SELECT doc_id, lang, n_chars FROM iceberg_scan('{replica}')",
    )


@register(
    "iceberg_manifest_rewrite_scan",
    oracle=f"""
        SELECT lang,
               count(*) AS n_docs,
               CAST(sum(CASE WHEN {_UPDATE_COND}
                             THEN n_chars + {_UPDATE_BUMP}
                             ELSE n_chars END) AS BIGINT) AS sum_chars
        FROM documents
        WHERE NOT ({_DELETE_COND}) AND lang IS NOT NULL
        GROUP BY lang
    """,
    tags=("iceberg", "maintenance", "manifests"),
)
def iceberg_manifest_rewrite_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``rewrite_manifests`` end-to-end (r9): the standard DELETE+UPDATE
    chain leaves one delta manifest per commit (the r8 manifest-reuse
    trade); consolidating them into one data + one delete manifest must
    leave every row EXACTLY as the chain wrote it — same aggregate as
    the DML oracles, delete files still applying at their original
    sequence numbers, zero data movement (the builder asserts the
    manifest count actually dropped and the live file set is unchanged).

    Scale shape: the op is driver-side metadata, O(total manifest
    entries) — it exists so READ planning over a long DML chain pays
    O(1) manifest opens instead of O(commits); SCALING
    `rewrite_manifests_meta` pins ms-scale absolute cost 16→128 files.
    """
    from cloudfloe_spark.sources import iceberg_meta as im
    from cloudfloe_spark.sources.iceberg_fixture import LocalIcebergTable
    from cloudfloe_spark.sources.maintenance import (
        delete_where,
        rewrite_manifests,
        update_where,
    )

    def build(parent: str) -> None:
        root = os.path.join(parent, "t")
        tbl = _docs(sf_dir, ["doc_id", "lang", "n_chars"])
        t = LocalIcebergTable(root, tbl.schema)
        t.append_snapshot([tbl], timestamp_ms=_T0)
        delete_where(spark, root, _DELETE_COND, timestamp_ms=_T0 + 1000)
        update_where(
            spark,
            root,
            _UPDATE_COND,
            {"n_chars": f"n_chars + {_UPDATE_BUMP}"},
            timestamp_ms=_T0 + 2000,
        )
        files_before = sorted(
            im.live_data_paths(root, im.resolve_snapshot(root))
        )
        res = rewrite_manifests(root, timestamp_ms=_T0 + 3000)
        assert res["manifests_after"] < res["manifests_before"], res
        files_after = sorted(
            im.live_data_paths(root, im.resolve_snapshot(root))
        )
        assert files_after == files_before  # zero data movement

    root = os.path.join(_build("manifestrw", sf_dir, build), "t")
    return _resolved(
        spark,
        f"SELECT lang, count(*) AS n_docs, sum(n_chars) AS sum_chars "
        f"FROM iceberg_scan('{root}') WHERE lang IS NOT NULL GROUP BY lang",
    )


@register(
    "iceberg_table_service_scan",
    oracle=f"""
        SELECT lang,
               count(*) AS n_docs,
               CAST(sum(CASE WHEN {_UPDATE_COND}
                             THEN n_chars + {_UPDATE_BUMP}
                             ELSE n_chars END) AS BIGINT) AS sum_chars
        FROM documents
        WHERE NOT ({_DELETE_COND}) AND lang IS NOT NULL
        GROUP BY lang
    """,
    tags=("iceberg", "maintenance", "table-service"),
)
def iceberg_table_service_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The POLICY-driven table-service loop end-to-end (r9,
    ``maintenance.maintain_iceberg_table``): the standard DELETE+UPDATE
    chain plus a burst of tiny appends leaves the table fragmented on
    every layer (small data files, per-commit delete files, per-commit
    delta manifests); ONE maintenance pass bin-packs the small files,
    consolidates the delete files and tidies the manifests — and the
    final aggregate must equal the same oracle as the plain DML entries
    (a service pass changes LAYOUT, never a row). The builder asserts
    the bin-pack and delete-rewrite steps actually triggered, and that
    the appended rows are filtered back out by the second DELETE so the
    oracle stays the canonical post-DML state.

    Scale shape: bin-pack reads/writes only the small files (SCALING
    `binpack_small_files` flat 16→128); the delete and manifest rewrites
    are delete-set / metadata sized; triggers are metadata-only reads.
    """
    from cloudfloe_spark.sources.iceberg_fixture import (
        LocalIcebergTable,
        commit_row_delta_snapshot,
    )
    from cloudfloe_spark.sources.maintenance import (
        delete_where,
        maintain_iceberg_table,
        update_where,
    )

    def build(parent: str) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        root = os.path.join(parent, "t")
        tbl = _docs(sf_dir, ["doc_id", "lang", "n_chars"])
        t = LocalIcebergTable(root, tbl.schema)
        t.append_snapshot([tbl], timestamp_ms=_T0)
        delete_where(spark, root, _DELETE_COND, timestamp_ms=_T0 + 1000)
        update_where(
            spark,
            root,
            _UPDATE_COND,
            {"n_chars": f"n_chars + {_UPDATE_BUMP}"},
            timestamp_ms=_T0 + 2000,
        )
        # fragment the data layer: 5 tiny appended files of scratch rows
        # (negative ids, outside every oracle condition)
        tiny = []
        for j in range(5):
            p = os.path.join(root, "data", f"tiny-{j}.parquet")
            pq.write_table(
                pa.table(
                    {
                        "doc_id": pa.array(
                            [-(j * 10 + i) - 1 for i in range(3)],
                            pa.int64(),
                        ),
                        "lang": pa.array([None] * 3, pa.string()),
                        "n_chars": pa.array([0, 0, 0], pa.int64()),
                    }
                ),
                p,
            )
            tiny.append((p, 3))
        commit_row_delta_snapshot(
            root, new_data_files=tiny, timestamp_ms=_T0 + 3000
        )
        # ... and remove the scratch rows again via a point DML, adding
        # one more delete file to the fragmented delete layer
        delete_where(spark, root, "doc_id < 0", timestamp_ms=_T0 + 4000)
        res = maintain_iceberg_table(
            spark, root, timestamp_ms=_T0 + 5000,
            small_file_bytes=16 * 1024, min_small_files=3,
            max_delete_files=1, max_manifests=4,
        )
        assert res["compact_small_files"]["ran"] is True, res
        # the delete layer must come out CLEAN either way: consolidated
        # by the delete-rewrite step, or (when bin-pack rewrote every
        # referenced file, as happens at small fixture scales) dropped
        # as dangling by the bin-pack commit itself
        from cloudfloe_spark.sources import iceberg_meta as im

        n_del = len(
            im.position_delete_paths(root, im.resolve_snapshot(root))
        )
        assert n_del <= 1, (n_del, res)

    root = os.path.join(_build("tablesvc", sf_dir, build), "t")
    return _resolved(
        spark,
        f"SELECT lang, count(*) AS n_docs, sum(n_chars) AS sum_chars "
        f"FROM iceberg_scan('{root}') WHERE lang IS NOT NULL GROUP BY lang",
    )


@register(
    "iceberg_view_scan",
    oracle="""
        SELECT lang, count(*) AS n_docs,
               CAST(sum(n_chars) AS BIGINT) AS sum_chars
        FROM documents
        WHERE lang IS NOT NULL AND n_chars >= 200
        GROUP BY lang
    """,
    tags=("iceberg", "views"),
)
def iceberg_view_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg VIEWS end-to-end, driver-checked: a versioned view
    (view-spec v1 metadata, ``sources/iceberg_views.py``) is created
    over the fixture table, then REPLACED — the query reads through
    ``iceberg_view('<root>')``, which must inline the CURRENT version's
    SQL (the replaced definition with the ``n_chars >= 200`` filter),
    resolve the ``iceberg_scan`` inside it, and match the oracle over
    the original documents table.

    Scale shape: views are metadata-only indirection — the inlined
    statement plans exactly like the hand-written one (same pruning,
    same pushdown), so there is nothing view-specific to pay at 100 TB.
    """
    from cloudfloe_spark.sources.iceberg_fixture import LocalIcebergTable
    from cloudfloe_spark.sources.iceberg_views import (
        create_iceberg_view,
        replace_iceberg_view,
    )

    def build(parent: str) -> None:
        root, vroot = _under(parent, "t", "v")
        tbl = _docs(sf_dir, ["doc_id", "lang", "n_chars"])
        t = LocalIcebergTable(root, tbl.schema)
        t.append_snapshot([tbl], timestamp_ms=_T0)
        create_iceberg_view(
            vroot,
            f"SELECT lang, n_chars FROM iceberg_scan('{root}') "
            "WHERE lang IS NOT NULL",
            timestamp_ms=_T0 + 1000,
        )
        replace_iceberg_view(
            vroot,
            f"SELECT lang, n_chars FROM iceberg_scan('{root}') "
            "WHERE lang IS NOT NULL AND n_chars >= 200",
            timestamp_ms=_T0 + 2000,
        )

    vroot = os.path.join(_build("views", sf_dir, build), "v")
    return _resolved(
        spark,
        f"SELECT lang, count(*) AS n_docs, sum(n_chars) AS sum_chars "
        f"FROM iceberg_view('{vroot}') GROUP BY lang",
    )


@register(
    "iceberg_matview_incremental",
    oracle=f"""
        SELECT lang,
               count(*) AS n_docs,
               CAST(sum(CASE WHEN {_UPDATE_COND}
                             THEN n_chars + {_UPDATE_BUMP}
                             ELSE n_chars END) AS BIGINT) AS sum_chars
        FROM documents
        WHERE lang IS NOT NULL AND NOT ({_DELETE_COND})
        GROUP BY lang
    """,
    tags=("iceberg", "views", "matview", "cdc"),
)
def iceberg_matview_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL materialized-view refresh, aggregate shape (r9 —
    VERDICT r08 #1, composing the CDC and matview surfaces): a per-lang
    aggregate view is materialized, the base takes the standard DELETE +
    UPDATE script, and the refresh applies ``iceberg_cdc`` deltas —
    retract + recompute ONLY the touched groups — never re-running the
    view. The builder asserts ``path == "incremental-agg"`` (a silent
    full-refresh fallback fails the entry), and the final target scan
    must hash-match the oracle's direct post-DML aggregate — i.e. the
    full-refresh result.

    Scale shape: the delta reads added + delete-referenced files only;
    the recompute scans the base bounded by the touched keys' [min,max]
    manifest pruning then exacted by a broadcast semi-join; the target
    retraction/insert is |touched groups|-sized. A small DML on a 100-TB
    base refreshes in delta-sized time (SCALING `matview_incremental`).
    """
    from cloudfloe_spark.sources.iceberg_fixture import LocalIcebergTable
    from cloudfloe_spark.sources.iceberg_views import (
        create_iceberg_view,
        materialize_iceberg_view,
        refresh_materialized_view,
    )
    from cloudfloe_spark.sources.maintenance import delete_where, update_where

    def build(parent: str) -> None:
        import pyarrow.compute as pc

        root, vroot, troot = _under(parent, "t", "v", "mv")
        tbl = _docs(sf_dir, ["doc_id", "lang", "n_chars"])
        # NULL group keys can't be key-retracted; the engine would fall
        # back to full (sound) — keep the fixture NULL-free so this row
        # PINS the incremental path
        tbl = tbl.filter(pc.is_valid(tbl["lang"]))
        t = LocalIcebergTable(root, tbl.schema)
        t.append_snapshot([tbl], timestamp_ms=_T0)
        create_iceberg_view(
            vroot,
            f"SELECT lang, COUNT(*) AS n_docs, SUM(n_chars) AS sum_chars "
            f"FROM iceberg_scan('{root}') GROUP BY lang",
            timestamp_ms=_T0 + 1000,
        )
        materialize_iceberg_view(
            spark, vroot, troot, timestamp_ms=_T0 + 2000
        )
        delete_where(spark, root, _DELETE_COND, timestamp_ms=_T0 + 3000)
        update_where(
            spark,
            root,
            _UPDATE_COND,
            {"n_chars": f"n_chars + {_UPDATE_BUMP}"},
            timestamp_ms=_T0 + 4000,
        )
        res = refresh_materialized_view(
            spark, vroot, troot, timestamp_ms=_T0 + 5000
        )
        assert res["path"] == "incremental-agg", res

    troot = os.path.join(_build("matview_inc", sf_dir, build), "mv")
    return _resolved(
        spark,
        f"SELECT lang, n_docs, sum_chars FROM iceberg_scan('{troot}')",
    )


@register(
    "iceberg_matview_row_incremental",
    oracle=f"""
        SELECT doc_id,
               CASE WHEN {_UPDATE_COND}
                    THEN n_chars + {_UPDATE_BUMP}
                    ELSE n_chars END AS n_chars
        FROM documents
        WHERE NOT ({_DELETE_COND})
          AND (CASE WHEN {_UPDATE_COND}
                    THEN n_chars + {_UPDATE_BUMP}
                    ELSE n_chars END) >= 200
    """,
    tags=("iceberg", "views", "matview", "cdc"),
)
def iceberg_matview_row_incremental(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """INCREMENTAL refresh, row shape: a keyed projection/filter view
    (``WHERE n_chars >= 200``, key doc_id) refreshes by projecting the
    base changelog through the view's SELECT + WHERE and applying it with
    ``apply_changelog`` — retractions by key, insertions appended, one
    commit. The UPDATE can move rows across the filter boundary (bumped
    rows join the slice); the oracle applies the same boundary to the
    post-DML state, so a wrong filter-crossing transform hash-mismatches.
    Builder asserts ``path == "incremental-row"``.

    Scale shape: delta-file reads + a per-row projection of the delta +
    broadcast-keys retraction against the manifest-pruned target — no
    base rescan, no view recompute, no target rewrite.
    """
    from cloudfloe_spark.sources.iceberg_fixture import LocalIcebergTable
    from cloudfloe_spark.sources.iceberg_views import (
        create_iceberg_view,
        materialize_iceberg_view,
        refresh_materialized_view,
    )
    from cloudfloe_spark.sources.maintenance import delete_where, update_where

    def build(parent: str) -> None:
        root, vroot, troot = _under(parent, "t", "v", "mv")
        tbl = _docs(sf_dir, ["doc_id", "n_chars"])
        t = LocalIcebergTable(root, tbl.schema)
        t.append_snapshot([tbl], timestamp_ms=_T0)
        create_iceberg_view(
            vroot,
            f"SELECT doc_id, n_chars FROM iceberg_scan('{root}') "
            "WHERE n_chars >= 200",
            timestamp_ms=_T0 + 1000,
        )
        materialize_iceberg_view(
            spark, vroot, troot, timestamp_ms=_T0 + 2000,
            key_cols=["doc_id"],
        )
        delete_where(spark, root, _DELETE_COND, timestamp_ms=_T0 + 3000)
        update_where(
            spark,
            root,
            _UPDATE_COND,
            {"n_chars": f"n_chars + {_UPDATE_BUMP}"},
            timestamp_ms=_T0 + 4000,
        )
        res = refresh_materialized_view(
            spark, vroot, troot, timestamp_ms=_T0 + 5000
        )
        assert res["path"] == "incremental-row", res

    troot = os.path.join(_build("matview_row", sf_dir, build), "mv")
    return _resolved(
        spark,
        f"SELECT doc_id, n_chars FROM iceberg_scan('{troot}')",
    )


@register(
    "iceberg_matview_join_incremental",
    oracle=f"""
        SELECT doc_id,
               CASE WHEN {_UPDATE_COND}
                    THEN n_chars + {_UPDATE_BUMP}
                    ELSE n_chars END AS n_chars,
               upper(lang) AS lang_code
        FROM documents
        WHERE NOT ({_DELETE_COND}) AND lang IS NOT NULL
    """,
    tags=("iceberg", "views", "matview", "cdc", "join"),
)
def iceberg_matview_join_incremental(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """INCREMENTAL refresh, JOIN shape (r9): a fact ⋈ dim enrichment
    view (documents joined to a small lang dimension) is materialized,
    the FACT side takes the standard DELETE + UPDATE script, and the
    refresh joins the fact CHANGELOG to the unchanged dim instead of
    re-running the view — the builder asserts ``path ==
    "incremental-join"``. The oracle enriches the post-DML documents
    directly (inner join ⇒ NULL-lang rows drop).

    Scale shape: delta-file reads ⋈ the dim (broadcast-small here; at
    100 TB the dim side is whatever the view's own join strategy is) +
    broadcast-keys retraction against the bounds-pruned target — the
    fact table is never rescanned.
    """
    from cloudfloe_spark.sources.iceberg_fixture import LocalIcebergTable
    from cloudfloe_spark.sources.iceberg_views import (
        create_iceberg_view,
        materialize_iceberg_view,
        refresh_materialized_view,
    )
    from cloudfloe_spark.sources.maintenance import delete_where, update_where

    def build(parent: str) -> None:
        import pyarrow as pa
        import pyarrow.compute as pc

        fact, dim, vroot, troot = _under(parent, "fact", "dim", "v", "mv")
        tbl = _docs(sf_dir, ["doc_id", "lang", "n_chars"])
        tf = LocalIcebergTable(fact, tbl.schema)
        tf.append_snapshot([tbl], timestamp_ms=_T0)
        langs = (
            tbl.filter(pc.is_valid(tbl["lang"]))
            .group_by("lang")
            .aggregate([])
            .sort_by("lang")
        )
        dim_tbl = pa.table(
            {
                "lang": langs["lang"],
                "lang_code": pc.utf8_upper(langs["lang"]),
            }
        )
        td = LocalIcebergTable(dim, dim_tbl.schema)
        td.append_snapshot([dim_tbl], timestamp_ms=_T0)
        create_iceberg_view(
            vroot,
            f"SELECT f.doc_id, f.n_chars, d.lang_code "
            f"FROM iceberg_scan('{fact}') f "
            f"JOIN iceberg_scan('{dim}') d ON f.lang = d.lang",
            timestamp_ms=_T0 + 1000,
        )
        materialize_iceberg_view(
            spark, vroot, troot, timestamp_ms=_T0 + 2000,
            key_cols=["doc_id"],
        )
        delete_where(spark, fact, _DELETE_COND, timestamp_ms=_T0 + 3000)
        update_where(
            spark,
            fact,
            _UPDATE_COND,
            {"n_chars": f"n_chars + {_UPDATE_BUMP}"},
            timestamp_ms=_T0 + 4000,
        )
        res = refresh_materialized_view(
            spark, vroot, troot, timestamp_ms=_T0 + 5000
        )
        assert res["path"] == "incremental-join", res

    troot = os.path.join(_build("matview_join", sf_dir, build), "mv")
    return _resolved(
        spark,
        f"SELECT doc_id, n_chars, lang_code FROM iceberg_scan('{troot}')",
    )


@register(
    "iceberg_matview_refresh",
    oracle=f"""
        SELECT lang, count(*) AS n_docs
        FROM documents
        WHERE lang IS NOT NULL AND NOT ({_DELETE_COND})
        GROUP BY lang
    """,
    tags=("iceberg", "views", "matview"),
)
def iceberg_matview_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The materialized-view loop, driver-checked: a per-lang aggregate
    view is materialized, the base table takes a DELETE (making the
    target stale — a metadata-only determination), and
    ``refresh_materialized_view`` re-lands it; the final scan of the
    TARGET table must equal the oracle over the post-DML state. Pins
    that staleness tracking reacts to base-table snapshots and that the
    refreshed storage table is a first-class Iceberg table (plain
    ``iceberg_scan`` read).

    Scale shape: staleness is O(bases) metadata reads; the refresh costs
    what the view costs — here one pruned scan + a |langs|-row result.
    """
    from cloudfloe_spark.sources.iceberg_fixture import LocalIcebergTable
    from cloudfloe_spark.sources.iceberg_views import (
        create_iceberg_view,
        materialize_iceberg_view,
        refresh_materialized_view,
    )
    from cloudfloe_spark.sources.maintenance import delete_where

    def build(parent: str) -> None:
        root, vroot, troot = _under(parent, "t", "v", "mv")
        tbl = _docs(sf_dir, ["doc_id", "lang", "n_chars"])
        t = LocalIcebergTable(root, tbl.schema)
        t.append_snapshot([tbl], timestamp_ms=_T0)
        create_iceberg_view(
            vroot,
            f"SELECT lang, COUNT(*) AS n_docs "
            f"FROM iceberg_scan('{root}') WHERE lang IS NOT NULL "
            "GROUP BY lang",
            timestamp_ms=_T0 + 1000,
        )
        materialize_iceberg_view(
            spark, vroot, troot, timestamp_ms=_T0 + 2000
        )
        delete_where(spark, root, _DELETE_COND, timestamp_ms=_T0 + 3000)
        res = refresh_materialized_view(
            spark, vroot, troot, timestamp_ms=_T0 + 4000
        )
        assert res.get("skipped") is None  # stale → must have refreshed

    troot = os.path.join(_build("matview", sf_dir, build), "mv")
    return _resolved(
        spark,
        f"SELECT lang, n_docs FROM iceberg_scan('{troot}')",
    )


@register(
    "iceberg_concurrent_writers_scan",
    oracle=f"""
        WITH t AS (
            SELECT doc_id, lang, n_chars FROM documents
            UNION ALL
            SELECT doc_id + 1000000 AS doc_id, lang, n_chars
            FROM documents WHERE doc_id < 50
        )
        SELECT lang, count(*) AS n_docs,
               CAST(sum(n_chars) AS BIGINT) AS sum_chars
        FROM t
        WHERE NOT ({_DELETE_COND}) AND lang IS NOT NULL
        GROUP BY lang
    """,
    tags=("iceberg", "dml", "concurrency"),
)
def iceberg_concurrent_writers_scan(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Optimistic commit-conflict retry, driver-checked end-to-end (r10,
    VERDICT r9 #1): a DELETE's commit races a concurrent APPEND — the
    foreign commit is injected between the DELETE's metadata read and its
    commit attempt (the exact race window), so the first commit hits the
    CAS conflict, the serializable re-validation sees new data files, and
    the op RE-RUNS its scan against the appended state. The oracle is the
    union of the seed and the appended slice with the delete applied to
    BOTH — i.e. the serial schedule append→delete. A wrong outcome is
    unreachable quietly: a broken retry raises (driver red), and a rebase
    that skipped the re-scan would leave appended rows matching the
    delete condition alive (hash mismatch).

    Scale shape: the retry costs one extra metadata validation
    (driver-side) when the rebase holds, or one re-scan of the PRUNED
    candidate files when it does not — never a table rewrite; bounded
    attempts, then a clear error."""
    from cloudfloe_spark.sources import iceberg_fixture as fx
    from cloudfloe_spark.sources.iceberg_fixture import LocalIcebergTable
    from cloudfloe_spark.sources.maintenance import delete_where

    def build(parent: str) -> None:
        import pyarrow.parquet as pq

        root = os.path.join(parent, "t")
        tbl = _docs(sf_dir, ["doc_id", "lang", "n_chars"])
        t = LocalIcebergTable(root, tbl.schema)
        t.append_snapshot([tbl], timestamp_ms=_T0)

        import pyarrow.compute as pc

        appended = tbl.filter(pc.less(tbl["doc_id"], 50))
        appended = appended.set_column(
            0, "doc_id", pc.add(appended["doc_id"], 1000000)
        )
        real_commit = fx.commit_delete_snapshot
        state = {"n": 0}

        def racing_commit(*a, **kw):
            state["n"] += 1
            if state["n"] == 1:
                # the concurrent writer wins the race window
                p = os.path.join(root, "data", "foreign-append.parquet")
                pq.write_table(appended, p)
                fx.commit_row_delta_snapshot(
                    root,
                    new_data_files=[(p, appended.num_rows)],
                    timestamp_ms=_T0 + 500,
                )
            return real_commit(*a, **kw)

        fx.commit_delete_snapshot = racing_commit
        try:
            res = delete_where(
                spark, root, _DELETE_COND, timestamp_ms=_T0 + 1000
            )
        finally:
            fx.commit_delete_snapshot = real_commit
        assert state["n"] >= 2 and res["snapshot_id"] is not None, res

    root = os.path.join(_build("concurrent", sf_dir, build), "t")
    return _resolved(
        spark,
        f"SELECT lang, count(*) AS n_docs, sum(n_chars) AS sum_chars "
        f"FROM iceberg_scan('{root}') WHERE lang IS NOT NULL GROUP BY lang",
    )


@register(
    "iceberg_matview_join_both_moved",
    oracle=f"""
        SELECT doc_id,
               CASE WHEN {_UPDATE_COND}
                    THEN n_chars + {_UPDATE_BUMP}
                    ELSE n_chars END AS n_chars,
               CASE WHEN lang = 'en' THEN 'EN_US'
                    ELSE upper(lang) END AS lang_code
        FROM documents
        WHERE NOT ({_DELETE_COND}) AND lang IS NOT NULL
    """,
    tags=("iceberg", "views", "matview", "cdc", "join"),
)
def iceberg_matview_join_both_moved(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """INCREMENTAL refresh with BOTH bases moved (r10, VERDICT r9 #3):
    the fact side takes the standard DELETE + UPDATE script AND the dim
    side renames one lang code, all inside one staleness window — the
    refresh computes the algebraic delta Δfact ⋈ dim_new ∪ fact_old ⋈
    Δdim with row-level netting instead of the r9 full recompute; the
    builder asserts ``path == "incremental-join-both"``. The oracle
    enriches the post-DML documents with the post-DML dim directly.

    Scale shape: two CDC delta reads, each joined against one full-side
    scan (the same cost as two single-moved refreshes), a combined-delta-
    sized netting groupBy, and the usual broadcast-keys retraction — the
    target is never rewritten and the fact table never rescanned beyond
    the dim-delta join."""
    from cloudfloe_spark.sources.iceberg_fixture import LocalIcebergTable
    from cloudfloe_spark.sources.iceberg_views import (
        create_iceberg_view,
        materialize_iceberg_view,
        refresh_materialized_view,
    )
    from cloudfloe_spark.sources.maintenance import delete_where, update_where

    def build(parent: str) -> None:
        import pyarrow as pa
        import pyarrow.compute as pc

        fact, dim, vroot, troot = _under(parent, "fact", "dim", "v", "mv")
        tbl = _docs(sf_dir, ["doc_id", "lang", "n_chars"])
        tf = LocalIcebergTable(fact, tbl.schema)
        tf.append_snapshot([tbl], timestamp_ms=_T0)
        langs = (
            tbl.filter(pc.is_valid(tbl["lang"]))
            .group_by("lang")
            .aggregate([])
            .sort_by("lang")
        )
        dim_tbl = pa.table(
            {
                "lang": langs["lang"],
                "lang_code": pc.utf8_upper(langs["lang"]),
            }
        )
        td = LocalIcebergTable(dim, dim_tbl.schema)
        td.append_snapshot([dim_tbl], timestamp_ms=_T0)
        create_iceberg_view(
            vroot,
            f"SELECT f.doc_id, f.n_chars, d.lang_code "
            f"FROM iceberg_scan('{fact}') f "
            f"JOIN iceberg_scan('{dim}') d ON f.lang = d.lang",
            timestamp_ms=_T0 + 1000,
        )
        materialize_iceberg_view(
            spark, vroot, troot, timestamp_ms=_T0 + 2000,
            key_cols=["doc_id"],
        )
        # BOTH bases move before the single refresh
        delete_where(spark, fact, _DELETE_COND, timestamp_ms=_T0 + 3000)
        update_where(
            spark,
            fact,
            _UPDATE_COND,
            {"n_chars": f"n_chars + {_UPDATE_BUMP}"},
            timestamp_ms=_T0 + 4000,
        )
        update_where(
            spark, dim, "lang = 'en'", {"lang_code": "'EN_US'"},
            timestamp_ms=_T0 + 5000,
        )
        res = refresh_materialized_view(
            spark, vroot, troot, timestamp_ms=_T0 + 6000
        )
        assert res["path"] == "incremental-join-both", res

    troot = os.path.join(_build("matview_both", sf_dir, build), "mv")
    return _resolved(
        spark,
        f"SELECT doc_id, n_chars, lang_code FROM iceberg_scan('{troot}')",
    )


@register(
    "iceberg_matview_stream_follow",
    oracle=f"""
        SELECT doc_id,
               CASE WHEN {_UPDATE_COND}
                    THEN n_chars + {_UPDATE_BUMP}
                    ELSE n_chars END AS n_chars,
               upper(lang) AS lang_up
        FROM documents
        WHERE NOT ({_DELETE_COND}) AND lang IS NOT NULL
    """,
    tags=("iceberg", "views", "matview", "streaming", "cdc"),
)
def iceberg_matview_stream_follow(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """CONTINUOUS matview maintenance, driver-checked (r10, VERDICT r9
    #6): instead of polled refresh calls, a streaming query tails the
    base's commit log in CDC mode and applies each micro-batch to the
    target exactly-once — the standard DELETE + UPDATE script lands as
    streamed epochs, and the final target must equal the row transform
    over the post-DML base. The builder drains the SAME checkpoint twice
    (the second drain applies nothing) to pin restartability inside the
    driver-checked path.

    Scale shape: per epoch, only the commit's touched files are read
    (source-side pruning), the transform is delta-sized, the apply is
    broadcast-keys retraction + delta insert; the base is never
    re-scanned, the target never rewritten."""
    from cloudfloe_spark.sources.iceberg_fixture import LocalIcebergTable
    from cloudfloe_spark.sources.iceberg_views import (
        create_iceberg_view,
        materialize_iceberg_view,
    )
    from cloudfloe_spark.sources.maintenance import delete_where, update_where
    from cloudfloe_spark.streaming.matview_follow import (
        follow_materialized_view,
    )

    def build(parent: str) -> None:
        base, vroot, troot, ck = _under(parent, "base", "v", "mv", "ck")
        tbl = _docs(sf_dir, ["doc_id", "lang", "n_chars"])
        t = LocalIcebergTable(base, tbl.schema)
        t.append_snapshot([tbl], timestamp_ms=_T0)
        create_iceberg_view(
            vroot,
            f"SELECT doc_id, n_chars, upper(lang) AS lang_up "
            f"FROM iceberg_scan('{base}') WHERE lang IS NOT NULL",
            timestamp_ms=_T0 + 1000,
        )
        materialize_iceberg_view(
            spark, vroot, troot, timestamp_ms=_T0 + 2000,
            key_cols=["doc_id"],
        )
        delete_where(spark, base, _DELETE_COND, timestamp_ms=_T0 + 3000)
        update_where(
            spark,
            base,
            _UPDATE_COND,
            {"n_chars": f"n_chars + {_UPDATE_BUMP}"},
            timestamp_ms=_T0 + 4000,
        )
        stats = follow_materialized_view(
            spark, vroot, troot, checkpoint_dir=ck,
            timestamp_ms=_T0 + 5000,
        )
        assert stats["batches"] >= 1, stats
        # second drain from the SAME checkpoint: nothing new to apply
        stats2 = follow_materialized_view(
            spark, vroot, troot, checkpoint_dir=ck,
            timestamp_ms=_T0 + 6000,
        )
        assert stats2["batches"] == 0, stats2

    troot = os.path.join(_build("matview_follow", sf_dir, build), "mv")
    return _resolved(
        spark,
        f"SELECT doc_id, n_chars, lang_up FROM iceberg_scan('{troot}')",
    )


@register(
    "iceberg_v3_dv_scan",
    oracle=f"""
        SELECT lang, count(*) AS n_docs,
               CAST(sum(n_chars) AS BIGINT) AS sum_chars
        FROM documents
        WHERE NOT ({_DELETE_COND}) AND lang IS NOT NULL
        GROUP BY lang
    """,
    tags=("iceberg", "v3", "deletion-vectors"),
)
def iceberg_v3_dv_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg v3 DELETION VECTORS, driver-checked (r10 stretch, VERDICT
    r9 #8): the standard delete slice is committed as per-data-file
    roaring-bitmap DVs in a Puffin blob (``commit_deletion_vector_
    snapshot`` — format-version 3), and the scan must equal the oracle's
    post-delete aggregate. The deleted positions are computed from the
    parquet itself with pyarrow (no Spark collect), so the DV fixture is
    deterministic and the read path — Puffin footer → blob → bitmap →
    broadcast anti-join — is the only thing under test.

    Scale shape: decoding is delete-set-sized driver work per referenced
    file (like a position-delete footer read); the apply is the same
    anti-join as v2 position deletes, broadcast-sized by construction."""
    import numpy as np

    from cloudfloe_spark.sources import iceberg_meta as im
    from cloudfloe_spark.sources.iceberg_fixture import (
        LocalIcebergTable,
        commit_deletion_vector_snapshot,
    )

    def build(parent: str) -> None:
        import pyarrow.parquet as pq

        root = os.path.join(parent, "t")
        tbl = _docs(sf_dir, ["doc_id", "lang", "n_chars"])
        t = LocalIcebergTable(root, tbl.schema)
        t.append_snapshot([tbl], timestamp_ms=_T0)
        # deleted positions per data file, straight from the written
        # parquet (row order within the file IS the position)
        dvs = {}
        for p in im.live_data_paths(root, im.resolve_snapshot(root)):
            chars = pq.read_table(p, columns=["n_chars"])[
                "n_chars"
            ].to_numpy(zero_copy_only=False)
            positions = np.nonzero((chars % 5) == 0)[0].tolist()
            if positions:
                dvs[p] = positions
        commit_deletion_vector_snapshot(
            root, dvs, timestamp_ms=_T0 + 1000
        )
        assert im.load_metadata(root)["format-version"] == 3

    root = os.path.join(_build("v3dv", sf_dir, build), "t")
    return _resolved(
        spark,
        f"SELECT lang, count(*) AS n_docs, sum(n_chars) AS sum_chars "
        f"FROM iceberg_scan('{root}') WHERE lang IS NOT NULL GROUP BY lang",
    )


@register(
    "iceberg_v3_migrate_scan",
    oracle=f"""
        SELECT lang, count(*) AS n_docs,
               CAST(sum(CASE WHEN {_UPDATE_COND}
                             THEN n_chars + {_UPDATE_BUMP}
                             ELSE n_chars END) AS BIGINT) AS sum_chars
        FROM documents
        WHERE NOT ({_DELETE_COND}) AND lang IS NOT NULL
        GROUP BY lang
    """,
    tags=("iceberg", "v3", "deletion-vectors", "dml"),
)
def iceberg_v3_migrate_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The v2→v3 lifecycle driver-checked end-to-end (r10): a v2 table
    takes the standard DELETE (merge-on-read position-delete parquet), is
    MIGRATED to v3 (`migrate_position_deletes_to_dvs` — parquet deletes
    folded into per-file deletion vectors, format-version → 3), and then
    takes the standard UPDATE through the NATIVE v3 row delta (DV
    retraction + rewritten rows in one commit). The final scan must equal
    the oracle's post-script aggregate — pinning that deletes survive the
    format migration and that v3 DML composes with v2 history.

    Scale shape: migration reads only the delete files (delete-set-sized)
    and roaring-builds per file on executors; the v3 UPDATE costs the
    same pruned scan + delta-sized writes as its v2 twin, with the
    retraction landing as one compressed vector per affected file."""
    from cloudfloe_spark.sources import iceberg_meta as im
    from cloudfloe_spark.sources.iceberg_fixture import LocalIcebergTable
    from cloudfloe_spark.sources.maintenance import (
        delete_where,
        migrate_position_deletes_to_dvs,
        update_where,
    )

    def build(parent: str) -> None:
        root = os.path.join(parent, "t")
        tbl = _docs(sf_dir, ["doc_id", "lang", "n_chars"])
        t = LocalIcebergTable(root, tbl.schema)
        t.append_snapshot([tbl], timestamp_ms=_T0)
        delete_where(spark, root, _DELETE_COND, timestamp_ms=_T0 + 1000)
        res = migrate_position_deletes_to_dvs(
            spark, root, timestamp_ms=_T0 + 2000
        )
        assert res["format_version"] == 3, res
        upd = update_where(
            spark,
            root,
            _UPDATE_COND,
            {"n_chars": f"n_chars + {_UPDATE_BUMP}"},
            timestamp_ms=_T0 + 3000,
        )
        assert upd.get("deletion_vectors"), upd  # native v3 row delta
        assert not im.position_delete_paths(
            root, im.resolve_snapshot(root)
        )

    root = os.path.join(_build("v3mig", sf_dir, build), "t")
    return _resolved(
        spark,
        f"SELECT lang, count(*) AS n_docs, sum(n_chars) AS sum_chars "
        f"FROM iceberg_scan('{root}') WHERE lang IS NOT NULL GROUP BY lang",
    )


@register(
    "iceberg_matview_left_join_incremental",
    oracle=f"""
        SELECT f.doc_id,
               CASE WHEN {_UPDATE_COND.replace('n_chars', 'f.n_chars')}
                    THEN f.n_chars + {_UPDATE_BUMP}
                    ELSE f.n_chars END AS n_chars,
               d.lang_code
        FROM documents f
        LEFT JOIN (
            SELECT DISTINCT lang, upper(lang) AS lang_code
            FROM documents WHERE lang IS NOT NULL AND lang < 'm'
        ) d ON f.lang = d.lang
        WHERE NOT ({_DELETE_COND.replace('n_chars', 'f.n_chars')})
    """,
    tags=("iceberg", "views", "matview", "cdc", "join", "outer"),
)
def iceberg_matview_left_join_incremental(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """INCREMENTAL refresh, LEFT JOIN shape (r10): the dim covers only a
    SUBSET of langs (lang < 'm'), so the view carries genuine
    null-extended rows — including every NULL-lang document. The fact
    side takes the standard DELETE + UPDATE script and the refresh joins
    the fact changelog LEFT to the unchanged dim (``path ==
    "incremental-join"``); null-extension must survive the delta
    transform exactly (a retracted null-extended row, an updated matched
    row, and the filter crossing all ride the same keyed apply).

    Scale shape: same as the inner join row — delta ⟕ dim with the
    static side bounded by the delta's join-key range; the fact table is
    never rescanned."""
    from cloudfloe_spark.sources.iceberg_fixture import LocalIcebergTable
    from cloudfloe_spark.sources.iceberg_views import (
        create_iceberg_view,
        materialize_iceberg_view,
        refresh_materialized_view,
    )
    from cloudfloe_spark.sources.maintenance import delete_where, update_where

    def build(parent: str) -> None:
        import pyarrow as pa
        import pyarrow.compute as pc

        fact, dim, vroot, troot = _under(parent, "fact", "dim", "v", "mv")
        tbl = _docs(sf_dir, ["doc_id", "lang", "n_chars"])
        tf = LocalIcebergTable(fact, tbl.schema)
        tf.append_snapshot([tbl], timestamp_ms=_T0)
        langs = (
            tbl.filter(
                pc.and_(
                    pc.is_valid(tbl["lang"]), pc.less(tbl["lang"], "m")
                )
            )
            .group_by("lang")
            .aggregate([])
            .sort_by("lang")
        )
        dim_tbl = pa.table(
            {
                "lang": langs["lang"],
                "lang_code": pc.utf8_upper(langs["lang"]),
            }
        )
        td = LocalIcebergTable(dim, dim_tbl.schema)
        td.append_snapshot([dim_tbl], timestamp_ms=_T0)
        create_iceberg_view(
            vroot,
            f"SELECT f.doc_id, f.n_chars, d.lang_code "
            f"FROM iceberg_scan('{fact}') f "
            f"LEFT JOIN iceberg_scan('{dim}') d ON f.lang = d.lang",
            timestamp_ms=_T0 + 1000,
        )
        materialize_iceberg_view(
            spark, vroot, troot, timestamp_ms=_T0 + 2000,
            key_cols=["doc_id"],
        )
        delete_where(spark, fact, _DELETE_COND, timestamp_ms=_T0 + 3000)
        update_where(
            spark,
            fact,
            _UPDATE_COND,
            {"n_chars": f"n_chars + {_UPDATE_BUMP}"},
            timestamp_ms=_T0 + 4000,
        )
        res = refresh_materialized_view(
            spark, vroot, troot, timestamp_ms=_T0 + 5000
        )
        assert res["path"] == "incremental-join", res

    troot = os.path.join(_build("matview_ljoin", sf_dir, build), "mv")
    return _resolved(
        spark,
        f"SELECT doc_id, n_chars, lang_code FROM iceberg_scan('{troot}')",
    )


@register(
    "iceberg_v3_defaults_scan",
    oracle="""
        SELECT lang,
               CAST(CASE WHEN doc_id % 3 = 0 THEN 3
                         ELSE n_chars % 4 END AS INT) AS quality_tier,
               count(*) AS n_docs,
               CAST(sum(n_chars) AS BIGINT) AS sum_chars
        FROM documents
        WHERE lang IS NOT NULL
          AND NOT ((CASE WHEN doc_id % 3 = 0 THEN 3
                         ELSE n_chars % 4 END) <> 2 AND n_chars % 7 = 0)
        GROUP BY 1, 2
    """,
    tags=("iceberg", "v3", "defaults"),
)
def iceberg_v3_defaults_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg v3 READ-SIDE DEFAULT VALUES driver-checked (r11, VERDICT
    r10 #4): a third of the corpus is appended BEFORE ``quality_tier``
    exists, the column is added with ``initial-default = 3``
    (add-column-with-default, THE common v3 schema evolution), the rest
    lands with explicit values, and a MOR DELETE whose condition reads
    the defaulted column (``quality_tier <> 2 AND n_chars % 7 = 0``)
    commits deletion vectors — so the scan exercises the default fill
    through BOTH the read path and the DML raw scan, against an oracle
    that reconstructs the same fill rule from the source table.

    Scale shape: the fill is a constant-literal ``withColumn`` per scan
    group (zero IO, folds into codegen); grouping by column presence
    costs one cached footer-name read per file, metadata-scale."""
    import pyarrow as pa

    from cloudfloe_spark.sources import iceberg_meta as im
    from cloudfloe_spark.sources.iceberg_fixture import LocalIcebergTable
    from cloudfloe_spark.sources.maintenance import delete_where

    def build(parent: str) -> None:
        root = os.path.join(parent, "t")
        tbl = _docs(sf_dir, ["doc_id", "lang", "n_chars"])
        ids = tbl["doc_id"].to_numpy(zero_copy_only=False)
        pre_mask = (ids % 3) == 0
        pre = tbl.filter(pa.array(pre_mask))
        post = tbl.filter(pa.array(~pre_mask))
        t = LocalIcebergTable(root, tbl.schema)
        t.append_snapshot([pre], timestamp_ms=_T0)
        t.add_column(
            "quality_tier", pa.int32(), timestamp_ms=_T0 + 500, default=3
        )
        chars = post["n_chars"].to_numpy(zero_copy_only=False)
        post = post.append_column(
            "quality_tier",
            pa.array((chars % 4).astype("int32"), pa.int32()),
        )
        t.append_snapshot([post], timestamp_ms=_T0 + 1000)
        res = delete_where(
            spark,
            root,
            "quality_tier <> 2 AND n_chars % 7 = 0",
            timestamp_ms=_T0 + 2000,
        )
        assert res.get("deletion_vectors"), res  # defaults table is v3
        assert im.load_metadata(root)["format-version"] == 3

    root = os.path.join(_build("v3def", sf_dir, build), "t")
    return _resolved(
        spark,
        f"SELECT lang, quality_tier, count(*) AS n_docs, "
        f"sum(n_chars) AS sum_chars FROM iceberg_scan('{root}') "
        f"WHERE lang IS NOT NULL GROUP BY lang, quality_tier",
    )


@register(
    "iceberg_matview_stream_follow_agg",
    oracle=f"""
        SELECT lang, count(*) AS n_docs,
               CAST(sum(CASE WHEN {_UPDATE_COND}
                             THEN n_chars + {_UPDATE_BUMP}
                             ELSE n_chars END) AS BIGINT) AS sum_chars
        FROM documents
        WHERE NOT ({_DELETE_COND}) AND lang IS NOT NULL
        GROUP BY lang
    """,
    tags=("iceberg", "views", "matview", "streaming", "cdc", "agg"),
)
def iceberg_matview_stream_follow_agg(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """CONTINUOUS maintenance of an AGGREGATE matview, driver-checked
    (r11, VERDICT r10 #3): the follower tails the base's commit log and,
    per epoch, runs the SAME touched-group incremental recompute the
    batch refresh uses — pinned to the epoch's commit range and
    exactly-once by a range-keyed changelog id. The standard DELETE +
    UPDATE script lands as streamed epochs; the final target must equal
    the aggregate over the post-DML base. The builder drains the SAME
    checkpoint twice (the second drain applies nothing — crash/restart
    pinned inside the driver-checked path) and asserts every epoch took
    the incremental-agg path, never a full recompute.

    Scale shape: per epoch the recompute scans the base only where
    manifest stats admit the touched group keys' [min,max], the target
    retraction/insert is |touched groups|-sized, and the freshness stamp
    is one O(1) metadata version."""
    from cloudfloe_spark.sources.iceberg_fixture import LocalIcebergTable
    from cloudfloe_spark.sources.iceberg_views import (
        create_iceberg_view,
        materialize_iceberg_view,
    )
    from cloudfloe_spark.sources.maintenance import delete_where, update_where
    from cloudfloe_spark.streaming.matview_follow import (
        follow_materialized_view,
    )

    def build(parent: str) -> None:
        base, vroot, troot, ck = _under(parent, "base", "view", "target", "ck")
        tbl = _docs(sf_dir, ["doc_id", "lang", "n_chars"])
        t = LocalIcebergTable(base, tbl.schema)
        t.append_snapshot([tbl], timestamp_ms=_T0)
        create_iceberg_view(
            vroot,
            f"SELECT lang, count(*) AS n_docs, "
            f"sum(n_chars) AS sum_chars "
            f"FROM iceberg_scan('{base}') WHERE lang IS NOT NULL "
            f"GROUP BY lang",
            timestamp_ms=_T0 + 1000,
        )
        materialize_iceberg_view(
            spark, vroot, troot, timestamp_ms=_T0 + 2000
        )
        delete_where(spark, base, _DELETE_COND, timestamp_ms=_T0 + 3000)
        update_where(
            spark,
            base,
            _UPDATE_COND,
            {"n_chars": f"n_chars + {_UPDATE_BUMP}"},
            timestamp_ms=_T0 + 4000,
        )
        stats = follow_materialized_view(
            spark, vroot, troot, checkpoint_dir=ck,
            timestamp_ms=_T0 + 5000,
        )
        assert stats["batches"] >= 1, stats
        assert all(p == "incremental-agg" for p in stats["paths"]), stats
        # second drain from the SAME checkpoint: nothing new to apply
        stats2 = follow_materialized_view(
            spark, vroot, troot, checkpoint_dir=ck,
            timestamp_ms=_T0 + 6000,
        )
        assert stats2["batches"] == 0, stats2

    troot = os.path.join(_build("mvfollowagg", sf_dir, build), "target")
    return _resolved(
        spark,
        f"SELECT lang, n_docs, sum_chars FROM iceberg_scan('{troot}')",
    )


@register(
    "iceberg_cdc_lineage_compaction",
    oracle=f"""
        SELECT doc_id, lang, n_chars, 'delete' AS _change_type
        FROM documents WHERE {_DELETE_COND}
        UNION ALL
        SELECT doc_id, lang, n_chars, 'update_preimage' AS _change_type
        FROM documents WHERE NOT ({_DELETE_COND}) AND {_UPDATE_COND}
        UNION ALL
        SELECT doc_id, lang, n_chars + {_UPDATE_BUMP} AS n_chars,
               'update_postimage' AS _change_type
        FROM documents WHERE NOT ({_DELETE_COND}) AND {_UPDATE_COND}
    """,
    tags=("iceberg", "v3", "cdc", "row-lineage", "compaction"),
)
def iceberg_cdc_lineage_compaction(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """CDC ACROSS A COMPACTION via v3 row lineage, driver-checked (r11,
    VERDICT r10 #5): on a row-lineage table, the standard DELETE +
    UPDATE script runs, then the WHOLE table is compacted — and
    ``iceberg_cdc`` over the full range (which the coordinate diff
    cannot represent: every file was rewritten) must emit exactly the
    logical changes, with the compaction contributing nothing. Row ids
    are assigned at commit (file first_row_id + position), carried
    through the rewrite as a materialized ``_row_id`` column, and the
    changelog is the (rid, row)-keyed net difference — moved rows cancel
    exactly. Identifier-column pairing (doc_id) relabels the update's
    images across the rewrite.

    Scale shape: the diff shuffle is sized by the rewritten set (the
    honest price of crossing a compaction — here the whole table, in
    production the compacted partitions); no coordinate machinery, no
    full-table self-join beyond that set."""
    from cloudfloe_spark.sources import iceberg_meta as im
    from cloudfloe_spark.sources.iceberg_fixture import LocalIcebergTable
    from cloudfloe_spark.sources.maintenance import (
        compact_iceberg_table,
        delete_where,
        update_where,
    )

    def build(parent: str) -> None:
        root, sid_file = _under(parent, "t", "_S0")
        tbl = _docs(sf_dir, ["doc_id", "lang", "n_chars"])
        t = LocalIcebergTable(root, tbl.schema, row_lineage=True)
        s0 = t.append_snapshot([tbl], timestamp_ms=_T0)
        delete_where(spark, root, _DELETE_COND, timestamp_ms=_T0 + 1000)
        update_where(
            spark,
            root,
            _UPDATE_COND,
            {"n_chars": f"n_chars + {_UPDATE_BUMP}"},
            timestamp_ms=_T0 + 2000,
        )
        res = compact_iceberg_table(spark, root, timestamp_ms=_T0 + 3000)
        assert res["snapshot_id"], res
        assert im.load_metadata(root)["next-row-id"] > 0
        with open(sid_file, "w") as f:
            f.write(str(s0))

    parent = _build("rlcdc", sf_dir, build)
    root, sid_file = _under(parent, "t", "_S0")
    with open(sid_file) as f:
        s0 = int(f.read().strip())
    cur = im.resolve_snapshot(root)["snapshot-id"]
    return _resolved(
        spark,
        f"SELECT doc_id, lang, n_chars, _change_type "
        f"FROM iceberg_cdc('{root}', {s0}, {cur}, 'doc_id')",
    )


@register(
    "iceberg_row_lineage_scan",
    oracle="""
        SELECT doc_id, lang,
               CASE WHEN n_chars % 7 = 0 THEN n_chars + 55
                    ELSE n_chars END AS n_chars,
               _row_id,
               CAST(CASE WHEN n_chars % 7 = 0 THEN 3 ELSE 1 END AS BIGINT)
                   AS _last_updated_sequence_number
        FROM (
            SELECT doc_id, lang, n_chars,
                   CAST(ROW_NUMBER() OVER (ORDER BY doc_id) - 1 AS BIGINT)
                       AS _row_id
            FROM documents
        ) WHERE NOT (n_chars % 9 = 0)
    """,
    tags=("iceberg", "v3", "row-lineage"),
)
def iceberg_row_lineage_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``iceberg_row_lineage('<root>')`` driver-checked (r11, VERDICT
    r10 #5; r12 VERDICT r11 #2 extends it with
    ``_last_updated_sequence_number``): one sorted append assigns row
    ids equal to each row's rank (file first_row_id 0 + position) at
    data sequence 1, a MOR DELETE retracts some ids (committed as v3
    deletion vectors — lineage tables are v3) at sequence 2, a MOR
    UPDATE rewrites some survivors at sequence 3, and a full compaction
    (sequence 4) rewrites every file. The lineage scan must show every
    SURVIVING row still carrying its ORIGINAL id AND the sequence of the
    commit that last CHANGED it — 3 for updated rows, 1 for everything
    else; the compaction must contribute nothing to either column. The
    oracle reconstructs ids as the doc_id rank over the full corpus and
    sequence numbers from the update predicate.

    Scale shape: both lineage columns come from one broadcast map join
    against per-file coordinates (file-count-sized map, zero row
    shuffle); the DV apply is the standard anti-join; the compaction
    carry is a materialized-column read, not recomputation."""
    from cloudfloe_spark.sources import iceberg_meta as im
    from cloudfloe_spark.sources.iceberg_fixture import LocalIcebergTable
    from cloudfloe_spark.sources.maintenance import (
        compact_iceberg_table,
        delete_where,
        update_where,
    )

    def build(parent: str) -> None:
        root = os.path.join(parent, "t")
        tbl = _docs(sf_dir, ["doc_id", "lang", "n_chars"])
        t = LocalIcebergTable(root, tbl.schema, row_lineage=True)
        t.append_snapshot([tbl], timestamp_ms=_T0)
        res = delete_where(
            spark, root, "n_chars % 9 = 0", timestamp_ms=_T0 + 1000
        )
        assert res.get("deletion_vectors"), res
        update_where(
            spark, root, "n_chars % 7 = 0",
            {"n_chars": "n_chars + 55"}, timestamp_ms=_T0 + 2000,
        )
        res2 = compact_iceberg_table(spark, root, timestamp_ms=_T0 + 3000)
        assert res2["snapshot_id"], res2
        assert im.load_metadata(root)["next-row-id"] >= tbl.num_rows

    root = os.path.join(_build("rlscan", sf_dir, build), "t")
    return _resolved(
        spark,
        f"SELECT doc_id, lang, n_chars, _row_id, "
        f"_last_updated_sequence_number "
        f"FROM iceberg_row_lineage('{root}')",
    )


@register(
    "iceberg_v3_variant_scan",
    oracle="""
        WITH t AS (
            SELECT CASE WHEN doc_id % 11 = 0 THEN NULL
                        ELSE lang END AS v_lang,
                   CASE WHEN doc_id % 11 = 0 THEN NULL
                        ELSE n_chars END AS chars,
                   CASE WHEN doc_id % 11 = 0 THEN NULL
                        ELSE source END AS tag0,
                   CASE WHEN doc_id % 11 = 0 THEN NULL
                        ELSE n_chars * 0.25 END AS score
            FROM documents
        )
        SELECT v_lang, count(*) AS n_docs,
               CAST(sum(chars) AS BIGINT) AS sum_chars,
               count(tag0) AS n_tagged,
               CAST(max(score) AS DOUBLE) AS max_score
        FROM t GROUP BY v_lang
    """,
    tags=("iceberg", "v3", "variant"),
)
def iceberg_v3_variant_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg v3 VARIANT reads driver-checked (r12, VERDICT r11 #1):
    every document row carries an UNSHREDDED variant payload — the
    Parquet ``(metadata, value)`` binary pair, encoded per the public
    variant binary spec (``functions/variant.py``, spec-pinned by
    ``tests/test_variant_spec_vectors.py``) — built deterministically
    from the row's own columns (``{"lang", "stats": {"chars"}, "tags":
    [source, lang], "score"}``; every 11th row a NULL variant). The scan
    decodes the pair to the engine's canonical-JSON STRING surface, and
    the query extracts FOUR typed paths JVM-side
    (``variant_get(parse_json(payload), ...)``: a string leaf, a nested
    int, an array element, a double) and aggregates — so a decode error
    anywhere (dictionary, nesting, arrays, numerics, nulls) breaks the
    hash against an oracle that recomputes the same values from the
    ORIGINAL columns.

    Scale shape: the decode is one Arrow-batched pandas UDF over exactly
    the two binary subcolumns (blobs never shuffle — decode happens at
    the scan, the aggregate exchanges only the extracted scalars);
    shredding detection is one cached footer read per file,
    metadata-scale. Shredded files 400 precisely
    (``test_variant_reads.py``)."""
    from cloudfloe_spark.functions.variant import encode_variant
    from cloudfloe_spark.sources import iceberg_meta as im
    from cloudfloe_spark.sources.iceberg_fixture import LocalIcebergTable

    def build(parent: str) -> None:
        import pyarrow as pa

        root = os.path.join(parent, "t")
        tbl = _docs(sf_dir, ["doc_id", "lang", "source", "n_chars"])
        rows = tbl.to_pylist()
        enc = []
        for r in rows:
            if r["doc_id"] % 11 == 0:
                enc.append(None)
                continue
            md, val = encode_variant(
                {
                    "lang": r["lang"],
                    "stats": {"chars": r["n_chars"]},
                    "tags": [r["source"], r["lang"]],
                    "score": r["n_chars"] * 0.25,
                }
            )
            enc.append({"metadata": md, "value": val})
        vt = pa.struct([("metadata", pa.binary()), ("value", pa.binary())])
        out = pa.table(
            {
                "doc_id": tbl["doc_id"],
                "payload": pa.array(enc, vt),
            }
        )
        t = LocalIcebergTable(root, out.schema, variant_cols=("payload",))
        t.append_snapshot([out], timestamp_ms=_T0)
        assert im.load_metadata(root)["format-version"] == 3

    root = os.path.join(_build("v3variant", sf_dir, build), "t")
    return _resolved(
        spark,
        "SELECT variant_get(parse_json(payload), '$.lang', 'string') "
        "         AS v_lang, "
        "       count(*) AS n_docs, "
        "       sum(variant_get(parse_json(payload), '$.stats.chars', "
        "           'bigint')) AS sum_chars, "
        "       count(variant_get(parse_json(payload), '$.tags[0]', "
        "           'string')) AS n_tagged, "
        "       max(variant_get(parse_json(payload), '$.score', "
        "           'double')) AS max_score "
        f"FROM iceberg_scan('{root}') GROUP BY v_lang",
    )


@register(
    "iceberg_v3_timestamp_ns_scan",
    oracle="""
        SELECT event_type,
               date_trunc('hour', ts) AS hr,
               count(*) AS n,
               min(ts) AS first_ts,
               max(ts) AS last_ts
        FROM events
        GROUP BY event_type, hr
    """,
    tags=("iceberg", "v3", "timestamp-ns"),
)
def iceberg_v3_timestamp_ns_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """v3 ``timestamp_ns`` reads driver-checked (r12, VERDICT r11 #4):
    the fixture re-encodes the events table at NANOSECOND precision
    with a deterministic sub-µs residue (``ts_ns = ts_µs·1000 +
    event_id % 1000``), so the engine's µs-truncating scan must
    reproduce the ORIGINAL µs values exactly — the oracle is the plain
    events table. A truncation-rule drift (floor vs toward-zero, or a
    1000× misscale) breaks every group boundary and min/max.

    Scale shape: the conversion is one codegen'd integer division per
    value folded into the scan projection — no UDF, no extra pass."""
    from cloudfloe_spark.sources import iceberg_meta as im
    from cloudfloe_spark.sources.iceberg_fixture import LocalIcebergTable

    def build(parent: str) -> None:
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        root = os.path.join(parent, "t")
        tbl = pq.read_table(
            os.path.join(sf_dir, "events.parquet"),
            columns=["event_id", "ts", "event_type"],
        ).sort_by("event_id")
        us = tbl["ts"].cast(pa.timestamp("us")).cast(pa.int64())
        residue = pc.subtract(
            tbl["event_id"],
            pc.multiply(
                pc.divide(tbl["event_id"], pa.scalar(1000, pa.int64())),
                pa.scalar(1000, pa.int64()),
            ),
        )
        ns = pc.add(pc.multiply(us, pa.scalar(1000, pa.int64())), residue)
        out = pa.table(
            {
                "event_id": tbl["event_id"],
                "ts": ns.cast(pa.timestamp("ns")),
                "event_type": tbl["event_type"],
            }
        )
        t = LocalIcebergTable(root, out.schema)
        t.append_snapshot([out], timestamp_ms=_T0)
        meta = im.load_metadata(root)
        assert meta["format-version"] == 3
        assert any(
            f["type"] == "timestamp_ns"
            for f in meta["schemas"][0]["fields"]
        )

    root = os.path.join(_build("v3ns", sf_dir, build, table="events"), "t")
    return _resolved(
        spark,
        "SELECT event_type, date_trunc('hour', ts) AS hr, "
        "count(*) AS n, min(ts) AS first_ts, max(ts) AS last_ts "
        f"FROM iceberg_scan('{root}') GROUP BY event_type, hr",
    )


@register(
    "iceberg_analyze_column_stats",
    oracle="""
        WITH live AS (
            SELECT lang, source FROM documents WHERE NOT (n_chars % 9 = 0)
        )
        SELECT 'lang' AS column,
               count(DISTINCT lang) AS ndv,
               CAST(sum(CASE WHEN lang IS NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS null_count,
               count(*) AS row_count
        FROM live
        UNION ALL
        SELECT 'source' AS column,
               count(DISTINCT source) AS ndv,
               CAST(sum(CASE WHEN source IS NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS null_count,
               count(*) AS row_count
        FROM live
    """,
    tags=("iceberg", "maintenance", "statistics", "theta"),
)
def iceberg_analyze_column_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE → spec StatisticsFile → ``iceberg_column_stats``
    driver-checked end-to-end (r12, VERDICT r11 #3): the fixture takes
    a MOR DELETE first, so the counts prove the sketch pass is
    merge-on-read-applied (deleted rows never hash); the oracle
    recomputes exact NDV / null counts / row count over the survivors.
    Exact-mode theta (≤4096 distinct per column here) makes the NDV
    EXACT, so the comparison is equality, not tolerance — a murmur or
    wire-format drift in ``sources/theta.py`` breaks this entry.

    Scale shape: one mapInPandas pass with per-partition KMV partials
    (≤ 32 KB per column per partition crosses to the driver); the
    read-back deserializes the Puffin blobs driver-side."""
    from cloudfloe_spark.sources import iceberg_meta as im
    from cloudfloe_spark.sources.iceberg_fixture import LocalIcebergTable
    from cloudfloe_spark.sources.maintenance import (
        analyze_iceberg_table,
        delete_where,
    )

    def build(parent: str) -> None:
        root = os.path.join(parent, "t")
        tbl = _docs(sf_dir, ["doc_id", "lang", "source", "n_chars"])
        t = LocalIcebergTable(root, tbl.schema)
        t.append_snapshot([tbl], timestamp_ms=_T0)
        delete_where(spark, root, "n_chars % 9 = 0", timestamp_ms=_T0 + 1000)
        res = analyze_iceberg_table(
            spark, root, timestamp_ms=_T0 + 2000,
            columns=["lang", "source"],
        )
        assert res["statistics_path"].endswith(".stats"), res
        assert im.load_metadata(root)["statistics"], res

    root = os.path.join(_build("thstats", sf_dir, build), "t")
    return _resolved(
        spark,
        "SELECT column, ndv, null_count, row_count "
        f"FROM iceberg_column_stats('{root}')",
    )


@register(
    "iceberg_v3_variant_shredded_scan",
    oracle="""
        WITH t AS (
            SELECT CASE WHEN doc_id % 13 = 0 THEN NULL ELSE lang END
                       AS v_lang,
                   CASE WHEN doc_id % 13 = 0 THEN NULL
                        WHEN doc_id % 7 = 0 THEN NULL  -- chars holds a string
                        ELSE n_chars END AS chars,
                   CASE WHEN doc_id % 13 = 0 THEN NULL
                        ELSE n_chars * 0.5 END AS score
            FROM documents
        )
        SELECT v_lang, count(*) AS n_docs,
               CAST(sum(chars) AS BIGINT) AS sum_chars,
               CAST(max(score) AS DOUBLE) AS max_score
        FROM t GROUP BY v_lang
    """,
    tags=("iceberg", "v3", "variant", "shredded"),
)
def iceberg_v3_variant_shredded_scan(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """SHREDDED variant reads driver-checked (r12): the fixture writes
    the documents payload with ``lang`` and ``chars`` SHREDDED as typed
    subcolumns and ``score`` left in the residual; every 7th doc stores
    a STRING in the int-shredded ``chars`` field (type-mismatch →
    residual per the spec) and every 13th doc is a variant NULL. The
    scan reassembles per file footer, typed extraction runs JVM-side,
    and the oracle recomputes from the original columns —
    ``try_variant_get`` nulls the mismatched chars exactly like the
    oracle's CASE.

    Scale shape: one Arrow-batched reassembly pass per shred group;
    blobs never shuffle (aggregates exchange extracted scalars)."""
    from cloudfloe_spark.functions.variant import shred_rows
    from cloudfloe_spark.sources import iceberg_meta as im
    from cloudfloe_spark.sources.iceberg_fixture import LocalIcebergTable

    def build(parent: str) -> None:
        import pyarrow as pa

        root = os.path.join(parent, "t")
        tbl = _docs(sf_dir, ["doc_id", "lang", "n_chars"])
        objs = []
        for r in tbl.to_pylist():
            if r["doc_id"] % 13 == 0:
                objs.append(None)
                continue
            objs.append(
                {
                    "lang": r["lang"],
                    "chars": (
                        f'{r["n_chars"]} glyphs'
                        if r["doc_id"] % 7 == 0
                        else r["n_chars"]
                    ),
                    "score": r["n_chars"] * 0.5,
                }
            )
        shred = {
            "kind": "object",
            "fields": {
                "lang": {"value": True, "typed": {"kind": "string"}},
                "chars": {"value": True, "typed": {"kind": "int"}},
            },
        }
        out = pa.table(
            {"doc_id": tbl["doc_id"], "payload": shred_rows(objs, shred)}
        )
        t = LocalIcebergTable(root, out.schema, variant_cols=("payload",))
        t.append_snapshot([out], timestamp_ms=_T0)
        assert im.load_metadata(root)["format-version"] == 3

    root = os.path.join(_build("v3shred", sf_dir, build), "t")
    return _resolved(
        spark,
        "SELECT variant_get(parse_json(payload), '$.lang', 'string') "
        "         AS v_lang, "
        "       count(*) AS n_docs, "
        "       sum(try_variant_get(parse_json(payload), '$.chars', "
        "           'bigint')) AS sum_chars, "
        "       max(variant_get(parse_json(payload), '$.score', "
        "           'double')) AS max_score "
        f"FROM iceberg_scan('{root}') GROUP BY v_lang",
    )


@register(
    "iceberg_partition_stats_scan",
    oracle="""
        SELECT lang,
               count(*) AS data_record_count,
               1 AS data_file_count
        FROM documents
        GROUP BY lang
    """,
    tags=("iceberg", "maintenance", "partition-statistics"),
)
def iceberg_partition_stats_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The spec's PARTITION STATISTICS file driver-checked (r12): a
    lang-identity-partitioned table (one file per lang per append)
    takes a MOR DELETE (which must NOT change the raw data-file record
    counts — delete files count separately), then
    ``compute_partition_stats`` registers the parquet and
    ``iceberg_partition_stats`` lists it; the oracle recomputes the
    per-partition record and file counts from the source rows.

    Scale shape: metadata-only — one driver-side manifest walk and a
    partition-count-sized parquet; the data is never scanned."""
    from cloudfloe_spark.sources import iceberg_meta as im
    from cloudfloe_spark.sources.iceberg_fixture import LocalIcebergTable
    from cloudfloe_spark.sources.maintenance import (
        compute_partition_stats,
        delete_where,
    )

    def build(parent: str) -> None:
        root = os.path.join(parent, "t")
        tbl = _docs(sf_dir, ["doc_id", "lang", "n_chars"])
        t = LocalIcebergTable(
            root, tbl.schema, partition_by=[("lang", "identity")]
        )
        t.append_snapshot([tbl], timestamp_ms=_T0)
        delete_where(spark, root, "n_chars % 9 = 0", timestamp_ms=_T0 + 1000)
        res = compute_partition_stats(root, timestamp_ms=_T0 + 2000)
        assert res["statistics_path"].endswith(".parquet"), res
        assert im.load_metadata(root)["partition-statistics"], res

    root = os.path.join(_build("pstats", sf_dir, build), "t")
    return _resolved(
        spark,
        "SELECT lang, data_record_count, data_file_count "
        f"FROM iceberg_partition_stats('{root}') WHERE lang IS NOT NULL",
    )


@register(
    "iceberg_cdc_variant",
    oracle="""
        SELECT doc_id, lang AS v_lang, 'delete' AS _change_type
        FROM documents
        WHERE doc_id % 2 = 0 AND n_chars % 9 = 0
        UNION ALL
        SELECT doc_id, lang AS v_lang, 'insert' AS _change_type
        FROM documents
        WHERE doc_id % 2 = 1
    """,
    tags=("iceberg", "v3", "variant", "cdc"),
)
def iceberg_cdc_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC over a VARIANT table driver-checked (r12 late): the even
    docs load first (snapshot s0), the odd docs append in range, and an
    EXTERNAL position delete retracts the even docs with n_chars%9==0 —
    the net changelog must decode the variant payloads to the JSON
    surface on BOTH netting sides (typed extraction labels the rows)
    and emit exactly the logical delta. Previously a 400.

    Scale shape: same as the plain changelog — inserts read only the
    added files; the retraction scan is pruned to the delete-referenced
    files; the decode is one Arrow pass per side."""
    from cloudfloe_spark.functions.variant import encode_variant
    from cloudfloe_spark.sources import iceberg_meta as im
    from cloudfloe_spark.sources.iceberg_fixture import LocalIcebergTable

    def build(parent: str) -> None:
        import pyarrow as pa

        root, sid_file = _under(parent, "t", "_S0")
        tbl = _docs(sf_dir, ["doc_id", "lang", "n_chars"])
        rows = tbl.to_pylist()
        vt = pa.struct([("metadata", pa.binary()), ("value", pa.binary())])

        def chunk(pred):
            sel = [r for r in rows if pred(r["doc_id"])]
            col = pa.array(
                [
                    dict(
                        zip(
                            ("metadata", "value"),
                            encode_variant(
                                {"lang": r["lang"], "chars": r["n_chars"]}
                            ),
                        )
                    )
                    for r in sel
                ],
                vt,
            )
            return sel, pa.table(
                {
                    "doc_id": pa.array(
                        [r["doc_id"] for r in sel], pa.int64()
                    ),
                    "payload": col,
                }
            )

        even_rows, even_t = chunk(lambda i: i % 2 == 0)
        _, odd_t = chunk(lambda i: i % 2 == 1)
        t = LocalIcebergTable(root, even_t.schema, variant_cols=("payload",))
        s0 = t.append_snapshot([even_t], timestamp_ms=_T0)
        t.append_snapshot([odd_t], timestamp_ms=_T0 + 1000)
        # external retraction: delete the even docs with n_chars%9==0
        # by position within the (sorted) even file
        even_path = sorted(
            im.live_data_paths(root, im.resolve_snapshot(root))
        )[0]
        dels = [
            (even_path, pos)
            for pos, r in enumerate(even_rows)
            if r["n_chars"] % 9 == 0
        ]
        assert dels, "fixture needs at least one retraction"
        t.position_delete_snapshot(dels, timestamp_ms=_T0 + 2000)
        with open(sid_file, "w") as f:
            f.write(str(s0))

    parent = _build("cdcvar", sf_dir, build)
    root, sid_file = _under(parent, "t", "_S0")
    with open(sid_file) as f:
        s0 = int(f.read().strip())
    cur = im.resolve_snapshot(root)["snapshot-id"]
    return _resolved(
        spark,
        "SELECT doc_id, "
        "variant_get(parse_json(payload), '$.lang', 'string') AS v_lang, "
        "_change_type "
        f"FROM iceberg_cdc('{root}', {s0}, {cur})",
    )


@register(
    "iceberg_variant_dml_scan",
    oracle="""
        WITH alive AS (
            SELECT doc_id, lang, n_chars FROM documents
            WHERE NOT (n_chars % 9 = 0)
        )
        SELECT CASE WHEN doc_id % 7 = 3 THEN doc_id + 1000000
                    ELSE doc_id END AS doc_id,
               CASE WHEN doc_id % 5 = 0 THEN
                   '{"chars":' || CAST(n_chars * 2 AS VARCHAR)
                   || ',"lang":"' || lang || '","patched":true}'
               ELSE
                   '{"chars":' || CAST(n_chars AS VARCHAR)
                   || ',"lang":"' || lang || '"}'
               END AS payload
        FROM alive
    """,
    tags=("iceberg", "v3", "variant", "dml"),
)
def iceberg_variant_dml_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level DML over an UNSHREDDED variant table driver-checked
    (r13, VERDICT r12 #1): a MOR DELETE whose predicate reads the
    variant surface (``chars % 9 = 0``), a MOR UPDATE that re-encodes
    the variant column from JSON text (docs with ``doc_id % 5 = 0``
    double their chars and gain a flag), and a COW UPDATE on a plain
    column (``doc_id % 7 = 3`` shifts the id) whose rewrite passes the
    variant bytes through verbatim. The oracle rebuilds the exact
    canonical-JSON surface in SQL — a drift in the encoder, the
    decoder, the netting of deletes, or the passthrough breaks the
    value hash.

    Scale shape: the DELETE writes only DVs (coordinates, never variant
    bytes); the UPDATE's rewrite is sized by the match count; the COW
    pass rewrites only the affected files with the struct intact —
    exactly the 100-TB GDPR-delete shape (`sources/maintenance.py`
    ``_dml_v3_cols`` / ``_dml_out_col``)."""
    from cloudfloe_spark.functions.variant import encode_variant
    from cloudfloe_spark.sources.iceberg_fixture import LocalIcebergTable
    from cloudfloe_spark.sources.maintenance import (
        delete_where,
        update_where,
    )

    def build(parent: str) -> None:
        import pyarrow as pa

        root = os.path.join(parent, "t")
        tbl = _docs(sf_dir, ["doc_id", "lang", "n_chars"])
        rows = tbl.to_pylist()
        vt = pa.struct([("metadata", pa.binary()), ("value", pa.binary())])
        col = pa.array(
            [
                dict(
                    zip(
                        ("metadata", "value"),
                        encode_variant(
                            {"lang": r["lang"], "chars": r["n_chars"]}
                        ),
                    )
                )
                for r in rows
            ],
            vt,
        )
        data = pa.table(
            {
                "doc_id": pa.array(
                    [r["doc_id"] for r in rows], pa.int64()
                ),
                "payload": col,
            }
        )
        t = LocalIcebergTable(root, data.schema, variant_cols=("payload",))
        t.append_snapshot([data], timestamp_ms=_T0)
        delete_where(
            spark, root,
            "CAST(get_json_object(payload, '$.chars') AS BIGINT) % 9 = 0",
            timestamp_ms=_T0 + 1000,
        )
        update_where(
            spark, root, "doc_id % 5 = 0",
            {
                "payload": (
                    "to_json(named_struct("
                    "'chars', CAST(get_json_object(payload, '$.chars')"
                    " AS BIGINT) * 2, "
                    "'lang', get_json_object(payload, '$.lang'), "
                    "'patched', true))"
                )
            },
            timestamp_ms=_T0 + 2000,
        )
        update_where(
            spark, root, "doc_id % 7 = 3",
            {"doc_id": "doc_id + 1000000"},
            timestamp_ms=_T0 + 3000, mode="copy-on-write",
        )

    root = os.path.join(_build("vardml", sf_dir, build), "t")
    return _resolved(
        spark,
        f"SELECT doc_id, payload FROM iceberg_scan('{root}')",
    )


@register(
    "iceberg_ns_dml_scan",
    oracle="""
        WITH alive AS (
            SELECT event_id, ts, event_type FROM events
            WHERE NOT (event_id % 9 = 0)
        ),
        upd AS (
            SELECT CASE WHEN event_id % 11 = 0
                        THEN event_id + 10000000
                        ELSE event_id END AS event_id,
                   ts, event_type
            FROM alive
        )
        SELECT event_type,
               date_trunc('hour', ts) AS hr,
               count(*) AS n,
               min(ts) AS first_ts,
               max(ts) AS last_ts,
               CAST(sum(event_id) AS BIGINT) AS id_sum
        FROM upd
        GROUP BY event_type, hr
    """,
    tags=("iceberg", "v3", "timestamp-ns", "dml"),
)
def iceberg_ns_dml_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level DML over a NANOSECOND-timestamp table driver-checked
    (r13, VERDICT r12 #5): the fixture re-encodes events at ns
    precision with a sub-µs residue (``ts·1000 + event_id % 1000``),
    then a MOR DELETE and a MOR UPDATE (id shift) land; the scan's
    µs-truncating surface must reproduce the ORIGINAL µs values for
    every surviving row — possible only if the rewrite carried the raw
    ns longs physically (a µs-routed write would have zeroed residues
    AND shifted nothing, a 1000× misscale breaks every group).

    Scale shape: the DELETE writes DVs only; the UPDATE's rewritten
    rows are written by pyarrow on the executors so the files keep the
    ns logical type (``_write_data_files_arrow_ns``)."""
    from cloudfloe_spark.sources import iceberg_meta as im
    from cloudfloe_spark.sources.iceberg_fixture import LocalIcebergTable
    from cloudfloe_spark.sources.maintenance import (
        delete_where,
        update_where,
    )

    def build(parent: str) -> None:
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        root = os.path.join(parent, "t")
        tbl = pq.read_table(
            os.path.join(sf_dir, "events.parquet"),
            columns=["event_id", "ts", "event_type"],
        ).sort_by("event_id")
        us = tbl["ts"].cast(pa.timestamp("us")).cast(pa.int64())
        residue = pc.subtract(
            tbl["event_id"],
            pc.multiply(
                pc.divide(tbl["event_id"], pa.scalar(1000, pa.int64())),
                pa.scalar(1000, pa.int64()),
            ),
        )
        ns = pc.add(pc.multiply(us, pa.scalar(1000, pa.int64())), residue)
        out = pa.table(
            {
                "event_id": tbl["event_id"],
                "ts": ns.cast(pa.timestamp("ns")),
                "event_type": tbl["event_type"],
            }
        )
        t = LocalIcebergTable(root, out.schema)
        t.append_snapshot([out], timestamp_ms=_T0)
        assert im.load_metadata(root)["format-version"] == 3
        delete_where(
            spark, root, "event_id % 9 = 0", timestamp_ms=_T0 + 1000
        )
        update_where(
            spark, root, "event_id % 11 = 0",
            {"event_id": "event_id + 10000000"},
            timestamp_ms=_T0 + 2000,
        )

    root = os.path.join(_build("nsdml", sf_dir, build, table="events"), "t")
    return _resolved(
        spark,
        "SELECT event_type, date_trunc('hour', ts) AS hr, "
        "count(*) AS n, min(ts) AS first_ts, max(ts) AS last_ts, "
        "sum(event_id) AS id_sum "
        f"FROM iceberg_scan('{root}') GROUP BY event_type, hr",
    )


@register(
    "iceberg_variant_typed_pushdown",
    oracle="""
        SELECT lang,
               count(*) AS n,
               CAST(sum(n_chars) AS BIGINT) AS chars,
               CAST(sum(CASE WHEN n_chars > 2000 THEN 1 ELSE 0 END)
                    AS BIGINT) AS big
        FROM documents
        GROUP BY lang
    """,
    tags=("iceberg", "v3", "variant", "shredded", "pushdown"),
)
def iceberg_variant_typed_pushdown(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Shredded typed-path projection PUSHDOWN driver-checked (r13,
    VERDICT r12 #2): the documents table is written as a TYPED-ONLY
    shredded variant (no residual ``value`` anywhere — the perfectly-
    shredding-writer layout), and every ``variant_get`` here is served
    from the NATIVE parquet subcolumn: the resolver factors the
    extractions into hidden scan columns, the plan carries ZERO Python
    stages, and the FileScan's ReadSchema prunes to exactly the typed
    leaves (asserted in ``tests/test_variant_typed_pushdown.py`` /
    ``tests/test_plan_audits.py``). At 100 TB this is the difference
    between an Arrow decode of every row and a columnar subfield scan.

    Scale shape: identical to a plain two-column scan-agg — SCALING
    probe ``variant_typed_pushdown_agg``."""
    from cloudfloe_spark.functions.variant import shred_rows
    from cloudfloe_spark.sources.iceberg_fixture import LocalIcebergTable

    def build(parent: str) -> None:
        import pyarrow as pa

        root = os.path.join(parent, "t")
        tbl = _docs(sf_dir, ["doc_id", "lang", "n_chars"])
        rows = tbl.to_pylist()
        shred = {
            "kind": "object",
            "fields": {
                "lang": {"value": False, "typed": {"kind": "string"}},
                "chars": {"value": False, "typed": {"kind": "int"}},
            },
        }
        col = shred_rows(
            [
                {"lang": r["lang"], "chars": r["n_chars"]}
                for r in rows
            ],
            shred,
            top_value=False,
        )
        data = pa.table(
            {
                "doc_id": pa.array(
                    [r["doc_id"] for r in rows], pa.int64()
                ),
                "payload": col,
            }
        )
        t = LocalIcebergTable(root, data.schema, variant_cols=("payload",))
        t.append_snapshot([data], timestamp_ms=_T0)

    root = os.path.join(_build("vtyped", sf_dir, build), "t")
    return _resolved(
        spark,
        "SELECT variant_get(parse_json(payload), '$.lang', 'string') "
        "AS lang, count(*) AS n, "
        "sum(variant_get(parse_json(payload), '$.chars', 'bigint')) "
        "AS chars, "
        "sum(CASE WHEN variant_get(parse_json(payload), '$.chars', "
        "'bigint') > 2000 THEN 1 ELSE 0 END) AS big "
        f"FROM iceberg_scan('{root}') GROUP BY lang",
    )


@register(
    "iceberg_shredded_compaction_scan",
    oracle="""
        SELECT doc_id,
               '{"chars":' || CAST(n_chars AS VARCHAR)
               || ',"lang":"' || lang || '"}' AS payload
        FROM documents
        WHERE NOT (n_chars % 11 = 0)
    """,
    tags=("iceberg", "v3", "variant", "shredded", "compaction"),
)
def iceberg_shredded_compaction_scan(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Layout-NORMALIZING compaction driver-checked (r13, VERDICT r12
    #3): the even docs land as SHREDDED variant files (typed_value +
    residual), the odd docs as UNSHREDDED, a MOR DELETE marks the
    ``chars % 11`` rows, then ``compact_iceberg_table`` reassembles
    each shredded row's VALUE TREE and re-encodes it unshredded — the
    fixture asserts every live file is (metadata, value)-only and the
    scan must reproduce the exact canonical JSON the mixed layout
    produced (deletes folded in by the rewrite).

    Scale shape: one distributed rewrite; the shredded groups pay one
    Arrow reassemble+re-encode pass, the unshredded groups pass their
    structs through verbatim (`sources/maintenance.py`
    compact_iceberg_table)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from cloudfloe_spark.functions.variant import encode_variant, shred_rows
    from cloudfloe_spark.sources import iceberg_meta as im
    from cloudfloe_spark.sources.iceberg_fixture import LocalIcebergTable
    from cloudfloe_spark.sources.maintenance import (
        compact_iceberg_table,
    )

    def build(parent: str) -> None:
        root = os.path.join(parent, "t")
        tbl = _docs(sf_dir, ["doc_id", "lang", "n_chars"])
        rows = tbl.to_pylist()
        even = [r for r in rows if r["doc_id"] % 2 == 0]
        odd = [r for r in rows if r["doc_id"] % 2 == 1]
        shred = {
            "kind": "object",
            "fields": {
                "lang": {"value": True, "typed": {"kind": "string"}},
                "chars": {"value": True, "typed": {"kind": "int"}},
            },
        }
        shred_col = shred_rows(
            [{"lang": r["lang"], "chars": r["n_chars"]} for r in even],
            shred,
        )
        vt = pa.struct([("metadata", pa.binary()), ("value", pa.binary())])
        plain_col = pa.array(
            [
                dict(
                    zip(
                        ("metadata", "value"),
                        encode_variant(
                            {"lang": r["lang"], "chars": r["n_chars"]}
                        ),
                    )
                )
                for r in odd
            ],
            vt,
        )
        t = LocalIcebergTable(
            root,
            pa.schema(
                [("doc_id", pa.int64()), ("payload", shred_col.type)]
            ),
            variant_cols=("payload",),
        )
        t.append_snapshot(
            [
                pa.table(
                    {
                        "doc_id": pa.array(
                            [r["doc_id"] for r in even], pa.int64()
                        ),
                        "payload": shred_col,
                    }
                )
            ],
            timestamp_ms=_T0,
        )
        t.append_snapshot(
            [
                pa.table(
                    {
                        "doc_id": pa.array(
                            [r["doc_id"] for r in odd], pa.int64()
                        ),
                        "payload": plain_col,
                    }
                )
            ],
            timestamp_ms=_T0 + 1000,
        )
        # external position deletes, committed straight to the manifest
        # (not via DML) so this fixture exercises the raw delete-file
        # form regardless of layout; compaction must FOLD these
        snap0 = im.resolve_snapshot(root)
        dels = []
        for p in im.live_data_paths(root, snap0):
            ids = pq.read_table(p, columns=["doc_id"])["doc_id"].to_pylist()
            rows_in = even if ids and ids[0] % 2 == 0 else odd
            dels += [
                (p, pos)
                for pos, r in enumerate(rows_in)
                if r["n_chars"] % 11 == 0
            ]
        assert dels, "fixture needs at least one deletion"
        t.position_delete_snapshot(dels, timestamp_ms=_T0 + 2000)
        compact_iceberg_table(spark, root, timestamp_ms=_T0 + 3000)
        snap = im.resolve_snapshot(root)
        for p in im.live_data_paths(root, snap):
            sch = pq.read_schema(p)
            pt = sch.field("payload").type
            subs = {pt.field(i).name for i in range(pt.num_fields)}
            assert subs == {"metadata", "value"}, subs

    root = os.path.join(_build("shcmp", sf_dir, build), "t")
    return _resolved(
        spark,
        f"SELECT doc_id, payload FROM iceberg_scan('{root}')",
    )


@register(
    "iceberg_v3_branch_dml_scan",
    oracle="""
        WITH alive AS (
            SELECT doc_id, lang, n_chars FROM documents
            WHERE NOT (n_chars % 7 = 0)
        )
        SELECT doc_id,
               CASE WHEN doc_id % 4 = 0 THEN
                   '{"audited":true,"chars":' || CAST(n_chars AS VARCHAR)
                   || ',"lang":"' || lang || '"}'
               ELSE
                   '{"chars":' || CAST(n_chars AS VARCHAR)
                   || ',"lang":"' || lang || '"}'
               END AS payload
        FROM alive
    """,
    tags=("iceberg", "v3", "variant", "dml", "branch", "wap"),
)
def iceberg_v3_branch_dml_scan(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Branch-targeted v3 DML — write-audit-publish — driver-checked
    (r14, VERDICT r13 #3): a MOR DELETE (``chars % 7 = 0``) and a MOR
    UPDATE (``doc_id % 4 = 0`` gains an audited flag) stage DELETION
    VECTORS and the update's row delta against a branch ref on a
    row-lineage VARIANT table; the fixture asserts main is UNTOUCHED
    through both staged commits (the audit gate), then fast-forward
    publishes. The scan reads main after publish; the oracle is the
    JSON twin of the audited state.

    Scale shape: identical to main-targeted v3 DML — DVs carry only
    coordinates, the update write is match-sized; the publish is a
    metadata-only fast-forward (`sources/iceberg_fixture.py`
    ``commit_deletion_vector_snapshot(parent_ref=...)`` /
    ``publish_ref``)."""
    import pyarrow as pa

    from cloudfloe_spark.functions.variant import encode_variant
    from cloudfloe_spark.sources import iceberg_meta as im
    from cloudfloe_spark.sources.iceberg_fixture import (
        LocalIcebergTable,
        publish_ref,
        set_ref,
    )
    from cloudfloe_spark.sources.maintenance import (
        delete_where,
        update_where,
    )

    def build(parent: str) -> None:
        root = os.path.join(parent, "t")
        tbl = _docs(sf_dir, ["doc_id", "lang", "n_chars"])
        rows = tbl.to_pylist()
        vt = pa.struct([("metadata", pa.binary()), ("value", pa.binary())])
        col = pa.array(
            [
                dict(
                    zip(
                        ("metadata", "value"),
                        encode_variant(
                            {"lang": r["lang"], "chars": r["n_chars"]}
                        ),
                    )
                )
                for r in rows
            ],
            vt,
        )
        data = pa.table(
            {
                "doc_id": pa.array(
                    [r["doc_id"] for r in rows], pa.int64()
                ),
                "payload": col,
            }
        )
        t = LocalIcebergTable(
            root, data.schema, variant_cols=("payload",),
            row_lineage=True,
        )
        t.append_snapshot([data], timestamp_ms=_T0)
        s0 = im.resolve_snapshot(root)["snapshot-id"]
        set_ref(root, "wap", s0, ref_type="branch",
                timestamp_ms=_T0 + 100)
        delete_where(
            spark, root,
            "CAST(get_json_object(payload, '$.chars') AS BIGINT) % 7 = 0",
            timestamp_ms=_T0 + 1000, ref="wap",
        )
        # the audit gate: main still shows every row after the staged
        # delete (the whole point of WAP)
        assert (
            im.resolve_snapshot(root)["snapshot-id"] == s0
        ), "staged branch delete moved main"
        update_where(
            spark, root, "doc_id % 4 = 0",
            {
                "payload": (
                    "to_json(named_struct("
                    "'audited', true, "
                    "'chars', CAST(get_json_object(payload, '$.chars')"
                    " AS BIGINT), "
                    "'lang', get_json_object(payload, '$.lang')))"
                )
            },
            timestamp_ms=_T0 + 2000, ref="wap",
        )
        assert (
            im.resolve_snapshot(root)["snapshot-id"] == s0
        ), "staged branch update moved main"
        publish_ref(root, "wap", timestamp_ms=_T0 + 3000)

    root = os.path.join(_build("wapdml", sf_dir, build), "t")
    return _resolved(
        spark,
        f"SELECT doc_id, payload FROM iceberg_scan('{root}')",
    )


@register(
    "iceberg_shredded_dml_scan",
    oracle="""
        WITH alive AS (
            SELECT doc_id, lang, n_chars FROM documents
            WHERE NOT (n_chars % 9 = 0)
        )
        SELECT doc_id,
               CASE WHEN doc_id % 5 = 0 THEN
                   '{"chars":' || CAST(n_chars * 2 AS VARCHAR)
                   || ',"lang":"' || lang || '","patched":true}'
               ELSE
                   '{"chars":' || CAST(n_chars AS VARCHAR)
                   || ',"lang":"' || lang || '"}'
               END AS payload
        FROM alive
    """,
    tags=("iceberg", "v3", "variant", "shredded", "dml"),
)
def iceberg_shredded_dml_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level DML over a MIXED-LAYOUT variant table driver-checked
    (r14, VERDICT r13 #1): the even docs land as SHREDDED variant files
    (typed_value subcolumns + residual), the odd docs as UNSHREDDED,
    then a MOR DELETE whose predicate reads the reassembled surface
    (``chars % 9 = 0``) commits ONLY deletion vectors — the fixture
    asserts the live data-file set is untouched, the one-row-delete-
    costs-a-full-rewrite gap this round closed — and a MOR UPDATE
    (``doc_id % 5 = 0`` doubles chars, adds a flag) re-encodes exactly
    the matched rows, landing them unshredded while untouched shredded
    files stay byte-intact. The oracle rebuilds the canonical-JSON twin
    in SQL across both physical layouts.

    Scale shape: the DELETE is one decode pass over the stats-pruned
    candidates plus a match-sized coordinate shuffle (zero re-encode,
    zero data files); the UPDATE's reassemble→re-encode runs only on
    candidate-file rows and its write is match-sized
    (`sources/maintenance.py` ``_dml_raw_scan`` / ``_shred_group_scan``).
    """
    import pyarrow as pa

    from cloudfloe_spark.functions.variant import encode_variant, shred_rows
    from cloudfloe_spark.sources import iceberg_meta as im
    from cloudfloe_spark.sources.iceberg_fixture import LocalIcebergTable
    from cloudfloe_spark.sources.maintenance import (
        delete_where,
        update_where,
    )

    def build(parent: str) -> None:
        root = os.path.join(parent, "t")
        tbl = _docs(sf_dir, ["doc_id", "lang", "n_chars"])
        rows = tbl.to_pylist()
        even = [r for r in rows if r["doc_id"] % 2 == 0]
        odd = [r for r in rows if r["doc_id"] % 2 == 1]
        shred = {
            "kind": "object",
            "fields": {
                "lang": {"value": True, "typed": {"kind": "string"}},
                "chars": {"value": True, "typed": {"kind": "int"}},
            },
        }
        shred_col = shred_rows(
            [{"lang": r["lang"], "chars": r["n_chars"]} for r in even],
            shred,
        )
        vt = pa.struct([("metadata", pa.binary()), ("value", pa.binary())])
        plain_col = pa.array(
            [
                dict(
                    zip(
                        ("metadata", "value"),
                        encode_variant(
                            {"lang": r["lang"], "chars": r["n_chars"]}
                        ),
                    )
                )
                for r in odd
            ],
            vt,
        )
        t = LocalIcebergTable(
            root,
            pa.schema(
                [("doc_id", pa.int64()), ("payload", shred_col.type)]
            ),
            variant_cols=("payload",),
        )
        t.append_snapshot(
            [
                pa.table(
                    {
                        "doc_id": pa.array(
                            [r["doc_id"] for r in even], pa.int64()
                        ),
                        "payload": shred_col,
                    }
                )
            ],
            timestamp_ms=_T0,
        )
        t.append_snapshot(
            [
                pa.table(
                    {
                        "doc_id": pa.array(
                            [r["doc_id"] for r in odd], pa.int64()
                        ),
                        "payload": plain_col,
                    }
                )
            ],
            timestamp_ms=_T0 + 1000,
        )
        live_before = sorted(
            im.live_data_paths(root, im.resolve_snapshot(root))
        )
        delete_where(
            spark, root,
            "CAST(get_json_object(payload, '$.chars') AS BIGINT) % 9 = 0",
            timestamp_ms=_T0 + 2000,
        )
        # the MOR delete wrote ZERO data files — coordinates only
        live_after = sorted(
            im.live_data_paths(root, im.resolve_snapshot(root))
        )
        assert live_after == live_before, "MOR delete rewrote data files"
        update_where(
            spark, root, "doc_id % 5 = 0",
            {
                "payload": (
                    "to_json(named_struct("
                    "'chars', CAST(get_json_object(payload, '$.chars')"
                    " AS BIGINT) * 2, "
                    "'lang', get_json_object(payload, '$.lang'), "
                    "'patched', true))"
                )
            },
            timestamp_ms=_T0 + 3000,
        )

    root = os.path.join(_build("shdml", sf_dir, build), "t")
    return _resolved(
        spark,
        f"SELECT doc_id, payload FROM iceberg_scan('{root}')",
    )


@register(
    "iceberg_shredded_renamed_scan",
    oracle="""
        SELECT doc_id AS document_id,
               7 AS quality,
               '{"chars":' || CAST(n_chars AS VARCHAR)
               || ',"lang":"' || lang || '"}' AS meta
        FROM documents
    """,
    tags=("iceberg", "v3", "variant", "shredded", "evolution"),
)
def iceberg_shredded_renamed_scan(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Schema evolution OVER shredded variant files driver-checked
    (r15, VERDICT r14 #1 — the last substantive v3 read refusal,
    inverted): a mixed-layout table (even docs SHREDDED with
    typed_value subcolumns, odd docs unshredded) then evolves — BOTH
    the key column AND the variant column are renamed (pre-rename
    footers keep the OLD parquet names, so the shred descriptors must
    resolve against write-time names), and a v3 ``initial-default``
    column lands afterwards (every data file predates it, so the
    reader fills the default). Until r14 this read 400'd "not
    supported yet" until a full-table compaction; now each shred group
    renames after delete application and fills post-decode exactly
    like plain groups. The oracle is the canonical-JSON twin over the
    CURRENT names with the default materialized.

    Scale shape: identical to the plain shredded scan — one
    footer-read per file (cached), one Arrow reassembly per group
    below the first exchange; the rename is a zero-cost projection and
    the fill a literal column (`service/iceberg_local.py` shred-group
    loop; `sources/iceberg_meta.py`
    ``variant_shred_groups(resolve_renames=True)``).

    Reference parity: cloudfloe reads any Iceberg v3 table its DuckDB
    engine accepts (backend/main.py:274-314); renames are
    metadata-only there too.
    """
    import pyarrow as pa

    from cloudfloe_spark.functions.variant import encode_variant, shred_rows
    from cloudfloe_spark.sources.iceberg_fixture import LocalIcebergTable

    def build(parent: str) -> None:
        root = os.path.join(parent, "t")
        tbl = _docs(sf_dir, ["doc_id", "lang", "n_chars"])
        rows = tbl.to_pylist()
        even = [r for r in rows if r["doc_id"] % 2 == 0]
        odd = [r for r in rows if r["doc_id"] % 2 == 1]
        shred = {
            "kind": "object",
            "fields": {
                "lang": {"value": True, "typed": {"kind": "string"}},
                "chars": {"value": True, "typed": {"kind": "int"}},
            },
        }
        shred_col = shred_rows(
            [{"lang": r["lang"], "chars": r["n_chars"]} for r in even],
            shred,
        )
        vt = pa.struct([("metadata", pa.binary()), ("value", pa.binary())])
        plain_col = pa.array(
            [
                dict(
                    zip(
                        ("metadata", "value"),
                        encode_variant(
                            {"lang": r["lang"], "chars": r["n_chars"]}
                        ),
                    )
                )
                for r in odd
            ],
            vt,
        )
        t = LocalIcebergTable(
            root,
            pa.schema([("id", pa.int64()), ("payload", shred_col.type)]),
            variant_cols=("payload",),
        )
        t.append_snapshot(
            [
                pa.table(
                    {
                        "id": pa.array(
                            [r["doc_id"] for r in even], pa.int64()
                        ),
                        "payload": shred_col,
                    }
                )
            ],
            timestamp_ms=_T0,
        )
        t.append_snapshot(
            [
                pa.table(
                    {
                        "id": pa.array(
                            [r["doc_id"] for r in odd], pa.int64()
                        ),
                        "payload": plain_col,
                    }
                )
            ],
            timestamp_ms=_T0 + 1000,
        )
        t.rename_column("id", "document_id", timestamp_ms=_T0 + 2000)
        t.rename_column("payload", "meta", timestamp_ms=_T0 + 3000)
        t.add_column(
            "quality", pa.int64(), timestamp_ms=_T0 + 4000, default=7
        )

    root = os.path.join(_build("shren", sf_dir, build), "t")
    return _resolved(
        spark,
        f"SELECT document_id, quality, meta FROM iceberg_scan('{root}')",
    )
