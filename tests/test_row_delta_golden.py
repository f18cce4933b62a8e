"""Golden record of every row-level write: for each DML op and mode, the
result dict, the committed snapshot's ``operation`` and summary, each
manifest entry's (status, content, sequence number, file-name prefix)
and the rows the table reads afterwards. The values were recorded from
the per-op implementations the shared row-delta core
(``sources/row_delta.py``) replaced, so any drift in what a DML commit
writes shows up here.

Tiny tables (two data files, six rows), one Spark session."""

from __future__ import annotations

import re

import pyarrow as pa
import pytest

from cloudfloe_spark.sources import iceberg_meta as im
from cloudfloe_spark.sources import maintenance as mt
from cloudfloe_spark.sources.iceberg_fixture import LocalIcebergTable, set_ref

T1 = 1700000000000
T2 = T1 + 1000


def _table(tmp_path, fv: int = 2) -> str:
    root = str(tmp_path / "t")
    t = LocalIcebergTable(
        root, pa.schema([("id", pa.int64()), ("v", pa.string())])
    )
    t.append_snapshot(
        [
            pa.table({"id": [1, 2, 3], "v": ["a", "b", "c"]}),
            pa.table({"id": [4, 5, 6], "v": ["d", "e", "f"]}),
        ],
        timestamp_ms=T1,
    )
    if fv == 3:
        # delete-free v2 → v3 is a metadata-only format bump
        mt.migrate_position_deletes_to_dvs(None, root, timestamp_ms=T1 + 1)
    return root


def _prefix(file_path: str) -> str:
    """The writer-chosen name of a file under ``data/``: its first path
    component without timestamp, uuid and extension (``deletes``,
    ``cow-merge``, ``dv``, ...); the fixture's own data files are
    ``data``."""
    first = file_path.rsplit("/data/", 1)[-1].split("/")[0]
    m = re.match(r"[a-z]+(?:-[a-z]+)*", first)
    return m.group(0) if m else "data"


def _rows(spark, root, ref=None):
    from cloudfloe_spark.service.iceberg_local import resolve_iceberg_reads

    sess = spark.newSession()
    at = f" VERSION AS OF '{ref}'" if ref else ""
    sql = f"SELECT id, v FROM iceberg_scan('{root}'){at}"
    df = sess.sql(resolve_iceberg_reads(sess, sql))
    return sorted(tuple(r) for r in df.collect())


def _digest(spark, root, res, ref=None):
    """Everything a row-level commit decides, with ids, timestamps and
    uuids taken out."""
    meta = im.load_metadata(root)
    head_id = (
        meta["refs"][ref]["snapshot-id"] if ref else meta["current-snapshot-id"]
    )
    head = im.resolve_snapshot(root, version=int(head_id))
    out = dict(res)
    if res.get("snapshot_id") is not None:
        assert res["snapshot_id"] == head_id
        out["snapshot_id"] = "<head>"
    if "delete_files" in out:
        out["delete_files"] = [_prefix(p) for p in out["delete_files"]]
    entries = sorted(
        (
            e["status"],
            (e.get("data_file") or {}).get("content", 0),
            e["sequence_number"],
            _prefix(e["data_file"]["file_path"]),
        )
        for e in im.manifest_entries(root, head)
    )
    return {
        "result": out,
        "summary": dict(head["summary"]),
        "entries": entries,
        "rows": _rows(spark, root, ref),
    }


def _delete(mode, fv=2):
    def run(spark, root):
        return mt.delete_where(
            spark, root, "id IN (2, 5)", timestamp_ms=T2, mode=mode
        )

    return fv, run


def _update(mode, fv=2):
    def run(spark, root):
        return mt.update_where(
            spark, root, "id >= 5", {"v": "upper(v)"}, timestamp_ms=T2,
            mode=mode,
        )

    return fv, run


def _merge(mode):
    def run(spark, root):
        src = spark.createDataFrame([(1, "A"), (7, "G")], "id LONG, v STRING")
        return mt.merge_into(
            spark, root, src, ["id"], when_matched={"v": "s.v"},
            when_not_matched_by_source="delete",
            not_matched_by_source_condition="t.id > 4",
            timestamp_ms=T2, mode=mode,
        )

    return 2, run


def _changelog(retract: bool):
    def run(spark, root):
        rows = [(7, "g", "insert")]
        if retract:
            rows += [
                (2, "b", "delete"),
                (3, "c", "update_preimage"),
                (3, "C", "update_postimage"),
            ]
        changes = spark.createDataFrame(
            rows, "id LONG, v STRING, _change_type STRING"
        )
        return mt.apply_changelog(
            spark, root, changes, ["id"], timestamp_ms=T2,
            changelog_id="src:1:2",
        )

    return 2, run


def _by_key():
    def run(spark, root):
        return mt.delete_by_key(root, "id", [1, 4], timestamp_ms=T2)

    return 2, run


def _on_branch():
    def run(spark, root):
        set_ref(
            root, "audit", im.resolve_snapshot(root)["snapshot-id"],
            ref_type="branch", timestamp_ms=T1 + 500,
        )
        return mt.update_where(
            spark, root, "id = 1", {"v": "'Z'"}, timestamp_ms=T2, ref="audit"
        )

    return 2, run


CASES = {
    "delete-v2-mor": _delete("merge-on-read"),
    "delete-v2-cow": _delete("copy-on-write"),
    "delete-v3-dv": _delete("merge-on-read", fv=3),
    "update-v2-mor": _update("merge-on-read"),
    "update-v2-cow": _update("copy-on-write"),
    "update-v3-dv": _update("merge-on-read", fv=3),
    "merge-mor": _merge("merge-on-read"),
    "merge-cow": _merge("copy-on-write"),
    "changelog-insert-only": _changelog(False),
    "changelog-retract": _changelog(True),
    "delete-by-key": _by_key(),
    "update-on-branch": _on_branch(),
}

GOLDEN = {'changelog-insert-only': {'result': {'retracted': 0,
                                      'inserted': 1,
                                      'snapshot_id': '<head>'},
                           'summary': {'operation': 'append',
                                       'total-records': '7',
                                       'total-data-files': '3',
                                       'total-delete-files': '0',
                                       'changelog-id': 'src:1:2'},
                           'entries': [(1, 0, 1, 'data'),
                                       (1, 0, 1, 'data'),
                                       (1, 0, 2, 'changelog')],
                           'rows': [(1, 'a'),
                                    (2, 'b'),
                                    (3, 'c'),
                                    (4, 'd'),
                                    (5, 'e'),
                                    (6, 'f'),
                                    (7, 'g')]},
 'changelog-retract': {'result': {'retracted': 2,
                                  'inserted': 2,
                                  'snapshot_id': '<head>'},
                       'summary': {'operation': 'overwrite',
                                   'total-records': '8',
                                   'total-data-files': '3',
                                   'total-delete-files': '1',
                                   'changelog-id': 'src:1:2'},
                       'entries': [(1, 0, 1, 'data'),
                                   (1, 0, 1, 'data'),
                                   (1, 0, 2, 'changelog'),
                                   (1, 1, 2, 'deletes')],
                       'rows': [(1, 'a'),
                                (3, 'C'),
                                (4, 'd'),
                                (5, 'e'),
                                (6, 'f'),
                                (7, 'g')]},
 'delete-by-key': {'result': {'values': 2, 'snapshot_id': '<head>'},
                   'summary': {'operation': 'delete',
                               'total-records': '6',
                               'total-data-files': '2',
                               'total-delete-files': '1'},
                   'entries': [(1, 0, 1, 'data'),
                               (1, 0, 1, 'data'),
                               (1, 2, 2, 'edel')],
                   'rows': [(2, 'b'), (3, 'c'), (5, 'e'), (6, 'f')]},
 'delete-v2-cow': {'result': {'matched': 2,
                              'snapshot_id': '<head>',
                              'delete_files': [],
                              'files_scanned': 2,
                              'files_total': 2,
                              'files_rewritten': 2},
                   'summary': {'operation': 'overwrite',
                               'deleted-data-files': '2',
                               'total-records': '4',
                               'total-data-files': '1',
                               'total-delete-files': '0'},
                   'entries': [(1, 0, 2, 'cow'),
                               (2, 0, 1, 'data'),
                               (2, 0, 1, 'data')],
                   'rows': [(1, 'a'), (3, 'c'), (4, 'd'), (6, 'f')]},
 'delete-v2-mor': {'result': {'matched': 2,
                              'snapshot_id': '<head>',
                              'delete_files': ['deletes'],
                              'files_scanned': 2,
                              'files_total': 2},
                   'summary': {'operation': 'delete',
                               'total-records': '6',
                               'total-data-files': '2',
                               'total-delete-files': '1'},
                   'entries': [(1, 0, 1, 'data'),
                               (1, 0, 1, 'data'),
                               (1, 1, 2, 'deletes')],
                   'rows': [(1, 'a'), (3, 'c'), (4, 'd'), (6, 'f')]},
 'delete-v3-dv': {'result': {'matched': 2,
                             'snapshot_id': '<head>',
                             'delete_files': [],
                             'deletion_vectors': 2,
                             'files_scanned': 2,
                             'files_total': 2},
                  'summary': {'operation': 'delete',
                              'added-dvs': '2',
                              'total-data-files': '2'},
                  'entries': [(0, 0, 1, 'data'),
                              (0, 0, 1, 'data'),
                              (1, 1, 2, 'dv'),
                              (1, 1, 2, 'dv')],
                  'rows': [(1, 'a'), (3, 'c'), (4, 'd'), (6, 'f')]},
 'merge-cow': {'result': {'matched': 1,
                          'inserted': 1,
                          'not_matched_by_source': 2,
                          'snapshot_id': '<head>',
                          'files_rewritten': 2},
               'summary': {'operation': 'overwrite',
                           'deleted-data-files': '2',
                           'total-records': '5',
                           'total-data-files': '1',
                           'total-delete-files': '0'},
               'entries': [(1, 0, 2, 'cow-merge'),
                           (2, 0, 1, 'data'),
                           (2, 0, 1, 'data')],
               'rows': [(1, 'A'), (2, 'b'), (3, 'c'), (4, 'd'), (7, 'G')]},
 'merge-mor': {'result': {'matched': 1,
                          'inserted': 1,
                          'not_matched_by_source': 2,
                          'snapshot_id': '<head>'},
               'summary': {'operation': 'overwrite',
                           'total-records': '8',
                           'total-data-files': '3',
                           'total-delete-files': '1'},
               'entries': [(1, 0, 1, 'data'),
                           (1, 0, 1, 'data'),
                           (1, 0, 2, 'merge'),
                           (1, 1, 2, 'deletes')],
               'rows': [(1, 'A'), (2, 'b'), (3, 'c'), (4, 'd'), (7, 'G')]},
 'update-on-branch': {'result': {'matched': 1,
                                 'snapshot_id': '<head>',
                                 'files_scanned': 1,
                                 'files_total': 2},
                      'summary': {'operation': 'overwrite',
                                  'total-records': '7',
                                  'total-data-files': '3',
                                  'total-delete-files': '1'},
                      'entries': [(1, 0, 1, 'data'),
                                  (1, 0, 1, 'data'),
                                  (1, 0, 2, 'update'),
                                  (1, 1, 2, 'deletes')],
                      'rows': [(1, 'Z'),
                               (2, 'b'),
                               (3, 'c'),
                               (4, 'd'),
                               (5, 'e'),
                               (6, 'f')]},
 'update-v2-cow': {'result': {'matched': 2,
                              'snapshot_id': '<head>',
                              'delete_files': [],
                              'files_scanned': 1,
                              'files_total': 2,
                              'files_rewritten': 1},
                   'summary': {'operation': 'overwrite',
                               'deleted-data-files': '1',
                               'total-records': '6',
                               'total-data-files': '2',
                               'total-delete-files': '0'},
                   'entries': [(0, 0, 1, 'data'),
                               (1, 0, 2, 'cow'),
                               (2, 0, 1, 'data')],
                   'rows': [(1, 'a'),
                            (2, 'b'),
                            (3, 'c'),
                            (4, 'd'),
                            (5, 'E'),
                            (6, 'F')]},
 'update-v2-mor': {'result': {'matched': 2,
                              'snapshot_id': '<head>',
                              'files_scanned': 1,
                              'files_total': 2},
                   'summary': {'operation': 'overwrite',
                               'total-records': '8',
                               'total-data-files': '3',
                               'total-delete-files': '1'},
                   'entries': [(1, 0, 1, 'data'),
                               (1, 0, 1, 'data'),
                               (1, 0, 2, 'update'),
                               (1, 1, 2, 'deletes')],
                   'rows': [(1, 'a'),
                            (2, 'b'),
                            (3, 'c'),
                            (4, 'd'),
                            (5, 'E'),
                            (6, 'F')]},
 'update-v3-dv': {'result': {'matched': 2,
                             'snapshot_id': '<head>',
                             'deletion_vectors': 1,
                             'files_scanned': 1,
                             'files_total': 2},
                  'summary': {'operation': 'overwrite',
                              'added-dvs': '1',
                              'total-data-files': '3'},
                  'entries': [(0, 0, 1, 'data'),
                              (0, 0, 1, 'data'),
                              (1, 0, 2, 'update'),
                              (1, 1, 2, 'dv')],
                  'rows': [(1, 'a'),
                           (2, 'b'),
                           (3, 'c'),
                           (4, 'd'),
                           (5, 'E'),
                           (6, 'F')]}}


@pytest.mark.parametrize("case", sorted(CASES))
def test_row_delta_golden(spark, tmp_path, case):
    fv, run = CASES[case]
    root = _table(tmp_path, fv)
    res = run(spark, root)
    ref = "audit" if case == "update-on-branch" else None
    assert _digest(spark, root, res, ref) == GOLDEN[case]
