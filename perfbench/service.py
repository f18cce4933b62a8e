"""The two service workloads: ``svc-read`` and ``svc-mixed``.

Both drive ``POST /api/query`` over real HTTP against
``cloudfloe_spark.service.api.serve_background``. The tables are built at
set-up from the seeded sf0.1 data: ``lineitem`` as 24 append snapshots and
``orders`` partitioned by year of ``o_orderdate``. The read mix is eight
DuckDB-dialect queries with seeded parameters; a client issues them in
blocks that contain each query once (``svc-read`` in a seeded order), so
every run sees the same mix.

``svc-mixed`` interleaves writes to ``lineitem`` with the reads: a merge-on-
read delete, an append through the fixture's external commit, another
delete and a compaction over HTTP, each followed by a ``COUNT(*)``. Every
write publishes a new metadata version.

Every response is checked after the timed window: rows against DuckDB over
the same data (with the benchmark's own record of appends and deletes),
listings against the benchmark's record of snapshots and files.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import os
import random
import threading
import time
import urllib.error
import urllib.request
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field, replace

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from perfbench import datagen
from perfbench.check import duck, rows_match
from perfbench.trace import OP_KEY, job_group

SF = 0.1
SNAPSHOTS = 24
BUILD_REPS = 3
T0_MS = 1_700_000_000_000
BIG_ROWS = 10_000
DELETE_WIDTH = 300  # orderkeys per delete, ~1,200 rows at sf0.1
APPEND_ROWS = 5_000
WRITE_CYCLE = ("delete", "append", "delete", "compact")
COMPACT_TARGET_BYTES = 8 * 1024 * 1024
CONN = {"storageType": "local", "endpoint": "", "accessKey": "", "secretKey": ""}
KINDS = ("preview", "agg", "topk", "timetravel", "prune", "snapshots", "metadata", "big")
_LI_COLS = (
    "l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity, "
    "l_extendedprice, l_discount, l_tax, l_returnflag, l_linestatus, l_shipdate"
)
_BIG_COLS = (
    "l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity, "
    "l_extendedprice, l_shipdate"
)


# -- what the benchmark knows about the lineitem table ------------------------------


@dataclass(frozen=True)
class State:
    """Logical content and layout of ``lineitem`` after some write."""

    version: int
    appends: int  # appended tables included in the content
    deletes: tuple  # (lo, hi) orderkey ranges deleted, disjoint
    snapshot_ids: tuple
    data_files: int
    physical_rows: int
    live_rows: int
    delete_files: int
    deleted_rows: int  # rows referenced by live delete files


@dataclass
class Book:
    base: pa.Table
    state: State
    appended: list = field(default_factory=list)
    alive: np.ndarray = None

    def __post_init__(self) -> None:
        self.alive = np.ones(self.base.num_rows, dtype=bool)
        self._orderkeys = self.base.column("l_orderkey").to_numpy()

    def delete(self, lo: int, hi: int, snap: int, n_files: int) -> int:
        hit = self.alive & (self._orderkeys >= lo) & (self._orderkeys <= hi)
        n = int(hit.sum())
        self.alive &= ~hit
        s = self.state
        self.state = replace(
            s,
            version=s.version + 1,
            deletes=s.deletes + ((lo, hi),),
            snapshot_ids=s.snapshot_ids + (snap,),
            live_rows=s.live_rows - n,
            delete_files=s.delete_files + n_files,
            deleted_rows=s.deleted_rows + n,
        )
        return n

    def append(self, t: pa.Table, snap: int) -> None:
        self.appended.append(t)
        s = self.state
        self.state = replace(
            s,
            version=s.version + 1,
            appends=s.appends + 1,
            snapshot_ids=s.snapshot_ids + (snap,),
            data_files=s.data_files + 1,
            physical_rows=s.physical_rows + t.num_rows,
            live_rows=s.live_rows + t.num_rows,
        )

    def compact(self, snap: int, files_after: int) -> None:
        s = self.state
        self.state = replace(
            s,
            version=s.version + 1,
            snapshot_ids=s.snapshot_ids + (snap,),
            data_files=files_after,
            physical_rows=s.live_rows,
            delete_files=0,
            deleted_rows=0,
        )


# -- the read mix --------------------------------------------------------------------


@dataclass(frozen=True)
class Params:
    agg_date: str
    topk_qty: int
    tt_snapshot: int  # 1-based index into the initial snapshots
    prune_year: int
    big_supp: int


def draw_params(seed: int) -> Params:
    rng = random.Random(f"params:{seed}")
    return Params(
        agg_date=f"{rng.randint(1997, 2000)}-{rng.randint(1, 12):02d}-01",
        topk_qty=rng.randint(40, 48),
        tt_snapshot=rng.randint(4, 20),
        prune_year=rng.randint(1996, 2000),
        big_supp=rng.randint(18, 24),
    )


def read_sql(kind: str, p: Params, li: str, orders: str, tt_id: int) -> str:
    """Service SQL of one read; ``li``/``orders`` are table expressions
    (``iceberg_scan('<root>')`` for the service, a view for DuckDB)."""
    return {
        "preview": f"SELECT {_LI_COLS} FROM {li} ORDER BY {_LI_COLS} LIMIT 20",
        "agg": (
            "SELECT l_returnflag, l_linestatus, COUNT(*) AS n, "
            "SUM(l_quantity) AS qty, SUM(l_extendedprice) AS rev, "
            f"AVG(l_discount) AS disc FROM {li} "
            f"WHERE l_shipdate <= TIMESTAMP '{p.agg_date}' "
            "GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus"
        ),
        # an integer threshold, so the comparison is exact in both engines
        "topk": (
            f"SELECT l_orderkey, l_partkey, l_extendedprice FROM {li} "
            f"WHERE l_quantity > {p.topk_qty} "
            "ORDER BY l_extendedprice DESC, l_orderkey, l_partkey LIMIT 10"
        ),
        "timetravel": (
            "SELECT COUNT(*) AS n, SUM(l_quantity) AS qty "
            f"FROM {li}" + (f" VERSION AS OF {tt_id}" if tt_id else "")
        ),
        "prune": (
            "SELECT o_orderpriority, COUNT(*) AS n, SUM(o_totalprice) AS total "
            f"FROM {orders} WHERE o_orderdate >= TIMESTAMP '{p.prune_year}-01-01' "
            f"AND o_orderdate < TIMESTAMP '{p.prune_year + 1}-01-01' "
            "GROUP BY o_orderpriority ORDER BY o_orderpriority"
        ),
        "snapshots": (
            "SELECT snapshot_id, sequence_number "
            f"FROM iceberg_snapshots({li[len('iceberg_scan('):-1]}) "
            "ORDER BY sequence_number"
            if li.startswith("iceberg_scan(")
            else ""
        ),
        "metadata": (
            "SELECT manifest_content, COUNT(*) AS files, SUM(record_count) AS records "
            f"FROM iceberg_metadata({li[len('iceberg_scan('):-1]}) "
            "WHERE status <> 'DELETED' GROUP BY manifest_content ORDER BY manifest_content"
            if li.startswith("iceberg_scan(")
            else ""
        ),
        "big": f"SELECT {_BIG_COLS} FROM {li} WHERE l_suppkey < {p.big_supp} "
        f"ORDER BY {_BIG_COLS}",
        "count": f"SELECT COUNT(*) AS n FROM {li}",
    }[kind]


class Expected:
    """Expected result of a read at a :class:`State`, computed by DuckDB
    over the generated data (memoized per kind and state version)."""

    def __init__(self, book: Book, orders: pa.Table, p: Params, tmp_dir: str) -> None:
        self.book, self.p = book, p
        self.con = duck(tmp_dir)
        self._memo: dict = {}
        n = book.base.num_rows
        self.con.register("li_base", book.base)
        self.con.register("orders_t", orders)
        self.con.register(
            "li_tt", book.base.slice(0, n * p.tt_snapshot // SNAPSHOTS)
        )

    def rows(self, kind: str, st: State) -> "tuple[list, list]":
        key = (kind, st.version)
        if key in self._memo:
            return self._memo[key]
        if kind == "snapshots":
            out = (
                ["snapshot_id", "sequence_number"],
                [[sid, i + 1] for i, sid in enumerate(st.snapshot_ids)],
            )
        elif kind == "metadata":
            rows = [["DATA", st.data_files, st.physical_rows]]
            if st.delete_files:
                rows.append(["DELETE", st.delete_files, st.deleted_rows])
            out = (["manifest_content", "files", "records"], rows)
        else:
            parts = ["SELECT * FROM li_base"]
            for i in range(st.appends):
                name = f"li_app{i}"
                self.con.register(name, self.book.appended[i])
                parts.append(f"SELECT * FROM {name}")
            where = " AND ".join(
                f"NOT (l_orderkey BETWEEN {lo} AND {hi})" for lo, hi in st.deletes
            )
            self.con.execute(
                "CREATE OR REPLACE TEMP VIEW li_cur AS SELECT * FROM ("
                + " UNION ALL ".join(parts)
                + ")"
                + (f" WHERE {where}" if where else "")
            )
            li = "li_tt" if kind == "timetravel" else "li_cur"
            sql = read_sql(kind, self.p, li, "orders_t", 0)
            if kind == "big":
                sql += f" LIMIT {BIG_ROWS}"
            cur = self.con.execute(sql)
            out = ([d[0] for d in cur.description], [list(r) for r in cur.fetchall()])
        self._memo[key] = out
        return out


# -- HTTP client ---------------------------------------------------------------------


def post(port: int, path: str, payload: dict) -> "tuple[int, dict]":
    req = urllib.request.Request(
        f"http://127.0.0.1:{port}{path}",
        data=json.dumps(payload).encode(),
        headers={"Content-Type": "application/json"},
        method="POST",
    )
    try:
        with urllib.request.urlopen(req, timeout=120) as r:
            return r.status, json.loads(r.read())
    except urllib.error.HTTPError as e:
        return e.code, json.loads(e.read() or b"{}")


@dataclass
class Op:
    op_id: str
    kind: str
    ms: float
    status: int
    body: dict
    state: "State | None" = None
    ok: bool = True  # write-side checks


# -- the workloads -----------------------------------------------------------------


class ServiceWorkload:
    """Shared set-up: tables, server, expected results."""

    clients = 1

    def __init__(self, seed: int, work: str) -> None:
        self.spark, self.seed, self.work = None, seed, work
        self.p = draw_params(seed)
        self.server = None
        self.copies: list[dict] = []
        self.op_seq = 0
        self._lock = threading.Lock()

    # set-up ----------------------------------------------------------------

    def _build(self, rep: int) -> dict:
        from cloudfloe_spark.sources.iceberg_fixture import LocalIcebergTable

        tabs = datagen.generate(self.seed, SF, ("orders", "lineitem"))
        li, orders = tabs["lineitem"], tabs["orders"]
        root = os.path.join(self.work, f"copy{rep}")
        li_root = os.path.join(root, "lineitem")
        t = LocalIcebergTable(li_root, li.schema)
        n = li.num_rows
        snaps = []
        for i in range(SNAPSHOTS):
            lo, hi = n * i // SNAPSHOTS, n * (i + 1) // SNAPSHOTS
            snaps.append(t.append_snapshot([li.slice(lo, hi - lo)], timestamp_ms=T0_MS + i))
        o_root = os.path.join(root, "orders")
        LocalIcebergTable(o_root, orders.schema, partition_by=("o_orderdate", "year")).append_snapshot(
            [orders], timestamp_ms=T0_MS
        )
        state = State(
            version=0, appends=0, deletes=(), snapshot_ids=tuple(snaps),
            data_files=SNAPSHOTS, physical_rows=n, live_rows=n,
            delete_files=0, deleted_rows=0,
        )
        return {
            "li": li_root, "orders": o_root, "book": Book(li, state),
            "orders_t": orders, "n_orders": orders.num_rows,
        }

    def prepare(self) -> "list[float]":
        """Build ``BUILD_REPS`` copies of the tables; returns their times."""
        reps = []
        for r in range(BUILD_REPS):
            t0 = time.perf_counter()
            self.copies.append(self._build(r))
            reps.append(time.perf_counter() - t0)
        return reps

    def setup(self, spark) -> float:
        """Start the server and warm up; returns seconds."""
        from cloudfloe_spark.service.api import serve_background

        self.spark = spark
        t0 = time.perf_counter()
        self.server, self.port = serve_background(spark)
        self.warm_up()
        return time.perf_counter() - t0

    def groups(self, op_ids) -> "dict[str, list[str]]":
        return {o: [o] for o in op_ids}

    def per_entry(self, tracer, ops) -> "dict[str, float]":
        return {}

    def close(self) -> None:
        if self.server is not None:
            self.server.shutdown()
            self.server.server_close()

    # ops -------------------------------------------------------------------

    def _op_id(self, tag: str) -> str:
        with self._lock:
            self.op_seq += 1
            return f"{tag}{self.op_seq}"

    def read(self, kind: str, c: dict, tracer) -> Op:
        book = c["book"]
        tt_id = book.state.snapshot_ids[self.p.tt_snapshot - 1]
        sql = read_sql(kind, self.p, f"iceberg_scan('{c['li']}')", f"iceberg_scan('{c['orders']}')", tt_id)
        payload = {"sql": sql, "connection": CONN, "rowLimit": BIG_ROWS if kind == "big" else 1000}
        op_id = self._op_id("r")
        state = book.state
        if tracer is None:
            t0 = time.perf_counter()
            status, body = post(self.port, "/api/query", payload)
            ms = (time.perf_counter() - t0) * 1000
        else:
            payload[OP_KEY] = op_id
            with tracer.op(op_id):
                tracer.count("iceberg_meta.live_delete_files", state.delete_files)
                t0 = time.perf_counter()
                with tracer.span("api.http"):
                    status, body = post(self.port, "/api/query", payload)
                ms = (time.perf_counter() - t0) * 1000
        return Op(op_id, kind, ms, status, body, state)

    # checking ----------------------------------------------------------------

    def check(self, ops: "list[Op]", c: dict) -> int:
        """Number of failed or wrong ops."""
        exp = Expected(c["book"], c["orders_t"], self.p, os.path.join(self.work, "tmp"))
        bad = 0
        for op in ops:
            if op.status != 200 or not op.ok:
                bad += 1
                continue
            if op.state is None:  # a write, checked when it ran
                continue
            cols, rows = exp.rows(op.kind, op.state)
            ordered = op.kind not in ("agg", "prune", "metadata")
            if op.body.get("columns") != cols or not rows_match(
                op.body.get("rows", []), rows, ordered=ordered
            ):
                bad += 1
        exp.con.close()
        return bad


class SvcRead(ServiceWorkload):
    """Closed loop, two clients, immutable tables. Each client runs at
    least ``MIN_BLOCKS`` blocks, so a run always has ``min_samples`` reads
    (see stats.tail_percentile)."""

    clients = 2
    MIN_BLOCKS = 3
    min_samples = MIN_BLOCKS * len(KINDS) * clients

    def warm_up(self) -> None:
        c = self.copies[0]
        with ThreadPoolExecutor(self.clients) as pool:
            list(pool.map(lambda kind: self.read(kind, c, None), KINDS))

    def window(self, seconds: float, tracer, copy: int) -> dict:
        c = self.copies[0]  # read-only: every window reads the same copy
        ops: list[Op] = []
        errors: list[BaseException] = []
        t0 = time.perf_counter()

        def client(i: int) -> None:
            rng = random.Random(f"order:{self.seed}:{copy}:{i}")
            try:
                for n_block in itertools.count(1):
                    block = list(KINDS)
                    rng.shuffle(block)
                    for kind in block:
                        op = self.read(kind, c, tracer)
                        with self._lock:
                            ops.append(op)
                    if n_block >= self.MIN_BLOCKS and time.perf_counter() - t0 >= seconds:
                        return
            except BaseException as e:  # reported after join
                errors.append(e)

        threads = [threading.Thread(target=client, args=(i,)) for i in range(self.clients)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        wall = time.perf_counter() - t0
        if errors:
            raise errors[0]
        return summarize(ops, [], wall, self.check(ops, c))


def mixed_schedule(seed: int, copy: int, n_orders: int, n_rows: int):
    """The ``svc-mixed`` schedule: an endless sequence of rounds, each a
    list of ``(op, arg)`` steps, deterministic in its arguments. A round is
    the four writes of WRITE_CYCLE, each followed by a ``COUNT(*)`` and two
    reads of the mix; its eight mix reads cover every kind once, always in
    the order of KINDS. A read's cost depends on the writes before it
    (pending delete files, a fresh compaction), so a fixed order keeps the
    seed from changing the work. A delete's arg is the first orderkey of
    its range (the ranges are disjoint and never reused), an append's the
    first base row of the slice it appends."""
    rng = random.Random(f"mixed:{seed}:{copy}")
    chunks = list(range(n_orders // DELETE_WIDTH))
    rng.shuffle(chunks)
    deletes = iter(chunks)
    while True:
        steps = []
        for j, w in enumerate(WRITE_CYCLE):
            if w == "delete":
                arg = next(deletes) * DELETE_WIDTH
            elif w == "append":
                arg = rng.randrange(n_rows - APPEND_ROWS)
            else:
                arg = None
            steps += [(w, arg), ("count", None)]
            steps += [(k, None) for k in KINDS[2 * j : 2 * j + 2]]
        yield steps


class SvcMixed(ServiceWorkload):
    """Closed loop, one client, running :func:`mixed_schedule` on its own
    copy of the tables: warm-up runs one round on the last copy, and each
    timed window at least ``MIN_ROUNDS`` whole rounds on the copy it is
    given."""

    MIN_ROUNDS = 2
    min_samples = MIN_ROUNDS * (len(WRITE_CYCLE) + len(KINDS))

    def _schedule(self, c: dict, tag):
        return mixed_schedule(self.seed, tag, c["n_orders"], c["book"].base.num_rows)

    def warm_up(self) -> None:
        c = self.copies[-1]
        self._round(next(self._schedule(c, "warm")), c, None, [], [])

    def _round(self, steps, c: dict, tracer, ops: list, writes: list) -> None:
        for op, arg in steps:
            if op in WRITE_CYCLE:
                writes.append(self.write(op, arg, c, tracer))
            else:
                ops.append(self.read(op, c, tracer))

    def write(self, kind: str, arg, c: dict, tracer) -> Op:
        op_id = self._op_id("w")
        ctx = tracer.op(op_id) if tracer is not None else contextlib.nullcontext()
        with ctx:
            if tracer is not None:
                tracer.count("iceberg_meta.live_delete_files", c["book"].state.delete_files)
            t0 = time.perf_counter()
            with job_group(self.spark.sparkContext, op_id if tracer else None):
                status, body, ok = getattr(self, f"_{kind}")(c, arg, op_id, tracer)
            ms = (time.perf_counter() - t0) * 1000
        return Op(op_id, kind, ms, status, body, None, ok)

    def _ts(self, c: dict) -> int:
        return T0_MS + 1000 * len(c["book"].state.snapshot_ids)

    def _delete(self, c, lo, op_id, tracer):
        from cloudfloe_spark.sources.maintenance import delete_where

        book = c["book"]
        hi = lo + DELETE_WIDTH - 1
        res = delete_where(
            self.spark, c["li"], f"l_orderkey BETWEEN {lo} AND {hi}",
            timestamp_ms=self._ts(c),
        )
        n = book.delete(lo, hi, res["snapshot_id"], len(res["delete_files"]))
        return 200, res, res["matched"] == n

    def _append(self, c, start, op_id, tracer):
        from cloudfloe_spark.sources.iceberg_fixture import commit_row_delta_snapshot

        book = c["book"]
        t = book.base.slice(start, APPEND_ROWS)
        # new orders only: no earlier delete range can match appended rows
        shift = c["n_orders"] * (1 + len(book.appended))
        keys = pc.add(t.column("l_orderkey"), shift)
        t = t.set_column(0, "l_orderkey", keys)
        path = os.path.join(c["li"], "data", f"bench-append-{len(book.appended):04d}.parquet")
        pq.write_table(t, path)
        snap = commit_row_delta_snapshot(
            c["li"], new_data_files=[(path, t.num_rows)], timestamp_ms=self._ts(c)
        )
        book.append(t, snap)
        return 200, {"snapshotId": snap}, True

    def _compact(self, c, _arg, op_id, tracer):
        payload = {
            "connection": dict(CONN, tablePath=c["li"]),
            "targetFileBytes": COMPACT_TARGET_BYTES,
        }
        if tracer is not None:
            payload[OP_KEY] = op_id
        status, body = post(self.port, "/api/maintenance/compact", payload)
        book = c["book"]
        if status != 200:
            return status, body, False
        ok = body.get("rows") == book.state.live_rows
        book.compact(int(body["snapshotId"]), int(body["filesAfter"]))
        return status, body, ok

    def window(self, seconds: float, tracer, copy: int) -> dict:
        c = self.copies[copy]
        ops: list[Op] = []
        writes: list[Op] = []
        t0 = time.perf_counter()
        for n_round, steps in enumerate(self._schedule(c, copy), 1):
            self._round(steps, c, tracer, ops, writes)
            if n_round >= self.MIN_ROUNDS and time.perf_counter() - t0 >= seconds:
                break
        wall = time.perf_counter() - t0
        return summarize(ops, writes, wall, self.check(ops + writes, c))


def summarize(ops: "list[Op]", writes: "list[Op]", wall: float, failed: int) -> dict:
    """A window's result: latencies and op ids of the reads (the ops the
    end-to-end latency metrics describe), write latencies, and counts."""
    return {
        "lat_ms": [o.ms for o in ops],
        "kinds": [o.kind for o in ops],
        "op_ids": [o.op_id for o in ops + writes],
        "write_ms": [w.ms for w in writes],
        "wall_s": wall,
        "attempted": len(ops) + len(writes),
        "failed": failed,
    }
