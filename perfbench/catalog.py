"""The ``catalog-full`` workload: catalog entries built and fully
materialized through a ``noop`` sink, one entry at a time.

One op is an entry's build (its catalog function, including the eager
jobs the iterative operators run while building) plus its ``noop`` write.
A timed window runs whole passes over :data:`ENTRIES` until the window's
seconds are spent, so every run times the same mix. Each entry first runs
twice untimed as warm-up; the first run collects the rows and checks them
against the entry's DuckDB oracle over the same parquet files. The
oracles run on a worker thread from the moment the tables are written, so
they overlap the JVM start and the warm-up; all of them end before the
first timed op.

The Iceberg read ``iceberg_v3_dv_scan`` is not in the list: its catalog
function builds its fixture table under a fixed ``/tmp`` path, outside the
directory the benchmark may write to. The service workloads cover the
Iceberg read path.
"""

from __future__ import annotations

import os
import time
from concurrent.futures import ThreadPoolExecutor

from perfbench import datagen
from perfbench.check import duck, rows_match
from perfbench.stats import median
from perfbench.trace import job_group, spark_counters

SF = 0.01
GEN_REPS = 3
MIN_PASSES = 1
WARMUP_THREADS = 2
ENTRIES = (
    # count()-masked outliers
    "dedup_semantic_clusters",
    "dedup_document_verdict",
    "agg_percentiles",
    "text_boilerplate_segments",
    "window_range_90d_revenue",
    # iterative operators
    "dedup_clusters_star",
    "dedup_minhash_clusters",
    "graph_pagerank_iter",
    # joins
    "q5_local_supplier_volume",
    "q18_large_volume_customers",
    # text retrieval
    "text_bm25_topk",
)
PER_ENTRY = ("build_ms", "build_jobs", "exec_ms", "exec_count_ms")


class CatalogFull:
    min_samples = MIN_PASSES * len(ENTRIES)

    def __init__(self, seed: int, work: str) -> None:
        from cloudfloe_spark.queries import all_queries

        self.spark, self.seed, self.work = None, seed, work
        catalog = all_queries()
        self.entries = {n: catalog[n] for n in ENTRIES}
        unchecked = [n for n, q in self.entries.items() if not q.oracle]
        if unchecked:
            raise ValueError(f"entries without an oracle: {unchecked}")
        self.sf_dir = None
        self.wrong: set[str] = set()
        self._pool = ThreadPoolExecutor(max_workers=1)
        self._oracle = None

    def prepare(self) -> "list[float]":
        """Generate the tables ``GEN_REPS`` times (the first copy is used)
        and start the oracles; returns the generation times."""
        reps = []
        for r in range(GEN_REPS):
            t0 = time.perf_counter()
            d = datagen.write(
                datagen.generate(self.seed, SF), os.path.join(self.work, f"sf{r}")
            )
            reps.append(time.perf_counter() - t0)
            self.sf_dir = self.sf_dir or d
        self._oracle = self._pool.submit(self._oracles)
        return reps

    def _oracles(self) -> "dict[str, tuple[list[str], list[tuple]]]":
        """(column names, rows) of every distinct oracle SQL (two entries
        may share one), by DuckDB over the generated files."""
        con = duck(os.path.join(self.work, "tmp"))
        for t in datagen.TABLES:
            path = os.path.join(self.sf_dir, t + ".parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        out = {}
        for sql in dict.fromkeys(q.oracle for q in self.entries.values()):
            cur = con.execute(sql)
            out[sql] = ([d[0] for d in cur.description], cur.fetchall())
        con.close()
        return out

    def setup(self, spark) -> float:
        """Warm-up: each entry collected and checked, then run once more;
        returns seconds."""
        self.spark = spark
        t0 = time.perf_counter()

        def collect(name: str) -> "tuple[list[str], list]":
            df = self.entries[name].fn(spark, self.sf_dir)
            cols = sorted(df.columns)
            return cols, df.select(cols).collect()

        def noop(name: str) -> None:
            df = self.entries[name].fn(spark, self.sf_dir)
            df.write.format("noop").mode("overwrite").save()

        # two entries at a time: a first run is mostly planning and code
        # generation on one thread, which leaves the other cores idle. The
        # second, unchecked pass lets the JIT settle: without it the timed
        # ops still speed up by 10-30% from one pass to the next.
        with ThreadPoolExecutor(max_workers=WARMUP_THREADS) as pool:
            got = dict(zip(self.entries, pool.map(collect, self.entries)))
            list(pool.map(noop, self.entries))
        oracle = self._oracle.result()
        for name, (cols, rows) in got.items():
            names, expected = oracle[self.entries[name].oracle]
            idx = [names.index(c) for c in cols]
            if not rows_match(rows, [tuple(r[i] for i in idx) for r in expected]):
                self.wrong.add(name)
        return time.perf_counter() - t0

    def window(self, seconds: float, tracer, copy: int) -> dict:
        sc = self.spark.sparkContext
        ops: list[tuple[str, str, float]] = []  # (op id, entry, ms)
        failed = 0
        t0 = time.perf_counter()
        n_pass = 0
        while True:
            for name, q in self.entries.items():
                op_id = f"{name}#{copy}.{n_pass}"
                try:
                    ms = self._op(q, op_id, tracer, sc)
                except Exception:
                    failed += 1
                    continue
                failed += name in self.wrong
                ops.append((op_id, name, ms))
            n_pass += 1
            if time.perf_counter() - t0 >= seconds:
                break
        return {
            "lat_ms": [ms for _, _, ms in ops],
            "kinds": [name for _, name, _ in ops],
            "op_ids": [op_id for op_id, _, _ in ops],
            "write_ms": [],
            "wall_s": time.perf_counter() - t0,
            "attempted": n_pass * len(self.entries),
            "failed": failed,
            "entries": ops,
        }

    def _op(self, q, op_id: str, tracer, sc) -> float:
        if tracer is None:
            t0 = time.perf_counter()
            df = q.fn(self.spark, self.sf_dir)
            df.write.format("noop").mode("overwrite").save()
            return (time.perf_counter() - t0) * 1000
        with tracer.op(op_id):
            t0 = time.perf_counter()
            with job_group(sc, op_id + ":build"), tracer.span("queries.build"):
                df = q.fn(self.spark, self.sf_dir)
            with job_group(sc, op_id + ":exec"), tracer.span("queries.exec"):
                df.write.format("noop").mode("overwrite").save()
            ms = (time.perf_counter() - t0) * 1000
            # the count() cost next to full materialization, outside the op
            with job_group(sc, op_id + ":count"), tracer.span("queries.exec_count"):
                df.count()
        return ms

    def per_entry(self, tracer, ops) -> "dict[str, float]":
        """``queries.<metric>.<entry>``: the median over the traced passes."""
        from perfbench.trace import per_op

        sc = self.spark.sparkContext
        spans = tracer.spans
        times = {
            m: per_op(spans, (f"queries.{m[:-3]}",), "total")
            for m in ("build_ms", "exec_ms", "exec_count_ms")
        }
        by_entry: dict[str, dict[str, list]] = {}
        for op_id, name, _ in ops:
            d = by_entry.setdefault(name, {m: [] for m in PER_ENTRY})
            for m, vals in times.items():
                d[m].append(vals.get(op_id, 0.0) * 1000)
            jobs = spark_counters(sc, op_id + ":build")["spark.jobs"]
            d["build_jobs"].append(jobs)
            with tracer.op(op_id):
                tracer.count("queries.build_jobs", jobs)
        out = {}
        for name in ENTRIES:
            for m in PER_ENTRY:
                out[f"queries.{m}.{name}"] = median(by_entry.get(name, {}).get(m, []))
        return out

    def groups(self, op_ids) -> "dict[str, list[str]]":
        return {o: [o + ":build", o + ":exec"] for o in op_ids}

    def close(self) -> None:
        self._pool.shutdown(cancel_futures=True)
