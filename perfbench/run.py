#!/usr/bin/env python3
"""Benchmark of cloudfloe_spark: the service read path, writes beside
reads, and full materialization of catalog entries.

    python3 perfbench/run.py --workload svc-mixed --seed 1 --seconds 5 --trace 0

Run from the root of a checkout. Workloads:

- ``svc-mixed``    one HTTP client; deletes, appends and compactions of
                   one table interleaved with a read mix over Iceberg
                   tables (perfbench/service.py);
- ``catalog-full`` catalog entries built and written to a ``noop`` sink
                   (perfbench/catalog.py);
- ``svc-read``     two HTTP clients, closed loop, the read mix over
                   immutable tables. Not listed in BENCHMARK.json: its runs
                   do not fit the time the benchmark's runs may take
                   together, next to the other two.

Set-up (JVM start, table builds repeated a few times, warm-up) precedes a
timed window of whole blocks of ops that lasts at least ``--seconds``.
``--trace 0`` prints the end-to-end metrics of that window.
``--trace 1`` runs an untraced window and then a traced one (layer entry
points wrapped, one Spark job group per op) and prints the per-layer
metrics, including the tracing overhead. Every output is checked; the
last stdout line is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``. Earlier lines starting with ``#`` carry the
run header and details.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

_T_START = time.perf_counter()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.stats import median, tail_percentile  # noqa: E402

WORKLOADS = ("svc-read", "svc-mixed", "catalog-full")
MAX_FINAL_LINE = 16 * 1024
HEAP = "2g"  # the JVM heap size cloudfloe_spark.session sets
END_TO_END = {
    "setup_s": "s",
    "op_p50_ms": "ms",
    "op_p90_ms": "ms",
    "ops_per_s": "1/s",
    "peak_rss_mb": "MB",
}


def per_layer_units() -> "dict[str, str]":
    from perfbench.catalog import ENTRIES, PER_ENTRY
    from perfbench.trace import LAYER_COUNTS, LAYER_TIMES, SPARK_KEYS

    units = {"api.http_ms": "ms"}
    units.update({m: "ms" for m in LAYER_TIMES})
    units.update({m: "count" for m in LAYER_COUNTS})
    units.update(
        {k: "bytes" if k.endswith("_bytes") else "ms" if k.endswith("_ms") else "count"
         for k in SPARK_KEYS}
    )
    for m in PER_ENTRY:
        for e in ENTRIES:
            units[f"queries.{m}.{e}"] = "count" if m == "build_jobs" else "ms"
    units.update({"write_p50_ms": "ms", "failed_ratio": "ratio", "trace.overhead_ms": "ms"})
    return units


def _vm_hwm_kb(pid: "int | str") -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def _git_commit() -> str:
    head = os.path.join(ROOT, ".git", "HEAD")
    try:
        with open(head) as f:
            ref = f.read().strip()
        if ref.startswith("ref: "):
            with open(os.path.join(ROOT, ".git", ref[5:])) as f:
                return f.read().strip()
        return ref
    except OSError:
        return "unknown"  # exported checkouts carry no .git


def start_spark(work: str):
    """local[<=4] session with every scratch path inside ``work``."""
    from cloudfloe_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    cores = min(4, os.cpu_count() or 1)
    spark = get_spark(
        app_name="perfbench",
        master=f"local[{cores}]",
        extra_conf={
            # the heap starts at its maximum size, so peak memory does not
            # depend on when the collector decided to grow it
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{HEAP}"
            ),
            "spark.local.dir": tmp,
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            # keep every job of a run in the status store for the counters
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the context, then the JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)


def make_workload(name: str, seed: int, work: str):
    if name == "catalog-full":
        from perfbench.catalog import CatalogFull

        return CatalogFull(seed, work)
    from perfbench.service import SvcMixed, SvcRead

    return (SvcRead if name == "svc-read" else SvcMixed)(seed, work)


def end_to_end(setup_s: float, win: dict, rss_mb: float, n_floor: int) -> dict:
    lat = win["lat_ms"]
    _, tail = tail_percentile(lat, n_floor)
    done = len(lat) + len(win["write_ms"])
    return {
        "setup_s": setup_s,
        "op_p50_ms": median(lat),
        "op_p90_ms": tail,
        "ops_per_s": done / win["wall_s"],
        "peak_rss_mb": rss_mb,
    }


def kind_medians(win: dict) -> "dict[str, float]":
    """Median latency of each kind of op (read kind or catalog entry)."""
    by: dict[str, list[float]] = {}
    for kind, ms in zip(win["kinds"], win["lat_ms"]):
        by.setdefault(kind, []).append(ms)
    return {k: round(median(v), 1) for k, v in sorted(by.items())}


def final_line(correct: bool, attempted: int, failed: int, metrics: dict, units: dict) -> str:
    line = json.dumps(
        {
            "correct": correct,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
        },
        separators=(",", ":"),
    )
    if len(line) > MAX_FINAL_LINE:
        raise ValueError(f"final line is {len(line)} bytes, over {MAX_FINAL_LINE}")
    return line


def run(args, work: str) -> int:
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.environ["TMPDIR"]
    # the launcher JVM would otherwise write its perf data under /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["CLOUDFLOE_ENABLE_MAINTENANCE"] = "1"
    os.makedirs(os.environ["TMPDIR"])

    import duckdb
    import pyspark

    from perfbench import probes
    from perfbench.trace import Tracer, layer_metrics, spark_metrics

    wl = make_workload(args.workload, args.seed, work)
    spark = None
    try:
        # table builds need no Spark: they run (and are timed) first, and
        # the catalog's oracles keep running while the JVM starts
        t0 = time.perf_counter()
        build_s = wl.prepare()
        prepare_s = time.perf_counter() - t0
        spark = start_spark(work)
        jvm_s = time.perf_counter() - _T_START - prepare_s
        sc = spark.sparkContext
        header = {
            "workload": args.workload,
            "seed": args.seed,
            "seconds": args.seconds,
            "trace": args.trace,
            "master": sc.master,
            "default_parallelism": sc.defaultParallelism,
            "nproc": os.cpu_count(),
            "pyspark": pyspark.__version__,
            "duckdb": duckdb.__version__,
            "commit": _git_commit(),
            "sf": sys.modules[type(wl).__module__].SF,
        }
        print("# header " + json.dumps(header), flush=True)

        warmup_s = wl.setup(spark)
        # set-up: JVM start, the median table build, warm-up
        setup_s = jvm_s + median(build_s) + warmup_s
        untraced = wl.window(args.seconds, None, 0)
        wins = [untraced]
        if args.trace:
            tracer = Tracer()
            probes.install(tracer, spark)
            try:
                traced = wl.window(args.seconds, tracer, 1)
            finally:
                tracer.uninstall()
            wins.append(traced)
        jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        rss_py, rss_jvm = _vm_hwm_kb("self") / 1024, _vm_hwm_kb(jvm_pid) / 1024

        attempted = sum(w["attempted"] for w in wins)
        failed = sum(w["failed"] for w in wins)
        wrong = sorted(getattr(wl, "wrong", ()))
        if args.trace:
            units = per_layer_units()
            metrics = dict.fromkeys(units, 0.0)
            # per_entry first: it adds the build-job counts layer_metrics sums
            metrics.update(wl.per_entry(tracer, traced.get("entries", [])))
            metrics.update(layer_metrics(tracer, traced["op_ids"]))
            metrics.update(spark_metrics(sc, wl.groups(traced["op_ids"])))
            metrics["write_p50_ms"] = median(untraced["write_ms"])
            metrics["failed_ratio"] = failed / attempted
            metrics["trace.overhead_ms"] = median(traced["lat_ms"]) - median(
                untraced["lat_ms"]
            )
        else:
            units = END_TO_END
            metrics = end_to_end(setup_s, untraced, rss_py + rss_jvm, wl.min_samples)
        pct, _ = tail_percentile(untraced["lat_ms"], wl.min_samples)
        print(
            "# detail "
            + json.dumps(
                {
                    "jvm_s": jvm_s,
                    "build_s": build_s,
                    "warmup_s": warmup_s,
                    "rss_mb": {"python": rss_py, "jvm": rss_jvm},
                    "samples": len(untraced["lat_ms"]),
                    "kind_p50_ms": kind_medians(untraced),
                    "op_p90_ms_is_percentile": pct,
                    "writes": len(untraced["write_ms"]),
                    "write_p50_ms": median(untraced["write_ms"]),
                    "window_s": [w["wall_s"] for w in wins],
                    "failed_ratio": failed / attempted,
                    "wrong_entries": wrong,
                }
            ),
            flush=True,
        )
        print(final_line(failed == 0, attempted, failed, metrics, units), flush=True)
        return 0
    finally:
        wl.close()
        if spark is not None:
            stop_spark(spark)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "cloudfloe_spark", "__init__.py")):
        print(f"perfbench: no cloudfloe_spark package under {ROOT}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    try:
        return run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run still uses it


if __name__ == "__main__":
    sys.exit(main())
