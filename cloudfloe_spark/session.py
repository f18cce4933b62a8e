"""SparkSession factory.

The reference opens a fresh in-memory DuckDB per request with
``memory_limit='2GB', threads=4`` (reference backend/main.py:361-388). Spark's
model is the opposite: one long-lived session, per-request isolation via
``spark.newSession()``. This module builds the long-lived session with
settings chosen for BOTH local testing (local[N]) and cluster scale:

- AQE on (runtime coalescing, skew-join splitting, broadcast demotion) so the
  same plans survive a 100x scale-up without retuning.
- Arrow on for any pandas-UDF path (vectorized Python, not row-at-a-time).
- UTC session timezone (oracle parity; the reference emits UTC ISO-8601,
  backend/main.py:491-497).
- shuffle.partitions left to AQE's coalescing at small scale; on a real
  cluster the initial number is sized by ``CLOUDFLOE_SHUFFLE_PARTITIONS``.
"""

from __future__ import annotations

import functools
import os

from pyspark.sql import SparkSession

_DEFAULTS: dict[str, str] = {
    # -- correctness / parity --------------------------------------------
    "spark.sql.session.timeZone": "UTC",
    # parquet ns timestamps (events.ts): Spark 4 has no TIMESTAMP(NANOS)
    # type; read as long and convert to µs in the source layer
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # naive parquet micros timestamps read as TIMESTAMP (raw epoch micros,
    # session tz UTC) rather than TIMESTAMP_NTZ — DuckDB-oracle parity and
    # chrono functions (unix_micros) stay applicable
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
    # -- adaptive execution: the scale story ----------------------------
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # -- python boundary: always Arrow-batched --------------------------
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    # -- keep the UI off in tests (speed, no port contention) -----------
    "spark.ui.enabled": "false",
    # -- scan parallelism ------------------------------------------------
    # On a cluster the 128 MB default split is right; the local fixtures
    # are single small parquet files, which would otherwise scan on ONE
    # core out of 32. 2 MB splits let local[N] actually parallelize while
    # staying irrelevant at real file sizes. Env-overridable for clusters.
    "spark.sql.files.maxPartitionBytes": os.environ.get(
        "CLOUDFLOE_MAX_PARTITION_BYTES", "2m"
    ),
    "spark.sql.files.openCostInBytes": "524288",
    # -- heap ------------------------------------------------------------
    # local[N] puts driver AND all executor threads in ONE JVM whose heap
    # defaults to 1g — 32 concurrent tasks plus localCheckpoint blocks on
    # 1g is an OOM waiting to happen (the scale probe hit it at 2× sf0.1).
    # 2g measured fastest on the checkpoint-heavy iterative operators
    # (star contraction min-of-3: 1g 5.95 s, 2g 5.80 s, 4g 6.47 s,
    # 8g 6.35 s at sf0.1 — larger heaps shift G1 ergonomics the wrong
    # way for this allocation pattern) while giving 2× the OOM headroom.
    # Only effective when this factory launches the JVM (first session in
    # the process); harmless otherwise. Cluster deployments override.
    "spark.driver.memory": os.environ.get("CLOUDFLOE_DRIVER_MEMORY", "2g"),
}


def get_spark(
    app_name: str = "cloudfloe-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the long-lived SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` locally; on a real
    cluster leave it None and let spark-submit supply it.

    Also pins the driver process TZ to UTC: collect() converts TIMESTAMP
    values via the driver OS timezone, not the session timezone, so a
    non-UTC driver would shift JSON/isoformat output (ADVICE r03).
    """
    from cloudfloe_spark.sources.tables import _pin_driver_utc

    _pin_driver_utc()
    builder = SparkSession.builder.appName(app_name)
    if master is None and "SPARK_GRAFT_CPUS" in os.environ:
        master = f"local[{os.environ['SPARK_GRAFT_CPUS']}]"
    if master is None:
        master = "local[*]"
    builder = builder.master(master)

    conf = dict(_DEFAULTS)
    if shuffle_partitions is None:
        shuffle_partitions = int(
            os.environ.get("CLOUDFLOE_SHUFFLE_PARTITIONS", "32")
        )
    conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


@functools.lru_cache(maxsize=256)
def _ddl_schema(ddl: str):
    """``ddl`` parsed to a StructType and its Arrow schema (parsing is a
    JVM round trip; listing DDLs are a small fixed set)."""
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import _parse_datatype_string

    schema = _parse_datatype_string(ddl)
    return schema, to_arrow_schema(schema)


def local_frame(sess, rows, ddl: str):
    """A DataFrame of the driver-side ``rows`` (tuples in ``ddl`` column
    order), typed by ``ddl``.

    The rows travel as one Arrow table typed from the DDL, so the frame
    is a LocalRelation: planning and collecting it start no Spark job and
    no Python worker, where ``createDataFrame(list)`` runs a job that
    unpickles every row. Values keep their exact types, NULLs included."""
    import pyarrow as pa

    schema, arrow = _ddl_schema(ddl)
    cols = list(zip(*rows)) or [()] * len(arrow)
    table = pa.Table.from_arrays(
        [pa.array(list(c), type=f.type) for c, f in zip(cols, arrow)],
        schema=arrow,
    )
    return sess.createDataFrame(table, schema)


def stop_spark() -> None:
    spark = SparkSession.getActiveSession()
    if spark is not None:
        spark.stop()
