"""Where the traced run wraps ``cloudfloe_spark``: one span per layer entry
point. Names imported into ``engine`` (and ``api``) at module top are
wrapped at those bindings too, since that is the name the caller uses."""

from __future__ import annotations

from perfbench.trace import OP_KEY, Tracer, job_group


def install(tracer: Tracer, spark) -> None:
    from cloudfloe_spark.service import (
        api,
        convert,
        engine,
        file_reads,
        iceberg_local,
        validation,
    )
    from cloudfloe_spark.sources import iceberg_fixture, iceberg_meta, maintenance

    sc = spark.sparkContext

    def handler(orig):
        def wrapped(self, payload):
            op = payload.get(OP_KEY) if isinstance(payload, dict) else None
            with tracer.op(op), job_group(sc, op), tracer.span("api.handler"):
                return orig(self, payload)

        return wrapped

    for attr in ("query", "maintenance_compact"):
        tracer.replace(api.Handlers, attr, handler)

    for mod in (api, engine):
        tracer.wrap(mod, "run_query", "engine.run_query")
    tracer.wrap(engine, "request_session", "engine.request_session")
    for mod in (engine, validation):
        tracer.wrap(mod, "validate_statement_shape", "validation.shape")
        tracer.wrap(mod, "validate_and_limit_sql", "validation.limit")
        tracer.wrap(mod, "assert_plan_is_query", "validation.plan_guard")
    for mod in (engine, convert):
        tracer.wrap(mod, "convert_scan_functions", "convert.scan_functions")
        tracer.wrap(mod, "transpile_duckdb", "convert.transpile")
    tracer.wrap(file_reads, "resolve_file_reads", "file_reads.resolve")
    tracer.wrap(iceberg_local, "resolve_iceberg_reads", "iceberg_local.resolve")

    # metadata layer: every public function is a span (self time sums
    # without double counting); the two I/O primitives are also counted
    tracer.wrap_module_functions(iceberg_meta, "iceberg_meta", skip=("load_metadata",))
    tracer.wrap(
        iceberg_meta, "load_metadata", "iceberg_meta.load_metadata",
        count="iceberg_meta.metadata_loads",
    )
    tracer.wrap(
        iceberg_meta, "_read_manifest", "iceberg_meta._read_manifest",
        count="iceberg_meta.manifest_reads",
    )

    tracer.wrap(maintenance, "delete_where", "maintenance.delete_where")
    tracer.wrap(maintenance, "compact_iceberg_table", "maintenance.compact")
    for attr in (
        "commit_row_delta_snapshot",
        "commit_delete_snapshot",
        "commit_rewrite_snapshot",
    ):
        tracer.wrap(iceberg_fixture, attr, f"iceberg_fixture.{attr}")

    # Spark planning and execution, so the service layers' self times
    # exclude them
    session_cls = type(spark)
    frame_cls = type(spark.range(0))
    tracer.wrap(session_cls, "sql", "spark.sql")
    tracer.wrap(frame_cls, "collect", "spark.collect")
