"""Checkpointed foreachBatch materializer — the whole reference pipeline
as one streaming query (SURVEY.md §3.2's Spark equivalent).

readStream(change feed) → decode → owner/table filter → unwrap →
foreachBatch{ merge into bucketed state } with a checkpoint directory
(ST1 continuous processing, ST2 checkpointed resume, ST3 idempotent
redelivery via the merge's SCN guard, ST4 maxFilesPerTrigger
backpressure).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

from olr_cdc_oracle_no_dbz_spark.checkpointing import truncate_lineage
from olr_cdc_oracle_no_dbz_spark.cdc.decode import (
    decode_events,
    filter_source,
    unwrap,
)
from olr_cdc_oracle_no_dbz_spark.cdc.transactions import committed_only
from olr_cdc_oracle_no_dbz_spark.schemas import CHANGE_EVENT_SCHEMA
from olr_cdc_oracle_no_dbz_spark.streaming.source import read_change_stream
from olr_cdc_oracle_no_dbz_spark.streaming.state import ParquetStateTable


def _row_image(delta: DataFrame, state: ParquetStateTable) -> list[str]:
    """The sink table's row image: key and data columns, without the
    bookkeeping (``op``, ``__deleted``, order columns) that the
    reference's ExtractNewRecordState never emits."""
    internal = {"op", "__deleted", *state.order_cols}
    return [c for c in delta.columns if c not in internal]


def materialize_stream(
    spark: SparkSession,
    source_dir: str,
    state: ParquetStateTable,
    checkpoint_dir: str,
    owner: str = "OLR_DB",
    table: str = "PRODUCT",
    schema: T.StructType = CHANGE_EVENT_SCHEMA,
    max_files_per_trigger: int | None = None,
    available_now: bool = True,
    processing_time: str = "1 second",
    require_commit: bool = False,
    jdbc_sink: dict | None = None,
    schema_catalog=None,
    subject: str | None = None,
) -> StreamingQuery:
    """Start the CDC materialization stream; returns the StreamingQuery.

    ``available_now=True`` drains everything currently in ``source_dir``
    then stops (the test/replay mode); ``False`` runs continuously like
    the reference pipeline. Restarting with the same ``checkpoint_dir``
    resumes from the last committed batch (OLR checkpoint analog,
    docker-compose-olr.yml:56).

    ``require_commit=True`` applies A2 semantics per micro-batch: DML is
    held back until its transaction's commit marker arrives in the same
    batch (for feeds where, unlike OLR, uncommitted work can appear —
    OLR itself only emits on COMMIT, so the default is off).

    ``jdbc_sink`` additionally materializes every compacted batch into
    an RDBMS — the reference's literal sink (Connect JDBC upsert,
    README.md:775-798). Keys: ``connection_factory`` (zero-arg DBAPI
    connection callable), ``table``, optional ``dialect``/``paramstyle``/
    ``parallelism``/``auto_evolve`` (default True: ALTERs the live
    table when the batch carries new columns, K5). The parquet state
    table remains the engine's scalable store; the RDBMS is a
    reference-faithful mirror, idempotent under foreachBatch retries
    like everything else in this path.

    ``schema_catalog`` (a ``schema_catalog.SchemaCatalog``) + ``subject``
    switch on the Schema Registry analog (VERDICT r6 item 5,
    docker-compose-main.yml:179-202): each batch's row-image schema is
    widened against the subject's latest version and registered BEFORE
    the state merge — an accepted evolution writes a new numbered
    ``.avsc``/StructType version; a backward-incompatible one raises
    SchemaCompatibilityError and fails the batch with the state
    untouched (the registry's 409 Conflict, instead of the silent
    corruption ``auto.evolve`` alone would allow).
    """
    if (schema_catalog is None) != (subject is None):
        raise ValueError("schema_catalog and subject must be passed together")

    def _apply(batch_df, batch_id: int) -> None:
        ev = filter_source(
            batch_df.filter(F.col("_corrupt").isNull()), owner, table
        )
        if require_commit:
            # markers are NOT table-filtered (they carry no schema block)
            committed = committed_only(
                batch_df.filter(F.col("_corrupt").isNull())
            ).drop("commit_scn")
            ev = filter_source(committed, owner, table)
        # the trigger's only scan of its files: the emptiness check, the
        # schema gate, the merge and the JDBC mirror all read this cut
        delta = truncate_lineage(unwrap(ev, mode="rewrite"))
        if delta.isEmpty():
            return
        image = _row_image(delta, state)
        if schema_catalog is not None:
            # check_and_register raises before any state mutation on
            # incompatibility
            schema_catalog.check_and_register(subject, delta.select(*image).schema)
        state.merge_batch(delta)
        if jdbc_sink is not None:
            from olr_cdc_oracle_no_dbz_spark.cdc.materialize import (
                latest_state,
            )
            from olr_cdc_oracle_no_dbz_spark.streaming.jdbc_sink import (
                evolve_statements,
                write_batch,
            )

            compacted = latest_state(
                delta, state.key_cols, state.order_cols
            ).select(*image, "__deleted")
            factory = jdbc_sink["connection_factory"]
            sink_table = jdbc_sink["table"]
            if jdbc_sink.get("auto_evolve", True):
                conn = factory()
                try:
                    cur = conn.cursor()
                    cur.execute(f"SELECT * FROM {sink_table} WHERE 1=0")
                    current = [d[0] for d in cur.description]
                    for stmt in evolve_statements(
                        sink_table,
                        current,
                        compacted.schema,
                        jdbc_sink.get("dialect", "postgresql"),
                    ):
                        cur.execute(stmt)
                    conn.commit()
                finally:
                    conn.close()
            write_batch(
                compacted,
                factory,
                sink_table,
                list(state.key_cols),
                dialect=jdbc_sink.get("dialect", "postgresql"),
                paramstyle=jdbc_sink.get("paramstyle", "qmark"),
                parallelism=jdbc_sink.get("parallelism", 1),
            )

    writer = (
        read_change_stream(spark, source_dir, schema, max_files_per_trigger)
        .writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=processing_time)
    return writer.start()


def materialize_stream_tables(
    spark: SparkSession,
    source_dir: str,
    routes,
    checkpoint_dir: str,
    max_files_per_trigger: int | None = None,
    available_now: bool = True,
    processing_time: str = "1 second",
    schema_catalog=None,
    subjects: dict | None = None,
) -> StreamingQuery:
    """Multi-table CDC demux (SURVEY.md §2 P1, array form — VERDICT r5
    item 1): ONE streaming pass over the change feed materializes every
    captured table into its own state table.

    ``routes`` is a sequence of ``(owner, table, state, envelope_schema)``
    entries — one per ``filter.table`` array element
    (scripts/OpenLogReplicator.json:32-39). The raw JSON batch is read
    ONCE and persisted; each route then applies its OWN
    ``from_json`` envelope schema (tables evolve independently — a
    wide schema union would couple them), filters to its (owner,
    table), unwraps, and merges into its state table. This is the
    engine-side analog of Connect's topic-per-table fan-out
    (``table.name.format: ${topic}``, README.md:791) without N
    consumers re-reading the feed.

    Exactly-once per table: the stream has one source checkpoint; a
    retried batch (including a crash after table i of N merged) re-runs
    every route, and each state table's (scn, seq) merge guard makes
    the re-application a per-table no-op — so per-table progress is
    effectively checkpoint-scoped even though the source offset is
    shared. At 100 TB the same shape holds: the raw batch persists once
    (memory-and-disk), and each route's merge shuffles only that
    table's rows (the owner/table filter prunes before any exchange).

    ``schema_catalog`` + ``subjects`` (``{(owner, table): subject}``)
    version each route's row-image schema independently — tables evolve
    on their own subject timelines, exactly the Registry's
    subject-per-topic model.
    """
    from pyspark import StorageLevel

    if (schema_catalog is None) != (subjects is None):
        raise ValueError("schema_catalog and subjects must be passed together")

    reader = spark.readStream.format("text")
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    raw = reader.load(source_dir)

    def _apply(batch_df, batch_id: int) -> None:
        batch_df = batch_df.persist(StorageLevel.MEMORY_AND_DISK)
        try:
            for owner, table, state, schema in routes:
                ev = decode_events(batch_df, schema)
                ev = filter_source(
                    ev.filter(F.col("_corrupt").isNull()), owner, table
                )
                delta = unwrap(ev, mode="rewrite")
                if delta.isEmpty():
                    continue
                if schema_catalog is not None:
                    schema_catalog.check_and_register(
                        subjects[(owner, table)],
                        delta.select(*_row_image(delta, state)).schema,
                    )
                state.merge_batch(delta)
        finally:
            batch_df.unpersist()

    writer = raw.writeStream.foreachBatch(_apply).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=processing_time)
    return writer.start()


def sink_table_name(topic: str, table_name_format: str = "${topic}") -> str:
    """Topic → sink-table naming map (K6): the reference's
    ``table.name.format: products`` renames the change topic to the sink
    table (README.md:791). ``${topic}`` interpolates the topic name;
    a literal format (no placeholder) is a fixed rename."""
    return table_name_format.replace("${topic}", topic)


def progress_summary(query: StreamingQuery) -> dict:
    """Monitoring surface (ST7) — the Kafka-UI/Connect-REST-status analog
    (docker-compose-main.yml:204-235, README.md:863-868): one flat dict
    of the metrics an operator watches."""
    p = query.lastProgress or {}
    return {
        "id": str(query.id),
        "is_active": query.isActive,
        "batch_id": p.get("batchId"),
        "num_input_rows": p.get("numInputRows"),
        "input_rows_per_second": p.get("inputRowsPerSecond"),
        "batch_duration_ms": (p.get("durationMs") or {}).get("triggerExecution"),
        "state_rows": sum(
            (op.get("numRowsTotal") or 0) for op in p.get("stateOperators") or []
        ),
        "status": query.status.get("message"),
    }
