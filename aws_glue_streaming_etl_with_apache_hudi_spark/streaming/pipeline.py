"""The reference dataflow, Spark-native: stream -> foreachBatch -> upsert.

Reference (glue_job_script.py):

- A1  streaming source        :38-43  -> ``sources.stream_from_directory``
                                         (file source for hermetic replay;
                                         kafka/kinesis in production)
- A2  forEachBatch trigger    :111-118 -> ``writeStream.foreachBatch(...)
                                         .trigger(...)``
- A3  empty-batch guard       :98     -> none: with a processing-time
                                         trigger and no stateful operator,
                                         Spark calls ``foreachBatch`` only
                                         when the source has new data, so
                                         the reference's ``count() > 0``
                                         (a second pass over every batch,
                                         SURVEY.md §4) is a job per trigger
                                         that never skips. A 0-row file
                                         still arrives: the COW upsert
                                         returns early, MOR writes an
                                         empty delta (as Hudi's default
                                         ``hoodie.allow.empty.commit``)
- A7  schema evolution        :81-94  -> handled inside ``UpsertTable``
- A8-A11 Hudi upsert + sync   :50-73  -> ``UpsertTable.upsert``
- A12 checkpoint/bookmark     :116    -> ``checkpointLocation``
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

from aws_glue_streaming_etl_with_apache_hudi_spark.operators.upsert import UpsertTable
from aws_glue_streaming_etl_with_apache_hudi_spark.sources.readers import stream_from_directory


@dataclass
class StreamingUpsertPipeline:
    """End-to-end equivalent of the reference job (glue_job_script.py:96-118).

    ``source_dir``   directory watched by the streaming file source.
    ``schema``       stream schema (the catalog-declared stream table's
                     role). ``None`` -> schema-inference bootstrap (A1,
                     the reference's ``{"inferSchema": "true"}``,
                     glue_job_script.py:42): inferred ONCE per start()
                     from the files currently in ``source_dir``, then
                     pinned for the run (Structured Streaming file
                     sources cannot re-infer mid-stream). Columns that
                     first appear while a run is live are picked up at
                     the next (re)start and reach the table through the
                     upsert's additive schema evolution (A7) — the same
                     eventual-evolution behavior as the reference's
                     per-batch inference, at per-run granularity.
                     Production JSON streams should pass an explicit
                     schema (inference is a full extra pass; parquet
                     reads footers only).
    ``table``        target ``UpsertTable`` (key/precombine/partition
                     semantics).
    ``checkpoint``   Structured Streaming checkpoint dir (A12) — restart
                     resumes from last committed offsets; combined with the
                     idempotent upsert, replays are no-ops.
    ``trigger``      processing-time interval; the reference's
                     ``window_size`` (default "10 seconds",
                     Glue_StreamingJob_Hudi_Template.yaml:33).
    """

    spark: SparkSession
    source_dir: str
    schema: T.StructType | None
    # any keyed table with Hudi upsert semantics: UpsertTable (COW),
    # MergeOnReadTable (MOR), or TimelineTable (COW + commit timeline)
    table: UpsertTable | object
    checkpoint: str
    trigger: str = "10 seconds"
    source_format: str = "parquet"
    # options for non-file sources (e.g. the "graft_events" generator)
    source_options: dict | None = None
    max_files_per_trigger: int | None = 1
    transform: Callable[[DataFrame], DataFrame] | None = None
    # Called with the (transformed) batch AFTER table.upsert has durably
    # committed it — the hook for side-state that must only advance once
    # the data is safe (e.g. LSHDedupIndex.accept: appending dedup
    # signatures BEFORE the commit would, on a crash replay, flag the
    # batch's own rows as duplicates and silently drop them). The hook
    # must itself be idempotent: a crash between upsert and post_commit
    # replays the whole batch.
    post_commit: Callable[[DataFrame], None] | None = None
    # Dead-letter queue for JSON sources: unparseable payloads are
    # appended raw under this directory per batch instead of poisoning
    # or silently vanishing from the pipeline (sources/quarantine.py).
    quarantine_dir: str | None = None
    # Multi-writer streaming (Hudi 1.0 NBCC): when set, batches commit
    # through ``table.nbcc_upsert(batch, writer=writer_id)`` instead of
    # the single-writer upsert — several pipelines (e.g. per-region
    # ingest streams) can feed ONE MergeOnReadTable concurrently with
    # zero aborts; key overlaps resolve at read-side precombine. A
    # checkpoint replay claims a fresh commit slot for the re-delivered
    # batch, and the keyed precombine collapses the re-delivered rows —
    # replay-idempotent at the STATE level (the duplicate delta folds
    # away at the next compaction). Requires a table exposing
    # nbcc_upsert (MergeOnReadTable).
    writer_id: str | None = None
    batches_seen: list[int] = field(default_factory=list)

    def _process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        """The reference's ``processBatch`` (glue_job_script.py:96-109),
        minus the DynamicFrame identity round-trip (A4 — dropped).
        ``transform`` is the per-batch derivation hook (type coercion,
        partition-column derivation, enrichment) applied before the
        upsert."""
        self.batches_seen.append(batch_id)
        if self.quarantine_dir is not None:
            from aws_glue_streaming_etl_with_apache_hudi_spark.sources.quarantine import CORRUPT_COL

            if CORRUPT_COL in batch_df.columns:
                import os

                batch_df = batch_df.cache()
                bad = batch_df.filter(F.col(CORRUPT_COL).isNotNull()).select(
                    F.col(CORRUPT_COL).alias("raw")
                )
                if not bad.isEmpty():
                    bad.write.mode("overwrite").text(
                        os.path.join(self.quarantine_dir, f"batch={batch_id}")
                    )
                batch_df = batch_df.filter(F.col(CORRUPT_COL).isNull()).drop(
                    CORRUPT_COL
                )
                if batch_df.isEmpty():
                    return
        transformed = self.transform is not None
        if transformed:
            # materialize the transformed batch ONCE per trigger: the
            # upsert's write and the post-commit hook each consume this
            # frame, and without the cache each consumer re-executes the
            # whole transform chain (the corpus pipeline's quality gate +
            # dedup-index probe joins ran 2x per micro-batch — guide §5:
            # persist exactly the reused-and-expensive frame; released in
            # the finally below, so triggers never accumulate storage)
            batch_df = self.transform(batch_df).persist()
        try:
            if self.writer_id is not None:
                self.table.nbcc_upsert(batch_df, writer=self.writer_id)
            else:
                self.table.upsert(batch_df)
            if self.post_commit is not None:
                self.post_commit(batch_df)
        finally:
            if transformed:
                batch_df.unpersist(blocking=False)

    def _bootstrap_schema(self) -> T.StructType:
        """Infer the stream schema from the files already in
        ``source_dir`` (A1 bootstrap — the engine-side ``inferSchema``).
        Batch inference over the existing files stands in for the
        catalog-declared stream table the reference probes."""
        reader = self.spark.read
        if self.source_format == "json":
            df = reader.json(self.source_dir)
        elif self.source_format == "csv":
            df = reader.option("header", "true").option("inferSchema", "true").csv(
                self.source_dir
            )
        else:
            # mergeSchema: the union of ALL files' schemas — without it
            # parquet inference reads one footer and a column that first
            # appears in a later file never enters the pinned schema
            df = (
                reader.format(self.source_format)
                .option("mergeSchema", "true")
                .load(self.source_dir)
            )
        fields = [f for f in df.schema.fields if f.name != "_corrupt_record"]
        if not fields:
            raise ValueError(
                f"cannot bootstrap a schema from {self.source_dir}: no "
                f"parseable {self.source_format} files present — pass an "
                f"explicit schema or seed the directory first"
            )
        return T.StructType(fields)

    def _stream_schema(self):
        schema = self.schema if self.schema is not None else self._bootstrap_schema()
        if self.quarantine_dir is not None and self.source_format == "json":
            from aws_glue_streaming_etl_with_apache_hudi_spark.sources.quarantine import CORRUPT_COL

            if CORRUPT_COL not in [f.name for f in schema.fields]:
                return T.StructType(
                    list(schema.fields)
                    + [T.StructField(CORRUPT_COL, T.StringType())]
                )
        return schema

    def start(self, once: bool = False) -> StreamingQuery:
        if self.source_format == "graft_events":
            # self-contained synthetic source (sources/pydatasource.py) —
            # the reference's producer-script analogue, no files/broker;
            # source_dir is ignored, source_options carry rows/seed/...
            from aws_glue_streaming_etl_with_apache_hudi_spark.sources import pydatasource

            pydatasource.register(self.spark)
            opts = dict(self.source_options or {})
            if once and "rows" in opts:
                # availableNow takes ONE offset advance from a Python
                # stream reader: a drain run must release the whole row
                # budget in that single batch
                opts["rowsPerBatch"] = opts["rows"]
            reader = self.spark.readStream.format("graft_events")
            for k, v in opts.items():
                reader = reader.option(k, v)
            stream = reader.load()
        else:
            stream = stream_from_directory(
                self.spark,
                self.source_dir,
                self._stream_schema(),
                fmt=self.source_format,
                max_files_per_trigger=self.max_files_per_trigger,
            )
        writer = (
            stream.writeStream.foreachBatch(self._process_batch)
            .option("checkpointLocation", self.checkpoint)
            .outputMode("update")
        )
        if once:
            writer = writer.trigger(availableNow=True)
        else:
            writer = writer.trigger(processingTime=self.trigger)
        return writer.start()

    def run_available(self) -> None:
        """Process everything currently in ``source_dir`` and stop —
        deterministic replay for tests and backfills."""
        q = self.start(once=True)
        q.awaitTermination()


def run_stream_to_completion(query: StreamingQuery) -> None:
    """Drain a continuous streaming query synchronously (test helper)."""
    query.processAllAvailable()
    query.stop()
