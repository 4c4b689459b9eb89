"""The delivery pipeline (SURVEY.md §2.4 B1-B5, §2.5 K1-K8).

One Structured Streaming query per delivery stream; its foreachBatch
body performs, on each micro-batch (= the Firehose buffer flush):

1. raw backup write (K3: S3BackupMode Enabled — *pre-transform* rows)
2. transform (T1/T2 protocol from .transform)
3. status routing: OK -> success sink (K1), ProcessingFailed -> error
   sink (K2), Dropped -> discarded (F1)
4. optional document sink (K4: the OpenSearch role — local impl is a
   keyed parquet dir; real cluster impl would bulk-index via
   opensearch-py in the same foreachBatch)

Two-destination fan-out (K5) = two DeliveryPipeline instances off the
same source directory, each with its own checkpoint, Observation and
``DeliveryResult``, running as two concurrent streaming queries —
exactly the reference's two Firehose streams reading one Kinesis
stream independently and at the same time
(kds_example/iac/s2_app.py:314-316, :837-839; ``pipeline.DualDelivery``).

Buffering parity (B1/B2/B4): Firehose's 60 s / 5 MB either-or flush maps
to ``trigger(processingTime="60 seconds")`` for the time condition plus
``max_buffer_bytes=5*1024*1024`` (the file source's maxBytesPerTrigger)
for the size condition — the reference's BufferingHints
(kds_example/iac/s2_app.py:323-326). Spark admits whole files, so a
flush can overshoot the cap by at most one file — the same "at least
one record" rounding Firehose itself documents. ``max_files_per_trigger``
selects the file-count cap instead (the two source limits are mutually
exclusive in Spark); with neither set, availableNow drain mode admits up
to 1000 files per flush.

Exactly-once: checkpointed source offsets + *idempotent per-batch_id
sink writes*. Every sink write is a ``doc_sink.write_flush``: it lands
under a ``batch_id=N`` partition with dynamic partition overwrite, so a
micro-batch replayed after a mid-batch crash rewrites its own partition
instead of appending duplicates — effectively exactly-once end-to-end,
strictly stronger than the reference's at-least-once + recordId
reconciliation (§2.9).
(Driver-side ``DeliveryResult`` counters are in-memory per-run
conveniences and are NOT crash-durable; the durable numbers are the
sink partitions themselves, counted with ``admin.count_records``.)
Retry (K7): one helper, ``DeliveryPipeline._with_one_retry``, owns the
bounded retry — try, retry once (reference NumberOfRetries=1,
kds_example/iac/s2_app.py:353-356), then run the fallback; every failed
attempt bumps a ``DeliveryResult`` counter. The document-sink write
falls back to the error prefix under the flush key ``<batch_id>-docs``,
so it cannot clobber the K2 write of the same flush. The raw-backup
write falls back to ``02-backup-failed/`` with the original rows (K3
failure branch, kds_example/iac/s2_app.py:806-808).

Per-batch counters come from ``df.observe`` (Observation metrics
piggy-backing on the sink writes) — zero extra passes over the batch,
vs. the naive count()-per-sink which costs two full extra scans per
micro-batch at scale.
"""

from __future__ import annotations

import json
import os
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..functions import serde
from ..session import scoped_confs
from .doc_sink import DocumentSink, ParquetDocumentSink, write_flush
from .transform import STATUS_FAILED, STATUS_OK, apply_transform

# Sink layout mirrors the reference's S3 prefixes
# (kds_example/iac/s2_app.py:804-808).
PREFIX_BACKUP = "01-backup"
PREFIX_BACKUP_FAILED = "02-backup-failed"
PREFIX_SUCCESS = "03-success"
PREFIX_FAILED = "04-failed"

# K8: session conf holding how many StreamingQueryProgress entries a
# query keeps in recentProgress. Spark keeps 100 by default; a drain with
# more micro-batches would drop the head of the progress log, so a
# drain runs under ``scoped_confs(spark, PROGRESS_RETENTION)``. Spark
# reads the conf on every progress update, so a drain must terminate
# inside the block.
PROGRESS_RETENTION_KEY = "spark.sql.streaming.numRecentProgressUpdates"
PROGRESS_RETENTION = {PROGRESS_RETENTION_KEY: "10000"}


@dataclass
class DeliveryResult:
    """Per-run counters (the reference's reconciliation numbers,
    README.rst:113-124)."""

    n_input: int = field(default=0, init=False)
    n_ok: int = field(default=0, init=False)
    n_dropped: int = field(default=0, init=False)
    n_failed: int = field(default=0, init=False)
    n_batches: int = field(default=0, init=False)
    doc_sink_retries: int = field(default=0, init=False)
    backup_retries: int = field(default=0, init=False)
    # K3 failure branch: rows under 02-backup-failed
    n_backup_failed: int = field(default=0, init=False)

    def reconciled(self) -> bool:
        return self.n_input == self.n_ok + self.n_dropped + self.n_failed


@dataclass
class DeliveryPipeline:
    """source dir of JSON-line files -> transform -> routed sinks."""

    spark: SparkSession
    source_dir: str
    dest_dir: str
    transform_fn: Callable[[dict], dict] | None = None
    document_sink: bool = False
    trigger_seconds: int | None = None  # None => availableNow (drain & stop)
    max_files_per_trigger: int | None = None
    # B1 size-based flush: cap on source bytes admitted per micro-batch
    # (set 5*1024*1024 with trigger_seconds=60 for the reference's
    # BufferingHints 60 s / 5 MB either-or flush). Left None by default:
    # in availableNow drain mode a byte cap only throttles the drain.
    # Mutually exclusive with max_files_per_trigger (Spark rejects
    # both); the file-count cap wins when explicitly set.
    max_buffer_bytes: int | None = None
    # K4 client seam: pass a DocumentSink implementation (e.g. a real
    # bulk-index client) — defaults to the local parquet stand-in.
    document_client: DocumentSink | None = None

    def __post_init__(self) -> None:
        if self.document_client is not None:
            self.document_sink = True
        elif self.document_sink:
            self.document_client = ParquetDocumentSink(self.path("documents"))
        self.result = DeliveryResult()

    # -- paths ------------------------------------------------------------
    def path(self, prefix: str) -> str:
        return os.path.join(self.dest_dir, prefix)

    @property
    def checkpoint_dir(self) -> str:
        return os.path.join(self.dest_dir, "_checkpoint")

    # -- the micro-batch body (the Lambda-invoke equivalent) --------------
    def _with_one_retry(
        self, write: Callable[[], None], fallback: Callable[[], None], counter: str
    ) -> bool:
        """K7: try ``write``, retry it once (NumberOfRetries=1), then run
        ``fallback``. Every failed attempt bumps the ``DeliveryResult``
        field ``counter``. Returns True when the fallback ran."""
        for _attempt in range(2):
            try:
                write()
                return False
            except Exception:
                setattr(self.result, counter, getattr(self.result, counter) + 1)
        fallback()
        return True

    def _write_backup(self, with_json: DataFrame, batch_id: int) -> bool:
        """K3: raw pre-transform backup; when it fails past its retry the
        original rows land under ``02-backup-failed/`` (reference
        kds_example/iac/s2_app.py:806-808). Returns True when the failure
        branch was taken. Writes the pre-serialized ``json_line`` column
        as text — same JSON-lines layout as the json writer, but reuses
        the one cached serialization pass."""
        lines = with_json.select("json_line")
        return self._with_one_retry(
            lambda: write_flush(lines, self.path(PREFIX_BACKUP), str(batch_id), "text"),
            lambda: write_flush(lines, self.path(PREFIX_BACKUP_FAILED), str(batch_id), "text"),
            "backup_retries",
        )

    def _process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        # Serialize the original rows to JSON once and cache that frame:
        # the raw backup (K3) and the transform input share json_line.
        # The backup write is the first action over the cached frame, so
        # every source partition is read exactly once per flush (which
        # also keeps FileStreamSource's numInputRows equal to the input).
        with_json = batch_df.withColumn(
            "json_line", F.to_json(F.struct(*batch_df.columns))
        ).persist()
        transformed = None  # assigned mid-try; finally must not NameError
        try:
            backup_failed = self._write_backup(with_json, batch_id)

            # fn=None is the identity fast path: stays fully JVM-side (T3/T4)
            transformed = apply_transform(with_json, fn=self.transform_fn)
            # Counters piggy-back on the sink writes via df.observe —
            # zero extra passes (vs. a count() per sink = two extra full
            # scans per micro-batch at scale). apply_transform is
            # row-preserving, so count(transformed) == batch input rows.
            obs = Observation()
            transformed = transformed.observe(
                obs,
                F.count(F.lit(1)).alias("n_input"),
                F.sum((F.col("status") == STATUS_OK).cast("long")).alias("n_ok"),
                F.sum((F.col("status") == STATUS_FAILED).cast("long")).alias("n_failed"),
            ).persist()

            ok = transformed.filter(F.col("status") == STATUS_OK)

            # K1: success sink — one JSON-lines "object" per partition per
            # flush, exactly the Firehose buffer-flush layout. This is the
            # first action over `transformed`, so `obs` is populated after
            # it — letting the empty error-sink / doc-sink jobs be skipped
            # instead of launching full passes that write zero rows.
            write_flush(ok.select("payload"), self.path(PREFIX_SUCCESS), str(batch_id), "text")
            m = obs.get  # blocks until the first action over `transformed`
            if m["n_input"] == 0:  # empty flush: nothing to route or count
                return

            if (m["n_failed"] or 0) > 0:
                # K2: error sink keeps the ORIGINAL payload.
                failed = transformed.filter(F.col("status") == STATUS_FAILED)
                write_flush(
                    failed.select("payload"), self.path(PREFIX_FAILED), str(batch_id), "text"
                )

            if self.document_sink and (m["n_ok"] or 0) > 0:
                self._write_documents(ok, batch_id)

            self.result.n_input += m["n_input"]
            self.result.n_ok += m["n_ok"] or 0
            self.result.n_failed += m["n_failed"] or 0
            self.result.n_dropped = (
                self.result.n_input - self.result.n_ok - self.result.n_failed
            )
            if backup_failed:
                self.result.n_backup_failed += m["n_input"]
            self.result.n_batches += 1
        finally:
            # BOTH persisted frames release in the finally: a sink-write
            # exception otherwise leaks `transformed`, and a crash-replay
            # persists a fresh copy per retry — executor storage memory
            # would grow monotonically across retries
            if transformed is not None:
                transformed.unpersist()
            with_json.unpersist()

    def _write_documents(self, ok: DataFrame, batch_id: int) -> None:
        """K4: document sink via the pluggable ``DocumentSink`` client
        seam (reference bulk-index: kds_example/oss_utils.py:54-63), with
        one bounded retry (K7) before the payloads route to the error
        prefix. One fixed index (K6: NoRotation, as the reference)."""
        # Identity path: payload IS the serialized input row, so the
        # document id comes straight from the original column instead of
        # a per-row JSON re-parse in the sink.
        if self.transform_fn is None and "id" in ok.columns:
            id_col = F.col("id").cast("string")
        else:
            id_col = F.get_json_object("payload", "$.id")
        docs = ok.select(id_col.alias("id"), F.col("payload"))
        self._with_one_retry(
            lambda: self.document_client.bulk_index(docs, batch_id),
            # Distinct flush key: the fallback must not clobber the K2
            # write of the same micro-batch.
            lambda: write_flush(
                ok.select("payload"), self.path(PREFIX_FAILED), f"{batch_id}-docs", "text"
            ),
            "doc_sink_retries",
        )

    # -- run ---------------------------------------------------------------
    def run(self, await_termination: bool = True):
        """Start the streaming query. With trigger_seconds=None uses
        availableNow (drain the source and stop — the test/bench mode)
        and, if ``await_termination``, waits for it via ``finish``, all
        with ``PROGRESS_RETENTION`` scoped to the block. A query that is
        not waited on runs under the caller's retention. AQE is off
        during ``start()`` only."""
        reader = self.spark.readStream.schema(serde.BANK_ACCOUNT_SCHEMA)
        if self.max_files_per_trigger is not None:
            reader = reader.option("maxFilesPerTrigger", self.max_files_per_trigger)
        elif self.max_buffer_bytes is not None:
            reader = reader.option("maxBytesPerTrigger", self.max_buffer_bytes)
        else:
            reader = reader.option("maxFilesPerTrigger", 1000)
        reader = reader.json(self.source_dir)
        writer = reader.writeStream.foreachBatch(self._process_batch).option(
            "checkpointLocation", self.checkpoint_dir
        )
        if self.trigger_seconds is None:
            writer = writer.trigger(availableNow=True)
        else:
            writer = writer.trigger(processingTime=f"{self.trigger_seconds} seconds")
        drain = await_termination and self.trigger_seconds is None
        with scoped_confs(self.spark, PROGRESS_RETENTION if drain else {}):
            # The stream runs without AQE anyway (its micro-batches run on
            # a clone of the session with AQE off); off for the start
            # only, the analyzer no longer warns about it, and a batch
            # query the caller runs meanwhile keeps AQE.
            with scoped_confs(self.spark, {"spark.sql.adaptive.enabled": "false"}):
                query = writer.start()
            self.last_query = query
            if drain:
                self.finish(query)
        return query

    def finish(self, query) -> None:
        """Wait for a started drain query to terminate, then append its
        progress to the ``_progress`` log. Raises the query's failure
        (nothing is logged then). The caller runs the query's start and
        its ``finish`` inside one ``scoped_confs(spark,
        PROGRESS_RETENTION)`` block."""
        query.awaitTermination()
        self._log_progress(query)

    # -- K8 observability: per-delivery-stream progress log --------------
    def _log_progress(self, query) -> None:
        """CloudWatch-log-group parity: one JSON line per micro-batch
        (StreamingQueryProgress) under the destination's _progress dir."""
        prog_dir = os.path.join(self.dest_dir, "_progress")
        os.makedirs(prog_dir, exist_ok=True)
        with open(os.path.join(prog_dir, f"{query.id}.jsonl"), "a") as f:
            for p in query.recentProgress:
                record = p if isinstance(p, dict) else json.loads(p.json)
                f.write(json.dumps(record, default=str) + "\n")

    # -- inspection surface (SURVEY.md §2.7 A3, §2.8 Q2) -------------------
    def count_documents(self) -> int:
        """A3/Q2 parity: document-sink count (0 when the local document
        sink was never written; a failing read raises)."""
        p = self.path("documents")
        if not os.path.isdir(p):
            return 0
        return self.spark.read.parquet(p).count()
