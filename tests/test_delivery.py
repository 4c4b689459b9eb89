"""Delivery-pipeline tests (SURVEY.md §5.2 items 1-2): golden
round-trip, status routing, zero-loss reconciliation, exactly-once,
fan-out — the reference's own test strategy generalized."""

from __future__ import annotations

import glob
import json
import os
import sys
import uuid
from contextlib import contextmanager, nullcontext

import pytest
from py4j.protocol import Py4JJavaError

from aws_dla_kinesis_delivery_stream_example_spark.admin import count_objects, count_records
from aws_dla_kinesis_delivery_stream_example_spark.functions.serde import BANK_ACCOUNT_SCHEMA
from aws_dla_kinesis_delivery_stream_example_spark.sources.jsonlines import (
    generate_bank_accounts,
    produce_jsonlines,
)
from aws_dla_kinesis_delivery_stream_example_spark.streaming.delivery import (
    PREFIX_BACKUP,
    PREFIX_BACKUP_FAILED,
    PREFIX_FAILED,
    PREFIX_SUCCESS,
    PROGRESS_RETENTION_KEY,
    DeliveryPipeline,
    DeliveryResult,
)
from aws_dla_kinesis_delivery_stream_example_spark.streaming.doc_sink import (
    DocumentSink,
    ParquetDocumentSink,
)
from aws_dla_kinesis_delivery_stream_example_spark.streaming.transform import (
    STATUS_DROPPED,
    STATUS_FAILED,
    STATUS_OK,
    DropIt,
    apply_transform,
)

N = 2000


def _transform(rec: dict) -> dict:
    if rec["firstname"].endswith("7"):
        raise DropIt()
    if rec["lastname"].endswith("3"):
        raise ValueError("boom")
    rec["balance"] = rec["balance"] + 1
    return rec


@pytest.fixture(scope="module")
def source_dir(spark, tmp_path_factory):
    src = str(tmp_path_factory.mktemp("delivery") / "src")
    produce_jsonlines(generate_bank_accounts(spark, N, partitions=10), src)
    return src


@pytest.fixture(scope="module")
def pipeline(spark, source_dir, tmp_path_factory):
    dest = str(tmp_path_factory.mktemp("delivery") / "d1")
    p = DeliveryPipeline(spark, source_dir, dest, transform_fn=_transform, document_sink=True)
    p.run()
    return p


def _read_lines(spark, path):
    return [json.loads(r.value) for r in spark.read.text(path).collect()]


def test_reconciliation(pipeline):
    """Zero-loss: input == OK + Dropped + ProcessingFailed (README.rst:113-124)."""
    r = pipeline.result
    assert r.n_input == N
    assert r.reconciled()
    assert r.n_dropped > 0 and r.n_failed > 0 and r.n_ok > 0


def test_sink_counts_match_statuses(spark, pipeline):
    r = pipeline.result
    assert count_records(spark, pipeline.path(PREFIX_SUCCESS)) == r.n_ok
    assert count_records(spark, pipeline.path(PREFIX_FAILED)) == r.n_failed
    assert count_records(spark, pipeline.path(PREFIX_BACKUP)) == r.n_input  # K3 raw backup
    assert pipeline.count_documents() == r.n_ok  # K4 document sink
    assert count_objects(pipeline.path(PREFIX_SUCCESS)) > 0  # A2


def test_failed_sink_preserves_original_payload(spark, source_dir, pipeline):
    """ProcessingFailed routes the ORIGINAL record (kds_helper.py:49-51)."""
    src = {r["id"]: r for r in _read_lines(spark, source_dir)}
    failed = _read_lines(spark, pipeline.path(PREFIX_FAILED))
    assert failed and all(src[r["id"]] == r for r in failed)


def test_transform_applied_to_ok(spark, pipeline):
    ok = _read_lines(spark, pipeline.path(PREFIX_SUCCESS))
    assert ok and all(r["balance"] == 1 for r in ok)


def test_exactly_once_rerun(spark, pipeline):
    """Re-running on the same checkpoint adds nothing (stronger than the
    reference's at-least-once, SURVEY.md §2.9)."""
    before = count_records(spark, pipeline.path(PREFIX_SUCCESS))
    pipeline.run()
    assert count_records(spark, pipeline.path(PREFIX_SUCCESS)) == before


def test_identity_fanout_golden_roundtrip(spark, source_dir, tmp_path):
    """Second delivery stream off the same source (K5) with the identity
    transform: output == input byte-for-byte (tests/test_lbd_to_s3.py
    golden-roundtrip parity)."""
    p2 = DeliveryPipeline(spark, source_dir, str(tmp_path / "d2"))
    p2.run()
    src = {r["id"]: r for r in _read_lines(spark, source_dir)}
    out = _read_lines(spark, p2.path(PREFIX_SUCCESS))
    assert len(out) == N
    assert all(src[r["id"]] == r for r in out)


class _FlakySink(DocumentSink):
    """Fails its first bulk_index, then indexes into the local sink."""

    def __init__(self, path: str) -> None:
        self.inner = ParquetDocumentSink(path)
        self.calls = 0

    def bulk_index(self, docs, batch_id: int) -> None:
        self.calls += 1
        if self.calls == 1:
            raise IOError("transient document-sink failure")
        self.inner.bulk_index(docs, batch_id)


def test_doc_sink_retry(spark, source_dir, tmp_path):
    """K7: one bounded retry, then success."""
    dest = str(tmp_path / "d3")
    p = DeliveryPipeline(
        spark, source_dir, dest, document_client=_FlakySink(os.path.join(dest, "documents"))
    )
    p.run()
    assert p.result.doc_sink_retries == 1
    assert p.count_documents() == N


def test_incremental_batch_pickup(spark, pipeline, source_dir):
    """New files landing in the source dir are consumed incrementally."""
    produce_jsonlines(generate_bank_accounts(pipeline.spark, 100, partitions=2), source_dir)
    pipeline.run()
    assert pipeline.result.n_input == N + 100
    assert pipeline.result.reconciled()
    assert count_records(spark, pipeline.path(PREFIX_BACKUP)) == N + 100


_ACCOUNT_DDL = "id string, firstname string, lastname string, description string, balance long"


def _tag_or_unserializable(rec: dict) -> dict:
    """Adds 1 to the balance, except that a ``Set`` lastname gets a set
    value, which ``json.dumps`` cannot serialize."""
    if rec["lastname"] == "Set":
        return {**rec, "tags": {"a", "b"}}
    return {**rec, "balance": rec["balance"] + 1}


def test_unicode_roundtrip(spark, tmp_path):
    """ensure_ascii=False parity: non-ASCII survives the serde raw,
    not as \\uXXXX escapes (D2, kds_helper.py:15), on the identity path
    and through a black-box ``transform_fn``."""
    src = str(tmp_path / "src")
    df = spark.createDataFrame([("ü-1", "Ünïcode", "Tëst", "日本語テキスト", 0)], _ACCOUNT_DDL)
    produce_jsonlines(df, src)
    for name, fn, balance in (("out", None, 0), ("out-fn", _tag_or_unserializable, 1)):
        p = DeliveryPipeline(spark, src, str(tmp_path / name), transform_fn=fn)
        p.run()
        raw = spark.read.text(p.path(PREFIX_SUCCESS)).collect()[0].value
        assert "日本語テキスト" in raw and "\\u" not in raw
        rec = json.loads(raw)
        assert rec["firstname"] == "Ünïcode" and rec["balance"] == balance


def test_unserializable_fn_output_fails_with_the_original(spark, tmp_path):
    """A ``fn`` result ``json.dumps`` cannot encode is ProcessingFailed:
    04-failed gets the ORIGINAL record and reconciliation still holds."""
    src = str(tmp_path / "src")
    rows = [("ok-1", "Ann", "Lee", "fine", 0), ("bad-1", "Zoë", "Set", "größer", 5)]
    produce_jsonlines(spark.createDataFrame(rows, _ACCOUNT_DDL), src)
    p = DeliveryPipeline(spark, src, str(tmp_path / "out"), transform_fn=_tag_or_unserializable)
    p.run()
    r = p.result
    assert r.reconciled() and (r.n_input, r.n_ok, r.n_failed, r.n_dropped) == (2, 1, 1, 0)
    originals = {rec["id"]: rec for rec in _read_lines(spark, src)}
    assert _read_lines(spark, p.path(PREFIX_FAILED)) == [originals["bad-1"]]
    assert [rec["id"] for rec in _read_lines(spark, p.path(PREFIX_SUCCESS))] == ["ok-1"]


@contextmanager
def _own_worker_pool(spark):
    """Python UDFs built in this scope run in a worker pool of their
    own: Spark keys its pools by the workers' environment, and reused
    workers keep whatever modules earlier tasks imported."""
    env = spark.sparkContext.environment
    env["DELIVERY_TEST_WORKER_POOL"] = uuid.uuid4().hex
    try:
        yield
    finally:
        del env["DELIVERY_TEST_WORKER_POOL"]


def test_black_box_transform_is_a_batched_python_udf(spark):
    """The black-box transform is a batched pickled-row Python UDF: its
    executed plan holds BatchEvalPython and no ArrowEvalPython, and the
    worker running ``fn`` has imported neither pandas nor pyarrow. A
    null line is ProcessingFailed and ``fn`` never sees it."""

    def probe(rec: dict) -> dict:
        if rec["id"] == "drop":
            raise DropIt()  # resolving DropIt imports this package in the worker
        return {
            "pandas": "pandas" in sys.modules,
            "pyarrow": "pyarrow" in sys.modules,
            "id": rec["id"],
        }

    df = spark.createDataFrame([('{"id": "a"}',), ('{"id": "drop"}',), (None,)], "json_line string")
    with _own_worker_pool(spark):
        out = apply_transform(df, fn=probe)
    rows = out.collect()
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" in plan and "ArrowEvalPython" not in plan, plan
    assert [r.status for r in rows] == [STATUS_OK, STATUS_DROPPED, STATUS_FAILED]
    assert json.loads(rows[0].payload) == {"pandas": False, "pyarrow": False, "id": "a"}
    assert rows[1].payload is None and rows[2].payload is None


def test_backup_failure_branch(spark, source_dir, tmp_path):
    """K3 failure branch: when the raw-backup write fails past its one
    bounded retry, original rows land under 02-backup-failed/
    (reference prefix config kds_example/iac/s2_app.py:806-808)."""
    dest = tmp_path / "bf"
    dest.mkdir()
    # A regular file where the backup prefix must go: both attempts fail.
    (dest / PREFIX_BACKUP).write_text("not a directory")
    p = DeliveryPipeline(spark, source_dir, str(dest))
    p.run()
    r = p.result
    assert r.reconciled() and r.n_input > 0
    assert r.n_backup_failed == r.n_input
    assert r.backup_retries == 2 * r.n_batches  # initial + 1 retry per batch
    assert count_records(spark, p.path(PREFIX_BACKUP)) == 0
    assert count_records(spark, p.path(PREFIX_BACKUP_FAILED)) == r.n_input
    # the failure branch preserves the ORIGINAL pre-transform records
    src = {rec["id"]: rec for rec in _read_lines(spark, source_dir)}
    backed = _read_lines(spark, p.path(PREFIX_BACKUP_FAILED))
    assert backed and all(src[rec["id"]] == rec for rec in backed)


class _RecordingSink(DocumentSink):
    """Fake bulk-index client for the K4 seam test."""

    def __init__(self) -> None:
        self.batches: list[tuple[int, int]] = []

    def bulk_index(self, docs, batch_id: int) -> None:
        self.batches.append((batch_id, docs.count()))


class _DownSink(DocumentSink):
    def bulk_index(self, docs, batch_id: int) -> None:
        raise IOError("cluster unreachable")


def test_document_client_seam(spark, source_dir, tmp_path):
    """K4 seam: the pipeline talks only to the DocumentSink interface, so
    a client-backed implementation (opensearch-py bulk,
    kds_example/oss_utils.py:54-63) drops in without pipeline changes."""
    client = _RecordingSink()
    p = DeliveryPipeline(spark, source_dir, str(tmp_path / "seam"), document_client=client)
    p.run()
    assert p.document_sink is True  # passing a client enables the sink
    assert client.batches and sum(n for _, n in client.batches) == p.result.n_ok


def test_document_client_failure_routes_to_error(spark, source_dir, tmp_path):
    """K7 through the seam: a client that stays down exhausts the one
    bounded retry and the batch's payloads route to the error prefix.
    With planted failures the fallback must not clobber the K2 error
    write of the same flush (it uses its own flush key)."""
    for name, fn in (("seamf", None), ("seamf-t", _transform)):
        p = DeliveryPipeline(
            spark, source_dir, str(tmp_path / name), transform_fn=fn, document_client=_DownSink()
        )
        p.run()
        r = p.result
        assert r.doc_sink_retries == 2 * r.n_batches
        assert (r.n_failed > 0) == (fn is not None)
        assert count_records(spark, p.path(PREFIX_FAILED)) == r.n_ok + r.n_failed


def test_replay_batch_is_idempotent(spark, tmp_path):
    """Exactly-once under mid-batch crash: replaying the SAME micro-batch
    (what the checkpoint does after a crash between a sink write and the
    offset commit) rewrites its batch_id partitions instead of appending
    duplicates."""
    src = str(tmp_path / "src")
    produce_jsonlines(generate_bank_accounts(spark, 200, partitions=2), src)
    p = DeliveryPipeline(spark, src, str(tmp_path / "out"), document_sink=True)
    batch = spark.read.schema(BANK_ACCOUNT_SCHEMA).json(src)
    p._process_batch(batch, 0)
    assert count_records(spark, p.path(PREFIX_SUCCESS)) == 200
    p._process_batch(batch, 0)  # simulated post-crash replay
    assert count_records(spark, p.path(PREFIX_SUCCESS)) == 200
    assert count_records(spark, p.path(PREFIX_BACKUP)) == 200
    assert p.count_documents() == 200


def test_kinesis_stub_raises_cleanly(spark):
    from aws_dla_kinesis_delivery_stream_example_spark.sources.jsonlines import kinesis_reader

    with pytest.raises(NotImplementedError, match="connector"):
        kinesis_reader(spark, "my-stream")


def test_continuous_mode_runs_under_caller_retention(spark, source_dir, tmp_path):
    """B1/B2/B4 continuous mode: a processingTime-triggered pipeline is
    started and left running, delivers every record, and does not touch
    the session's progress retention."""
    before = spark.conf.get(PROGRESS_RETENTION_KEY, None)
    p = DeliveryPipeline(
        spark, source_dir, str(tmp_path / "cont"), trigger_seconds=1, document_sink=True
    )
    query = p.run()
    try:
        query.processAllAvailable()
        assert spark.conf.get(PROGRESS_RETENTION_KEY, None) == before
    finally:
        query.stop()
    n_source = spark.read.text(source_dir).count()
    assert p.result.reconciled() and p.result.n_input == n_source
    assert p.count_documents() == n_source
    assert spark.streams.active == []


_AQE = "spark.sql.adaptive.enabled"


@pytest.mark.parametrize("start_fails", [False, True])
def test_stream_starts_with_aqe_off(spark, source_dir, tmp_path, monkeypatch, start_fails):
    """AQE is off while ``DataStreamWriter.start`` runs (its analyzer
    would warn that a stream does not support it) and the caller's value
    is back afterwards, also when ``start`` raises."""
    from pyspark.sql.streaming.readwriter import DataStreamWriter

    seen = []
    real_start = DataStreamWriter.start

    def spy(self, *args, **kwargs):
        seen.append(spark.conf.get(_AQE))
        if start_fails:
            raise RuntimeError("start failed")
        return real_start(self, *args, **kwargs)

    monkeypatch.setattr(DataStreamWriter, "start", spy)
    before = spark.conf.get(_AQE)
    p = DeliveryPipeline(spark, source_dir, str(tmp_path / "aqe"))
    with pytest.raises(RuntimeError) if start_fails else nullcontext():
        p.run()
    assert seen == ["false"]
    assert spark.conf.get(_AQE) == before == "true"
    assert spark.streams.active == []


def _set_retention(spark, value: str | None) -> None:
    if value is None:
        spark.conf.unset(PROGRESS_RETENTION_KEY)
    else:
        spark.conf.set(PROGRESS_RETENTION_KEY, value)


# The caller's progress retention before a run: unset, or a value the
# caller chose. Either must be back once run() returns or raises.
CALLER_RETENTIONS = (None, "250")


def _run_dual(spark, dual, prior: str | None, raises=None) -> None:
    """Run ``dual`` under the caller retention ``prior`` (the session's
    own value is put back afterwards) and check that no query is left
    active and that ``prior`` is restored."""
    before = spark.conf.get(PROGRESS_RETENTION_KEY, None)
    _set_retention(spark, prior)
    try:
        with pytest.raises(raises) if raises else nullcontext():
            dual.run()
        assert spark.streams.active == []
        assert spark.conf.get(PROGRESS_RETENTION_KEY, None) == prior
    finally:
        _set_retention(spark, before)


def _progress_log(pipe) -> list[dict]:
    """The K8 progress records the pipeline's last query logged."""
    log = os.path.join(pipe.dest_dir, "_progress", f"{pipe.last_query.id}.jsonl")
    if not os.path.isfile(log):
        return []
    with open(log) as f:
        return [json.loads(line) for line in f]


def test_progress_log_reconciles(spark, tmp_path):
    """K8: a drain logs one StreamingQueryProgress line per micro-batch
    under ``_progress/<query id>.jsonl``, and the logged input rows
    reconcile with the run's counters and the durable success sink (the
    reference's README.rst:113-124 reconciliation)."""
    src = str(tmp_path / "src")
    produce_jsonlines(generate_bank_accounts(spark, 1000, partitions=4), src)
    n_files = len([f for f in glob.glob(os.path.join(src, "part-*")) if not f.endswith(".crc")])
    p = DeliveryPipeline(spark, src, str(tmp_path / "dest"), max_files_per_trigger=1)
    p.run()
    progress = _progress_log(p)
    assert p.result.n_batches == n_files > 1
    assert [pr["batchId"] for pr in progress] == list(range(n_files))
    rows = sum(pr["numInputRows"] for pr in progress)
    assert rows == p.result.n_input == 1000
    assert rows == count_records(spark, p.path(PREFIX_SUCCESS)) + p.result.n_failed


def test_dual_delivery_topology(spark, source_dir, tmp_path):
    """§3.4 full-topology parity: one source, two branches, E2E
    reconciliation across both (the reference's acceptance check). Both
    queries ran, both logged their progress, none is left active and
    the caller's progress retention is back."""
    from aws_dla_kinesis_delivery_stream_example_spark.streaming.pipeline import build_dual_delivery

    for i, prior in enumerate(CALLER_RETENTIONS):
        dual = build_dual_delivery(spark, source_dir, str(tmp_path / f"dual{i}"))
        _run_dual(spark, dual, prior)
        assert dual.reconciled()
        s3, docs = dual.to_s3.result, dual.to_docs.result
        assert s3.n_ok == s3.n_input == docs.n_ok == dual.to_docs.count_documents()
        assert _progress_log(dual.to_s3) and _progress_log(dual.to_docs)


def test_dual_delivery_one_stream_fails(spark, source_dir, tmp_path):
    """Two independent delivery streams: when one query fails, the other
    still drains to the end, and run() raises the failure only after
    both have terminated."""
    from pyspark.errors import StreamingQueryException

    from aws_dla_kinesis_delivery_stream_example_spark.streaming.pipeline import build_dual_delivery

    n_source = spark.read.text(source_dir).count()
    for i, prior in enumerate(CALLER_RETENTIONS):
        dest = tmp_path / f"dual{i}"
        dual = build_dual_delivery(spark, source_dir, str(dest))
        # Both backup attempts fail, and so does the K3 fallback write:
        # a regular file sits where each directory must go.
        (dest / "to-s3").mkdir(parents=True)
        for prefix in (PREFIX_BACKUP, PREFIX_BACKUP_FAILED):
            (dest / "to-s3" / prefix).write_text("not a directory")
        _run_dual(spark, dual, prior, raises=StreamingQueryException)
        assert dual.to_s3.result.n_batches == 0
        docs = dual.to_docs.result
        assert docs.n_input == n_source and docs.reconciled()
        assert dual.to_docs.count_documents() == docs.n_ok == n_source
        assert _progress_log(dual.to_docs)


def test_dual_delivery_start_failure_stops_the_other(spark, source_dir, tmp_path):
    """When the second query cannot start, run() raises without leaving
    the first one running under a progress retention it has restored."""
    from aws_dla_kinesis_delivery_stream_example_spark.streaming.pipeline import build_dual_delivery

    for i, prior in enumerate(CALLER_RETENTIONS):
        dest = tmp_path / f"dual{i}"
        dual = build_dual_delivery(spark, source_dir, str(dest))
        dest.mkdir()
        (dest / "to-oss").write_text("not a directory")  # no checkpoint dir fits
        _run_dual(spark, dual, prior, raises=Py4JJavaError)


def _flush_jobs(spark, pipe, batch_df) -> int:
    """Number of Spark jobs one ``_process_batch`` call runs."""
    sc = spark.sparkContext
    group = f"flush-{os.path.basename(pipe.dest_dir)}"
    sc.setJobGroup(group, "one delivery flush")
    try:
        pipe._process_batch(batch_df, 0)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_flush_job_count_transform_path(spark, source_dir, tmp_path):
    """A flush with planted failures runs exactly three jobs: backup,
    success and failed sink writes (no separate emptiness probe)."""
    p = DeliveryPipeline(spark, source_dir, str(tmp_path / "jobs-t"), transform_fn=_transform)
    batch = spark.read.schema(BANK_ACCOUNT_SCHEMA).json(source_dir)
    assert _flush_jobs(spark, p, batch) == 3
    assert p.result.n_failed > 0 and p.result.n_input == batch.count()


def test_flush_job_count_identity_path(spark, source_dir, tmp_path):
    """The identity flush with the document sink runs exactly three
    jobs: backup, success and document writes."""
    p = DeliveryPipeline(spark, source_dir, str(tmp_path / "jobs-i"), document_sink=True)
    batch = spark.read.schema(BANK_ACCOUNT_SCHEMA).json(source_dir)
    assert _flush_jobs(spark, p, batch) == 3
    assert p.count_documents() == p.result.n_ok == batch.count()


def test_empty_flush_writes_and_counts_nothing(spark, tmp_path):
    """An empty micro-batch routes no rows to any sink and is not
    counted, not even as a batch."""
    p = DeliveryPipeline(
        spark,
        str(tmp_path / "src"),
        str(tmp_path / "out"),
        transform_fn=_transform,
        document_sink=True,
    )
    p._process_batch(spark.createDataFrame([], BANK_ACCOUNT_SCHEMA), 0)
    for prefix in (PREFIX_BACKUP, PREFIX_BACKUP_FAILED, PREFIX_SUCCESS, PREFIX_FAILED):
        assert count_records(spark, p.path(prefix)) == 0
    assert p.count_documents() == 0
    assert p.result == DeliveryResult()


def test_sink_counts_raise_on_unreadable_sink(spark, tmp_path):
    """A sink that exists but cannot be read raises instead of counting
    as 0 records (a vacuous reconciliation); only a never-written sink
    counts 0."""
    p = DeliveryPipeline(spark, str(tmp_path / "src"), str(tmp_path / "out"), document_sink=True)
    assert p.count_documents() == 0
    part = tmp_path / "out" / "documents" / "batch_id=0"
    part.mkdir(parents=True)
    (part / "part-00000.parquet").write_bytes(b"this is not parquet")
    with pytest.raises(Py4JJavaError, match="parquet"):
        p.count_documents()


def test_byte_size_flush(spark, source_dir, tmp_path):
    """B1 size-based flush: ``max_buffer_bytes`` maps to the file
    source's maxBytesPerTrigger, so each micro-batch admits at most the
    byte cap (whole-file rounding) — the Firehose BufferingHints
    SizeInMBs condition (iac/s2_app.py:323-326), previously only
    approximated by trigger interval + file count."""
    files = [f for f in glob.glob(os.path.join(source_dir, "part-*")) if not f.endswith(".crc")]
    sizes = [os.path.getsize(f) for f in files]
    cap = max(sizes) + 1  # ~one file per flush after whole-file rounding
    p = DeliveryPipeline(spark, source_dir, str(tmp_path / "bytes"), max_buffer_bytes=cap)
    p.run()
    n_source = spark.read.text(source_dir).count()
    assert p.result.n_input == n_source  # no rows lost to the batching change
    progress = [pr for pr in _progress_log(p) if pr.get("numInputRows", 0) > 0]
    # 10+ source files at ~one file per flush: strictly more than one
    # micro-batch, and no batch admits more than cap + one file of rows.
    assert len(progress) > 1
    max_rows_per_file = max(spark.read.text(f).count() for f in files)
    assert all(pr["numInputRows"] <= 2 * max_rows_per_file for pr in progress)
