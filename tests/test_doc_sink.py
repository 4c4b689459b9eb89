"""OpenSearchDocumentSink against a fake transport (SURVEY.md §2.5 K4,
reference kds_example/oss_utils.py:43-63): bulk upsert-by-id,
create-if-not-exists, item-error routing through the pipeline's K7
retry into the error sink."""

from __future__ import annotations

import json
import os

from aws_dla_kinesis_delivery_stream_example_spark.sources.jsonlines import (
    generate_bank_accounts,
    produce_jsonlines,
)
from aws_dla_kinesis_delivery_stream_example_spark.streaming.delivery import (
    PREFIX_FAILED,
    DeliveryPipeline,
)
from aws_dla_kinesis_delivery_stream_example_spark.streaming.doc_sink import (
    OpenSearchDocumentSink,
    opensearch_client_factory,
)


def _fake_factory(record_dir: str, fail_bulk: bool = False):
    """Picklable factory producing a fake opensearch-py-shaped client.

    The fake is built INSIDE the factory closure (stdlib only) so
    executors reconstruct it without importing this test module; calls
    are recorded to ``record_dir`` because executor state never returns
    to the driver."""

    def factory():
        import json as _json
        import os as _os
        import uuid as _uuid

        class _Indices:
            def create(self, index, ignore=(), body=None):
                _os.makedirs(record_dir, exist_ok=True)
                with open(_os.path.join(record_dir, f"_index_{index}"), "w") as f:
                    f.write(_json.dumps({"ignore": list(ignore)}))
                return {"acknowledged": True}

        class _FakeClient:
            def __init__(self):
                self.indices = _Indices()

            def bulk(self, body):
                lines = [ln for ln in body.split("\n") if ln]
                assert len(lines) % 2 == 0, "bulk body must be action/doc pairs"
                if fail_bulk:
                    return {
                        "errors": True,
                        "items": [{"index": {"status": 500, "error": "boom"}}],
                    }
                recs, items = [], []
                for i in range(0, len(lines), 2):
                    meta = _json.loads(lines[i])["index"]
                    doc = _json.loads(lines[i + 1])
                    recs.append(
                        _json.dumps(
                            {"_index": meta["_index"], "_id": meta["_id"], "doc": doc}
                        )
                    )
                    items.append({"index": {"_id": meta["_id"], "status": 200}})
                _os.makedirs(record_dir, exist_ok=True)
                with open(
                    _os.path.join(record_dir, _uuid.uuid4().hex + ".ndjson"), "w"
                ) as f:
                    f.write("\n".join(recs) + "\n")
                return {"errors": False, "items": items}

        return _FakeClient()

    return factory


def _indexed_docs(record_dir: str) -> list[dict]:
    out = []
    for name in os.listdir(record_dir):
        if name.endswith(".ndjson"):
            with open(os.path.join(record_dir, name)) as f:
                out.extend(json.loads(ln) for ln in f if ln.strip())
    return out


def test_bulk_upsert_by_id(spark, tmp_path):
    """Documents land as index actions keyed by _id (upsert semantics),
    batched in small bulks, with create-if-not-exists DDL first."""
    rec = str(tmp_path / "rec")
    src = str(tmp_path / "src")
    produce_jsonlines(generate_bank_accounts(spark, 300, partitions=4), src)
    sink = OpenSearchDocumentSink(_fake_factory(rec), index="accounts", batch_size=50)
    p = DeliveryPipeline(spark, src, str(tmp_path / "dest"), document_client=sink)
    p.run()
    assert p.result.n_ok == 300 and p.result.doc_sink_retries == 0
    docs = _indexed_docs(rec)
    assert len(docs) == 300
    assert {d["_index"] for d in docs} == {"accounts"}
    # _id mirrors the payload id -> replay overwrites, never duplicates
    assert all(str(d["doc"]["id"]) == str(d["_id"]) for d in docs)
    assert os.path.exists(os.path.join(rec, "_index_accounts"))
    ddl = json.load(open(os.path.join(rec, "_index_accounts")))
    assert ddl["ignore"] == [400, 404]  # create-if-not-exists semantics


def test_bulk_item_errors_route_to_error_sink(spark, tmp_path):
    """A bulk response with errors raises -> one bounded retry (K7) ->
    OK payloads land in the error sink under the -docs flush key."""
    rec = str(tmp_path / "rec")
    src = str(tmp_path / "src")
    produce_jsonlines(generate_bank_accounts(spark, 40, partitions=2), src)
    sink = OpenSearchDocumentSink(_fake_factory(rec, fail_bulk=True), batch_size=10)
    p = DeliveryPipeline(spark, src, str(tmp_path / "dest"), document_client=sink)
    p.run()
    assert p.result.doc_sink_retries == 2  # initial attempt + 1 retry failed
    failed = spark.read.text(p.path(PREFIX_FAILED))
    assert failed.count() == 40  # originals preserved in the K2 prefix
    assert not _indexed_docs(rec)  # nothing claimed indexed


def test_real_client_factory_is_import_guarded():
    """Without opensearch-py installed the factory raises a clear
    ImportError at call time, not at module import."""
    factory = opensearch_client_factory([{"host": "example.invalid", "port": 443}])
    try:
        import opensearchpy  # noqa: F401
    except ImportError:
        import pytest

        with pytest.raises(ImportError, match="opensearch-py"):
            factory()
