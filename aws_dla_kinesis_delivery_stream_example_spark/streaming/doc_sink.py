"""Document-sink client seam (SURVEY.md §2.5 K4).

The reference bulk-indexes transformed records into OpenSearch via an
opensearch-py client (kds_example/oss_utils.py:54-63,
kds_example/iac/s2_app.py:841-899). This module is the pluggable
equivalent: ``DeliveryPipeline`` talks only to the ``DocumentSink``
interface, so a real cluster deployment would swap in a client-backed
implementation without touching the pipeline. The local implementation
is a keyed parquet directory (sanctioned by SURVEY.md §1.5).

Idempotence contract: ``bulk_index`` MUST be a per-``batch_id``
overwrite (replaying a micro-batch after a crash rewrites that batch's
documents instead of appending duplicates) — that is what upgrades the
checkpointed source from at-least-once to effectively-exactly-once.
OpenSearch gets this for free from ``_id``-keyed upserts; every file
sink (the parquet documents and the four delivery prefixes) gets it
from ``write_flush``.
"""

from __future__ import annotations

import abc
from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def write_flush(df: DataFrame, path: str, flush_key, fmt: str) -> None:
    """The idempotent flush write: the flush lands under its own
    ``batch_id=<flush_key>`` partition with dynamic partition overwrite,
    so a replayed micro-batch rewrites its partition instead of
    appending duplicates (the exactly-once upgrade over the reference's
    at-least-once, SURVEY.md §2.9)."""
    (
        df.withColumn("batch_id", F.lit(flush_key))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id")
        .format(fmt)
        .save(path)
    )


class DocumentSink(abc.ABC):
    """bulk_index(df) contract — the opensearch-py ``bulk`` seam."""

    @abc.abstractmethod
    def bulk_index(self, docs: DataFrame, batch_id: int) -> None:
        """Index one micro-batch of documents, (id, payload) rows, into
        the sink's one fixed index (K6: NoRotation, as the reference).
        Must be idempotent in ``batch_id``."""


class ParquetDocumentSink(DocumentSink):
    """The local OpenSearch stand-in: a keyed parquet directory,
    partitioned by batch_id (idempotent replay)."""

    def __init__(self, path: str) -> None:
        self.path = path

    def bulk_index(self, docs: DataFrame, batch_id: int) -> None:
        write_flush(docs, self.path, batch_id, "parquet")


def opensearch_client_factory(hosts, **kwargs) -> Callable[[], object]:
    """Convenience factory for ``OpenSearchDocumentSink`` backed by a
    real opensearch-py client (reference connection:
    kds_example/oss_utils.py:11-40). Import-guarded: this container has
    no ``opensearch-py``, so the import error surfaces lazily with
    install instructions instead of at module import."""

    def factory():
        try:
            from opensearchpy import OpenSearch
        except ImportError as exc:  # pragma: no cover - env-dependent
            raise ImportError(
                "OpenSearchDocumentSink needs the opensearch-py package "
                "(pip install opensearch-py) on driver and executors"
            ) from exc
        return OpenSearch(hosts=hosts, **kwargs)

    return factory


class OpenSearchDocumentSink(DocumentSink):
    """K4 completed against a REAL bulk-index client (reference
    kds_example/oss_utils.py:43-63 + the Firehose OpenSearch
    destination, iac/s2_app.py:841-899).

    ``client_factory`` is any zero-arg callable returning an object with
    the opensearch-py surface used here (``indices.create`` and
    ``bulk``) — a factory rather than a client because connections are
    not picklable: each executor partition builds its own connection,
    the standard Spark foreachPartition client pattern.

    Semantics per the reference:
    - create-if-not-exists: ``indices.create(..., ignore=[400, 404])``
      of the one fixed index before the bulk (400 = already exists).
    - upsert-by-id: every document ships as an ``index`` action with
      ``_id`` = the record id, so a crash-replayed micro-batch
      overwrites its own documents — idempotent, matching the
      ``DocumentSink`` contract.
    - error routing: a bulk response with ``errors: true`` raises, which
      engages the pipeline's bounded retry (K7) and then the error-sink
      branch.

    Scale shape: documents stream out per partition in ``batch_size``
    NDJSON chunks — no driver collect; the only driver-side work is the
    one index creation.
    """

    def __init__(
        self,
        client_factory: Callable[[], object],
        index: str = "documents",
        batch_size: int = 500,
        index_body: dict | None = None,
    ) -> None:
        self.client_factory = client_factory
        self.index = index
        self.batch_size = batch_size
        self.index_body = index_body

    def bulk_index(self, docs: DataFrame, batch_id: int) -> None:
        factory = self.client_factory
        index = self.index
        batch_size = max(1, self.batch_size)

        # Driver-side DDL: create-if-not-exists.
        factory().indices.create(index=index, ignore=[400, 404], body=self.index_body)

        def send_partition(rows) -> None:
            import json as _json

            part_client = factory()
            actions: list[str] = []

            def flush() -> None:
                if not actions:
                    return
                resp = part_client.bulk(body="\n".join(actions) + "\n")
                if resp.get("errors"):
                    n_bad = sum(
                        1
                        for item in resp.get("items", [])
                        for op in item.values()
                        if op.get("status", 200) >= 300
                    )
                    raise IOError(f"bulk index reported {n_bad or 'unknown'} item failures")
                actions.clear()

            for row in rows:
                actions.append(_json.dumps({"index": {"_index": index, "_id": row["id"]}}))
                # payload is already a JSON document string — ship verbatim
                actions.append(row["payload"])
                if len(actions) >= 2 * batch_size:
                    flush()
            flush()

        docs.foreachPartition(send_partition)
