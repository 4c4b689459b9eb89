"""Pipeline builder (SURVEY.md §3.4): construct the reference's full
topology — one source, two delivery streams (S3-style JSON-lines sink
and OpenSearch-style document sink), each with its own transform,
backup, error routing and checkpoint — and run them concurrently.

The reference assembles this with CloudFormation resource groups
(rg5/rg6 both consuming one Kinesis stream, iac/s2_app.py:314-316,
:836-839); here it's two DeliveryPipeline instances over one source
directory.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import SparkSession

from .delivery import DeliveryPipeline, progress_retention


@dataclass
class DualDelivery:
    """The two delivery streams run as two concurrent streaming queries
    on one session, each with its own checkpoint (the Structured
    Streaming model of independent queries side by side), so their
    micro-batch bodies run on separate callback threads. They share no
    mutable state: each pipeline owns its ``DeliveryResult``,
    ``Observation``s, destination dir and document client."""

    to_s3: DeliveryPipeline
    to_docs: DeliveryPipeline

    def run(self) -> "DualDelivery":
        """Start both queries, then, for drain-mode (availableNow)
        pipelines, wait for both and write both ``_progress`` logs. A
        failed query does not stop the other from draining: the first
        failure is re-raised once both have terminated. Both starts, both
        waits and the stop-on-failure cleanup run inside one
        ``progress_retention`` block, so the caller's retention is back
        only after no drain is left running. Continuous-mode pipelines
        are started and left running under the caller's retention, as
        ``DeliveryPipeline.run`` does."""
        pipes = (self.to_s3, self.to_docs)
        drains = [p for p in pipes if p.trigger_seconds is None]
        failures = []
        with progress_retention(self.to_s3.spark):
            try:
                for pipe in pipes:
                    pipe.run(await_termination=False)
                for pipe in drains:
                    try:
                        pipe.finish(pipe.last_query)
                    except Exception as exc:  # the other stream still drains
                        failures.append(exc)
            finally:
                # Only reached with a query still active when a start
                # failed or the wait was interrupted: no drain outlives
                # run().
                for pipe in drains:
                    query = getattr(pipe, "last_query", None)
                    if query is not None and query.isActive:
                        query.stop()
        if failures:
            raise failures[0]
        return self

    def reconciled(self) -> bool:
        """The reference's E2E acceptance (README.rst:113-124): both
        branches account for every input record."""
        return (
            self.to_s3.result.reconciled()
            and self.to_docs.result.reconciled()
            and self.to_s3.result.n_input == self.to_docs.result.n_input
        )


def build_dual_delivery(spark: SparkSession, source_dir: str, dest_root: str) -> DualDelivery:
    """The reference's two-destination fan-out with its defaults: both
    branches drain one shared source with the identity transform, each
    with its own backups and checkpoint; the second also fills the
    document sink. Other topologies construct ``DualDelivery``
    directly."""
    return DualDelivery(
        to_s3=DeliveryPipeline(spark, source_dir, f"{dest_root}/to-s3"),
        to_docs=DeliveryPipeline(spark, source_dir, f"{dest_root}/to-oss", document_sink=True),
    )
