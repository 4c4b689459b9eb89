"""The per-record transform protocol (SURVEY.md §2.2 T1-T6, §2.3 F1-F2).

Reference semantics reproduced (kds_example/kds_helper.py:29-63):
- transform returns a dict        -> status "OK", payload = transformed
- transform raises DropIt         -> status "Dropped" (filtered from sink)
- transform raises anything else  -> status "ProcessingFailed", payload =
  the ORIGINAL record (error sink gets the untouched input,
  kds_example/kds_helper.py:49-51)
- recordId is echoed through unchanged (T6, kds_example/lbd/common.py:24-25)

Two execution paths:
- identity (no ``fn``): the payload is the input's ``json_line``, and a
  record is OK unless a caller's ``fail_when`` Column holds; stays
  fully JVM-side, whole-stage codegen — the fast path.
- black-box dict->dict Python transforms (the reference's actual
  extension hook, kds_example/lbd/to_s3.py:6-7): a batched Python UDF
  over the JSON string column (pickled rows, ``BatchEvalPython``).
  ``fn`` runs once per record whatever the batch format, so Arrow
  vectorizes nothing here; it would only make every worker import
  pandas and pyarrow (about 65 MB more per worker).
"""

from __future__ import annotations

import json
from collections.abc import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

STATUS_OK = "OK"
STATUS_DROPPED = "Dropped"
STATUS_FAILED = "ProcessingFailed"


class DropIt(Exception):
    """Raise inside a transform to mark the record Dropped
    (reference kds_example/kds_helper.py:26)."""


_RESULT_SCHEMA = T.StructType(
    [
        T.StructField("payload", T.StringType(), True),
        T.StructField("status", T.StringType(), False),
    ]
)


def transform_udf(fn: Callable[[dict], dict]):
    """Wrap a black-box dict->dict transform as a batched Python UDF
    producing struct(payload json-string, status)."""

    def run(line: str | None) -> tuple[str | None, str]:
        try:
            return json.dumps(fn(json.loads(line)), ensure_ascii=False), "OK"
        except Exception as exc:
            # Match DropIt by name so the worker doesn't need this
            # module importable (the closure stays self-contained).
            if type(exc).__name__ == "DropIt":
                return None, "Dropped"
            # ProcessingFailed keeps the ORIGINAL payload
            # (reference kds_example/kds_helper.py:49-51).
            return line, "ProcessingFailed"

    # useArrow=False pins the pickled-row path whatever the session's
    # spark.sql.execution.pythonUDF.arrow.enabled says.
    return F.udf(run, returnType=_RESULT_SCHEMA, useArrow=False)


def apply_transform(
    df: DataFrame,
    fn: Callable[[dict], dict] | None = None,
    fail_when: Column | None = None,
) -> DataFrame:
    """Produce df + (payload, status) columns from ``df.json_line``.

    Identity mode (no ``fn``): the payload is ``json_line``; stays
    JVM-side, and a record is OK unless ``fail_when`` holds
    (ProcessingFailed). Black-box mode: pass ``fn`` and the transform
    runs as a batched Python UDF over ``json_line``; ``fn`` decides every
    status itself (DropIt -> Dropped).
    """
    if fn is not None:
        res = transform_udf(fn)(F.col("json_line"))
        return df.withColumn("payload", res["payload"]).withColumn("status", res["status"])
    status = F.lit(STATUS_OK)
    if fail_when is not None:
        status = F.when(fail_when, STATUS_FAILED).otherwise(status)
    return df.withColumn("payload", F.col("json_line")).withColumn("status", status)
