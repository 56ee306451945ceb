"""The shape of a JSON payload as one JVM-side column expression."""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def json_key_set(col: str) -> Column:
    """The payload's top-level keys, sorted and comma-joined — the
    schema-drift census key shared by the batch ``json_schema_census``
    query, the pipeline ``schema_drift`` step and
    ``schema_drift_stream``. A NULL payload is '<null>'; a malformed
    one is '<invalid>' (``json_object_keys`` returns NULL for it).
    Codegen'd JSON walk per row, no Python."""
    return F.when(F.col(col).isNull(), F.lit("<null>")).otherwise(
        F.coalesce(
            F.array_join(F.array_sort(F.json_object_keys(col)), ","),
            F.lit("<invalid>"),
        )
    )
