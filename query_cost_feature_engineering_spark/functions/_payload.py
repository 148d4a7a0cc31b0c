"""The payload-UDF idiom behind every per-image and per-clip featurizer.

A featurizer is a per-row function: one payload (``bytes``, plus the
declared ``fmt`` for images) in, one tuple out, in the field order of a
struct schema. ``payload_frame`` is the pandas half: it runs that
function over one Arrow batch and types the columns by the schema; the
golden oracles and the tests call it through the ``*_pandas`` entry
points. ``with_payload_columns`` is the Spark half: one Arrow-batched
scalar pandas UDF whose struct is unpacked into top-level columns, so
the Python boundary is this one piece of code.

``on_error="null"``: web-scale corpora always contain corrupt payloads
(the reference's salvage-parser discipline, tpch_utils_knob.py:414-433).
A row whose function raises gets NULL in every output column and
``decode_ok=false`` instead of failing the task.
"""

from __future__ import annotations

from collections.abc import Callable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

_NUMPY_DTYPES = {
    "int": np.int32,
    "bigint": np.int64,
    "double": np.float64,
    "boolean": np.bool_,
    "binary": object,
}


def payload_frame(
    row_fn: Callable[..., tuple],
    schema: T.StructType,
    *cols: pd.Series,
    on_error: str = "fail",
) -> pd.DataFrame:
    """``row_fn(payload, *rest)`` over the zipped input columns (payload
    first) as a frame with ``schema``'s columns and numpy dtypes. With
    ``on_error='null'`` failed rows are all-None (those columns become
    object dtype) and a ``decode_ok`` column is appended."""
    names = schema.fieldNames()
    null_row = (None,) * len(names)
    rows, ok = [], []
    for payload, *rest in zip(*cols):
        try:
            rows.append(row_fn(bytes(payload), *rest))
            ok.append(True)
        except Exception:
            if on_error == "fail":
                raise
            rows.append(null_row)
            ok.append(False)
    all_ok = all(ok)
    values = zip(*rows) if rows else [()] * len(names)
    out = pd.DataFrame(
        {
            f.name: np.array(
                v,
                dtype=_NUMPY_DTYPES[f.dataType.simpleString()] if all_ok else object,
            )
            for f, v in zip(schema.fields, values)
        }
    )
    if on_error != "fail":
        out["decode_ok"] = np.array(ok, dtype=np.bool_)
    return out


def with_payload_columns(
    df: DataFrame,
    row_fn: Callable[..., tuple],
    schema: T.StructType,
    inputs: tuple[str, ...] = ("bytes", "fmt"),
    drop_payload: bool = False,
    on_error: str = "fail",
) -> DataFrame:
    """Append ``schema``'s fields (plus ``decode_ok`` when
    ``on_error='null'``) as columns computed by ``row_fn`` over
    ``inputs``. Map-only: one Arrow UDF evaluation per row, its struct
    unpacked in one projection of SQL text: a field named like an input
    column replaces it in place, the others are appended. ``drop_payload``
    removes ``bytes`` so downstream shuffles never carry payloads."""
    out_schema = (
        schema
        if on_error == "fail"
        else T.StructType(
            schema.fields + [T.StructField("decode_ok", T.BooleanType())]
        )
    )

    def udf(*cols: pd.Series) -> pd.DataFrame:
        return payload_frame(row_fn, schema, *cols, on_error=on_error)

    udf.__name__ = row_fn.__name__  # names the UDF in the plan
    cols, fields = df.columns, out_schema.fieldNames()
    q = {c: "`" + c.replace("`", "``") + "`" for c in cols + fields}
    field = {c: f"`_payload`.{q[c]} AS {q[c]}" for c in fields}
    df = df.withColumn("_payload", F.pandas_udf(udf, out_schema)(*inputs))
    return df.selectExpr(
        *[field.get(c, q[c]) for c in cols if not (drop_payload and c == "bytes")],
        *[field[c] for c in fields if c not in cols],
    )
