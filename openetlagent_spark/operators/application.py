"""``application``: row-wise sandboxed Python lambda.

The reference compiles an untrusted lambda string with a restricted
``eval`` (only float/int/str/list/dict/set/tuple/True/False/None in
scope — app/operations/application.py:14-19) and maps it row-at-a-time
over a struct of the input columns (app/operations/application.py:26-29,
self-described as "potentially slow").

Spark-first design: the same restricted-eval compilation, but executed
as an **Arrow-batched pandas UDF** over a struct column — batch transfer
instead of per-row pickling (~10-100× faster than a row UDF).  The
lambda receives a dict-like row (``r['col']``), exactly the reference's
calling convention (app/instruct_prompt.py:81).  The UDF column comes
out of a one-row generator, so it is evaluated once per row even when a
later filter reads it (see :func:`apply_application`).

Return type: Polars infers it; Spark needs a declared type.  We accept a
declared ``return_type`` on the spec, else infer by probing the lambda on
a 1-row sample (``df.limit(1)`` — one tiny job, the lazy analogue of the
reference's trial-execution probe at app/main.py:255), else ``string``.
"""

from __future__ import annotations

from typing import Any, Callable

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..model import ApplicationOperation
from ..types import logical_to_spark
from .base import require_columns

# The reference's exact sandbox surface (app/operations/application.py:14-17).
SANDBOX_BUILTINS: dict[str, Any] = {
    "float": float,
    "int": int,
    "str": str,
    "list": list,
    "dict": dict,
    "set": set,
    "tuple": tuple,
    "True": True,
    "False": False,
    "None": None,
    # len/abs/round/min/max are pervasive in generated lambdas and are
    # side-effect-free; the reference prompt warns builtins beyond the
    # core set are "unreliable" (app/instruct_prompt.py:80) — we make
    # these reliable.
    "len": len,
    "abs": abs,
    "round": round,
    "min": min,
    "max": max,
}


def compile_lambda(function_str: str) -> Callable[[Any], Any]:
    """Compile the lambda string in the restricted sandbox
    (reference: app/operations/application.py:14-19)."""
    try:
        fn = eval(function_str, {"__builtins__": SANDBOX_BUILTINS}, {})
    except Exception as exc:
        raise ValueError(f"Failed to compile application lambda {function_str!r}: {exc}") from exc
    if not callable(fn):
        raise ValueError(f"application function_str must evaluate to a callable, got {function_str!r}")
    return fn


_PYTHON_TO_SPARK: list[tuple[type, T.DataType]] = [
    (bool, T.BooleanType()),
    (int, T.LongType()),
    (float, T.DoubleType()),
    (str, T.StringType()),
]


def _infer_return_type(df: DataFrame, op: ApplicationOperation, fn: Callable) -> T.DataType:
    if op.return_type is not None:
        return logical_to_spark(op.return_type)
    probe = df.select(*op.input_columns).limit(1).collect()
    if probe:
        try:
            result = fn(probe[0].asDict())
            for py_type, spark_type in _PYTHON_TO_SPARK:
                if isinstance(result, py_type):
                    return spark_type
        except Exception:
            pass
    return T.StringType()


def apply_application(df: DataFrame, op: ApplicationOperation) -> DataFrame:
    require_columns(df, op.input_columns, "application")
    fn = compile_lambda(op.function_str)
    return_type = _infer_return_type(df, op, fn)

    def batch_fn(batch: pd.DataFrame) -> pd.Series:
        # Each row arrives as a pandas Series supporting r['col'] — the
        # reference's dict-like calling convention.
        return batch.apply(fn, axis=1)

    udf = F.pandas_udf(batch_fn, returnType=return_type)
    value = udf(F.struct(*[F.col(c) for c in op.input_columns]))
    # The UDF runs inside a one-row generator and its output is then
    # placed with withColumn semantics (appended, or replacing an
    # existing column in place).  Catalyst pushes filters through a
    # plain projection by inlining its expressions, so a later filter on
    # the output would evaluate the UDF a second time below the
    # projection.  A generator's output cannot be inlined: such filters
    # stay above the single ArrowEvalPython node, while filters on other
    # columns still push below it into the scan.  The price is that the
    # generator is never pruned — the UDF runs even if nothing reads its
    # output.  The generated name is a temporary one, so that on an
    # overwrite the UDF still reads the column's old value.
    taken = {c.lower() for c in [*df.columns, op.output_column]}
    tmp = "_x_application_out"
    while tmp.lower() in taken:
        tmp += "_"
    generated = df.select("*", F.inline(F.array(F.struct(value.alias(tmp)))))
    return generated.withColumn(op.output_column, F.col(tmp)).drop(tmp)
