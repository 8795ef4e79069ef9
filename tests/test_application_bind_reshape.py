"""Tests for application (sandboxed lambda UDF), bind (join semantics),
fold/unfold (reshape) — the reference's trickiest parity points."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from openetlagent_spark.model import (
    ApplicationOperation,
    BindOperation,
    FoldOperation,
    UnfoldOperation,
)
from openetlagent_spark.operators import (
    apply_application,
    apply_bind,
    apply_fold,
    apply_unfold,
    compile_lambda,
)

# --- application -----------------------------------------------------------


def test_application_dollar_strip(spark):
    # The reference flagship's lambda (pipelines/enriched_output_def.yaml:44-48).
    df = spark.createDataFrame([Row(unit_price="$1050.00"), Row(unit_price="$25.50")])
    op = ApplicationOperation(
        input_columns=["unit_price"],
        function_str="lambda r: r['unit_price'].replace('$', '')",
        output_column="unit_price_clean",
        return_type="string",
    )
    got = sorted(r.unit_price_clean for r in apply_application(df, op).collect())
    assert got == ["1050.00", "25.50"]


def test_application_infers_return_type(spark):
    df = spark.createDataFrame([Row(a=3, b=4)])
    op = ApplicationOperation(
        input_columns=["a", "b"],
        function_str="lambda r: float(r['a'] * r['b'])",
        output_column="prod",
    )
    out = apply_application(df, op)
    assert dict(out.dtypes)["prod"] == "double"
    assert out.collect()[0].prod == 12.0


def test_application_sandbox_blocks_builtins():
    fn = compile_lambda("lambda r: __import__('os')")
    with pytest.raises(Exception):
        fn({"x": 1})


def test_application_sandbox_allows_core_types(spark):
    df = spark.createDataFrame([Row(s="abc")])
    op = ApplicationOperation(
        input_columns=["s"],
        function_str="lambda r: str(len(r['s'])) ",
        output_column="n",
        return_type="string",
    )
    assert apply_application(df, op).collect()[0].n == "3"


def _with_column_application(df, op):
    """application's earlier form: the pandas UDF placed by a plain
    ``withColumn``.  The generator form must match it."""
    from openetlagent_spark.operators.application import _infer_return_type

    fn = compile_lambda(op.function_str)

    def batch_fn(batch: pd.DataFrame) -> pd.Series:
        return batch.apply(fn, axis=1)

    udf = F.pandas_udf(batch_fn, returnType=_infer_return_type(df, op, fn))
    return df.withColumn(op.output_column, udf(F.struct(*op.input_columns)))


@pytest.mark.parametrize(
    "inputs,function_str,output,return_type",
    [
        (["a", "b"], "lambda r: r['a'] * 10 + len(r['b'])", "c", "integer"),
        # overwrite: the column keeps its position, the lambda reads the old value
        (["a", "b"], "lambda r: r['a'] * 10 + len(r['b'])", "a", "integer"),
        # overwrite of a column the lambda does not read
        (["a"], "lambda r: str(r['a'])", "b", "string"),
        # inferred type of an all-None lambda: string
        (["b"], "lambda r: None", "c", None),
        # an output named like the operator's temporary column
        (["a"], "lambda r: r['a'] + 1", "_x_application_out", "integer"),
    ],
    ids=["new", "overwrite_input", "overwrite_other", "returns_none", "temp_name"],
)
def test_application_matches_with_column_form(spark, inputs, function_str, output, return_type):
    df = spark.createDataFrame(
        [Row(a=1, b="x", z=0.5), Row(a=2, b="yy", z=None), Row(a=3, b="zzz", z=1.5)]
    )
    op = ApplicationOperation(
        input_columns=inputs,
        function_str=function_str,
        output_column=output,
        return_type=return_type,
    )
    got = apply_application(df, op)
    want = _with_column_application(df, op)
    assert got.schema == want.schema  # names, order, types, nullability
    assert sorted(got.collect()) == sorted(want.collect())
    if output == "a":
        assert sorted(r.a for r in got.collect()) == [11, 22, 33]


# --- bind ------------------------------------------------------------------


def _left(spark):
    return spark.createDataFrame(
        [
            Row(order_id=101, customer_id=1, country="LEFTLAND"),
            Row(order_id=102, customer_id=2, country="LEFTLAND"),
            Row(order_id=103, customer_id=9, country="LEFTLAND"),
        ]
    )


def _right(spark):
    return spark.createDataFrame(
        [
            Row(customer_id=1, customer_name="Alice", country="USA"),
            Row(customer_id=2, customer_name="Bob", country="UK"),
        ]
    )


def test_bind_left_join_drops_right_key_and_suffixes_collisions(spark):
    # Polars: right key dropped; colliding columns renamed `_right`
    # (SURVEY §2.3.2; pipelines depend on `country_right` etc.)
    op = BindOperation(
        right_file_path="customers",
        left_on="customer_id",
        right_on="customer_id",
        how="left",
        columns_to_add=["customer_name", "country"],
    )
    out = apply_bind(_left(spark), op, spark, right_df=_right(spark))
    assert set(out.columns) == {"order_id", "customer_id", "country", "customer_name", "country_right"}
    rows = {r.order_id: r for r in out.collect()}
    assert rows[101].customer_name == "Alice" and rows[101].country_right == "USA"
    assert rows[103].customer_name is None  # unmatched left row survives
    assert out.count() == 3


def test_bind_inner_join(spark):
    op = BindOperation(
        right_file_path="customers",
        left_on="customer_id",
        right_on="customer_id",
        how="inner",
        columns_to_add=["customer_name"],
    )
    out = apply_bind(_left(spark), op, spark, right_df=_right(spark))
    assert out.count() == 2


def test_bind_outer_join_coalesces_key(spark):
    right = spark.createDataFrame([Row(customer_id=2, customer_name="Bob"), Row(customer_id=7, customer_name="Eve")])
    op = BindOperation(
        right_file_path="x",
        left_on="customer_id",
        right_on="customer_id",
        how="outer",
        columns_to_add=["customer_name"],
    )
    out = apply_bind(_left(spark), op, spark, right_df=right)
    keys = sorted(r.customer_id for r in out.collect())
    assert keys == [1, 2, 7, 9]


def test_bind_cross_join(spark):
    right = spark.createDataFrame([Row(tag="a"), Row(tag="b")])
    op = BindOperation(right_file_path="x", how="cross", columns_to_add=["tag"])
    out = apply_bind(_left(spark), op, spark, right_df=right)
    assert out.count() == 6


def test_bind_reads_csv_with_declared_schema(spark, tmp_path):
    p = tmp_path / "dim.csv"
    p.write_text("k,v\n1,one\n2,two\n")
    op = BindOperation(
        right_file_path=str(p),
        right_schema_columns={"k": "integer", "v": "string"},
        left_on="customer_id",
        right_on="k",
        how="left",
        columns_to_add=["v"],
    )
    out = apply_bind(_left(spark), op, spark)
    rows = {r.order_id: r.v for r in out.collect()}
    assert rows == {101: "one", 102: "two", 103: None}


def test_bind_collision_with_left_join_key_gets_suffixed(spark):
    # A right column named like the LEFT join key must still be suffixed
    # (it is a data column, not the key — the key is right_on).
    left = spark.createDataFrame([Row(customer_id=1, x="l")])
    right = spark.createDataFrame([Row(rid=1, customer_id=999, y="r")])
    op = BindOperation(
        right_file_path="x",
        left_on="customer_id",
        right_on="rid",
        how="left",
        columns_to_add=["customer_id", "y"],
    )
    out = apply_bind(left, op, spark, right_df=right)
    assert set(out.columns) == {"customer_id", "x", "customer_id_right", "y"}
    r = out.collect()[0]
    assert r.customer_id == 1 and r.customer_id_right == 999


def test_bind_right_key_in_columns_to_add_deduped(spark):
    left = spark.createDataFrame([Row(k=1, x="l")])
    right = spark.createDataFrame([Row(k=1, y="r")])
    op = BindOperation(
        right_file_path="x", left_on="k", right_on="k", how="inner",
        columns_to_add=["k", "y"],
    )
    out = apply_bind(left, op, spark, right_df=right)
    assert out.columns.count("k") == 1
    assert set(out.columns) == {"k", "x", "y"}


def test_bind_missing_column_error_names_available(spark):
    op = BindOperation(
        right_file_path="x",
        left_on="customer_id",
        right_on="customer_id",
        how="left",
        columns_to_add=["nope"],
    )
    with pytest.raises(ValueError, match=r"\['nope'\]"):
        apply_bind(_left(spark), op, spark, right_df=_right(spark))


# --- fold / unfold ---------------------------------------------------------


def test_fold_basic(spark):
    df = spark.createDataFrame([Row(id=1, x=10.0, y=20.0)])
    op = FoldOperation(
        id_columns=["id"], value_columns=["x", "y"], key_column_name="k", value_column_name="v"
    )
    out = apply_fold(df, op).orderBy("k").collect()
    assert [(r.id, r.k, r.v) for r in out] == [(1, "x", 10.0), (1, "y", 20.0)]


def test_fold_id_value_overlap_replicates_rows(spark):
    # Committed reference pipeline folds its own id columns, replicating
    # each row len(value_columns)× (pipelines/summary_output_def.yaml:71-97).
    df = spark.createDataFrame([Row(region="USA", a=1.0, b=2.0, c=3.0)])
    op = FoldOperation(
        id_columns=["region", "a"],
        value_columns=["a", "b", "c"],
        key_column_name="k",
        value_column_name="v",
    )
    out = apply_fold(df, op)
    assert out.count() == 3
    assert set(out.columns) == {"region", "a", "k", "v"}


def test_fold_mixed_types_supercast_to_string(spark):
    df = spark.createDataFrame([Row(id=1, num=5, txt="hello")])
    op = FoldOperation(
        id_columns=["id"], value_columns=["num", "txt"], key_column_name="k", value_column_name="v"
    )
    out = apply_fold(df, op)
    assert dict(out.dtypes)["v"] == "string"
    got = {r.k: r.v for r in out.collect()}
    assert got == {"num": "5", "txt": "hello"}


def test_fold_numeric_mix_supercasts_to_double(spark):
    df = spark.createDataFrame([Row(id=1, i=5, f=2.5)])
    op = FoldOperation(
        id_columns=["id"], value_columns=["i", "f"], key_column_name="k", value_column_name="v"
    )
    out = apply_fold(df, op)
    assert dict(out.dtypes)["v"] == "double"


def test_unfold_pivot_first_deterministic(spark):
    # Duplicate (index, key): FIRST wins (app/operations/unfold.py:34);
    # deterministic via the order column.
    df = spark.createDataFrame(
        [
            Row(id=1, k="a", v=10.0, seq=1),
            Row(id=1, k="a", v=99.0, seq=2),  # duplicate -> first (seq=1) wins
            Row(id=1, k="b", v=20.0, seq=3),
            Row(id=2, k="a", v=30.0, seq=4),
        ]
    )
    op = UnfoldOperation(
        index_columns=["id"], key_column="k", value_column="v", order_column="seq"
    )
    out = {r.id: r for r in apply_unfold(df, op).collect()}
    assert out[1].a == 10.0 and out[1].b == 20.0
    assert out[2].a == 30.0 and out[2].b is None


def test_unfold_without_order_column_uses_scan_order(spark):
    df = spark.createDataFrame([Row(id=1, k="a", v=1.0), Row(id=1, k="a", v=2.0)]).coalesce(1)
    op = UnfoldOperation(index_columns=["id"], key_column="k", value_column="v")
    assert apply_unfold(df, op).collect()[0].a == 1.0


def test_fold_then_unfold_roundtrip(spark):
    df = spark.createDataFrame([Row(id=1, x=10.0, y=20.0), Row(id=2, x=30.0, y=40.0)])
    folded = apply_fold(
        df,
        FoldOperation(id_columns=["id"], value_columns=["x", "y"], key_column_name="k", value_column_name="v"),
    )
    unfolded = apply_unfold(
        folded, UnfoldOperation(index_columns=["id"], key_column="k", value_column="v")
    )
    got = {r.id: (r.x, r.y) for r in unfolded.collect()}
    assert got == {1: (10.0, 20.0), 2: (30.0, 40.0)}


def test_bind_multikey_join(spark):
    from openetlagent_spark.model import BindOperation
    from openetlagent_spark.operators import apply_bind

    left = spark.createDataFrame(
        [Row(k1=1, k2="a", v=10), Row(k1=1, k2="b", v=20), Row(k1=2, k2="a", v=30)]
    )
    right = spark.createDataFrame(
        [Row(k1=1, k2="a", extra="x"), Row(k1=2, k2="a", extra="y"), Row(k1=9, k2="z", extra="n")]
    )
    op = BindOperation(
        left_on=["k1", "k2"], right_on=["k1", "k2"], how="inner", columns_to_add=["extra"]
    )
    out = apply_bind(left, op, spark, right_df=right)
    got = sorted((r.k1, r.k2, r.v, r.extra) for r in out.collect())
    assert got == [(1, "a", 10, "x"), (2, "a", 30, "y")]
    # both right key columns dropped, no duplicates
    assert out.columns == ["k1", "k2", "v", "extra"]


def test_bind_multikey_outer_coalesces_all_keys(spark):
    from openetlagent_spark.model import BindOperation
    from openetlagent_spark.operators import apply_bind

    left = spark.createDataFrame([Row(k1=1, k2="a", v=10)])
    right = spark.createDataFrame([Row(k1=2, k2="b", extra="y")])
    op = BindOperation(
        left_on=["k1", "k2"], right_on=["k1", "k2"], how="outer", columns_to_add=["extra"]
    )
    got = sorted(
        (r.k1, r.k2, r.v, r.extra) for r in apply_bind(left, op, spark, right_df=right).collect()
    )
    assert got == [(1, "a", 10, None), (2, "b", None, "y")]


def test_bind_key_count_mismatch_raises():
    from openetlagent_spark.model import BindOperation, SpecError

    with pytest.raises(SpecError, match="key counts differ"):
        BindOperation(left_on=["a", "b"], right_on="a", how="inner")


def test_bind_salted_join_matches_unsalted(spark):
    from openetlagent_spark.model import BindOperation
    from openetlagent_spark.operators import apply_bind

    # Skewed left: one hot key with many rows.
    left = spark.createDataFrame(
        [Row(k=1, v=i) for i in range(200)] + [Row(k=2, v=-1), Row(k=3, v=-2)]
    )
    right = spark.createDataFrame([Row(k=1, name="hot"), Row(k=2, name="cold")])

    plain = BindOperation(left_on="k", right_on="k", how="left", columns_to_add=["name"])
    salted = BindOperation(
        left_on="k", right_on="k", how="left", columns_to_add=["name"], skew_salt=8
    )
    want = sorted(
        (r.k, r.v, r.name)
        for r in apply_bind(left, plain, spark, right_df=right, broadcast=False).collect()
    )
    got = sorted(
        (r.k, r.v, r.name)
        for r in apply_bind(left, salted, spark, right_df=right, broadcast=False).collect()
    )
    assert got == want
    assert len(got) == 202


def test_bind_salt_invalid_how_raises():
    from openetlagent_spark.model import BindOperation, SpecError

    with pytest.raises(SpecError, match="skew_salt"):
        BindOperation(left_on="k", right_on="k", how="outer", skew_salt=4)
