"""The fixed-dim vector builders take a Column or a SQL-string input;
both forms must collect to bit-identical values."""

from __future__ import annotations

import struct

from pyspark.sql import functions as F

from ai_tutor_based_on_rag_using_lanchain_and_vectordb_spark.functions import vector as V

DIM = 4
# negative values, a float32 subnormal (1e-40), a double subnormal
# (5e-324), signed zero and values near the float32 range limit
ROWS = [
    (1, [-1.5, 1e-40, -3.0e38, 2.25], [0.5, -1e-40, 1.0e-3, -7.0]),
    (2, [-0.0, 5e-324, 1.0, -2.5e-310], [3.0, 5e-324, -0.0, 1e-300]),
    (3, [1e-45, -1e-45, 0.1, -0.3], [-1.0e38, 2.0, -1e-41, 0.7]),
]
CONSTS = [-0.25, 5e-324, 1e-300, -3.5]


def _bits(df, form):
    rows = df.select("id", form.alias("x")).orderBy("id").collect()
    return [struct.pack(">d", r["x"]) for r in rows]


def _agree(df, col_form, sql_form):
    assert _bits(df, col_form) == _bits(df, sql_form)


def test_column_and_sql_forms_agree(spark):
    fl = spark.createDataFrame(ROWS, "id int, a array<float>, b array<float>")
    db = spark.createDataFrame(ROWS, "id int, a array<double>, b array<double>")
    for df, cast in ((fl, True), (db, True), (db, False)):
        _agree(df, V.dot_fixed(F.col("a"), F.col("b"), DIM, cast), V.dot_fixed("a", "b", DIM, cast))
        _agree(df, V.norm_fixed(F.col("a"), DIM, cast), V.norm_fixed("a", DIM, cast))
        _agree(df, V.dot_const(F.col("b"), CONSTS, cast), V.dot_const("b", CONSTS, cast))
