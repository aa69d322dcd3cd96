"""One way to make a driver-side table: ``session.local_table``. It plans
a LocalTableScan (no Python worker) in any session, and no module of the
package calls ``createDataFrame`` anywhere else."""

from __future__ import annotations

import ast
import datetime
import os

from ai_tutor_based_on_rag_using_lanchain_and_vectordb_spark.session import local_table

PACKAGE = "ai_tutor_based_on_rag_using_lanchain_and_vectordb_spark"


def _stray_create_calls(root: str) -> list[str]:
    """``file:line`` of every ``createDataFrame(`` call outside
    ``session.local_table``."""
    stray = []
    for dp, _dirs, files in os.walk(root):
        for f in sorted(files):
            if not f.endswith(".py"):
                continue
            path = os.path.join(dp, f)
            rel = os.path.relpath(path, os.path.dirname(root))
            with open(path, encoding="utf-8") as fh:
                tree = ast.parse(fh.read(), path)
            allowed: set[int] = set()
            if rel == os.path.join(PACKAGE, "session.py"):
                for node in tree.body:
                    if isinstance(node, ast.FunctionDef) and node.name == "local_table":
                        allowed = {id(n) for n in ast.walk(node)}
            for node in ast.walk(tree):
                if (isinstance(node, ast.Call)
                        and isinstance(node.func, ast.Attribute)
                        and node.func.attr == "createDataFrame"
                        and id(node) not in allowed):
                    stray.append(f"{rel}:{node.lineno}: .createDataFrame(")
    return stray


def test_every_driver_table_goes_through_local_table():
    root = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), PACKAGE)
    stray = _stray_create_calls(root)
    assert not stray, "createDataFrame outside session.local_table:\n" + "\n".join(stray)


def test_local_table_is_a_local_scan_without_the_arrow_conf(spark):
    conf = "spark.sql.execution.arrow.pyspark.enabled"
    before = spark.conf.get(conf)
    spark.conf.set(conf, "false")
    try:
        rows = [
            (1, [[1.0, -0.0], [5e-324]], "a", datetime.date(2020, 1, 2), {"k": 1}, (2, "x")),
            (2, None, None, None, None, None),
        ]
        df = local_table(
            spark, rows,
            "id long, lut array<array<double>>, s string, d date, "
            "m map<string,int>, st struct<a:int,b:string>",
        )
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "LocalTableScan" in plan and "ExistingRDD" not in plan, plan
        got = [tuple(r) for r in df.orderBy("id").collect()]
        assert got[0][:5] == rows[0][:5] and tuple(got[0][5]) == rows[0][5]
        assert got[1] == rows[1]
    finally:
        spark.conf.set(conf, before)


def test_local_table_empty(spark):
    df = local_table(spark, [], "query_id long, neighbor_id long, score double")
    assert df.columns == ["query_id", "neighbor_id", "score"]
    assert df.collect() == []
