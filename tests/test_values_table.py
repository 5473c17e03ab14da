"""values_table: the engine's one way to build a DataFrame from driver-side
rows (an Arrow-backed LocalRelation instead of a pickled-Python RDD)."""

from __future__ import annotations

import ast
import datetime as dt
import decimal
import os
import time

import pytest
from pyspark.errors import PySparkTypeError

from etl_school_spark.operators.setops import values_table
from etl_school_spark.sources.generator import CAR_CATALOG, CAR_CATALOG_SCHEMA

ENGINE = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "etl_school_spark")

# (schema, rows) for every schema the engine passes to values_table
ENGINE_CASES = [
    pytest.param(
        "run_id string, task_name string, state string, scheduled_time double, "
        "completed_time double, rows_processed long, error string",
        [("run_1", "consume", "SUCCEEDED", 1.7e9, 1.7e9 + 0.5, 200, None),
         ("run_1", "dq", "FAILED", 1.7e9, 1.7e9 + 1.0, 0, "Traceback ...")],
        id="task_history",
    ),
    pytest.param(
        "topic string, claimed_by string, consumer_id int, batch_id long, n_messages long, delivered_at double",
        [("cc", "landing", 0, 3, 120, 1.7e9), ("cc", "landing", 1, 3, 80, 1.7e9)],
        id="broker_claims",
    ),
    pytest.param(
        "target string, n_files long, rows_loaded long, rows_rejected long, "
        "file_bytes long, started double, completed double",
        [("/t/orders", 1, 490, 10, 123_456, 1.7e9, 1.7e9 + 2.0)],
        id="copy_history",
    ),
    pytest.param("node long, component long", [(5, 1), (1, 1), (9, 9)], id="labels_long"),
    pytest.param("node string, component string", [("b", "a"), ("a", "a")], id="labels_string"),
    pytest.param("metric_name string, threshold double", [("non_null", 1.0), ("amount_ok", 0.95)], id="dq_thresholds"),
    pytest.param("card_number string", [("4111111111111111",), ("4000000000000002",)], id="forget_keys"),
    pytest.param(
        "object_name string, column_name string, pii_type string, sensitivity_level string, "
        "masking_required boolean, masking_rule string, rationale string",
        [("cc_trans_all", "card_number", "PAN", "HIGH", True, "PAN_MASK", "primary account number")],
        id="pii_classification",
    ),
    pytest.param("lang string, _k_full int, _thresh string", [("en", 2, "8000"), ("fr", 0, None)], id="mixture_weights"),
    pytest.param(CAR_CATALOG_SCHEMA, CAR_CATALOG, id="car_catalog"),
    pytest.param("v long, k double", [(1234, 0.5)], id="bigram_meta"),
    pytest.param("id_a long, id_b long, cosine_sim double", [], id="empty_edges"),
]


def _assert_same_as_list_path(spark, schema, rows):
    want = spark.createDataFrame(rows, schema)
    got = values_table(spark, rows, schema)
    assert got.schema == want.schema
    assert got.collect() == want.collect()


@pytest.mark.parametrize("schema,rows", ENGINE_CASES)
def test_values_table_matches_list_path(spark, schema, rows):
    _assert_same_as_list_path(spark, schema, rows)


def test_values_table_temporal_and_decimal_under_non_utc_tz(spark, monkeypatch):
    """Timestamps, dates and decimals match the list path when the local
    TZ is not UTC — a plain Arrow build from Python datetimes shifts them."""
    schema = "ts timestamp, ntz timestamp_ntz, d date, amount decimal(10,2), x double, s string"
    rows = [
        (dt.datetime(2024, 3, 10, 1, 30, 5, 123456), dt.datetime(2024, 11, 3, 1, 30),
         dt.date(1969, 12, 31), decimal.Decimal("12.34"), 1.5, None),
        (dt.datetime(1999, 12, 31, 23, 59, 59), dt.datetime(1970, 1, 1), dt.date(2024, 2, 29),
         decimal.Decimal("-0.01"), None, "é"),
        (None, None, None, None, None, None),
    ]
    monkeypatch.setenv("TZ", "America/New_York")
    time.tzset()
    try:
        _assert_same_as_list_path(spark, schema, rows)
    finally:
        monkeypatch.undo()
        time.tzset()


def test_values_table_empty_rows_keep_schema(spark):
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    struct = StructType([StructField("node", LongType()), StructField("label", StringType())])
    df = values_table(spark, [], struct)
    assert df.schema == struct
    assert df.collect() == []


@pytest.mark.parametrize("schema,row", [("n long", (1.5,)), ("x double", (1,))])
def test_values_table_rejects_mistyped_values_like_list_path(spark, schema, row):
    with pytest.raises(PySparkTypeError):
        spark.createDataFrame([row], schema)
    with pytest.raises(PySparkTypeError):
        values_table(spark, [row], schema)


def test_values_table_is_local_relation_collected_without_jobs(spark):
    df = values_table(spark, [(1, "a"), (2, "b")], "id long, tag string")
    assert df._jdf.queryExecution().optimizedPlan().nodeName() == "LocalRelation"
    sc = spark.sparkContext
    group = f"values_table_{time.time_ns()}"
    sc.setJobGroup(group, group)
    try:
        assert [tuple(r) for r in df.collect()] == [(1, "a"), (2, "b")]
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []


def test_engine_builds_driver_frames_only_through_values_table():
    """No module but operators/setops.py calls createDataFrame: every
    driver-side frame goes through values_table, not the pickled-RDD path."""
    offenders = []
    for root, _dirs, files in os.walk(ENGINE):
        for f in files:
            if not f.endswith(".py"):
                continue
            path = os.path.join(root, f)
            rel = os.path.relpath(path, ENGINE)
            if rel == os.path.join("operators", "setops.py"):
                continue
            with open(path) as fh:
                tree = ast.parse(fh.read(), filename=path)
            offenders += [
                f"{rel}:{node.lineno}"
                for node in ast.walk(tree)
                if isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "createDataFrame"
            ]
    assert offenders == [], f"createDataFrame outside operators/setops.py: {offenders}"
