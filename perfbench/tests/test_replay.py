"""The Python replay of the alert rule, alone and against the engine."""

import json

import pytest

from loadgen import sensor_values
from sensor import expected_alerts


def test_replay_rule_classes():
    vals = [
        json.dumps({"bme680_tempf": "82.74", "uuid": "u"}),  # JSON branch
        "  90.5 ",  # bare scalar, trimmed
        "75.00",  # at the limit: no alert
        "75.01",
        "not-a-reading-7",  # garbage: NULL, no alert
        None,  # NULL value
        json.dumps({"uuid": "no reading"}),
        "60.00",
    ]
    assert expected_alerts(vals) == {
        "Temperature warning 82.74": 1,
        "Temperature warning 90.50": 1,
        "Temperature warning 75.01": 1,
    }


def test_generated_values_follow_the_reference_mix():
    vals = sensor_values(3, 0, 3400)
    assert vals == sensor_values(3, 0, 3400)  # pure function of (seed, index)
    assert vals[1700:1800] == sensor_values(3, 1700, 100)
    assert sum(v is None for v in vals) == sum(1 for i in range(3400) if i % 17 == 13)
    assert any(v and v.startswith("not-a-reading") for v in vals)
    assert any(v and v.startswith("{") for v in vals)
    alerts = sum(expected_alerts(vals).values())
    assert 0 < alerts < len(vals)


@pytest.fixture(scope="module")
def spark():
    from common import start_spark, stop_spark

    s = start_spark("perfbench-tests", cores=2)
    yield s
    stop_spark(s)


def test_replay_equals_temperature_alerts(spark):
    from pyspark.sql import functions as F

    from kstreams_spark.functions.sensor import temperature_alerts

    vals = sensor_values(11, 0, 5000)
    df = spark.createDataFrame([(f"k{i}", v) for i, v in enumerate(vals)], "key string, value string")
    got = {}
    for r in temperature_alerts(df.filter(F.col("value").isNotNull())).select("alert").collect():
        got[r.alert] = got.get(r.alert, 0) + 1
    assert got == expected_alerts(vals)
