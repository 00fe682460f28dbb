"""engine.localrel: driver-side literals (VALUES relations, IN filters)
must mean the same thing under any session parser conf."""

from __future__ import annotations

import pytest

from engine.localrel import _render, in_filter, local_df

VALUES = ["it's", "a\\b", "plain"]
CONF = "spark.sql.parser.escapedStringLiterals"


@pytest.mark.parametrize("escaped", ["false", "true"])
def test_string_literals_under_escaped_conf(spark, escaped):
    prev = spark.conf.get(CONF)
    spark.conf.set(CONF, escaped)
    try:
        got = local_df(spark, [(v,) for v in VALUES], "s string")
        assert sorted(r.s for r in got.collect()) == sorted(VALUES)
        src = spark.createDataFrame([(v,) for v in [*VALUES, "other"]],
                                    "s string")
        for keep in (VALUES, ["plain"]):
            hits = src.where(in_filter("s", keep)).collect()
            assert sorted(r.s for r in hits) == sorted(keep)
        plain = local_df(spark, [("plain",)], "s string")
        assert plain.collect()[0].s == "plain"
        assert "LocalTableScan" in (
            plain._jdf.queryExecution().executedPlan().toString())
    finally:
        spark.conf.set(CONF, prev)
    # only the plain term is rendered; the others take the fallback
    assert _render("plain") == "'plain'"
    assert _render("it's") is None and _render("a\\b") is None


def test_in_filter_empty_matches_nothing(spark):
    src = spark.createDataFrame([("a",)], "s string")
    assert src.where(in_filter("s", [])).count() == 0
