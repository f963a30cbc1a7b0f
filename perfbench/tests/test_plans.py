"""Plan pin: under the benchmark's noop sink every analytics entry's
executed plan keeps the operators that make it that query. A ``count()``
lets the optimizer drop them (the join of join_left_outer, the Window of
window_running, the Expand of agg_distinct_counts, the JSON parse of
json_extract); the noop sink must not.

Needs a Spark session (about a minute on 4 cores):

    python3 -m pytest perfbench/tests/test_plans.py -q
"""

from __future__ import annotations

import os
import re

import pytest

import analytics
import gen

# entry -> regexes that must all match its executed physical plan
KEEPS = {
    "q1_pricing_summary": [r"HashAggregate"],
    "q3_unshipped_orders": [r"Join", r"TakeOrderedAndProject"],
    "q5_region_revenue": [r"Join"],
    "q6_forecast_revenue": [r"HashAggregate"],
    "agg_distinct_counts": [r"Expand"],
    "join_left_outer": [r"Join .*LeftOuter|LeftOuter"],
    "window_running": [r"\bWindow\b"],
    "json_extract": [r"get_json_object"],
    "text_quality": [r"HashAggregate|Project"],
    "bm25_scores": [r"Join"],
    "dedup_minhash_lsh": [r"Join", r"Expand|Generate"],
    "ann_cosine_ivf_knn": [r"Join", r"\bWindow\b|WindowGroupLimit"],
    "dedup_embedding_cosine": [r"Python|Arrow|Pandas"],
    "multimodal_wav_decode": [r"Python|Arrow|Pandas"],
    "topk_per_group": [r"MapInPandas", r"\bWindow\b"],
}


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from file_stream_import_spark.session import get_spark

    os.environ.setdefault("SPARK_GRAFT_CPUS", "4")
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    s = get_spark(extra_conf={"spark.ui.showConsoleProgress": "false"})
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture(scope="module")
def fixtures(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("fixtures"))
    gen.write_star_schema(d, 1)
    return d


def _executed_plan(spark) -> str:
    store = spark._jsparkSession.sharedState().statusStore()
    n = store.executionsCount()
    return store.executionsList(int(n) - 1, 1).apply(0) \
        .physicalPlanDescription()


def test_every_entry_is_pinned():
    assert set(KEEPS) == set(analytics.ENTRIES)


@pytest.mark.parametrize("name", analytics.ENTRIES)
def test_noop_sink_keeps_plan_nodes(spark, fixtures, name):
    import __spark_entry__ as ent

    ent.queries()[name](spark, fixtures).write.format("noop") \
        .mode("overwrite").save()
    plan = _executed_plan(spark)
    assert "OverwriteByExpression" in plan or "noop" in plan.lower()
    for pat in KEEPS[name]:
        assert re.search(pat, plan), f"{name}: {pat!r} missing from\n{plan}"
