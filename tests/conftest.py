from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

os.environ.setdefault("SPARK_DRIVER_MEMORY", "8g")


@pytest.fixture(scope="session")
def spark():
    from fuzzy_dedupe_pipeline_spark.session import get_spark

    s = get_spark(app_name="tests", cores=8, shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def corpus():
    from fuzzy_dedupe_pipeline_spark.synth import generate_pages

    return generate_pages(n_docs=400, seed=42)


@pytest.fixture(scope="session")
def pages_df(spark, corpus):
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("url", T.StringType(), False),
            T.StructField("warc_ts", T.TimestampType(), True),
            T.StructField("html", T.BinaryType(), True),
            T.StructField("text", T.StringType(), True),
            T.StructField("lang", T.StringType(), True),
        ]
    )
    return spark.createDataFrame(corpus.pages, schema=schema)


# --- physical-plan helpers: match operators and expressions by class --------


def executed_plan(df):
    """df's executed physical plan, unwrapped from AQE's root node."""
    plan = df._jdf.queryExecution().executedPlan()
    if node_name(plan) == "AdaptiveSparkPlanExec":
        plan = plan.executedPlan()
    return plan


def plan_nodes(plan, caches: set | None = None):
    """Every operator of a physical plan, root first, through the query
    stages of an executed adaptive plan. Given a set, also through the plan
    of every cached relation the plan scans, each relation once however
    many scans read it; the set collects the relations visited."""
    yield plan
    name = node_name(plan)
    if name.endswith("QueryStageExec"):
        yield from plan_nodes(plan.plan(), caches)
        return
    if caches is not None:
        if name == "AdaptiveSparkPlanExec":
            yield from plan_nodes(plan.executedPlan(), caches)
            return
        if name == "InMemoryTableScanExec":
            builder = plan.relation().cacheBuilder()
            key = _identity(builder)
            if key not in caches:
                caches.add(key)
                yield from plan_nodes(builder.cachedPlan(), caches)
            return
    kids = plan.children()
    for i in range(kids.size()):
        yield from plan_nodes(kids.apply(i), caches)


def _identity(obj) -> int:
    """JVM identity hash of a py4j object."""
    from pyspark import SparkContext

    return SparkContext._jvm.System.identityHashCode(obj)


def node_name(node) -> str:
    """Simple JVM class name of a plan node or expression."""
    return node.getClass().getSimpleName()


def expression_names(node) -> list[str]:
    """Class names of every expression an operator evaluates, nested ones
    included (a join condition, each projection, a generator's argument)."""

    def walk(expr):
        yield node_name(expr)
        kids = expr.children()
        for i in range(kids.size()):
            yield from walk(kids.apply(i))

    exprs = node.expressions()
    return [n for i in range(exprs.size()) for n in walk(exprs.apply(i))]
