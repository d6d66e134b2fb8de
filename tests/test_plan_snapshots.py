"""Plan-shape pins: the cascade and pipeline plans must match the committed
snapshots in plans/r06 (written by scripts/dump_plans_r06.py), modulo the
per-session state: expression ids, plan ids, RDD ids and call sites, and
generated lambda-variable names."""

import os
import re

import pytest

from otel_semconvprocessor_spark.config import reference_config
from otel_semconvprocessor_spark.operators.enrich import (
    default_semconv_mappings,
    lang_dim,
    mappings_table,
)
from otel_semconvprocessor_spark.operators.extract import extract_pages_native
from otel_semconvprocessor_spark.operators.route import slim_for_sink
from otel_semconvprocessor_spark.operators.rules import apply_rules
from otel_semconvprocessor_spark.operators.rules_broadcast import apply_rules_broadcast
from otel_semconvprocessor_spark.plans.pipeline import build_normalized
from otel_semconvprocessor_spark.sources.pages import generate_pages

SNAPSHOTS = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", "r06")

_VOLATILE = [
    (re.compile(r"#\d+"), "#N"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"RDD\[\d+\] at (\w+) at [^,]+"), r"RDD[N] at \1"),
    (re.compile(r"\b[a-z]_\d+\b"), "v_N"),
]


def _normalize(plan: str) -> list[str]:
    for rx, repl in _VOLATILE:
        plan = rx.sub(repl, plan)
    return plan.splitlines()


@pytest.fixture(scope="module")
def shapes(spark):
    """The four shapes exactly as scripts/dump_plans_r06.py builds them, with
    its shuffle-partition count (restored afterwards)."""
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "64")
    try:
        pages = generate_pages(spark, 1000)
        cfg = reference_config()
        mp = mappings_table(spark, default_semconv_mappings())
        dim = lang_dim(spark)
        dfs = {
            "cascade_native": apply_rules(extract_pages_native(pages), cfg).groupBy("rule_id").count(),
            "cascade_full_output": apply_rules(extract_pages_native(pages), cfg),
            "cascade_broadcast": apply_rules_broadcast(
                extract_pages_native(pages), cfg, id_col="url"
            ).groupBy("rule_id").count(),
            "pipeline_normalized": slim_for_sink(
                build_normalized(
                    spark, pages, extractor="pandas", mappings_df=mp, dims=[(dim, "lang")]
                ).drop("html", "text")
            ),
        }
        mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
        return {name: df._jdf.queryExecution().explainString(mode) for name, df in dfs.items()}
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


@pytest.mark.parametrize(
    "name", ["cascade_native", "cascade_broadcast", "cascade_full_output", "pipeline_normalized"]
)
def test_plan_matches_snapshot(shapes, name):
    with open(os.path.join(SNAPSHOTS, f"{name}_after.txt")) as f:
        want = _normalize(f.read())
    got = _normalize(shapes[name])
    for i, (g, w) in enumerate(zip(got, want)):
        assert g == w, f"{name}: first difference at line {i + 1}:\n got: {g[:300]}\nwant: {w[:300]}"
    assert len(got) == len(want), f"{name}: {len(got)} plan lines, snapshot has {len(want)}"
