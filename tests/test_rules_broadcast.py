"""schema_url dispatch in the one rule cascade: the broadcast dispatch-join
path equals the wildcard path on the full docspans corpus, versioned rules
apply only to their own schema version, and plan-shape gates (the dispatch
data must broadcast, never shuffle the span side for the join)."""

import pytest
from pyspark.sql import functions as F

from otel_semconvprocessor_spark.config import (
    MODE_ENFORCE,
    MODE_ENRICH,
    Config,
    OTTLRule,
    SpanProcessingConfig,
    reference_config,
)
from otel_semconvprocessor_spark.operators.rules import apply_rules
from otel_semconvprocessor_spark.sources.docspans import doc_spans

OUT_COLS = ["rule_id", "operation_name", "operation_type", "name", "name_original"]


def _by_id(df):
    rows = df.select("doc_id", *OUT_COLS, "attrs").collect()
    return {r["doc_id"]: (*(r[c] for c in OUT_COLS), dict(r["attrs"])) for r in rows}


def _assert_dispatch_equals_wildcard(spark, sf_dir, mode):
    """Every rule versioned 1.26.0 and every span of that version: the
    dispatch join lets every rule through, so the output (attrs map
    included) must equal the all-wildcard cascade row for row."""
    spans = doc_spans(spark, sf_dir)
    wildcard = apply_rules(spans, reference_config(mode=mode))
    versioned_cfg = reference_config(mode=mode)
    for r in versioned_cfg.span_processing.rules:
        r.schema_url = "1.26.0"
    # non-foldable schema_url column, so the plan keeps the real equi-join
    versioned_spans = spans.withColumn(
        "schema_url", F.concat(F.lit("1.26."), (F.col("doc_id") * 0).cast("string"))
    )
    dispatched = apply_rules(versioned_spans, versioned_cfg)
    plan = dispatched._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    a = _by_id(wildcard)
    assert a and a == _by_id(dispatched)


def test_broadcast_equals_case_chain_on_docspans(spark, sf_dir):
    _assert_dispatch_equals_wildcard(spark, sf_dir, MODE_ENFORCE)


def test_broadcast_equals_case_chain_enrich_mode(spark, sf_dir):
    _assert_dispatch_equals_wildcard(spark, sf_dir, MODE_ENRICH)


def test_schema_url_keyed_dispatch(spark):
    """A versioned rule applies only to spans of its schema version; the
    wildcard rule catches the rest."""
    old_rule = OTTLRule(
        id="old_http", priority=100, schema_url="1.21.0",
        condition='attributes["http.method"] != nil',
        operation_name='Concat(["OLD", attributes["http.method"]], " ")',
        operation_type='"http"',
    )
    new_rule = OTTLRule(
        id="new_http", priority=100, schema_url="1.26.0",
        condition='attributes["http.request.method"] != nil',
        operation_name='Concat(["NEW", attributes["http.request.method"]], " ")',
        operation_type='"http"',
    )
    wildcard = OTTLRule(
        id="fallback", priority=999,
        condition='attributes["x"] != nil',
        operation_name='"FALLBACK"',
    )
    cfg = Config(
        enabled=True,
        span_processing=SpanProcessingConfig(
            enabled=True, mode=MODE_ENFORCE, rules=[old_rule, new_rule, wildcard],
        ),
    )
    cfg.validate()
    df = spark.createDataFrame(
        [
            (1, "s1", "server", {"http.method": "GET", "x": "1"}, "1.21.0"),
            (2, "s2", "server", {"http.request.method": "GET", "x": "1"}, "1.26.0"),
            # old-convention attrs under the NEW schema: versioned old rule
            # must NOT apply; wildcard catches it
            (3, "s3", "server", {"http.method": "GET", "x": "1"}, "1.26.0"),
            (4, "s4", "server", {"x": "1"}, None),
        ],
        "doc_id long, name string, kind string, attrs map<string,string>, schema_url string",
    )
    out = {r["doc_id"]: (r["rule_id"], r["name"]) for r in
           apply_rules(df, cfg).collect()}
    assert out[1] == ("old_http", "OLD GET")
    assert out[2] == ("new_http", "NEW GET")
    assert out[3] == ("fallback", "FALLBACK")
    assert out[4] == ("fallback", "FALLBACK")


def test_versioned_rules_missing_schema_col_raises(spark):
    """A versioned rule set + a frame without the schema_url column is a
    caller error (silent wildcard-only degradation is invisible); explicit
    schema_url_col=None opts into wildcard-only."""
    rule = OTTLRule(
        id="v", priority=1, schema_url="1.21.0",
        condition='attributes["x"] != nil', operation_name='"V"',
    )
    wild = OTTLRule(
        id="w", priority=2, condition='attributes["x"] != nil', operation_name='"W"',
    )
    cfg = Config(
        enabled=True,
        span_processing=SpanProcessingConfig(enabled=True, mode=MODE_ENFORCE, rules=[rule, wild]),
    )
    cfg.validate()
    df = spark.createDataFrame(
        [(1, "s", "server", {"x": "1"})],
        "doc_id long, name string, kind string, attrs map<string,string>",
    )
    with pytest.raises(ValueError, match="schema_url"):
        apply_rules(df, cfg)
    out = apply_rules(df, cfg, schema_url_col=None).collect()
    assert out[0]["rule_id"] == "w"  # wildcard-only opt-out still works


def test_broadcast_plan_shape(spark, sf_dir):
    """Plan gates (round-6 rewrite): (1) with an all-wildcard rule set the
    span side needs NO join and NO shuffle at all — the cascade collapses to
    the chain's zero-exchange shape; (2) with versioned rules the dispatch
    data attaches via a broadcast hash join on schema_url and the span side
    STILL never shuffles (the old shape paid x18 candidate amplification
    plus two id-keyed exchanges)."""
    cfg = reference_config()
    out = apply_rules(doc_spans(spark, sf_dir), cfg)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "Join" not in plan

    versioned_cfg = reference_config()
    for r in versioned_cfg.span_processing.rules[:3]:
        r.schema_url = "1.26.0"
    # non-foldable schema_url column: a literal would constant-fold away the
    # equi-join key and degrade the test to a nested-loop artifact
    spans = doc_spans(spark, sf_dir).withColumn(
        "schema_url",
        F.when(F.col("doc_id") % 2 == 0, F.lit("1.26.0")).otherwise(F.lit("1.21.0")),
    )
    out_v = apply_rules(spans, versioned_cfg)
    plan_v = out_v._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan_v
    assert "Exchange hashpartitioning" not in plan_v
