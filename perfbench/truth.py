"""Ground truth for the benchmark's output check, kept apart from the timed code.

The synthetic corpus (``sources.pages.generate_pages``) tags every page with
the telemetry family it was generated from (``expected_family``).  Each family
resolves to exactly one rule of the reference cascade and exactly one sink, so
per-sink and per-rule counts of a correct run follow from the family counts of
its input alone.  The table below is written out by hand from the reference
rule semantics; it does not call into the package.
"""

from __future__ import annotations

from collections import Counter

# family -> (rule_id or None when no rule applies, sink)
FAMILY_OUTCOME: dict[str, tuple[str | None, str]] = {
    "http_server_route": ("http_server_routes", "sink_http"),
    "http_server_method": ("http_server_method_only", "sink_http"),
    "grpc_server": ("grpc_server_operations", "sink_grpc"),
    "http_path": ("http_paths", "sink_http"),
    "graphql": ("graphql_operations", "sink_other"),
    "http_client_method": ("http_client_method_only", "sink_http"),
    "http_client_template": ("http_client_template", "sink_http"),
    # http_client_requests is shadowed by http_client_method_only in the
    # reference config: a client span with http.url and no url.template
    # resolves to the method-only rule
    "http_client_url": ("http_client_method_only", "sink_http"),
    "db_query": ("database_queries", "sink_db"),
    "db_operation": ("database_operations", "sink_db"),
    "faas": ("faas_db_trigger", "sink_other"),
    "msg_with_op": ("messaging_with_operation", "sink_messaging"),
    "msg_producer": ("messaging_producer", "sink_messaging"),
    "msg_consumer": ("messaging_consumer", "sink_messaging"),
    "msg_system": ("messaging_system", "sink_messaging"),
    "internal_op": ("internal_operations", "sink_other"),
    # a preset operation.name skip-guards the span: no rule, default sink
    "preset_opname": (None, "sink_other"),
    # a preset operation.type does not skip-guard; the server rule applies
    "preset_optype": ("http_server_method_only", "sink_http"),
    "unmatched": (None, "sink_other"),
}


def expected_counts(family_counts: dict[str, int]) -> dict:
    """Per-sink and per-rule counts a correct run produces for an input with
    these family counts.  Rows no rule matches are not in ``rules``."""
    sinks: Counter = Counter()
    rules: Counter = Counter()
    for family, n in family_counts.items():
        if family not in FAMILY_OUTCOME:
            raise KeyError(f"family {family!r} has no expected outcome")
        rule, sink = FAMILY_OUTCOME[family]
        sinks[sink] += n
        if rule is not None:
            rules[rule] += n
    return {"rows": sum(family_counts.values()), "sinks": dict(sinks), "rules": dict(rules)}


def compare(expected: dict, observed: dict) -> list[str]:
    """Mismatches between an expectation from ``expected_counts`` and what a
    run produced, as readable lines; empty when the output is correct.

    ``observed`` carries whichever of these the run measured:

      rows            rows the call reported (``spans_processed``)
      sinks, rules    counts read back from the written sinks
      metric_sinks, metric_rules
                      the same counts from the program's metrics manifest
      url_mismatches  input urls missing from the output or written more
                      than once, plus output urls not in the input
    """
    problems = []
    if "rows" in observed and observed["rows"] != expected["rows"]:
        problems.append(f"rows: expected {expected['rows']}, got {observed['rows']}")
    for key, want in (
        ("sinks", expected["sinks"]),
        ("rules", expected["rules"]),
        ("metric_sinks", expected["sinks"]),
        ("metric_rules", expected["rules"]),
    ):
        if key not in observed:
            continue
        got = {k: v for k, v in observed[key].items() if v}
        if got != {k: v for k, v in want.items() if v}:
            diff = sorted(
                (k, want.get(k, 0), got.get(k, 0))
                for k in set(want) | set(got)
                if want.get(k, 0) != got.get(k, 0)
            )
            problems.append(f"{key}: (name, expected, got) {diff}")
    if observed.get("url_mismatches", 0):
        problems.append(f"urls: {observed['url_mismatches']} input urls not routed exactly once")
    return problems
