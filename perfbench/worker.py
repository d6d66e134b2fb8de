"""The Spark side of the benchmark: one fresh process per Spark session.

    python3 perfbench/worker.py <spec.json>

``run.py`` writes the spec, starts this process, samples its memory from
outside and reads the result file it leaves.  Modes:

  stage    generate a workload's pool of page shards once per checkout
  measure  start a session, time whole ``run_pipeline`` calls (cold, then
           warm back to back), read the output back for the correctness
           check; with ``trace`` also time the layer prefixes, a
           checkpoint crash and resume, and warm calls at local[1]
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE.parent))
sys.path.insert(0, str(HERE))

from tracing import Tracer, job_counters  # noqa: E402

PAGE_COLS = ["url", "warc_ts", "html", "text", "lang"]

# Non-telemetry prose for padded pages.  Every line starts with a capital
# letter, so no line is a ``key: value`` attribute line or an html header.
PROSE = [
    "Archived pages carry navigation menus, cookie notices and long article bodies around the data.",
    "Most of the bytes a crawler stores belong to prose that no telemetry parser should ever match.",
    "Readers scrolled past the footer links, the newsletter form and a list of related stories here.",
    "Comment threads often run longer than the article itself and repeat the same few opinions again.",
    "Product pages list dimensions, shipping terms and a warranty paragraph that nobody reads at all.",
    "The documentation explains each option twice, once in the overview and once in the reference.",
    "Forum posts quote earlier replies in full, so the same sentences appear several times per page.",
    "Legal boilerplate about privacy, consent and retention follows the main content on most sites.",
    "Recipe blogs tell a story about a summer holiday before they reach the list of ingredients used.",
    "Release notes enumerate fixed issues, known problems and the upgrade steps for older versions.",
    "News sites add captions, bylines, timestamps and share buttons above and below every paragraph.",
    "Search result pages repeat the query terms in titles, snippets and the pagination controls too.",
]


def start_session(spec: dict, cores: int, *, event_dir: str | None = None):
    from pyspark.sql import SparkSession

    b = SparkSession.builder.master(f"local[{cores}]").appName("perfbench")
    for key, value in spec["session"].items():
        b = b.config(key, value)
    if event_dir:
        os.makedirs(event_dir, exist_ok=True)
        b = (
            b.config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", event_dir)
            .config("spark.eventLog.compress", "false")
            .config("spark.eventLog.rolling.enabled", "false")
        )
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def pad_pages(df, pad_bytes: int):
    """Append prose lines to ``text`` and insert the same lines into the
    html body, about ``pad_bytes`` in total per page.  The lines depend on
    the url, so pages do not share one dictionary-encoded value."""
    from pyspark.sql import functions as F

    avg = sum(len(s) + 1 for s in PROSE) / len(PROSE)
    n_lines = max(1, int(pad_bytes / 2 / avg))
    prose = F.array(*[F.lit(s) for s in PROSE])
    lines = F.transform(
        F.sequence(F.lit(1), F.lit(n_lines)),
        lambda i: F.element_at(
            prose, (F.pmod(F.xxhash64(F.col("url"), i), F.lit(len(PROSE))) + 1).cast("int")
        ),
    )
    pad = F.array_join(lines, "\n")
    html = F.decode(F.col("html"), "UTF-8")
    return df.withColumns(
        {
            "text": F.concat(F.col("text"), F.lit("\n"), pad),
            "html": F.encode(
                F.replace(html, F.lit("\n</main>"), F.concat(F.lit("\n"), pad, F.lit("\n</main>"))),
                "UTF-8",
            ),
        }
    )


def stage(spec: dict) -> dict:
    """Write each pool: one parquet file per shard under ``shard=<i>/``, and
    the ground-truth family counts of each shard."""
    from pyspark.sql import functions as F

    from otel_semconvprocessor_spark.sources.pages import generate_pages

    spark = start_session(spec, spec["cores"])
    out = {}
    for pool in spec["pools"]:
        t0 = time.monotonic()
        df = generate_pages(
            spark, pool["shards"] * pool["rows_per_shard"], seed=spec["pool_seed"],
            n_partitions=pool["shards"], with_expected=True,
        ).select(*PAGE_COLS, "expected_family", F.spark_partition_id().alias("shard"))
        if pool["pad_bytes"]:
            df = pad_pages(df, pool["pad_bytes"])
        df = df.persist()
        df.select(*PAGE_COLS, "shard").write.mode("overwrite").partitionBy("shard").parquet(
            pool["pool_dir"]
        )
        families: dict[str, dict[str, int]] = {}
        for r in df.groupBy("shard", "expected_family").count().collect():
            families.setdefault(str(r["shard"]), {})[r["expected_family"]] = r["count"]
        df.unpersist()
        out[pool["name"]] = {"families": families, "gen_s": time.monotonic() - t0}
    spark.stop()
    return out


def read_back(spark, pages, sinks_df, metrics_dir: str | None) -> dict:
    """Counts for the output check, read from the written files: per sink,
    per rule, urls not routed exactly once and, when given, the metrics
    manifest the call wrote."""
    from pyspark.sql import functions as F

    obs: dict = {"sinks": {}, "rules": {}}
    for r in sinks_df.groupBy("sink", "rule_id").count().collect():
        obs["sinks"][r["sink"]] = obs["sinks"].get(r["sink"], 0) + r["count"]
        if r["rule_id"] is not None:
            obs["rules"][r["rule_id"]] = obs["rules"].get(r["rule_id"], 0) + r["count"]
    inp = pages.groupBy("url").agg(F.count(F.lit(1)).alias("n_in"))
    out = sinks_df.groupBy("url").agg(F.count(F.lit(1)).alias("n_out"))
    obs["url_mismatches"] = (
        inp.join(out, "url", "full_outer")
        .filter(F.col("n_in").isNull() | F.col("n_out").isNull() | (F.col("n_out") != 1))
        .count()
    )
    if metrics_dir:
        obs["metric_sinks"] = {
            r["sink"]: r["row_count"]
            for r in spark.read.parquet(f"{metrics_dir}/sink_counts").collect()
        }
        rules: dict[str, int] = {}
        for r in spark.read.parquet(f"{metrics_dir}/rule_effectiveness").collect():
            rules[r["rule_id"]] = rules.get(r["rule_id"], 0) + r["enforced_count"]
        obs["metric_rules"] = rules
    return obs


def dir_stats(path: str) -> dict:
    files = partitions = size = 0
    for dirpath, _, names in os.walk(path):
        data = [n for n in names if n.endswith(".parquet")]
        if data:
            partitions += 1
        files += len(data)
        size += sum(os.path.getsize(os.path.join(dirpath, n)) for n in data)
    return {"files": files, "partitions": partitions, "bytes": size}


class Caller:
    """Times whole ``run_pipeline`` calls, one after another."""

    def __init__(self, spark, pages, spec: dict, tracer: Tracer):
        from otel_semconvprocessor_spark.config import reference_config

        self.spark, self.pages, self.spec, self.tracer = spark, pages, spec, tracer
        self.cfg = reference_config()
        self.calls: list[dict] = []

    def pipeline(self, label: str, pages=None) -> None:
        from otel_semconvprocessor_spark.plans.pipeline import run_pipeline

        if self.tracer.enabled:
            self.spark.sparkContext.setJobDescription(label)
        rec = {"label": label, "ok": True}
        with self.tracer.span(label):
            t = time.perf_counter()
            try:
                res = run_pipeline(
                    self.spark, self.pages if pages is None else pages, self.spec["out_dir"],
                    self.cfg, run_id=label,
                )
                rec["rows"] = res.rows
            except Exception as e:  # a failed call is counted, the run goes on
                rec.update(ok=False, error=f"{type(e).__name__}: {e}"[:500])
            rec["wall_s"] = time.perf_counter() - t
        self.calls.append(rec)

    def warm_loop(self, seconds: float, min_calls: int, prefix: str = "warm") -> None:
        """Calls back to back while the next one is predicted to end within
        ``seconds`` of the first, and at least ``min_calls``."""
        first, t0 = len(self.calls), time.monotonic()
        while (n := len(self.calls) - first) < min_calls or (
            time.monotonic() - t0 + statistics.median(c["wall_s"] for c in self.calls[first:])
            <= seconds
        ):
            self.pipeline(f"{prefix}-{n}")


def layer_prefixes(spark, pages, cfg, spec: dict, tracer: Tracer) -> dict:
    """Self time of each layer: the wall of a no-op sink over the prefix
    ending at that layer, minus the prefix before it.  Each prefix's plan is
    built before its clock starts; ``plan_build_s`` times building the whole
    plan of a call."""
    from pyspark.sql import functions as F

    from otel_semconvprocessor_spark.operators.enrich import (
        apply_semconv_mappings,
        default_semconv_mappings,
        insert_attrs_if_absent,
        join_dims,
        lang_dim,
        mappings_table,
    )
    from otel_semconvprocessor_spark.operators.extract import extract_pages
    from otel_semconvprocessor_spark.operators.metrics import metrics_manifest
    from otel_semconvprocessor_spark.operators.route import slim_for_sink, write_routed_single_pass
    from otel_semconvprocessor_spark.operators.rules import apply_rules
    from otel_semconvprocessor_spark.plans.pipeline import RESOURCE_ATTRS, build_normalized

    steps = [
        ("sources", lambda d: d),
        ("extract", extract_pages),
        ("enrich.mappings",
         lambda d: apply_semconv_mappings(d, mappings_table(spark, default_semconv_mappings()))),
        ("enrich.resource", lambda d: insert_attrs_if_absent(d, RESOURCE_ATTRS)),
        ("enrich.dims", lambda d: join_dims(d, (lang_dim(spark), "lang"))),
        ("rules", lambda d: apply_rules(d, cfg)),
        ("route.slim", lambda d: slim_for_sink(d.drop("html", "text"))),
    ]

    sink_dir = f"{spec['work_dir']}/prefix-sinks"
    metrics_dir = f"{spec['work_dir']}/prefix-metrics"
    sc = spark.sparkContext
    walls: dict[str, float] = {}

    def timed(name, fn):
        sc.setJobDescription(name)
        with tracer.span(name):
            t = time.perf_counter()
            fn()
            walls[name] = time.perf_counter() - t

    df = pages
    for name, step in steps:
        df = step(df)
        timed(name, df.write.format("noop").mode("overwrite").save)
    timed("route.write", lambda: write_routed_single_pass(df, sink_dir))

    def metrics():
        m = metrics_manifest(spark.read.parquet(sink_dir), cfg, run_id="prefix")
        m.summary.select("spans_processed").collect()
        m.summary.write.mode("overwrite").parquet(f"{metrics_dir}/summary")
        m.rule_effectiveness.write.mode("overwrite").parquet(f"{metrics_dir}/rules")
        m.sink_counts.write.mode("overwrite").parquet(f"{metrics_dir}/sinks")

    timed("metrics", metrics)
    timed("plan_build", lambda: slim_for_sink(build_normalized(spark, pages, cfg).drop("html", "text")).schema)
    sc.setJobDescription("counts")
    ext_counts = extract_pages(pages).agg(
        F.count(F.lit(1)).alias("rows"),
        F.sum(F.col("name").isNull().cast("long")).alias("miss"),
        F.avg(F.size("attrs")).alias("attrs_per_row"),
    ).first()
    ruled = df.agg(F.sum(F.col("rule_id").isNotNull().cast("long")).alias("matched")).first()
    return {
        "walls": walls,
        "plan_build_s": walls.pop("plan_build"),
        "sink": dir_stats(sink_dir),
        "rows_out": ext_counts["rows"],
        "miss_rows": ext_counts["miss"] or 0,
        "attrs_per_row": float(ext_counts["attrs_per_row"] or 0.0),
        "matched_rows": ruled["matched"] or 0,
    }


def checkpoint_crash_resume(spark, spec: dict, tracer: Tracer) -> dict:
    """``run_with_checkpoints`` over the staged files: one call crashes
    after a chunk commit, a second call resumes."""
    from otel_semconvprocessor_spark.config import reference_config
    from otel_semconvprocessor_spark.plans.checkpoint import (
        SimulatedCrash,
        completed_chunks,
        read_all_output,
        run_with_checkpoints,
    )

    cfg = reference_config()
    out = f"{spec['work_dir']}/checkpoint"
    chunks, crash_after = spec["ckpt_chunks"], spec["ckpt_crash_after"]
    sc = spark.sparkContext
    sc.setJobDescription("checkpoint")
    res = {"ok": True}
    with tracer.span("checkpoint.crash"):
        t = time.perf_counter()
        try:
            run_with_checkpoints(
                spark, spec["input_dir"], out, cfg, n_chunks=chunks, run_id="crash",
                fail_after_chunk=crash_after,
            )
            res.update(ok=False, error="the crash call did not crash")
        except SimulatedCrash:
            pass
        res["crash_wall_s"] = time.perf_counter() - t
    with tracer.span("checkpoint.manifest_read"):
        t = time.perf_counter()
        done = completed_chunks(spark, out)
        res["manifest_read_s"] = time.perf_counter() - t

    def snapshot(chunk: int) -> list:
        base = f"{out}/data/chunk={chunk}"
        return sorted(
            (os.path.join(d, n), os.stat(os.path.join(d, n)).st_mtime_ns)
            for d, _, names in os.walk(base)
            for n in names
        )

    before = {c: snapshot(c) for c in done}
    with tracer.span("checkpoint.resume"):
        t = time.perf_counter()
        processed = run_with_checkpoints(
            spark, spec["input_dir"], out, cfg, n_chunks=chunks, run_id="resume"
        )
        res["resume_wall_s"] = time.perf_counter() - t
    res["chunks_skipped"] = len(done)
    res["chunks_run"] = len(processed)
    res["redo_chunks"] = sum(1 for c in done if snapshot(c) != before[c]) + len(
        set(done) & set(processed)
    )
    sc.setJobDescription("checkpoint.check")
    pages = spark.read.parquet(spec["input_dir"])
    routed = read_all_output(spark, out)
    res["observed"] = read_back(spark, pages, routed, None)
    res["observed"]["rows"] = routed.count()
    return res


def measure(spec: dict) -> dict:
    traced = spec["trace"]
    tracer = Tracer(spec["run_id"], enabled=traced)
    result: dict = {}
    with tracer.span("run"):
        with tracer.span("setup"):
            spark = start_session(
                spec, spec["cores"], event_dir=spec["events_dir"] if traced else None
            )
            pages = spark.read.parquet(spec["input_dir"])
            pages.schema
        result["t_ready"] = time.monotonic()
        caller = Caller(spark, pages, spec, tracer)
        caller.pipeline("cold")
        caller.warm_loop(spec["seconds"], spec["min_warm"])
        with tracer.span("check"):
            if caller.calls[-1]["ok"]:
                spark.sparkContext.setJobDescription("check")
                result["observed"] = read_back(
                    spark, pages, spark.read.parquet(f"{spec['out_dir']}/sinks"),
                    f"{spec['out_dir']}/metrics",
                )
        if traced:
            with tracer.span("layers"):
                result["layers"] = layer_prefixes(spark, pages, caller.cfg, spec, tracer)
            with tracer.span("checkpoint"):
                result["checkpoint"] = checkpoint_crash_resume(spark, spec, tracer)
        result["calls"] = caller.calls
        result["t_checked"] = time.monotonic()
        spark.stop()
        result["t_stopped"] = time.monotonic()
        if traced:
            logs = sorted(Path(spec["events_dir"]).iterdir(), key=lambda p: p.stat().st_mtime)
            result["engine"] = job_counters(logs[0])
            with tracer.span("c1"):
                spark = start_session(spec, 1)
                pages = spark.read.parquet(spec["input_dir"])
                c1 = Caller(spark, pages, spec, tracer)
                # the new context starts its Python workers on its first
                # call; one input file pays that before the timed calls
                c1.pipeline("c1-warmup", pages=spark.read.parquet(pages.inputFiles()[0]))
                c1.warm_loop(0, spec["c1_calls"], prefix="c1")
                result["c1_calls"] = c1.calls
                spark.stop()
    if traced:
        tracer.dump(Path(spec["spans"]))
    return result


def main() -> None:
    spec = json.loads(Path(sys.argv[1]).read_text())
    result = stage(spec) if spec["mode"] == "stage" else measure(spec)
    Path(spec["result"]).write_text(json.dumps(result))


if __name__ == "__main__":
    main()
