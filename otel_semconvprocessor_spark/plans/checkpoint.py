"""Checkpoint/resume: per-partition lineage manifest + idempotent restart.

The reference is a push-based stream with no resume story; the graft's batch
pipeline must "resume from per-partition checkpoints with lineage + metrics
manifests" (BASELINE.json north_star).

Design (single-scan resume):
  * the input is a parquet path and the unit of checkpointing is a CHUNK OF
    ITS FILES: the file list is enumerated once on the driver.  When every
    file sits under a ``warc_day=``/``warc_ts_day=``/``day=`` directory there
    is one chunk per day (the per-partition checkpoint: lineage reads as
    dates, a day's reprocess is one chunk overwrite); otherwise the sorted
    list (deterministic across runs and parallelism levels) is dealt
    round-robin into ``n_chunks`` groups.  Each chunk's job reads ONLY its
    own files (``spark.read.parquet(*files)``) — a resumed run therefore
    scans exactly the unfinished chunks' bytes, never the whole input.  At
    100 TB this is the difference between "resume costs one scan of the
    remaining data" and "n_chunks full corpus scans".
  * per-chunk row counts come from a ``pyspark.sql.Observation`` attached to
    the written plan (the write action itself produces the metric) — no
    post-write re-read.
  * each chunk is written to its own ``chunk=<id>`` subtree with
    mode=overwrite — a crash mid-chunk leaves a subtree that the retry simply
    overwrites, so restarts are idempotent (no dup, no missing rows).
  * the chunk->files assignment is itself checkpoint state: it is written to
    ``_plan`` once at first run and resumed runs read it back, so resume is
    immune to file-listing drift (a file that disappeared after its chunk
    committed cannot reshuffle the remaining chunks).  A day-chunked plan
    appends days that land after the first run as new chunks.
  * the lineage manifest (one parquet row per completed chunk: run_id, chunk,
    row_count, wall seconds, finished_at, and the chunk's input files) is
    appended strictly AFTER the chunk's data commit; on restart completed
    chunks are skipped by manifest lookup.
"""

from __future__ import annotations

import re
import time
import uuid

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..config import Config
from ..plans.pipeline import build_normalized
from ..operators.route import sink_frame

__all__ = [
    "SimulatedCrash",
    "run_with_checkpoints",
    "read_manifest",
    "deal_files",
    "chunk_input_files",
    "group_files_by_day",
]

MANIFEST_SCHEMA = (
    "run_id string, chunk int, row_count long, wall_sec double, "
    "finished_at double, files string"
)
PLAN_SCHEMA = "chunk int, file string, label string"


class SimulatedCrash(RuntimeError):
    """Raised by tests to kill the run between chunk commits."""


def read_manifest(spark: SparkSession, out_path: str) -> DataFrame | None:
    """The lineage manifest, or None before the first chunk commits.  Any
    other failure raises: an unreadable manifest must not silently re-run
    every chunk."""
    try:
        return spark.read.schema(MANIFEST_SCHEMA).parquet(f"{out_path}/_manifest")
    except AnalysisException as e:
        if _is_path_not_found(e):
            return None
        raise


def completed_chunks(spark: SparkSession, out_path: str) -> set[int]:
    m = read_manifest(spark, out_path)
    if m is None:
        return set()
    return {r["chunk"] for r in m.select("chunk").distinct().collect()}


def deal_files(files: list[str], n_chunks: int) -> list[list[str]]:
    """Pure chunking rule: SORTED file list dealt round-robin.  Same input =>
    same chunks on every run and cluster size; unit-testable without IO
    (tests exercise a 10k-file synthetic listing)."""
    files = sorted(files)
    n = max(1, min(n_chunks, len(files)))
    return [files[i::n] for i in range(n)]


def chunk_input_files(spark: SparkSession, in_path: str, n_chunks: int) -> list[list[str]]:
    """Round-robin file->chunk assignment over the actual input listing (the
    chunking of an input that is not day-partitioned)."""
    return deal_files(spark.read.parquet(in_path).inputFiles(), n_chunks)


_DAY_RE = re.compile(r"[\\/](?:warc_day|warc_ts_day|day)=([^\\/]+)[\\/]")


def group_files_by_day(files: list[str]) -> dict[str, list[str]] | None:
    """Group files by the ``warc_day=<d>`` path component — the natural
    production chunking when the input table is partitioned by days(warc_ts)
    (one chunk per day: lineage reads as dates, late-arriving days append as
    new chunks, and a day's reprocess is one chunk overwrite).  Returns None
    when any file lacks the component, signalling fallback to round-robin
    file groups."""
    by_day: dict[str, list[str]] = {}
    for f in files:
        m = _DAY_RE.search(f)
        if not m:
            return None
        by_day.setdefault(m.group(1), []).append(f)
    return {d: sorted(fs) for d, fs in by_day.items()}


def _is_path_not_found(e: AnalysisException) -> bool:
    """True only for 'the path does not exist yet' analysis errors — any
    other read failure (permissions, corruption, transient FS) must NOT
    silently regenerate the plan: if the input listing drifted meanwhile,
    chunk ids already marked done in the manifest would map to different
    files, duplicating or dropping rows on resume."""
    ec = ""
    try:
        getter = getattr(e, "getCondition", None) or e.getErrorClass
        ec = getter() or ""
    except Exception:
        pass
    return "PATH_NOT_FOUND" in ec or "Path does not exist" in str(e)


def _append_plan(
    spark: SparkSession, out_path: str, first_id: int, chunks: list[list[str]], labels: list[str]
) -> None:
    spark.createDataFrame(
        [(first_id + i, f, labels[i]) for i, fs in enumerate(chunks) for f in fs],
        PLAN_SCHEMA,
    ).write.mode("append").parquet(f"{out_path}/_plan")


def _load_or_create_plan(
    spark: SparkSession, files: list[str], out_path: str, n_chunks: int, done: set[int]
) -> tuple[list[list[str]], list[str]]:
    """The chunk plan is checkpoint state: computed once from the input
    listing ``files`` at first run, persisted to ``_plan`` (ONE ROW PER FILE
    — a 10^6-file input is a normal 10^6-row parquet table, not a
    multi-megabyte delimited string), and reused verbatim on resume.
    Returns (chunks, labels); labels are day strings for a day-partitioned
    input and empty otherwise.  Completed chunks (``done``) with no plan
    raise: a fresh plan would not map their ids to the files they read."""
    try:
        plan_df = spark.read.parquet(f"{out_path}/_plan")
        rows = plan_df.collect()
    except AnalysisException as e:
        if not _is_path_not_found(e):
            raise
        if done:
            raise ValueError(
                f"{out_path}/_manifest lists completed chunks {sorted(done)} but "
                "there is no _plan mapping them to input files; reprocess from "
                "a fresh out_path"
            ) from e
        grouped = group_files_by_day(files)
        if grouped:
            labels = sorted(grouped)
            chunks = [grouped[d] for d in labels]
        else:
            chunks = deal_files(files, n_chunks)
            labels = ["" for _ in chunks]
        _append_plan(spark, out_path, 0, chunks, labels)
        return chunks, labels
    if set(plan_df.columns) != {"chunk", "file", "label"}:
        raise ValueError(
            f"{out_path}/_plan has columns {plan_df.columns} — not a recognized "
            "chunk-plan format (expected 'chunk, file, label'); reprocess from "
            "a fresh out_path"
        )
    plan: dict[int, list[str]] = {}
    lbl: dict[int, str] = {}
    for r in rows:
        plan.setdefault(r["chunk"], []).append(r["file"])
        lbl[r["chunk"]] = r["label"]
    chunks = [sorted(plan[i]) for i in range(len(plan))]
    labels = [lbl[i] for i in range(len(plan))]
    # Late-arriving days: a day-chunked plan is immutable for KNOWN days
    # (their chunk ids/lineage are frozen), but a day that appears in the
    # input listing AFTER the first run appends as a NEW chunk (new id, plan
    # rows appended) — the natural hypertable ingest pattern.  Late files
    # inside an already-planned day are NOT picked up: reprocess that day by
    # deleting its manifest row (its chunk overwrite is idempotent).  A
    # file-chunked plan (empty labels) stays as it was written.
    if labels and all(labels):
        grouped = group_files_by_day(files) or {}
        known = set(labels)
        new_days = sorted(d for d in grouped if d not in known)
        if new_days:
            new_chunks = [grouped[d] for d in new_days]
            _append_plan(spark, out_path, len(chunks), new_chunks, new_days)
            chunks += new_chunks
            labels += new_days
    return chunks, labels


def run_with_checkpoints(
    spark: SparkSession,
    in_path: str,
    out_path: str,
    cfg: Config | None = None,
    *,
    n_chunks: int = 8,
    run_id: str = "ckpt-0",
    fail_after_chunk: int | None = None,
) -> list[int]:
    """Process the parquet input at ``in_path`` chunk-by-chunk with resume;
    returns chunks processed THIS call.

    A day-partitioned input gets one chunk per day; any other input is dealt
    into ``n_chunks`` file groups.  A persisted ``_plan`` overrides both.
    Skips chunks already in the manifest (possibly from a previous crashed
    run), overwrites any partial chunk output, and appends one manifest row
    per completed chunk.
    """
    done = completed_chunks(spark, out_path)
    processed: list[int] = []
    src = spark.read.parquet(in_path)
    chunks, labels = _load_or_create_plan(spark, src.inputFiles(), out_path, n_chunks, done)

    for chunk, files in enumerate(chunks):
        if chunk in done:
            continue
        t0 = time.time()
        # reads ONLY this chunk's files; explicit schema so empty/late chunks
        # don't re-infer; basePath so partition columns (e.g. warc_day= dirs)
        # still resolve from paths
        pages = spark.read.schema(src.schema).option("basePath", in_path).parquet(*files)
        sinks = sink_frame(build_normalized(spark, pages, cfg))
        # row count observed on the write plan itself — no post-write re-read
        obs = Observation(f"ckpt-{run_id}-{chunk}-{uuid.uuid4().hex[:8]}")
        sinks = sinks.observe(obs, F.count(F.lit(1)).alias("rows"))
        # idempotent per-chunk commit: overwrite this chunk's subtree only
        sinks.write.mode("overwrite").partitionBy("sink").parquet(
            f"{out_path}/data/chunk={chunk}"
        )
        n = obs.get["rows"]
        lineage = (f"day={labels[chunk]};" if labels[chunk] else "") + ";".join(files)
        manifest_row = spark.createDataFrame(
            [(run_id, chunk, n, time.time() - t0, float(time.time()), lineage)],
            MANIFEST_SCHEMA,
        )
        manifest_row.write.mode("append").parquet(f"{out_path}/_manifest")
        processed.append(chunk)
        if fail_after_chunk is not None and chunk == fail_after_chunk:
            raise SimulatedCrash(f"crashed after committing chunk {chunk}")
    return processed


def read_all_output(spark: SparkSession, out_path: str) -> DataFrame:
    return spark.read.option("basePath", f"{out_path}/data").parquet(f"{out_path}/data/chunk=*")
