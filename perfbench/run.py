#!/usr/bin/env python3
"""Benchmark of whole ``run_pipeline`` calls, with a traced per-layer run.

    python3 perfbench/run.py --workload batch_mixed --seed 1 --seconds 10 --trace 0

Run from the repository root.  Each run starts a fresh Spark process with the
settings a ``jobs/run_pipeline.py`` user gets, makes one cold call and then
warm calls back to back for ``--seconds``, reads the output back and checks it
against the generator's ground truth.  The last line of standard output is one
JSON object: the end-to-end metrics with ``--trace 0``, the per-layer metrics
with ``--trace 1``.  Everything the run writes goes under ``.perfbench/``;
``perfbench/README.md`` explains the workloads and metrics.
"""

from __future__ import annotations

import argparse
import hashlib
import importlib.metadata
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".perfbench"
sys.path.insert(0, str(HERE))

from truth import compare, expected_counts  # noqa: E402
from worker import dir_stats  # noqa: E402

POOL_SEED = 7
DRIVER_MEMORY = "2g"
# A workload's pool holds ``shards`` files; a seed picks ``pick`` of them.
WORKLOADS = {
    "batch_mixed": {"cores": 4, "shards": 16, "pick": 8, "rows_per_shard": 2000, "pad_bytes": 0},
    "batch_long_pages": {
        "cores": 2, "shards": 16, "pick": 8, "rows_per_shard": 1250, "pad_bytes": 14400,
    },
}
MIN_WARM = 1
TRACE_SETTINGS = {"ckpt_chunks": 4, "ckpt_crash_after": 1, "c1_calls": 1}
RUN_LIMIT_S = 170
FIRST_RUN_LIMIT_S = 880


def session_settings(run_dir: Path) -> dict:
    """Spark defaults plus driver memory, UI off and a local dir.  The JVM
    temp dir and perf-data flag only keep the JVM's files inside the run dir."""
    return {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.ui.enabled": "false",
        "spark.local.dir": str(run_dir / "spark-local"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={run_dir / 'tmp'} -XX:-UsePerfData",
    }


def _resident(pid: int) -> int:
    """Resident bytes of a process, with pages it shares with other
    processes (a forked Python worker and its daemon) split between them:
    the proportional set size.  The JVM shares nothing, so its plain RSS is
    read instead, which is cheaper."""
    try:
        with open(f"/proc/{pid}/comm") as f:
            if f.read().strip() == "java":
                with open(f"/proc/{pid}/statm") as g:
                    return int(g.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except (OSError, ValueError, IndexError):
        pass
    return 0


class ProcessTree:
    """Every process descended from one root, also those that left its
    process group (PySpark's Python daemon starts its own) or lost their
    parent.  A member is a (pid, start time) pair, so a reused pid is not
    taken for one."""

    def __init__(self, root: int):
        self.root = root
        self.members: set[tuple[int, int]] = set()

    @staticmethod
    def _table() -> dict[int, tuple[int, int]]:
        """pid -> (parent pid, start time) for every process."""
        table = {}
        for entry in os.listdir("/proc"):
            if entry.isdigit():
                try:
                    with open(f"/proc/{entry}/stat") as f:
                        fields = f.read().rsplit(")", 1)[1].split()
                except OSError:
                    continue
                table[int(entry)] = (int(fields[1]), int(fields[19]))
        return table

    def alive(self) -> list[int]:
        """Members running now, descendants started since the last call
        included."""
        table = self._table()
        frontier = [pid for pid, start in self.members if table.get(pid, (0, -1))[1] == start]
        if self.root in table:
            frontier.append(self.root)
        children: dict[int, list[int]] = {}
        for pid, (ppid, _) in table.items():
            children.setdefault(ppid, []).append(pid)
        seen = set(frontier)
        while frontier:
            for child in children.get(frontier.pop(), []):
                if child not in seen:
                    seen.add(child)
                    frontier.append(child)
        self.members |= {(pid, table[pid][1]) for pid in seen}
        return sorted(seen)

    def resident(self) -> int:
        return sum(_resident(pid) for pid in self.alive())

    def signal(self, sig: int) -> None:
        for pid in self.alive():
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass

    def stop(self) -> None:
        """Wait for every member to end, then signal what is left: TERM, then
        KILL, waiting up to 10 s after each."""
        for sig in (None, signal.SIGTERM, signal.SIGKILL):
            if sig is not None:
                self.signal(sig)
            t_end = time.monotonic() + 10.0
            while self.alive():
                if time.monotonic() > t_end:
                    break
                time.sleep(0.1)
            else:
                return


def spawn(spec: dict, run_dir: Path, deadline: float) -> tuple[dict | None, float, int]:
    """Run one worker process; returns (its result, spawn time, peak
    resident bytes of its whole process tree, sampled every 0.25 s)."""
    run_dir.mkdir(parents=True, exist_ok=True)
    (run_dir / "tmp").mkdir(exist_ok=True)
    tag = spec["tag"]
    spec_path = run_dir / f"{tag}.spec.json"
    result_path = run_dir / f"{tag}.result.json"
    env = dict(os.environ)
    env.update(
        SPARK_LOCAL_DIRS=str(run_dir / "spark-local"),
        SPARK_LAUNCHER_OPTS=f"-Djava.io.tmpdir={run_dir / 'tmp'} -XX:-UsePerfData",
        TMPDIR=str(run_dir / "tmp"),
        PYSPARK_PYTHON=sys.executable,
        PYTHONPATH=os.pathsep.join(p for p in (str(ROOT), env.get("PYTHONPATH")) if p),
    )
    env.pop("PYSPARK_DRIVER_PYTHON", None)
    peak = 0
    with open(run_dir / f"{tag}.log", "w") as log:
        t_spawn = time.monotonic()
        spec_path.write_text(json.dumps(dict(spec, t_spawn=t_spawn, result=str(result_path))))
        proc = subprocess.Popen(
            [sys.executable, str(HERE / "worker.py"), str(spec_path)],
            cwd=run_dir, env=env, stdout=log, stderr=subprocess.STDOUT,
        )
        tree = ProcessTree(proc.pid)
        try:
            while proc.poll() is None:
                peak = max(peak, tree.resident())
                if time.monotonic() > deadline:
                    tree.signal(signal.SIGKILL)
                time.sleep(0.25)
        finally:
            if proc.poll() is None:
                tree.signal(signal.SIGKILL)
            proc.wait()
            tree.stop()
    if proc.returncode != 0 or not result_path.exists():
        sys.stderr.write(f"worker {tag} failed (exit {proc.returncode}); log: {run_dir / (tag + '.log')}\n")
        return None, t_spawn, peak
    return json.loads(result_path.read_text()), t_spawn, peak


def _sha256(path: Path) -> str:
    h = hashlib.sha256()
    with open(path, "rb") as f:
        for block in iter(lambda: f.read(1 << 20), b""):
            h.update(block)
    return h.hexdigest()


def _num_rows(path: Path) -> int:
    import pyarrow.parquet as pq

    return pq.ParquetFile(path).metadata.num_rows


def _pool_key(params: dict) -> str:
    return hashlib.sha256(json.dumps([params, POOL_SEED], sort_keys=True).encode()).hexdigest()[:12]


def _pool_dir(name: str, key: str) -> Path:
    return WORK / "pool" / f"{name}-{key}"


def ensure_pools(wanted: dict[str, dict], deadline: float) -> dict[str, dict]:
    """Each workload's pool of shards, generated once per checkout (all
    missing pools in one process).  A pool's manifest holds each shard's row
    count, content hash and family counts."""
    pools, missing = {}, {}
    for name, params in wanted.items():
        manifest_path = _pool_dir(name, _pool_key(params)) / "pool.json"
        if manifest_path.exists():
            pools[name] = json.loads(manifest_path.read_text())
        else:
            shutil.rmtree(manifest_path.parent, ignore_errors=True)
            missing[name] = params
    if not missing:
        return pools
    run_dir = WORK / "runs" / "stage"
    shutil.rmtree(run_dir, ignore_errors=True)
    spec = dict(
        mode="stage", tag="stage", pool_seed=POOL_SEED, cores=4, session=session_settings(run_dir),
        pools=[dict(p, name=n, pool_dir=str(_pool_dir(n, _pool_key(p)) / "pages"))
               for n, p in missing.items()],
    )
    result, _, _ = spawn(spec, run_dir, deadline)
    if result is None:
        raise SystemExit(3)
    for name, params in missing.items():
        key, staged = _pool_key(params), result[name]
        pool_dir = _pool_dir(name, key)
        shards = []
        for i in range(params["shards"]):
            files = sorted((pool_dir / "pages" / f"shard={i}").glob("*.parquet"))
            if len(files) != 1:
                raise RuntimeError(f"shard {i} of {pool_dir} has {len(files)} files, expected 1")
            shards.append({
                "file": str(files[0].relative_to(pool_dir)),
                "rows": _num_rows(files[0]),
                "sha256": _sha256(files[0]),
                "families": staged["families"][str(i)],
            })
        pools[name] = {"key": key, "params": params, "pool_seed": POOL_SEED,
                       "gen_s": staged["gen_s"], "shards": shards}
        (pool_dir / "pool.json").write_text(json.dumps(pools[name], indent=1))
    shutil.rmtree(run_dir, ignore_errors=True)
    return pools


def stage_input(name: str, seed: int, pool: dict) -> tuple[Path, list[dict]]:
    """The seed's input: ``pick`` shards of the pool, hard-linked into one
    directory and checked against the pool manifest before use."""
    params = pool["params"]
    picked = sorted(random.Random(f"{name}:{seed}").sample(range(params["shards"]), params["pick"]))
    input_dir = WORK / "inputs" / f"{name}-{pool['key']}-s{seed}"
    shutil.rmtree(input_dir, ignore_errors=True)
    input_dir.mkdir(parents=True)
    shards = []
    for i in picked:
        shard = pool["shards"][i]
        link = input_dir / f"part-{i:05d}.parquet"
        os.link(_pool_dir(name, pool["key"]) / shard["file"], link)
        if _num_rows(link) != shard["rows"] or _sha256(link) != shard["sha256"]:
            raise RuntimeError(
                f"pool shard {i} of {name} changed since it was generated; delete {WORK / 'pool'}"
            )
        shards.append(shard)
    return input_dir, shards


def cpu_probe() -> float:
    t = time.perf_counter()
    acc = 0
    for i in range(1_000_000):
        acc += i * i
    return time.perf_counter() - t


def host_context(session: dict) -> dict:
    def version(pkg):
        try:
            return importlib.metadata.version(pkg)
        except importlib.metadata.PackageNotFoundError:
            return None

    try:
        java = subprocess.run(["java", "-XX:-UsePerfData", "-version"], capture_output=True, text=True, timeout=30)
        java_version = java.stderr.splitlines()[0] if java.stderr else None
    except (OSError, subprocess.TimeoutExpired):
        java_version = None
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "cpu_count": os.cpu_count(),
        "loadavg_before": os.getloadavg(),
        "cpu_probe_before_s": cpu_probe(),
        "spark": version("pyspark"),
        "java": java_version,
        "pyarrow": version("pyarrow"),
        "pandas": version("pandas"),
        "python": sys.version.split()[0],
        "session": session,
    }


def call_problems(calls: list[dict], expected: dict, observed: dict | None) -> list[list[str]]:
    """Problems per call: a call fails when it raised or reported a wrong
    row count; the last call also fails when its read-back output is wrong."""
    out = []
    for c in calls:
        p = [] if c["ok"] else [c.get("error", "call raised")]
        if c["ok"]:
            p += compare(expected, {"rows": c["rows"]})
        out.append(p)
    if calls and calls[-1]["ok"]:
        out[-1] += compare(expected, observed) if observed is not None else ["no read-back"]
    return out


def end_to_end(res: dict, setup_s: float, peak: int, rows: int, sink_bytes: int) -> dict:
    warm = [c["wall_s"] for c in res["calls"][1:]]
    return {
        "docs_per_sec": {"value": rows / statistics.median(warm), "unit": "docs/s"},
        "cold_wall_s": {"value": res["calls"][0]["wall_s"], "unit": "s"},
        "setup_s": {"value": setup_s, "unit": "s"},
        "peak_rss_mb": {"value": peak / 2**20, "unit": "MB"},
        "sink_bytes_per_doc": {"value": sink_bytes / rows, "unit": "B/doc"},
    }


def per_layer(res: dict, rows: int, cores: int, input_bytes: int) -> dict:
    lay, ck, eng = res["layers"], res["checkpoint"], res["engine"]
    w = lay["walls"]
    warm = statistics.median(c["wall_s"] for c in res["calls"][1:])
    c1 = statistics.median(c["wall_s"] for c in res["c1_calls"][1:])
    empty = {"task_s": 0.0, "gc_s": 0.0, "shuffle_write_bytes": 0, "fetch_wait_s": 0.0,
             "jobs": 0, "task_skew": 1.0}

    def e(label):
        return eng.get(label, empty)

    def phase(label, minus=None):
        a, b = e(label), (e(minus) if minus else empty)
        return {k: a[k] - b[k] for k in ("task_s", "gc_s", "shuffle_write_bytes", "fetch_wait_s")} | {
            "jobs": a["jobs"]}

    # a phase's engine counters are its prefix's minus the prefix before
    phases = {
        "extract": phase("extract", "sources"),
        "enrich": phase("enrich.dims", "extract"),
        "rules": phase("rules", "enrich.dims"),
        "route": phase("route.write", "rules"),
        "metrics": phase("metrics"),
        "checkpoint": phase("checkpoint"),
    }
    units = {"task_s": "s", "gc_s": "s", "shuffle_write_bytes": "B", "fetch_wait_s": "s", "jobs": "count"}
    m = {
        "sources.scan_s": (w["sources"], "s"),
        "sources.rows": (rows, "count"),
        "sources.input_bytes": (input_bytes, "B"),
        "extract.self_s": (w["extract"] - w["sources"], "s"),
        "extract.rows_out": (lay["rows_out"], "count"),
        "extract.miss_rows": (lay["miss_rows"], "count"),
        "extract.attrs_per_row": (lay["attrs_per_row"], "count"),
        "enrich.mappings_s": (w["enrich.mappings"] - w["extract"], "s"),
        "enrich.resource_s": (w["enrich.resource"] - w["enrich.mappings"], "s"),
        "enrich.dims_s": (w["enrich.dims"] - w["enrich.resource"], "s"),
        "rules.cascade_s": (w["rules"] - w["enrich.dims"], "s"),
        "rules.matched_rows": (lay["matched_rows"], "count"),
        "rules.match_ratio": (lay["matched_rows"] / rows, "ratio"),
        "route.slim_s": (w["route.slim"] - w["rules"], "s"),
        "route.write_s": (w["route.write"] - w["route.slim"], "s"),
        "route.files": (lay["sink"]["files"], "count"),
        "route.partitions": (lay["sink"]["partitions"], "count"),
        "route.sink_bytes": (lay["sink"]["bytes"], "B"),
        "route.task_skew": (e("route.write")["task_skew"], "ratio"),
        "metrics.manifest_s": (w["metrics"], "s"),
        "metrics.jobs": (e("metrics")["jobs"], "count"),
        "pipeline.plan_build_s": (lay["plan_build_s"], "s"),
        "pipeline.unattributed_s": (warm - w["route.write"] - w["metrics"] - lay["plan_build_s"], "s"),
        "pipeline.warmup_s": (res["calls"][0]["wall_s"] - warm, "s"),
        "pipeline.traced_docs_per_sec": (rows / warm, "docs/s"),
        "pipeline.docs_per_sec_c1": (rows / c1, "docs/s"),
        "pipeline.scaling_eff": (c1 / (cores * warm), "ratio"),
        "checkpoint.per_chunk_s": ((ck["crash_wall_s"] + ck["resume_wall_s"]) / max(1, ck["chunks_skipped"] + ck["chunks_run"]), "s"),
        "checkpoint.manifest_read_s": (ck["manifest_read_s"], "s"),
        "checkpoint.chunks_run": (ck["chunks_run"], "count"),
        "checkpoint.chunks_skipped": (ck["chunks_skipped"], "count"),
        "checkpoint.redo_chunks": (ck["redo_chunks"], "count"),
        "checkpoint.resume_wall_s": (ck["resume_wall_s"], "s"),
    }
    for ph, vals in phases.items():
        for k, v in vals.items():
            m[f"spark.{ph}.{k}"] = (v, units[k])
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}


def scaled(params: dict, scale: float) -> dict:
    return dict(params, rows_per_shard=max(1, int(params["rows_per_shard"] * scale)))


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="multiply rows per shard (tests use a small scale)")
    args = ap.parse_args(argv)

    if not (ROOT / "otel_semconvprocessor_spark" / "__init__.py").exists():
        sys.stderr.write(f"no otel_semconvprocessor_spark package under {ROOT}; run from a checkout\n")
        return 2

    t_start = time.monotonic()
    params = scaled(WORKLOADS[args.workload], args.scale)
    wanted = {name: scaled(p, args.scale) for name, p in WORKLOADS.items()}
    first_run = any(
        not (_pool_dir(name, _pool_key(p)) / "pool.json").exists() for name, p in wanted.items()
    )
    deadline = t_start + (FIRST_RUN_LIMIT_S if first_run else RUN_LIMIT_S)
    # every workload's pool is built on the first run in a checkout, so
    # later runs of any workload only check theirs
    pool = ensure_pools(wanted, deadline)[args.workload]
    input_dir, shards = stage_input(args.workload, args.seed, pool)
    families: dict[str, int] = {}
    for s in shards:
        for fam, n in s["families"].items():
            families[fam] = families.get(fam, 0) + n
    expected = expected_counts(families)
    rows = expected["rows"]

    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{int(time.time())}"
    run_dir = WORK / "runs" / run_id
    shutil.rmtree(run_dir, ignore_errors=True)
    session = session_settings(run_dir)
    host = host_context(dict(session, master=f"local[{params['cores']}]"))
    spec = dict(
        TRACE_SETTINGS, mode="measure", tag="measure", cores=params["cores"], input_dir=str(input_dir),
        out_dir=str(run_dir / "out"), work_dir=str(run_dir / "work"), seconds=args.seconds,
        trace=bool(args.trace), run_id=run_id, events_dir=str(run_dir / "events"),
        spans=str(WORK / "traces" / f"{run_id}.json"), session=session, min_warm=MIN_WARM,
    )
    res, t_spawn, peak = spawn(spec, run_dir, deadline)
    if res is None:
        return 3
    setup_s = res["t_ready"] - t_spawn
    host.update(loadavg_after=os.getloadavg(), cpu_probe_after_s=cpu_probe())

    problems = call_problems(res["calls"], expected, res.get("observed"))
    if args.trace:
        ck = res["checkpoint"]
        ck_problems = ([] if ck["ok"] else [ck.get("error", "checkpoint failed")]) + compare(expected, ck["observed"])
        problems += [ck_problems, ck_problems]  # the crash call and the resume call
        problems += [[] if c["ok"] else [c.get("error", "call raised")] for c in res["c1_calls"]]
    attempted, failed = len(problems), sum(1 for p in problems if p)
    input_bytes = sum(f.stat().st_size for f in input_dir.iterdir())
    if args.trace:
        metrics = per_layer(res, rows, params["cores"], input_bytes)
    else:
        sink_bytes = dir_stats(str(run_dir / "out" / "sinks"))["bytes"]
        metrics = end_to_end(res, setup_s, peak, rows, sink_bytes)

    report = {
        "run_id": run_id, "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "rows": rows, "shards": [s["file"] for s in shards], "pool_gen_s": pool["gen_s"],
        "worker_s": {k: res[k] - t_spawn for k in ("t_ready", "t_checked", "t_stopped")},
        "setup_s": setup_s, "calls": res["calls"], "c1_calls": res.get("c1_calls"),
        "checkpoint": res.get("checkpoint"), "problems": [p for p in problems if p],
        "failed_share": failed / attempted, "expected": expected, "observed": res.get("observed"),
        "host": host, "metrics": metrics, "wall_s": time.monotonic() - t_start,
    }
    if args.trace:
        untraced = sorted((WORK / "reports").glob(f"{args.workload}-s{args.seed}-t0-*.json"))
        if untraced:
            base = json.loads(untraced[-1].read_text())["metrics"]["docs_per_sec"]["value"]
            report["trace_overhead"] = 1 - metrics["pipeline.traced_docs_per_sec"]["value"] / base
    (WORK / "reports").mkdir(parents=True, exist_ok=True)
    (WORK / "reports" / f"{run_id}.json").write_text(json.dumps(report, indent=1, default=str))
    shutil.rmtree(run_dir, ignore_errors=True)
    for p in report["problems"]:
        sys.stderr.write(f"check failed: {p}\n")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
