"""The dedup engine's benchmark: one workload, one seed, cold Spark jobs.

    python3 perfbench/run.py --workload oneshot_code --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. The workload's inputs are generated from the
seed (and cached under .bench_work/inputs/). Each job builds a fresh session
with build_session(cores=4), runs the production entry point
jobs/run_dedup.main on the inputs, checks the clusters against the planted
partition and stops the session, as one spark-submit job would. Another job
starts while it is expected to end within --seconds of timed calls (at least
one job); the metrics are medians over the jobs.

--trace 0 prints the end-to-end metrics. --trace 1 runs the traced layer
run instead (traced.py) and prints the per-layer metrics. stdout carries one
JSON record of host and run hygiene, then, as its last line, the result:
{"correct", "attempted", "failed", "metrics"}. Progress goes to stderr.
Workload parameters and the layer -> metric -> workload map are in
design.json.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback
import uuid
from contextlib import contextmanager, redirect_stdout
from pathlib import Path

import numpy as np
import pandas as pd

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".bench_work"
CORES = 4

# the program under test is imported from the checkout; without it these
# imports fail and the run exits non-zero before printing any result
sys.path[:0] = [str(ROOT), str(ROOT / "jobs")]
import checks  # noqa: E402
import procfs  # noqa: E402
import run_dedup  # noqa: E402
import traced  # noqa: E402
import workloads  # noqa: E402
from microdeduplication_spark.config import DedupConfig  # noqa: E402
from sparkjob import SparkJob  # noqa: E402


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def load_inputs(name: str, seed: int, params: dict):
    """Generate the workload for `seed`, or load it from the seed's cache."""
    key = hashlib.sha256(json.dumps(params, sort_keys=True).encode()
                         + (HERE / "workloads.py").read_bytes()).hexdigest()[:10]
    d = WORK / "inputs" / f"{name}-{key}-seed{seed}"
    files_path, labels_path, stats_path = (
        d / "files.parquet", d / "labels.npy", d / "stats.json")
    if not stats_path.exists():
        t0 = time.perf_counter()
        wl = workloads.generate(name, seed, params)
        d.mkdir(parents=True, exist_ok=True)
        # small row groups: the scan splits into several tasks, as a real
        # table's many files would
        wl.files.to_parquet(files_path, index=False, row_group_size=256)
        np.save(labels_path, wl.labels)
        stats = {**wl.stats, "n_files": wl.n_files,
                 "planted_clusters": wl.n_clusters}
        stats_path.write_text(json.dumps(stats))
        log(f"generated {name} seed {seed} in "
            f"{time.perf_counter() - t0:.1f}s: {stats}")
    files = pd.read_parquet(files_path)
    return (str(files_path), files, np.load(labels_path),
            json.loads(stats_path.read_text()))


def _pipeline_counters(spark, out: Path) -> dict:
    """Stage row counts and skew stats the production job wrote, plus
    verified pairs per method."""
    man = json.loads((out / "metrics.json").read_text())
    c = {"clusters": man["summary"]["clusters"]}
    for st in man["stages"]:
        if st.get("rows") is not None:
            c[f"{st['stage']}.rows"] = st["rows"]
        if st["stage"] == "cand_minhash_skew":
            for k in ("hot_buckets", "pairs_elided", "dropped_buckets",
                      "dropped_rows"):
                c[f"minhash.{k}"] = st[k]
    for r in spark.read.parquet(str(out / "verified")).groupBy("method") \
            .count().collect():
        c[f"verified.{r['method']}"] = r["count"]
    return c


def _production_call(input_path: str, out: Path) -> None:
    # the job prints its summary on stdout; keep stdout for the result
    with redirect_stdout(sys.stderr):
        run_dedup.main(["--input", input_path, "--output", str(out)])


@contextmanager
def _measured(call: dict):
    """Wall, process-tree CPU and peak RSS of the block into `call`, with
    the host's steal and other processes' CPU over the same interval."""
    h0, c0, t0 = procfs.host_cpu(), procfs.tree_cpu_s(), time.perf_counter()
    yield
    call["wall_s"] = time.perf_counter() - t0
    call["cpu_s"] = procfs.tree_cpu_s() - c0
    call["peak_rss_mb"] = procfs.tree_peak_rss_mb()
    h1 = procfs.host_cpu()
    call["steal_s"] = h1["steal_s"] - h0["steal_s"]
    call["other_cpu_s"] = max(
        0.0, h1["busy_s"] - h0["busy_s"] - call["cpu_s"])


def run_e2e(seconds: float, inputs, record,
            run_id: str) -> tuple[dict, list[dict]]:
    """Cold jobs one after another while the next one, timed like the last,
    still ends within `seconds` of timed calls (at least one job). Each job builds a fresh session, makes one
    production call, checks its clusters against the planted labels and
    stops the session with every process it started, as one spark-submit
    job would. The metrics are medians over the jobs."""
    input_path, files, labels, _ = inputs
    truth = None
    calls: list[dict] = []
    timed = 0.0
    while not calls or timed + calls[-1]["wall_s"] <= seconds:
        job = SparkJob(WORK, CORES)
        out = WORK / "out" / run_id / f"call{len(calls)}"
        call: dict = {"ok": False}
        calls.append(call)
        try:
            call["setup_s"] = job.start()
            with _measured(call):
                _production_call(input_path, out)
            timed += call["wall_s"]
            if truth is None:
                truth = checks.truth_by_file_id(job.spark, input_path, files,
                                                labels)
            call["check"] = checks.partition_check(
                job.spark.read.parquet(str(out / "clusters")).toPandas(),
                truth)
            call["counters"] = _pipeline_counters(job.spark, out)
            call["nondeterministic"] = record.compare(call["counters"])
            call["ok"] = (call["check"]["ok"]
                          and not call["nondeterministic"])
        except Exception:
            call["error"] = traceback.format_exc()
            log(call["error"])
            break
        finally:
            shutil.rmtree(out, ignore_errors=True)
            job.stop()
        log(f"job {len(calls)}: setup {call['setup_s']:.2f}s, call "
            f"{call['wall_s']:.2f}s ok={call['ok']} {call['check']}")
    done = [c for c in calls if "wall_s" in c]
    n = len(files)
    metrics = {}
    if done and len(done) == len(calls):
        metrics = {
            "files_per_s": statistics.median(n / c["wall_s"] for c in done),
            "setup_s": statistics.median(c["setup_s"] for c in done),
            "cpu_s_per_kfile": statistics.median(
                c["cpu_s"] / n * 1000 for c in done),
        }
    return metrics, calls


def run_traced(job, inputs, record, run_id: str, workload: str, seed: int,
               incremental_files: int) -> tuple[dict, list[dict], dict]:
    """The production call (cold, traced), then the staged layers, the
    kernel batches and the incremental layer; stops the session and reads
    per-layer cost from its event log."""
    input_path, files, labels, _ = inputs
    cfg = DedupConfig()
    spark = job.spark
    tr = traced.Tracer(run_id, spark.sparkContext)
    calls: list[dict] = []
    out = WORK / "out" / run_id / "traced"
    try:
        with tr.span("run", label=False):
            # the production call first, cold, as in the untraced run
            call = {"what": "pipeline"}
            with tr.span("pipeline", label=False), _measured(call):
                _production_call(input_path, out)
            truth = checks.truth_by_file_id(spark, input_path, files, labels)
            calls.append({**call, **checks.partition_check(
                spark.read.parquet(str(out / "clusters")).toPandas(), truth)})
            shutil.rmtree(out, ignore_errors=True)
            spark.catalog.clearCache()

            counters, clusters = traced.staged_layers(spark, tr, input_path, cfg)
            calls.append({"what": "staged_layers",
                          **checks.partition_check(clusters, truth)})
            with tr.span("hashing.kernels", label=False):
                kernel_ms, digests = traced.kernel_batches(files, cfg)
            incr, incr_checks = traced.incremental(
                spark, tr, WORK / "incr" / run_id,
                files.iloc[:incremental_files], truth, cfg)
            for what, chk in zip(("incremental", "incremental_compacted"),
                                 incr_checks):
                calls.append({"what": what, **chk})
    finally:
        shutil.rmtree(WORK / "incr" / run_id, ignore_errors=True)
        job.stop()
    tr.write(WORK / "trace" / f"{workload}-seed{seed}-{run_id}.jsonl")

    repeat = {f"trace.{k}": v for k, v in counters.items()}
    repeat.update({f"digest.{k}": v for k, v in digests.items()})
    diff = record.compare(repeat)
    for c in calls:
        c["nondeterministic"] = diff
        c["ok"] = c["ok"] and not diff
    metrics = traced.layer_metrics(tr, job.event_log(), counters, kernel_ms,
                                  incr, CORES)
    metrics["pipeline.peak_rss_mb"] = calls[0]["peak_rss_mb"]
    job.event_log().unlink()
    extra = {"counters": counters, "kernel_digests": digests,
             "tracing_overhead": _overhead(workload, seed,
                                           metrics["pipeline.e2e_s"])}
    return metrics, calls, extra


def _runs_log() -> Path:
    return WORK / "runs.jsonl"


def _overhead(workload: str, seed: int, traced_e2e_s: float) -> dict | None:
    """Traced versus untraced wall of the production call at the same seed,
    when an untraced run of this seed is in the run log."""
    walls = []
    if _runs_log().exists():
        for line in _runs_log().read_text().splitlines():
            r = json.loads(line)
            if (r["workload"], r["seed"], r["trace"]) == (workload, seed, 0):
                walls += [c["wall_s"] for c in r["calls"][:1] if "wall_s" in c]
    if not walls:
        return None
    untraced = statistics.median(walls)
    return {"traced_e2e_s": traced_e2e_s, "untraced_e2e_s": untraced,
            "overhead_frac": traced_e2e_s / untraced - 1}


def _source_identity() -> dict:
    """The commit when the checkout is a git repository, and always a
    digest of the program's sources."""
    h = hashlib.sha256()
    for p in sorted([*ROOT.glob("microdeduplication_spark/**/*.py"),
                     *ROOT.glob("jobs/*.py")]):
        h.update(p.relative_to(ROOT).as_posix().encode())
        h.update(p.read_bytes())
    sha = None
    if (ROOT / ".git").exists():
        r = subprocess.run(["git", "-C", str(ROOT), "rev-parse", "HEAD"],
                           capture_output=True, text=True)
        sha = r.stdout.strip() or None
    return {"commit": sha, "source_digest": h.hexdigest()[:16]}


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    design = json.loads((HERE / "design.json").read_text())
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    units = {m["name"]: m["unit"]
             for m in spec["per_layer" if args.trace else "end_to_end"]}
    if args.workload not in design["workloads"]:
        p.error(f"unknown workload {args.workload!r}")
    for d in ("tmp", "spark-local"):
        (WORK / d).mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(WORK / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(WORK / "spark-local")

    run_id = uuid.uuid4().hex[:12]
    source = _source_identity()
    wl = design["workloads"][args.workload]
    inputs = load_inputs(args.workload, args.seed, wl["generator"])
    # one record per input set and program version: counters must repeat
    # for the same code and inputs, and may change with either
    record = checks.SeedRecord(
        Path(inputs[0]).parent / f"record-{source['source_digest']}.json")

    host0, t0 = procfs.host_cpu(), time.time()
    extra: dict = {}
    try:
        if args.trace:
            job = SparkJob(WORK, CORES, event_log=True)
            try:
                setup_s = job.start()
                log(f"setup {setup_s:.2f}s")
                metrics, calls, extra = run_traced(
                    job, inputs, record, run_id, args.workload, args.seed,
                    design["trace"]["incremental_files"])
            finally:
                job.stop()
            extra["setup_s"] = setup_s
        else:
            metrics, calls = run_e2e(args.seconds, inputs, record, run_id)
    finally:
        shutil.rmtree(WORK / "out" / run_id, ignore_errors=True)
    wall = time.time() - t0
    host1 = procfs.host_cpu()
    record.save()

    attempted = max(len(calls), 1)
    failed = sum(not c["ok"] for c in calls) + (len(calls) == 0)
    nproc = os.cpu_count()
    steal = host1["steal_s"] - host0["steal_s"]
    hygiene = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "seconds": args.seconds, "run_id": run_id,
        "nproc": nproc, "cpus_allowed": len(os.sched_getaffinity(0)),
        "cores_used": CORES, **source,
        "run_wall_s": wall,
        "failed_frac": {"value": failed / attempted, "unit": "ratio"},
        "steal_s": steal, "steal_frac": steal / (wall * nproc),
        "other_cpu_s": sum(c.get("other_cpu_s", 0.0) for c in calls),
        "generator": inputs[3], "calls": calls, **extra,
    }
    with open(_runs_log(), "a") as f:
        f.write(json.dumps(hygiene) + "\n")

    if set(metrics) != set(units):
        log(f"no result: metrics {sorted(metrics)} do not match "
            f"BENCHMARK.json {sorted(units)}")
        return 1
    log(f"failed_frac {failed / attempted} ({failed}/{attempted}); "
        + ", ".join(f"{k}={v:.4g} {units[k]}" for k, v in metrics.items()))
    if extra.get("tracing_overhead"):
        log(f"tracing overhead: {extra['tracing_overhead']}")
    print(json.dumps({"host": hygiene}))
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": float(v), "unit": units[k]}
                    for k, v in metrics.items()},
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
