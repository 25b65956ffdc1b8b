"""The traced run: the production call once, then each layer on its own.

Spans are recorded from outside the program, around calls into each layer
module's public functions. Every Spark job a span starts carries the job
description `perfbench:<span>`, and executor cost is read back from the event
log per span after the session stops.
"""

from __future__ import annotations

import hashlib
import json
import shutil
import statistics
import time
from contextlib import contextmanager
from pathlib import Path

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

import checks
import eventlog
from microdeduplication_spark.functions.hashing import (
    make_shingles_sigs_udf,
    minhash_batch,
    perm_masks,
    shingles_batch,
    simhash_batch,
    window_fp_batch,
)
from microdeduplication_spark.functions.text import normalize_py
from microdeduplication_spark.operators import (
    connected_components as cc,
    exact_dedup,
    minhash_lsh,
    simhash as simhash_op,
    substring,
    verify,
)
from microdeduplication_spark.operators.incremental_dedup import (
    checkpoint_index,
    dedup_increment,
    init_index,
    read_clusters,
)
from microdeduplication_spark.sources.files_source import (
    FILES_SCHEMA,
    read_files,
)

# the staged layers the production pipeline chains, in pipeline order
PIPELINE_LAYERS = ("exact_dedup", "hashing", "minhash_lsh", "simhash",
                   "substring", "verify", "connected_components")


class Tracer:
    """Spans kept in memory and written out when the run ends."""

    def __init__(self, run_id: str, sc):
        self.run_id = run_id
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[str] = []

    @contextmanager
    def span(self, name: str, label: bool = True):
        """Time the block; with `label`, its Spark jobs carry the job
        description perfbench:<name>."""
        parent = self._stack[-1] if self._stack else None
        before = self.sc.getLocalProperty("spark.job.description")
        if label:
            self.sc.setJobDescription(f"perfbench:{name}")
        self._stack.append(name)
        start = time.time()
        try:
            yield
        finally:
            end = time.time()
            self._stack.pop()
            self.sc.setJobDescription(before)
            self.spans.append({"name": name, "start": start, "end": end,
                               "parent": parent, "run_id": self.run_id})

    def get(self, name: str) -> dict:
        return next(s for s in self.spans if s["name"] == name)

    def wall(self, name: str) -> float:
        s = self.get(name)
        return s["end"] - s["start"]

    def write(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def staged_layers(spark, tr: Tracer, input_path: str,
                  cfg) -> tuple[dict, pd.DataFrame]:
    """Run the pipeline's layers one public call at a time, each materialized
    inside its own span. Returns (counters, clusters)."""
    c: dict = {}
    with tr.span("files_source"):
        files = read_files(spark, parquet_path=input_path)
        # an aggregate over the content column, so every byte is scanned
        files.agg(F.sum(F.length("content"))).collect()

    with tr.span("exact_dedup"):
        normalized = exact_dedup.ingest_normalize(files, cfg).persist()
        c["files"] = normalized.count()
        groups = exact_dedup.exact_groups(normalized).persist()
        ex_edges = exact_dedup.exact_edges(normalized, groups).persist()
        c["exact_edges"] = ex_edges.count()
        reps = exact_dedup.representatives(normalized, groups).persist()
        c["reps"] = reps.count()

    with tr.span("hashing"):
        fused = make_shingles_sigs_udf(cfg.shingle_k, cfg.num_perms, cfg.seed,
                                       cfg.simhash_bits)
        shingled = reps.select(
            "file_id", fused(F.col("content_norm")).alias("_s")
        ).select("file_id", "_s.shingles", "_s.sig", "_s.sim").persist()
        shingled.count()

    with tr.span("minhash_lsh"):
        bands = minhash_lsh.lsh_bands(shingled.select("file_id", "sig"), cfg) \
            .localCheckpoint(eager=False)
        cand_mh = minhash_lsh.candidate_pairs(bands, cfg).persist()
        c["minhash_candidates"] = cand_mh.count()
        skew = minhash_lsh.hot_bucket_stats(bands, cfg).first().asDict()
        c.update({f"minhash_{k}": int(v) for k, v in skew.items()})

    with tr.span("simhash"):
        cand_sh = simhash_op.candidate_pairs(
            shingled.select("file_id", "sim"), cfg).persist()
        c["simhash_candidates"] = cand_sh.count()

    with tr.span("substring"):
        lined = substring.line_hash_sets(reps).persist()
        cand_sub = substring.candidate_pairs(lined, cfg).persist()
        c["substring_candidates"] = cand_sub.count()
        ver_sub = substring.verify_containment(cand_sub, lined, cfg).persist()
        c["substring_verified"] = ver_sub.count()

    with tr.span("verify"):
        sim_cands = cand_mh.unionByName(cand_sh).groupBy("a_id", "b_id").agg(
            F.min("method").alias("method")).persist()
        c["verify_pairs_in"] = sim_cands.count()
        ver_jac = verify.verify_jaccard(sim_cands, shingled, cfg).persist()
        c["verify_pairs_kept"] = ver_jac.count()

    with tr.span("connected_components"):
        edges = ver_jac.unionByName(ver_sub).select(
            F.col("a_id").alias("src"), F.col("b_id").alias("dst")
        ).unionByName(ex_edges).persist()
        c["cc_edges"] = edges.count()
        assign = cc.connected_components(edges)
        clusters = normalized.select("file_id").distinct().join(
            assign, "file_id", "left"
        ).select("file_id",
                 F.coalesce("cluster_id", "file_id").alias("cluster_id"))
        clusters_pdf = clusters.toPandas()
        c["cc_clusters"] = int(clusters_pdf["cluster_id"].nunique())

    spark.catalog.clearCache()
    return c, clusters_pdf


def _line_hashes(text: str) -> np.ndarray:
    return np.array(
        [int.from_bytes(hashlib.blake2b(ln.encode(), digest_size=8).digest(),
                        "little", signed=True) for ln in text.split("\n")],
        dtype=np.int64)


def _digest(series: pd.Series) -> str:
    h = hashlib.sha256()
    for v in series:
        h.update(np.asarray(v, dtype=np.int64).tobytes())
        h.update(b"|")
    return h.hexdigest()[:16]


def kernel_batches(files: pd.DataFrame, cfg, rows: int = 2048,
                   repeats: int = 3) -> tuple[dict, dict]:
    """One-core timings (ms, median of `repeats`) of the Arrow kernels on a
    fixed batch of the workload's distinct normalized files, and a digest of
    each kernel's output. No Spark is involved."""
    distinct: dict[str, None] = {}
    for content in files["content"]:
        distinct.setdefault(normalize_py(content))
        if len(distinct) == rows:
            break
    texts = pd.Series([*distinct] * (rows // len(distinct) + 1)).iloc[:rows] \
        .reset_index(drop=True)
    lines = pd.Series([_line_hashes(t) for t in texts])
    masks = perm_masks(cfg.num_perms, cfg.seed)
    shingles = shingles_batch(texts, cfg.shingle_k)
    kernels = {
        "shingles_batch": lambda: shingles_batch(texts, cfg.shingle_k),
        "minhash_batch": lambda: minhash_batch(shingles, masks),
        "simhash_batch": lambda: simhash_batch(shingles, cfg.simhash_bits),
        "window_fp_batch": lambda: window_fp_batch(
            lines, cfg.substr_window, cfg.substr_winnow),
    }
    ms, digests = {}, {}
    for name, fn in kernels.items():
        times = []
        for _ in range(repeats):
            t0 = time.perf_counter()
            out = fn()
            times.append((time.perf_counter() - t0) * 1e3)
        ms[name] = statistics.median(times)
        digests[name] = _digest(out)
    return ms, digests


def incremental(spark, tr: Tracer, work: Path, files: pd.DataFrame,
                truth: pd.DataFrame, cfg) -> tuple[dict, list[dict]]:
    """init_index on 90% of `files` (outside the measured spans), then
    dedup_increment on the other 10%, read_clusters and checkpoint_index.
    Returns (byte counts, partition checks against `truth` restricted to
    `files`)."""
    work.mkdir(parents=True, exist_ok=True)
    truth = truth[truth["path"].isin(files["path"])]
    in_batch = np.arange(len(files)) % 10 == 9
    base_path = work / "incr_base.parquet"
    files[~in_batch].to_parquet(base_path, index=False, row_group_size=256)
    idx = work / "index"
    shutil.rmtree(idx, ignore_errors=True)
    with tr.span("incremental.init"):
        init_index(spark, read_files(spark, parquet_path=str(base_path)), cfg,
                   str(idx))
    spark.catalog.clearCache()
    # the batch arrives as in-memory rows, so every byte the increment's jobs
    # read from files is index data
    batch = spark.createDataFrame(files[in_batch], schema=FILES_SCHEMA)
    size0 = _dir_bytes(idx)
    with tr.span("incremental_dedup"):
        dedup_increment(spark, batch, cfg, str(idx)).count()
    out = {"appended_mb": (_dir_bytes(idx) - size0) / 1e6}
    checked = []
    with tr.span("incremental.read_clusters"):
        pdf = read_clusters(spark, str(idx)).toPandas()
    checked.append(checks.partition_check(pdf, truth))
    with tr.span("incremental.compact"):
        checkpoint_index(spark, str(idx))
    checked.append(checks.partition_check(
        read_clusters(spark, str(idx)).toPandas(), truth))
    shutil.rmtree(idx, ignore_errors=True)
    return out, checked


def _dir_bytes(path: Path) -> int:
    return sum(p.stat().st_size for p in path.rglob("*") if p.is_file())


def layer_metrics(tr: Tracer, log: Path, counters: dict, kernel_ms: dict,
                  incr: dict, cores: int) -> dict:
    """Every per-layer metric, from the spans, the event log and counters."""
    events = eventlog.read(str(log))

    def cost(span: str, unlabelled_only: bool = False) -> eventlog.Totals:
        s = tr.get(span)
        return eventlog.in_window(events, s["start"], s["end"],
                                  unlabelled_only)

    m: dict = {}
    fs = cost("files_source")
    m["files_source.scan_s"] = tr.wall("files_source")
    m["files_source.core_s"] = fs.run_s
    m["files_source.read_mb"] = fs.files_read_b / 1e6

    for layer in PIPELINE_LAYERS:
        t = cost(layer)
        m[f"{layer}.wall_s"] = tr.wall(layer)
        m[f"{layer}.core_s"] = t.run_s
        if layer in ("exact_dedup", "minhash_lsh", "substring", "verify"):
            m[f"{layer}.shuffle_mb"] = t.shuffle_write_b / 1e6

    m["exact_dedup.reps"] = counters["reps"]
    m["exact_dedup.rep_frac"] = counters["reps"] / counters["files"]
    for k, v in kernel_ms.items():
        m[f"hashing.{k}_ms"] = v
    m["minhash_lsh.candidates"] = counters["minhash_candidates"]
    m["minhash_lsh.hot_buckets"] = counters["minhash_hot_buckets"]
    m["minhash_lsh.pairs_elided"] = counters["minhash_pairs_elided"]
    m["minhash_lsh.dropped_rows"] = counters["minhash_dropped_rows"]
    m["simhash.candidates"] = counters["simhash_candidates"]
    m["substring.candidates"] = counters["substring_candidates"]
    m["substring.verified"] = counters["substring_verified"]
    m["substring.yield"] = (counters["substring_verified"]
                            / max(counters["substring_candidates"], 1))
    m["verify.pairs_in"] = counters["verify_pairs_in"]
    m["verify.pairs_kept"] = counters["verify_pairs_kept"]
    m["verify.yield"] = (counters["verify_pairs_kept"]
                         / max(counters["verify_pairs_in"], 1))
    m["connected_components.edges"] = counters["cc_edges"]
    m["connected_components.clusters"] = counters["cc_clusters"]

    e2e = tr.wall("pipeline")
    p = cost("pipeline")
    m["pipeline.e2e_s"] = e2e
    m["pipeline.core_s"] = p.run_s
    m["pipeline.gc_s"] = p.gc_s
    m["pipeline.slot_util"] = p.run_s / (e2e * cores)
    m["pipeline.overlap_s"] = sum(tr.wall(x) for x in PIPELINE_LAYERS) - e2e
    m["pipeline.unlabelled_core_s"] = cost("pipeline", True).run_s

    inc = cost("incremental_dedup")
    m["incremental_dedup.increment_s"] = tr.wall("incremental_dedup")
    m["incremental_dedup.core_s"] = inc.run_s
    m["incremental_dedup.shuffle_mb"] = inc.shuffle_write_b / 1e6
    m["incremental_dedup.index_read_mb"] = inc.files_read_b / 1e6
    m["incremental_dedup.appended_mb"] = incr["appended_mb"]
    m["incremental_dedup.read_clusters_s"] = tr.wall("incremental.read_clusters")
    m["incremental_dedup.compact_s"] = tr.wall("incremental.compact")
    return m
