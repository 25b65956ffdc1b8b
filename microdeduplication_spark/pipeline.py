"""End-to-end dedup pipeline: stage graph + idempotent checkpoints + metrics.

Stage graph (SURVEY.md §3 "new-engine lifecycle"):

    ingest_normalize -> exact_dedup(norm_sha)
        -> [minhash_lsh | simhash | substring]   (on exact representatives)
        -> candidate_union -> verify (jaccard / containment)
        -> (+ exact star edges) -> connected_components -> clusters

Each stage is a pure DataFrame->DataFrame function (operators/*); this module
only composes them through `_Checkpointer.run`, which has two behaviours:

- In memory (checkpoint_dir=None): the stage is persisted and materialized by
  one count job on the stage pool once its input stages have materialized,
  so independent stages run as concurrent Spark jobs. Its metrics entry
  carries the row count and the materialization wall time.
- With checkpoint_dir: the stage lands at <dir>/<stage>/ as parquet with a
  sibling <dir>/<stage>.manifest.json carrying {stage, build_id,
  config_hash, config, inputs, input_ids, rows, partitions, wall_ms}. On
  rerun, a stage whose manifest matches the current config hash and the
  build ids of its inputs is read back instead of recomputed; deleting any
  stage directory invalidates it and everything downstream recomputes from
  the last valid prefix -- tested by test_pipeline.py::test_resume_idempotent.

Checkpoint set (layout `stage-layout-v3`, folded into the config hash so a
dir written by an earlier layout rebuilds instead of reloading): normalized,
exact_edges, shingles (file_id, lang, shingles and the fused sig/sim
columns), cand_substring, cand_minhash, cand_simhash, verified, clusters.
The signature columns are a projection of shingles, not a stage. The
non-stage intermediates (exact groups, representatives, line hashes) are
persisted in both modes, and `cand_minhash_skew` is a one-row metrics entry
recorded whenever cand_minhash is built in the run.

Job labels: every Spark job a run starts carries the job description
`stage:<name>` of the stage it serves -- the pool's materialization jobs and
the jobs the main thread starts while building a stage (lazy
localCheckpoint under AQE, broadcasts, connected-components rounds). The
caller's job description is restored when each stage returns.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid
from contextlib import contextmanager
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from microdeduplication_spark.config import DedupConfig, cfg_hash
from microdeduplication_spark.operators import (
    connected_components as cc,
    exact_dedup,
    minhash_lsh,
    simhash as simhash_op,
    substring,
    verify,
)

ALL_PASSES = ("minhash", "simhash", "substring")
# folded into the checkpoint config hash; bump when a stage's table changes
STAGE_LAYOUT = "stage-layout-v3"


@dataclass
class PipelineResult:
    clusters: DataFrame            # (file_id, cluster_id)
    verified: DataFrame            # (a_id, b_id, method, score)
    candidates: DataFrame          # (a_id, b_id, method)
    normalized: DataFrame          # ingest output
    metrics: list[dict] = field(default_factory=list)
    # intermediate stage handles (persisted/checkpointed) so downstream
    # consumers (incremental_dedup.init_index) can PROJECT per-rep features
    # instead of re-running the Arrow kernels over the whole corpus:
    # "shingled" (file_id, lang, shingles, [sig], [sim]), "lined" (substring
    # pass input). Keys absent when the pass didn't run.
    stages: dict = field(default_factory=dict)


@contextmanager
def job_label(spark: SparkSession, label: str):
    """Run the block with Spark job description `label` (a thread-local
    property), then restore the caller's description."""
    sc = spark.sparkContext
    before = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(label)
    try:
        yield
    finally:
        sc.setJobDescription(before)


class _Checkpointer:
    """Runs stages: persisted and materialized on the stage pool in memory,
    or per-stage parquet checkpoints with config-hashed manifests."""

    def __init__(self, spark: SparkSession, root: str | None, cfg: DedupConfig,
                 passes: tuple[str, ...]):
        self.spark = spark
        self.root = root
        # the active passes are part of the hash: rerunning with a different
        # pass set against the same dir rebuilds everything rather than
        # reloading a stale 'verified'/'clusters'
        self.cfg_hash = cfg_hash(cfg, tuple(passes) + (STAGE_LAYOUT,))
        self.cfg = cfg
        self.metrics: list[dict] = []
        # build_id of each stage's current-session output; downstream stages
        # record the exact build_ids they consumed, so rebuilding any upstream
        # stage (new build_id) invalidates the whole downstream suffix.
        self.build_ids: dict[str, str] = {}
        # in-memory async materialization: stage -> Future (see _submit)
        self._futures: dict = {}
        self._executor = None

    def _paths(self, stage: str) -> tuple[str, str]:
        return (
            os.path.join(self.root, stage),
            os.path.join(self.root, f"{stage}.manifest.json"),
        )

    def run(self, stage: str, build, input_stages: list[str]) -> DataFrame:
        """Build (or reload) one stage; record lineage metrics either way."""
        with job_label(self.spark, f"stage:{stage}"):
            if self.root is None:
                df = build().persist()
                self._submit(stage, df, input_stages)
                return df
            return self._checkpoint(stage, build, input_stages)

    def _checkpoint(self, stage: str, build,
                    input_stages: list[str]) -> DataFrame:
        t0 = time.monotonic()
        data_dir, man_path = self._paths(stage)
        expected_inputs = {s: self.build_ids.get(s) for s in input_stages}
        if os.path.exists(man_path) and os.path.exists(data_dir):
            with open(man_path) as f:
                man = json.load(f)
            if (
                man.get("config_hash") == self.cfg_hash
                and man.get("input_ids") == expected_inputs
            ):
                self.build_ids[stage] = man["build_id"]
                self.metrics.append({**man, "cached": True})
                return self.spark.read.parquet(data_dir)
            # stale: config changed or an upstream stage was rebuilt
            shutil.rmtree(data_dir, ignore_errors=True)
            if os.path.exists(man_path):
                os.remove(man_path)
        df = build()
        df.write.mode("overwrite").parquet(data_dir)
        out = self.spark.read.parquet(data_dir)
        rows = out.count()
        build_id = uuid.uuid4().hex
        man = {
            "stage": stage,
            "build_id": build_id,
            "config_hash": self.cfg_hash,
            "config": self.cfg.to_dict(),
            "inputs": input_stages,
            "input_ids": expected_inputs,
            "rows": rows,
            "partitions": out.rdd.getNumPartitions(),
            "wall_ms": int((time.monotonic() - t0) * 1000),
            "cached": False,
        }
        with open(man_path, "w") as f:
            json.dump(man, f, indent=1)
        self.build_ids[stage] = build_id
        self.metrics.append(man)
        return out

    def _submit(self, stage: str, df: DataFrame, input_stages: list[str],
                first: bool = False) -> None:
        """Schedule a stage's materialization on the async executor.

        The task blocks on its input stages' futures, then runs one action
        (count, or first() for one-row stats tables). Stages whose inputs
        are ready run as concurrent Spark jobs -- the wall time of the
        pipeline approaches max(critical path latency, total CPU / cores)
        instead of the sum of per-stage walls (the round-1 e2e scaling
        gap). metrics.append is GIL-atomic; entry order is completion
        order, consumers look entries up by stage name."""
        if self._executor is None:
            from concurrent.futures import ThreadPoolExecutor

            self._executor = ThreadPoolExecutor(
                max_workers=12, thread_name_prefix="stage-mat"
            )
        deps = [self._futures[s] for s in input_stages if s in self._futures]

        def task() -> None:
            for d in deps:
                d.result()
            t0 = time.monotonic()
            # job descriptions are thread-local: label this stage's
            # materialization job on the pool thread too
            self.spark.sparkContext.setJobDescription(f"stage:{stage}")
            if first:
                row = df.first().asDict()
                self.metrics.append(
                    {"stage": stage, "cached": False, **row}
                )
            else:
                rows = df.count()
                self.metrics.append(
                    {"stage": stage, "cached": False, "rows": rows,
                     "wall_ms": int((time.monotonic() - t0) * 1000),
                     "inputs": input_stages, "async": True}
                )

        self._futures[stage] = self._executor.submit(task)

    def defer_stats(self, stage: str, df: DataFrame,
                    input_stages: list[str] = ()) -> None:
        """Schedule a tiny one-row stats DataFrame whose values become a
        metrics entry; rides the async executor so the stats job overlaps
        the stage work instead of adding a sequential job."""
        self._submit(stage, df, list(input_stages), first=True)

    def wait(self, *stages: str) -> None:
        """Block until the named stages have materialized (propagates any
        stage failure). Needed before builds that run driver-side actions
        of their own (connected components)."""
        for s in stages:
            f = self._futures.get(s)
            if f is not None:
                f.result()

    def sync(self) -> None:
        """Block until every scheduled stage has materialized."""
        for f in list(self._futures.values()):
            f.result()
        if self._executor is not None:
            self._executor.shutdown(wait=True)
            self._executor = None
        self._futures.clear()


def run_pipeline(
    spark: SparkSession,
    files: DataFrame,
    cfg: DedupConfig | None = None,
    checkpoint_dir: str | None = None,
    passes: tuple[str, ...] = ALL_PASSES,
) -> PipelineResult:
    """files(repo,path,commit,lang,content) -> PipelineResult.

    checkpoint_dir=None persists and materializes every stage in memory; a
    path makes every stage an idempotent parquet checkpoint (resumable,
    north_rule).
    """
    cfg = cfg or DedupConfig()
    if not any(p in passes for p in ALL_PASSES):
        raise ValueError("at least one pass required")
    ck = _Checkpointer(spark, checkpoint_dir, cfg, passes)

    # ---- level 0: ingest ------------------------------------------------
    normalized = ck.run(
        "normalized", lambda: exact_dedup.ingest_normalize(files, cfg), []
    )

    # non-stage intermediates, each read by two consumers (groups:
    # exact_edges and reps; reps: shingles and lined; lined: cand_substring
    # and verified): persisted so each computes once
    groups = exact_dedup.exact_groups(normalized).persist()
    reps = exact_dedup.representatives(normalized, groups).persist()
    lined = (substring.line_hash_sets(reps).persist()
             if "substring" in passes else None)

    # ---- level 1: exact edges + shingles (independent) -------------------
    ex_edges = ck.run(
        "exact_edges",
        lambda: exact_dedup.exact_edges(normalized, groups),
        ["normalized"],
    )

    need_mh = "minhash" in passes
    need_sh = "simhash" in passes

    def _build_shingled() -> DataFrame:
        if not (need_mh or need_sh):
            return minhash_lsh.add_shingles(reps, cfg)
        # fused kernel: the shingle arrays are born in numpy inside ONE
        # Arrow UDF that also computes both signature families, so the
        # wide shingle column never round-trips JVM->Python->JVM->Python
        # between a shingle stage and a signature stage (guide §4: control
        # how many bytes cross the boundary)
        from microdeduplication_spark.functions.hashing import (
            make_shingles_sigs_udf,
        )

        fused = make_shingles_sigs_udf(
            cfg.shingle_k,
            cfg.num_perms if need_mh else None,
            cfg.seed,
            cfg.simhash_bits if need_sh else None,
        )
        cols = ["file_id", "lang", F.col("_s.shingles").alias("shingles")]
        if need_mh:
            cols.append(F.col("_s.sig").alias("sig"))
        if need_sh:
            cols.append(F.col("_s.sim").alias("sim"))
        return reps.select(
            "file_id", "lang", fused(F.col("content_norm")).alias("_s")
        ).select(*cols)

    shingled = ck.run("shingles", _build_shingled, ["normalized"])

    # ---- level 2: candidate joins (independent given shingles/lines) -----
    cand_parts: list[DataFrame] = []
    cand_stage_names: list[str] = []
    if lined is not None:
        cand_parts.append(
            ck.run(
                "cand_substring",
                lambda: substring.candidate_pairs(lined, cfg),
                ["normalized"],
            )
        )
        cand_stage_names.append("cand_substring")

    if need_mh:
        bands = None

        def _build_cand_minhash() -> DataFrame:
            nonlocal bands
            # two consumers (the banded join and hot_bucket_stats): a lazy
            # localCheckpoint computes the explode + per-band xxhash once
            # (narrow (file_id, band_idx, band_hash) rows, ~24 B each)
            bands = minhash_lsh.lsh_bands(
                shingled.select("file_id", "sig"), cfg
            ).localCheckpoint(eager=False)
            return minhash_lsh.candidate_pairs(bands, cfg)

        cand_parts.append(
            ck.run("cand_minhash", _build_cand_minhash, ["shingles"])
        )
        cand_stage_names.append("cand_minhash")
        if bands is not None:
            # built in this run (a reloaded checkpoint elided nothing now;
            # its original run reported it). Star-pairing elision and
            # dropped degenerate buckets change pair-level semantics, so
            # their extent is a reported metric, never silent; the one-row
            # stats job runs on the stage pool after cand_minhash.
            ck.defer_stats(
                "cand_minhash_skew",
                minhash_lsh.hot_bucket_stats(bands, cfg),
                input_stages=["cand_minhash"],
            )
    if need_sh:
        cand_parts.append(
            ck.run(
                "cand_simhash",
                lambda: simhash_op.candidate_pairs(
                    shingled.select("file_id", "sim"), cfg
                ),
                ["shingles"],
            )
        )
        cand_stage_names.append("cand_simhash")

    candidates = cand_parts[0]
    for p in cand_parts[1:]:
        candidates = candidates.unionByName(p)

    def _build_verified() -> DataFrame:
        # verify each (a,b) once; candidate provenance kept as a
        # joined-back method
        sim_cands = (
            candidates.where(F.col("method") != "substring")
            .groupBy("a_id", "b_id")
            .agg(F.min("method").alias("method"))
        )
        verified = verify.verify_jaccard(sim_cands, shingled, cfg)
        if lined is not None:
            sub_cands = candidates.where(
                F.col("method") == "substring"
            ).select("a_id", "b_id", "method")
            verified = verified.unionByName(
                substring.verify_containment(sub_cands, lined, cfg)
            )
        return verified

    # 'verified' consumes every active cand_* stage: rebuilding any of them
    # (or toggling a pass -- also folded into cfg_hash) invalidates it
    verified = ck.run("verified", _build_verified,
                      ["shingles"] + cand_stage_names)

    def _build_clusters() -> DataFrame:
        edges = verified.select(
            F.col("a_id").alias("src"), F.col("b_id").alias("dst")
        ).unionByName(ex_edges)
        assign = cc.connected_components(edges)
        all_ids = normalized.select("file_id").distinct()
        return all_ids.join(assign, "file_id", "left").select(
            "file_id",
            F.coalesce("cluster_id", "file_id").alias("cluster_id"),
        )

    # the clusters build runs driver-side actions (connected components),
    # so its inputs must be materialized before build() executes
    ck.wait("verified", "exact_edges")
    clusters = ck.run("clusters", _build_clusters, ["verified", "exact_edges"])
    ck.sync()

    stages = {"shingled": shingled}
    if lined is not None:
        stages["lined"] = lined
    return PipelineResult(
        clusters=clusters,
        verified=verified,
        candidates=candidates,
        normalized=normalized,
        metrics=ck.metrics,
        stages=stages,
    )
