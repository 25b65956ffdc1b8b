"""End-to-end dedup pipeline: stage graph + idempotent checkpoints + metrics.

Stage graph (SURVEY.md §3 "new-engine lifecycle"):

    ingest_normalize -> exact_dedup(norm_sha)
        -> [minhash_lsh | simhash | substring]   (on exact representatives)
        -> candidate_union -> verify (jaccard / containment)
        -> (+ exact star edges) -> connected_components -> clusters

Each stage is a pure DataFrame->DataFrame function (operators/*); this module
only composes them, persists per-stage checkpoint tables, and records the
lineage manifest (north_rule: "resumable from checkpoint with per-partition
lineage + metrics").

Checkpoint contract: stage outputs land at <dir>/<stage>/ as parquet with a
sibling <dir>/<stage>.manifest.json carrying {stage, config, input_stages,
rows, partitions, wall_ms}. On rerun, a stage whose manifest matches the
current config hash is read back instead of recomputed; deleting any stage
directory invalidates it and everything downstream recomputes from the last
valid prefix -- tested by test_pipeline.py::test_resume_idempotent.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import time
import uuid
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from microdeduplication_spark.config import DedupConfig
from microdeduplication_spark.operators import (
    connected_components as cc,
    exact_dedup,
    minhash_lsh,
    simhash as simhash_op,
    substring,
    verify,
)

ALL_PASSES = ("minhash", "simhash", "substring")


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
    # "shingled" (file_id, lang, shingles), "signatures" (file_id,[sig],[sim]),
    # "lined" (substring pass input). Keys absent when the pass didn't run.
    stages: dict = field(default_factory=dict)


class _Checkpointer:
    """Per-stage parquet checkpoints with config-hashed manifests."""

    def __init__(self, spark: SparkSession, root: str | None, cfg: DedupConfig,
                 eager: bool | str = False, extra_key: tuple = ()):
        self.spark = spark
        self.root = root
        # in-memory stage handling: False = fully lazy, "persist" / True =
        # persist each stage (no extra action), "count" = persist+count+time
        self.eager = eager
        # stable across processes (Python's builtin str hash is seeded per run).
        # extra_key folds run-shape parameters that are not part of DedupConfig
        # (e.g. the active `passes` tuple) into the hash, so rerunning with a
        # different pass set against the same checkpoint dir invalidates
        # everything rather than reloading a stale 'verified'/'clusters'.
        self.cfg_hash = hashlib.sha256(
            json.dumps([cfg.to_dict(), list(extra_key)], sort_keys=True).encode()
        ).hexdigest()[:16]
        self.cfg = cfg
        self.metrics: list[dict] = []
        # build_id of each stage's current-session output; downstream stages
        # record the exact build_ids they consumed, so rebuilding any upstream
        # stage (new build_id) invalidates the whole downstream suffix.
        self.build_ids: dict[str, str] = {}
        # count-mode async materialization: stage -> Future (see _submit)
        self._futures: dict = {}
        self._executor = None

    def _paths(self, stage: str) -> tuple[str, str]:
        return (
            os.path.join(self.root, stage),
            os.path.join(self.root, f"{stage}.manifest.json"),
        )

    def run(self, stage: str, build, input_stages: list[str]) -> DataFrame:
        """Build (or reload) one stage; record lineage metrics either way."""
        t0 = time.monotonic()
        if self.root is None:
            df = build()
            if self.eager == "count":
                # throughput/profiling mode: persist now, materialize
                # asynchronously once the stage's INPUT stages finish --
                # the whole stage DAG runs as concurrent Spark jobs with
                # dependency-aware ordering, so forced materialization no
                # longer serializes anything (Spark's per-block cache locks
                # make even an early touch of shared lineage compute each
                # partition exactly once)
                df = df.persist()
                self._submit(stage, df, input_stages)
            elif self.eager:
                # throughput mode: persist so shared lineage computes once,
                # but add no extra action -- the first consumer materializes
                df = df.persist()
                self.metrics.append(
                    {"stage": stage, "cached": False, "wall_ms": None,
                     "inputs": input_stages}
                )
            else:
                self.metrics.append(
                    {"stage": stage, "cached": False, "wall_ms": None,
                     "inputs": input_stages}
                )
            return df
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
            # materialization job so the UI/REST profile attributes CPU to
            # the stage instead of "count at CompletableFuture"
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
    eager_metrics: bool | str = False,
) -> PipelineResult:
    """files(repo,path,commit,lang,content) -> PipelineResult.

    checkpoint_dir=None runs fully lazy/in-memory (tests); a path makes every
    stage an idempotent parquet checkpoint (resumable, north_rule).
    eager_metrics materializes + times every in-memory stage (profiling).
    """
    cfg = cfg or DedupConfig()
    # "layout-v2": the shingles stage now carries the fused sig/sim columns;
    # folding a layout token into the config hash refuses checkpoint dirs
    # written by the previous layout (clean rebuild) instead of reloading a
    # shingles table the signatures projection cannot be built from
    ck = _Checkpointer(spark, checkpoint_dir, cfg, eager=eager_metrics,
                       extra_key=tuple(passes) + ("stage-layout-v2",))

    if not any(p in passes for p in ALL_PASSES):
        raise ValueError("at least one pass required")

    # ---- level 0: ingest ------------------------------------------------
    normalized = ck.run(
        "normalized", lambda: exact_dedup.ingest_normalize(files, cfg), []
    )
    if checkpoint_dir is None:
        normalized = normalized.persist()

    # ---- level 1: exact edges + shingles (independent) -------------------
    groups = exact_dedup.exact_groups(normalized)
    if checkpoint_dir is None:
        # three consumers (exact_edges, representatives x2 via shingles and
        # lined): persist the tiny (norm_sha, rep_id, group_size) table so
        # each consumer's job reuses the agg instead of re-reading the full
        # normalized cache and re-running the hash aggregate
        groups = groups.persist()
    ex_edges = ck.run(
        "exact_edges",
        lambda: exact_dedup.exact_edges(normalized, groups),
        ["normalized"],
    )
    reps = exact_dedup.representatives(normalized, groups)
    if checkpoint_dir is None:
        # two consumers (shingles, lined): persist so the normalized-cache
        # scan + rep semi-join computes once instead of per consumer
        reps = reps.persist()

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
    if checkpoint_dir is None:
        shingled = shingled.persist()

    # ---- level 2: signatures (a projection of the fused shingle table;
    #               kept as a stage so checkpoints/metrics/consumers keep
    #               their layout) + substring fingerprints ----------------
    cand_parts: list[DataFrame] = []
    cand_stage_names: list[str] = []
    sigs = None
    sig_dep = ["signatures"]
    if need_mh or need_sh:

        def _build_signatures() -> DataFrame:
            cols = [F.col("file_id")]
            if need_mh:
                cols.append(F.col("sig"))
            if need_sh:
                cols.append(F.col("sim"))
            return shingled.select(*cols)

        if checkpoint_dir is None:
            # pure projection of the PERSISTED fused shingle table: a
            # second cache copy + its count job bought nothing in-memory
            # (the consumers slice the parent cache just as fast), and in
            # the concurrent count-mode wave the extra job contended with
            # the candidate stages. Checkpoint mode keeps the real stage
            # (its parquet table is the resume point test_resume pins).
            sigs = _build_signatures()
            ck.metrics.append(
                {"stage": "signatures", "cached": False, "wall_ms": None,
                 "inputs": ["shingles"], "projection": True}
            )
            sig_dep = ["shingles"]
        else:
            sigs = ck.run("signatures", _build_signatures, ["shingles"])
    lined = None
    if "substring" in passes:
        lined = substring.line_hash_sets(reps)
        if checkpoint_dir is None:
            lined = lined.persist()
        cand_parts.append(
            ck.run(
                "cand_substring",
                lambda: substring.candidate_pairs(lined, cfg),
                ["normalized"],
            )
        )
        cand_stage_names.append("cand_substring")

    # ---- level 3: candidate joins (independent given signatures) ---------
    bands = None
    if "minhash" in passes:
        bands = minhash_lsh.lsh_bands(sigs.select("file_id", "sig"), cfg)
        if eager_metrics == "count" or checkpoint_dir is not None:
            # the band table has TWO consumers on these paths (the banded
            # join and hot_bucket_stats); a lazy localCheckpoint computes
            # the explode + per-band xxhash once instead of per consumer
            # (narrow (file_id, band_idx, band_hash) rows, ~24 B each).
            # The stats-free lazy path keeps the single-consumer stream.
            bands = bands.localCheckpoint(eager=False)
        cand_parts.append(
            ck.run(
                "cand_minhash",
                lambda: minhash_lsh.candidate_pairs(bands, cfg),
                sig_dep,
            )
        )
        cand_stage_names.append("cand_minhash")
        if eager_metrics == "count" and checkpoint_dir is None:
            # star-pairing elision + dropped degenerate buckets: the
            # hot-bucket path changes pair-level semantics, so the extent
            # must be a reported metric, never silent. The tiny stats job
            # rides the level-3 thread pool, overlapping cand_minhash.
            # Checkpoint mode reports it once below instead, after the
            # cand_minhash parquet write (a deferred job here would race
            # that write and record the metric a second time).
            ck.defer_stats(
                "cand_minhash_skew",
                minhash_lsh.hot_bucket_stats(bands, cfg),
                input_stages=["cand_minhash"],
            )
    if "simhash" in passes:
        cand_parts.append(
            ck.run(
                "cand_simhash",
                lambda: simhash_op.candidate_pairs(
                    sigs.select("file_id", "sim"), cfg
                ),
                sig_dep,
            )
        )
        cand_stage_names.append("cand_simhash")

    if bands is not None and checkpoint_dir is not None:
        built = any(
            m.get("stage") == "cand_minhash" and not m.get("cached")
            for m in ck.metrics
        )
        if built:
            # checkpoint-mode skew report (skipped when cand_minhash
            # reloaded: nothing was elided in this run; the original run's
            # manifest already reported it)
            skew = minhash_lsh.hot_bucket_stats(bands, cfg).first().asDict()
            ck.metrics.append(
                {"stage": "cand_minhash_skew", "cached": False, **skew}
            )
    candidates = cand_parts[0]
    for p in cand_parts[1:]:
        candidates = candidates.unionByName(p)

    # verify each (a,b) once; candidate provenance kept as a joined-back method
    sim_cands = (
        candidates.where(F.col("method") != "substring")
        .groupBy("a_id", "b_id")
        .agg(F.min("method").alias("method"))
    )
    ver_parts = [verify.verify_jaccard(sim_cands, shingled, cfg)]
    if lined is not None:
        sub_cands = candidates.where(F.col("method") == "substring").select(
            "a_id", "b_id", "method"
        )
        ver_parts.append(substring.verify_containment(sub_cands, lined, cfg))
    verified = ver_parts[0]
    for p in ver_parts[1:]:
        verified = verified.unionByName(p)
    # 'verified' consumes every active cand_* stage: rebuilding any of them
    # (or toggling a pass -- also folded into cfg_hash) invalidates it
    verified = ck.run("verified", lambda: verified,
                      ["shingles"] + cand_stage_names)

    edges = verified.select(
        F.col("a_id").alias("src"), F.col("b_id").alias("dst")
    ).unionByName(ex_edges)

    def _build_clusters() -> DataFrame:
        assign = cc.connected_components(edges)
        all_ids = normalized.select("file_id").distinct()
        return all_ids.join(assign, "file_id", "left").select(
            "file_id",
            F.coalesce("cluster_id", "file_id").alias("cluster_id"),
        )

    # the clusters build runs driver-side actions (connected components),
    # so its inputs must be materialized before build() executes
    ck.wait("verified", "exact_edges")
    spark.sparkContext.setJobDescription("stage:clusters")
    clusters = ck.run("clusters", _build_clusters, ["verified", "exact_edges"])
    spark.sparkContext.setJobDescription(None)
    ck.sync()

    return PipelineResult(
        clusters=clusters,
        verified=verified,
        candidates=candidates,
        normalized=normalized,
        metrics=ck.metrics,
        stages={
            k: v
            for k, v in (
                ("shingled", shingled),
                ("signatures", sigs),
                ("lined", lined),
            )
            if v is not None
        },
    )
