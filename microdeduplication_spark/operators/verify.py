"""Exact-Jaccard verification of candidate pairs (build-plan step 4).

Replaces the reference's per-pair verification predicates -- Product.equals
(name AND provider-domain AND price,
/root/reference/deduplicaiton/.../models/Product.java:92-112) and
Product.compare's cosine thresholds (Product.java:114-140,
CosineSimilarity.java:28-56) -- with exact Jaccard over the precomputed
distinct shingle-hash sets:

    J(a,b) = |Sa cap Sb| / (|Sa| + |Sb| - |Sa cap Sb|)

computed with JVM-side array_intersect on sorted distinct arrays: no Python,
no recomputation of the sets per pair (the reference recomputes its tf maps
for every window comparison).

The intersection is computed ONCE per pair, as a column of the joined
pairs, and the threshold is applied by keep_at_least's generator, not by a
Filter. Both are about the optimizer, not style: written as one inline
expression the intersection appears three times in the score (numerator
and twice in the union), and a `score >= t` Filter over a projection is
pushed down through it into the join condition with the score expression
substituted -- the optimized plan would carry six array_intersect calls
per pair, the most expensive expression of the verify stage. A
projected column referenced by a later expression survives CollapseProject
(it will not duplicate a non-trivial expression), and a Filter cannot be
pushed below a Generate whose output it reads, so the plan evaluates the
intersection once and the threshold stays in the same codegen stage.

Scale notes: the id->shingles joins carry the widest payload of the
pipeline (shingle arrays). The shingle table is first reduced with a
semi-join on the candidate id set -- candidate ids are a tiny fraction of
the corpus, so the wide array table is filtered by a (runtime-broadcast)
id list instead of being hash-exchanged in full; only the reduced table
enters the pair joins. At a 1000-executor scale the shingle table would
additionally be bucketed by file_id so the residual joins co-locate
without a shuffle (df.write.bucketBy -- documented here, exercised in
local mode via AQE).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from microdeduplication_spark.config import DedupConfig


def verify_jaccard(
    candidates: DataFrame, shingled: DataFrame, cfg: DedupConfig
) -> DataFrame:
    """(a_id,b_id,method) x (file_id,shingles) -> pairs with jaccard >= threshold.

    Output: (a_id, b_id, method, score). Candidates from multiple blocking
    methods should be distinct-ed on (a_id,b_id) before calling to avoid
    verifying a pair twice.
    """
    # `candidates` has THREE consumers here (both branches of the ids
    # union + the probe side of the pair joins) and its lineage is the
    # whole blocking pipeline when called standalone. Spark does not fuse
    # those consumers: the broadcast-ids job executed the full band
    # pipeline once and the probe side executed it AGAIN (stage-profiled:
    # 2x the banded exchange per action). A lazy localCheckpoint pins the
    # small pair table after its first materialization so the upstream
    # computes once; pair rows are narrow, so the checkpoint is cheap.
    candidates = candidates.localCheckpoint(eager=False)
    # project to the two columns this verify reads BEFORE the semi-join +
    # checkpoint below: the caller's table may carry fused signature
    # columns, and the checkpoint materializes every column it is handed
    # (guide §2.3: project before the exchange/barrier)
    shingled = shingled.select("file_id", "shingles")
    ids = (
        candidates.select(F.col("a_id").alias("file_id"))
        .unionByName(candidates.select(F.col("b_id").alias("file_id")))
        .distinct()
    )
    # candidate ids are tiny relative to the corpus: broadcast them so
    # the wide array table is filtered in place, never hash-exchanged
    # localCheckpoint (lazy), not persist: both pair-join sides read
    # `reduced`, so the semi-join subtree must compute once -- but a
    # persist() here would leak a CacheManager entry per call (entries are
    # plan-keyed and never auto-dropped). Checkpoint blocks are plain RDD
    # storage, freed by the ContextCleaner when the DataFrame is GC'd.
    reduced = shingled.join(F.broadcast(ids), "file_id", "left_semi") \
        .localCheckpoint(eager=False)
    sets_a = reduced.select(
        F.col("file_id").alias("a_id"), F.col("shingles").alias("a_sh")
    )
    sets_b = reduced.select(
        F.col("file_id").alias("b_id"), F.col("shingles").alias("b_sh")
    )
    pairs = candidates.join(sets_a, "a_id").join(sets_b, "b_id").select(
        "a_id", "b_id", "method",
        F.size(F.array_intersect("a_sh", "b_sh")).alias("inter"),
        (F.size("a_sh") + F.size("b_sh")).alias("sizes"),
    )
    union = F.col("sizes") - F.col("inter")
    jac = F.when(union > 0, F.col("inter") / union).otherwise(F.lit(0.0))
    return keep_at_least(pairs, jac, cfg.jaccard_threshold)


def keep_at_least(pairs: DataFrame, score: Column, threshold: float) -> DataFrame:
    """(a_id, b_id, method, ...) -> (a_id, b_id, method, score) for the rows
    whose `score` is >= `threshold`.

    The threshold is a generator, not a Filter: inline() emits the one-row
    array when the score passes and nothing otherwise (a CASE with no ELSE
    is null, and inline of null emits no rows). The optimizer cannot push a
    predicate through a generator, so the score's inputs -- the
    intersection column of the caller's projection -- are evaluated once
    per pair instead of being substituted into a pushed-down filter or join
    condition (see the module docstring)."""
    scored = pairs.select("a_id", "b_id", "method", score.alias("score"))
    row = F.struct("a_id", "b_id", "method", "score")
    return scored.select(F.inline(
        F.when(F.col("score") >= F.lit(threshold), F.array(row))
    ))
