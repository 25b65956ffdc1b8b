"""The pair layers against pure-Python oracles.

banded_self_join (bucket -> pairs, both hot-bucket modes), verify_jaccard /
verify_containment (scores) and lsh_bands (band hashes) are the per-pair
and per-element code of the MinHash, SimHash and substring passes; these
tests pin their outputs value for value, independent of plan shape.
"""

from __future__ import annotations

import random

from hypothesis import example, given, settings, strategies as st
from pyspark.sql import functions as F

from microdeduplication_spark.config import DedupConfig
from microdeduplication_spark.functions.text import jaccard_py
from microdeduplication_spark.operators.minhash_lsh import (
    banded_self_join,
    lsh_bands,
)
from microdeduplication_spark.operators.substring import verify_containment
from microdeduplication_spark.operators.verify import verify_jaccard

SETTINGS = settings(max_examples=12, deadline=None)

# small cap/drop so generated buckets cross both: sizes 1..12 cover a
# single member, a pair, exactly bucket_cap, bucket_cap + 1 and over
# bucket_drop
PAIR_CFG = DedupConfig(bucket_cap=4, bucket_drop=9)


def _pairs_oracle(buckets: list[list[int]], cfg: DedupConfig,
                  exact_hot: bool) -> set[tuple[int, int]]:
    """Bucket member rows -> the distinct (a_id < b_id) pairs the banded
    join emits: nothing for a lone row or a bucket over bucket_drop, all
    pairs up to bucket_cap (or always, under exact_hot), else the bucket
    minimum paired with every other member."""
    out: set[tuple[int, int]] = set()
    for rows in buckets:
        if len(rows) < 2 or len(rows) > cfg.bucket_drop:
            continue
        members = sorted(set(rows))
        if exact_hot or len(rows) <= cfg.bucket_cap:
            out |= {(a, b) for i, a in enumerate(members)
                    for b in members[i + 1:]}
        else:
            out |= {(members[0], b) for b in members[1:]}
    return out


def _band_table(spark, buckets: list[list[int]]):
    # bucket j is (band_idx j % 3, band_hash j): distinct keys, several
    # bands, and the same file may sit in one bucket twice
    rows = [(fid, j % 3, j) for j, members in enumerate(buckets)
            for fid in members]
    return spark.createDataFrame(
        rows, "file_id long, band_idx int, band_hash long"
    )


@SETTINGS
@given(st.lists(st.lists(st.integers(0, 25), min_size=1, max_size=12),
                min_size=1, max_size=8))
@example([[1], [2, 3], [4, 5, 6, 7], [8, 9, 10, 11, 12],
          list(range(13, 23))])
@example([[3, 3], [5, 1, 5, 2, 9], [0, 0, 0, 0, 0, 7]])
def test_banded_self_join_matches_bucket_oracle(spark, buckets):
    bands = _band_table(spark, buckets)
    for exact_hot in (False, True):
        got = banded_self_join(bands, PAIR_CFG, method="m",
                               exact_hot=exact_hot).collect()
        assert all(r["method"] == "m" for r in got)
        pairs = [(r["a_id"], r["b_id"]) for r in got]
        assert len(pairs) == len(set(pairs))
        assert set(pairs) == _pairs_oracle(buckets, PAIR_CFG, exact_hot), \
            exact_hot


def _containment_py(a: set, b: set) -> float:
    return len(a & b) / min(len(a), len(b))


@SETTINGS
@given(st.lists(st.sets(st.integers(0, 12), min_size=1, max_size=10),
                min_size=2, max_size=8))
@example([{1, 2, 3}, {1, 2, 3}, {1, 2, 3, 4, 5, 6}, {7}])
def test_verify_scores_match_python(spark, sets):
    """Every candidate pair over random sets: verify_jaccard keeps exactly
    the pairs at or over the threshold with score == jaccard_py, and
    verify_containment the same with the containment score."""
    cfg = DedupConfig(jaccard_threshold=0.5, containment_threshold=0.6)
    n = len(sets)
    cands = spark.createDataFrame(
        [(a, b, "m") for a in range(n) for b in range(a + 1, n)],
        "a_id long, b_id long, method string",
    )
    table = spark.createDataFrame(
        [(i, sorted(s)) for i, s in enumerate(sets)],
        "file_id long, shingles array<long>",
    )
    pairs = [(a, b) for a in range(n) for b in range(a + 1, n)]

    got = {(r["a_id"], r["b_id"]): r["score"]
           for r in verify_jaccard(cands, table, cfg).collect()}
    want = {(a, b): jaccard_py(sets[a], sets[b]) for a, b in pairs}
    assert got == {p: s for p, s in want.items()
                   if s >= cfg.jaccard_threshold}

    lined = table.select("file_id", F.col("shingles").alias("line_set"))
    got = {(r["a_id"], r["b_id"]): r["score"]
           for r in verify_containment(cands, lined, cfg).collect()}
    want = {(a, b): _containment_py(sets[a], sets[b]) for a, b in pairs}
    assert got == {p: s for p, s in want.items()
                   if s >= cfg.containment_threshold}


def test_lsh_bands_match_transform_expression(spark, cfg):
    """The unrolled band expressions hash exactly like the higher-order
    form they replace: xxhash64(band index as int, r-row slice of sig)."""
    rng = random.Random(7)
    rows = [(i, [rng.getrandbits(63) - (1 << 62) for _ in range(cfg.num_perms)])
            for i in range(40)]
    rows.append((40, [0] * cfg.num_perms))
    sigs = spark.createDataFrame(rows, "file_id long, sig array<long>")
    r = cfg.rows_per_band
    reference = sigs.select("file_id", F.posexplode(F.transform(
        F.sequence(F.lit(0), F.lit(cfg.lsh_bands - 1)),
        lambda j: F.xxhash64(j, F.slice(F.col("sig"), j * F.lit(r) + F.lit(1), r)),
    )).alias("band_idx", "band_hash"))
    got = sorted(tuple(x) for x in lsh_bands(sigs, cfg).collect())
    want = sorted(tuple(x) for x in reference.collect())
    assert len(got) == len(rows) * cfg.lsh_bands
    assert got == want
