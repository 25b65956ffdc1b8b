"""Output checks: planted partition, and counters that must repeat per seed."""

from __future__ import annotations

import json
from pathlib import Path

import numpy as np
import pandas as pd


def truth_by_file_id(spark, input_path: str, files: pd.DataFrame,
                     labels: np.ndarray) -> pd.DataFrame:
    """(file_id, label, path): the engine keys files by
    xxhash64(repo, path, commit)."""
    from pyspark.sql import functions as F

    ids = spark.read.parquet(input_path).select(
        F.xxhash64("repo", "path", "commit").alias("file_id"), "path"
    ).toPandas()
    truth = pd.DataFrame({"path": files["path"].to_numpy(), "label": labels})
    out = ids.merge(truth, on="path", how="inner")
    if len(out) != len(files) or out["file_id"].duplicated().any():
        raise ValueError("input rows do not map one-to-one onto file ids")
    return out


def partition_check(clusters: pd.DataFrame, truth: pd.DataFrame) -> dict:
    """Cluster-for-cluster comparison of (file_id, cluster_id) with the
    planted labels. Labels and cluster ids are compared as partitions."""
    got = clusters[["file_id", "cluster_id"]]
    dup_ids = int(got["file_id"].duplicated().sum())
    joined = truth.merge(got, on="file_id", how="left")
    missing = int(joined["cluster_id"].isna().sum())
    extra = int((~got["file_id"].isin(truth["file_id"])).sum())
    pairs = joined.dropna().drop_duplicates(["label", "cluster_id"])
    n_clusters = int(got["cluster_id"].nunique())
    n_planted = int(truth["label"].nunique())
    # a partition matches iff every label maps to one cluster and back
    ok = (dup_ids == 0 and missing == 0 and extra == 0
          and len(pairs) == n_clusters == n_planted)
    return {"ok": bool(ok), "clusters": n_clusters, "planted": n_planted,
            "files": len(got), "missing": missing, "duplicate_ids": dup_ids,
            "split_or_merged": int(len(pairs) - min(n_clusters, n_planted))}


class SeedRecord:
    """Counters and digests of earlier runs on the same workload and seed.

    Anything that must repeat exactly for the same inputs is compared with
    the first value recorded; a difference flags nondeterminism so it is
    never read as a speed-up.
    """

    def __init__(self, path: Path):
        self.path = path
        self.values: dict = {}
        if path.exists():
            self.values = json.loads(path.read_text())

    def compare(self, counters: dict) -> list[str]:
        """Names whose value differs from the record; records new names."""
        diff = [k for k, v in counters.items()
                if k in self.values and self.values[k] != v]
        for k, v in counters.items():
            self.values.setdefault(k, v)
        return diff

    def save(self) -> None:
        self.path.parent.mkdir(parents=True, exist_ok=True)
        self.path.write_text(json.dumps(self.values, indent=1, sort_keys=True))
