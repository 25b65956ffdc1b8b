"""Seeded workload generators with planted truth.

Each generator returns the `files(repo, path, commit, lang, content)` rows the
program reads, plus one planted cluster label per row. The program never sees
the labels; the benchmark compares the program's clusters against them.

Every planted near-copy is certified at generation time with the engine's own
pure-Python mirrors (`normalize_py`, `shingles_py`, `jaccard_py`): the copy
must reach the Jaccard threshold or the line-containment threshold against
the file it was copied from, which is the engine's definition of a duplicate
link. A draw that fails certification is an error in the generator, never a
silent change of the truth.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from microdeduplication_spark.config import DedupConfig
from microdeduplication_spark.functions.text import (
    jaccard_py,
    normalize_py,
    shingles_py,
)

LANGS = ["python", "java", "javascript", "go", "c"]
EXT = {"python": "py", "java": "java", "javascript": "js", "go": "go", "c": "c"}
_KW = np.array(["let", "var", "def", "fn", "set", "val", "const", "mut"])
_FNS = np.array(["map", "fold", "join", "scan", "emit", "read", "walk", "pack",
                 "sort", "mask"])


class Workload:
    """Generated rows, their planted labels and generation-time statistics."""

    def __init__(self, files: pd.DataFrame, labels: np.ndarray, stats: dict):
        self.files = files
        self.labels = labels
        self.stats = stats

    @property
    def n_files(self) -> int:
        return len(self.files)

    @property
    def n_clusters(self) -> int:
        return int(len(np.unique(self.labels)))


def _line_pool(rng: np.random.Generator, pool_n: int) -> np.ndarray:
    """Code-like lines `kw fn_N = fn(N)`; same draw order as bench_corpus."""
    return (
        pd.Series(_KW[rng.integers(0, len(_KW), pool_n)])
        + " "
        + pd.Series(_FNS[rng.integers(0, len(_FNS), pool_n)]).str.cat(
            pd.Series(rng.integers(0, 100000, pool_n)).astype(str), sep="_")
        + " = "
        + pd.Series(_FNS[rng.integers(0, len(_FNS), pool_n)]).str.cat(
            pd.Series(rng.integers(0, 10000, pool_n)).astype(str), sep="(")
        + ")"
    ).to_numpy()


class _Certifier:
    """Checks that a near-copy is a duplicate by the engine's definition."""

    def __init__(self, cfg: DedupConfig):
        self.cfg = cfg
        self.min_jaccard = 1.0
        self.min_containment = 1.0
        self.checked = 0

    def __call__(self, base: str, copy: str) -> None:
        a, b = normalize_py(base), normalize_py(copy)
        jac = jaccard_py(shingles_py(a, self.cfg.shingle_k),
                         shingles_py(b, self.cfg.shingle_k))
        la, lb = set(a.split("\n")), set(b.split("\n"))
        cont = len(la & lb) / min(len(la), len(lb))
        if jac < self.cfg.jaccard_threshold and \
                cont < self.cfg.containment_threshold:
            raise ValueError(
                f"planted near-copy not a duplicate: jaccard {jac:.3f}, "
                f"containment {cont:.3f}")
        self.min_jaccard = min(self.min_jaccard, jac)
        self.min_containment = min(self.min_containment, cont)
        self.checked += 1

    def stats(self) -> dict:
        return {"certified_near_copies": self.checked,
                "min_jaccard": round(self.min_jaccard, 4),
                "min_containment": round(self.min_containment, 4)}


def _frame(rng: np.random.Generator, contents: list[str],
           perm: np.ndarray) -> pd.DataFrame:
    langs = [LANGS[i % 5] for i in range(len(contents))]
    return pd.DataFrame({
        "repo": [f"org{i % 17}/repo{i % 211}" for i in range(len(perm))],
        "path": [f"src/m{i % 29}/f{i}.{EXT[langs[perm[i]]]}"
                 for i in range(len(perm))],
        "commit": [f"{rng.integers(0, 1 << 62):040x}" for _ in perm],
        "lang": [langs[p] for p in perm],
        "content": [contents[p] for p in perm],
    })


def oneshot_code(seed: int, n_files: int, mean_lines: int, unique_frac: float,
                 exact_frac: float, hot_frac: float, mutation: list[float],
                 cfg: DedupConfig) -> Workload:
    """The `bench_corpus.make_bench_files` corpus, with its planted partition.

    Draws from the generator in the same order as make_bench_files, so the
    rows are identical for the same (n_files, seed, mean_lines) at the
    default fractions: unique bases, exact copies (the first `hot_frac` of
    them one hot cluster), then near-copies with a `mutation` share of
    lines replaced. Each file's label is the base it was copied from.
    """
    rng = np.random.default_rng(seed)
    pool_n = max(n_files * 8, 20000)
    pool = _line_pool(rng, pool_n)
    n_base = int(n_files * unique_frac)
    contents: list[str] = []
    for _ in range(n_base):
        n_lines = int(rng.integers(mean_lines // 2, mean_lines * 2))
        contents.append("\n".join(rng.choice(pool, n_lines)))
    base_of = list(range(n_base))

    for i in range(int(n_files * exact_frac)):
        b = 0 if i < int(n_files * hot_frac) else int(rng.integers(0, n_base))
        contents.append(contents[b])
        base_of.append(b)

    cert = _Certifier(cfg)
    while len(contents) < n_files:
        b = int(rng.integers(0, n_base))
        lines = contents[b].split("\n")
        n_mut = max(1, int(len(lines) * rng.uniform(*mutation)))
        for j in rng.choice(len(lines), min(n_mut, len(lines)), replace=False):
            lines[j] = str(pool[int(rng.integers(0, pool_n))])
        contents.append("\n".join(lines))
        base_of.append(b)
        cert(contents[b], contents[-1])

    perm = rng.permutation(len(contents))
    labels = np.asarray(base_of)[perm]
    return Workload(_frame(rng, contents, perm), labels, cert.stats())


def families_boilerplate(seed: int, n_files: int, mean_lines: int,
                         big_families: int, big_size: int, family_frac: float,
                         family_size: int, cfg: DedupConfig) -> Workload:
    """Short files, `family_frac` of them in near-copy families.

    `big_families` families of `big_size` members exceed bucket_cap in every
    LSH band and substring fingerprint (vendored or boilerplate files) and
    are star-paired; the other families have `family_size` members, under
    the cap, and are paired all-to-all; the remaining files are unique.

    A member differs from its family's base only in the punctuation of one
    line (a suffix of ';' and '.' that encodes the member's index): its
    tokens, hence its shingles, MinHash and SimHash, equal the base's, while
    its content hash and that one line's hash differ. Every family therefore
    fills whole LSH and SimHash buckets, and the candidate pairs, and so the
    pair-bound work, are the same on every seed; a near-copy with random
    edits would instead split buckets into sizes that straddle the cap and
    change the work from seed to seed.
    """
    rng = np.random.default_rng(seed)
    pool_n = max(n_files * 8, 20000)
    pool = _line_pool(rng, pool_n)
    cert = _Certifier(cfg)

    def fresh() -> list[str]:
        n_lines = int(rng.integers(mean_lines * 3 // 4, mean_lines * 5 // 4))
        return list(rng.choice(pool, n_lines))

    contents: list[str] = []
    labels: list[int] = []

    def family(size: int) -> None:
        label = labels[-1] + 1 if labels else 0
        base = fresh()
        base_text = "\n".join(base)
        contents.append(base_text)
        labels.append(label)
        for i in range(1, size):
            copy = list(base)
            j = int(rng.integers(0, len(copy)))
            copy[j] += " " + format(i, "b").replace("0", ".").replace("1", ";")
            contents.append("\n".join(copy))
            labels.append(label)
            cert(base_text, contents[-1])

    for _ in range(big_families):
        family(big_size)
    while len(contents) + family_size <= int(n_files * family_frac):
        family(family_size)
    while len(contents) < n_files:
        contents.append("\n".join(fresh()))
        labels.append(labels[-1] + 1 if labels else 0)

    perm = rng.permutation(len(contents))
    return Workload(_frame(rng, contents, perm), np.asarray(labels)[perm],
                    cert.stats())


GENERATORS = {"oneshot_code": oneshot_code,
              "families_boilerplate": families_boilerplate}


def generate(name: str, seed: int, params: dict,
             cfg: DedupConfig | None = None) -> Workload:
    return GENERATORS[name](seed=seed, cfg=cfg or DedupConfig(), **params)
