"""Benchmark workloads: seeded corpora built with ``fixtures.generate_corpus``.

The program only ever sees the parquet file written here; golden pairs stay
with the benchmark for the recall check.
"""

from __future__ import annotations

import json
from dataclasses import dataclass

# Sizes are set by the run budget, not by the host: a run pays ~30 s of JVM
# start and cold first CLI run before its measured window, and the benchmark
# must fit 4 + 22 x (workloads) runs in under an hour, so a measured operation
# gets a few seconds of real work.
MIXED_N_BASE = 500       # ~720 docs
DISTINCT_N_BASE = 1000   # ~1.02k docs
WARM_N_BASE = 60         # the untimed warm-up run's corpus, ~85 docs
RESUME_PREFIX = 0.9      # share of rows in the pristine checkpoint (traced run)
SCALE_FACTORS = (2, 4)   # scale probe sizes, as multiples of MIXED_N_BASE


WHY = {
    "fresh-mixed": "35% planted exact/near/containment duplicates plus a license header on "
                   "half the files: LSH hot bands go through the salted join and verify "
                   "does most of the work",
    "fresh-distinct": "distinct base files and edge rows with few planted copies: signing and "
                      "shingling dominate, so a join or verify change should show no change",
}


@dataclass
class Workload:
    name: str
    why: str
    rows: list[dict]
    golden: list[tuple[int, int]]   # planted duplicate pairs, as row indices


def _mixed(seed: int, n_base: int) -> Workload:
    from facematch_spark.fixtures import generate_corpus

    c = generate_corpus(n_base=n_base, seed=seed, skew=True)
    return Workload(
        "fresh-mixed",
        WHY["fresh-mixed"],
        c.rows,
        [(g["ia"], g["ib"]) for g in c.golden_pairs],
    )


def _distinct(seed: int, n_base: int) -> Workload:
    """Base files and edge rows, plus exact copies of ~1% of the bases so that
    recall stays defined. Few candidates: signing and the corpus-wide shingle
    explode dominate, and the candidate-proportional joins sit nearly idle."""
    from facematch_spark.fixtures import generate_corpus

    c = generate_corpus(n_base=n_base, seed=seed, skew=False, edge_rows=True)
    exact = [g for g in c.golden_pairs if g["kind"] == "exact"]
    bases = sorted({g["ia"] for g in exact})[: max(5, n_base // 100)]
    kept_golden = [g for g in exact if g["ia"] in set(bases)]
    keep = list(range(n_base)) + sorted(g["ib"] for g in kept_golden)
    keep += list(range(len(c.rows) - 4, len(c.rows)))  # the four edge rows
    new_index = {old: new for new, old in enumerate(keep)}
    return Workload(
        "fresh-distinct",
        WHY["fresh-distinct"],
        [c.rows[i] for i in keep],
        [(new_index[g["ia"]], new_index[g["ib"]]) for g in kept_golden],
    )


CORPORA = {"fresh-mixed": (_mixed, MIXED_N_BASE), "fresh-distinct": (_distinct, DISTINCT_N_BASE)}


def build(name: str, seed: int, n_base: int | None = None) -> Workload:
    make, default_n_base = CORPORA[name]
    return make(seed, n_base or default_n_base)


def op_seed(seed: int, op: int) -> int:
    """Corpus seed of a run's operation ``op`` (-1: the warm-up). Every
    operation gets its own corpus, so nothing one run of the program leaves
    in the session can answer the next."""
    return seed * 1000 + 1 + op


def scaled_mixed(seed: int, factor: int) -> Workload:
    """The mixed corpus at ``factor`` x its benchmark size (scale probe)."""
    return _mixed(seed, MIXED_N_BASE * factor)


def write_golden(golden: list[tuple[int, int]], path: str) -> None:
    with open(path, "w") as f:
        json.dump(golden, f)


def read_op_input(parquet_path: str, golden_path: str) -> tuple[list[dict], list[tuple[int, int]]]:
    """An operation's corpus rows and golden pairs, as the operation wrote them."""
    import pyarrow.parquet as pq

    with open(golden_path) as f:
        golden = [tuple(g) for g in json.load(f)]
    return pq.read_table(parquet_path).to_pylist(), golden


def write_parquet(rows: list[dict], path: str) -> None:
    import pandas as pd

    cols = ["repo", "path", "commit", "lang", "content"]
    pd.DataFrame(rows, columns=cols).to_parquet(path, index=False)
