"""Output checks that do not trust the program's hashing.

Every reported pair's exact Jaccard and containment are recomputed in pure
Python over byte k-gram sets (same normalization and k as the pipeline's
documented defaults) and compared within ``TOL``. Clusters are checked
against connected components of the reported pair graph. Golden recall is
the share of planted pairs that clear a threshold by the recomputed exact
measures and that the output reports.
"""

from __future__ import annotations

import glob
import os
import re

import pyarrow.parquet as pq

# CLI defaults (facematch_spark.cli / config.DedupeConfig), restated here so
# a change to them shows up as a failed check rather than a silent re-baseline.
K = 9
JACCARD_THRESHOLD = 0.8
CONTAINMENT_THRESHOLD = 0.95
TOL = 1e-6

_WS = re.compile(r"\s+")


def kgrams(text: str, k: int = K) -> frozenset[bytes]:
    norm = _WS.sub(" ", text.lower()).strip()
    data = norm.encode("utf-8", errors="surrogatepass")
    return frozenset(data[i : i + k] for i in range(len(data) - k + 1))


def overlap(a: frozenset, b: frozenset) -> tuple[float, float]:
    """(exact Jaccard, containment) of two k-gram sets."""
    inter = len(a & b)
    union = len(a) + len(b) - inter
    return (inter / union if union else 0.0, inter / min(len(a), len(b)) if a and b else 0.0)


def _table(out_dir: str, stage: str) -> dict[str, list]:
    paths = glob.glob(os.path.join(out_dir, f"{stage}_*"))
    if len(paths) != 1:
        raise FileNotFoundError(f"expected one {stage}_* table in {out_dir}, found {len(paths)}")
    return pq.read_table(paths[0]).to_pydict()


class Output:
    """One run's pair and cluster tables, keyed by the program's file ids."""

    def __init__(self, out_dir: str) -> None:
        sigs = _table(out_dir, "signatures")
        self.key_of = {
            fid: (r, p, c)
            for fid, r, p, c in zip(sigs["file_id"], sigs["repo"], sigs["path"], sigs["commit"])
        }
        self.n_signatures = len(sigs["file_id"])
        pairs = _table(out_dir, "pairs")
        self.pairs = list(zip(pairs["id_a"], pairs["id_b"], pairs["jaccard"], pairs["containment"]))
        cl = _table(out_dir, "clusters")
        self.cluster_of = dict(zip(cl["file_id"], cl["cluster_id"]))
        self.n_cluster_rows = len(cl["file_id"])

    def pair_set(self) -> set[tuple[int, int]]:
        return {(a, b) for a, b, _, _ in self.pairs}


def _components(nodes, edges) -> dict[int, int]:
    parent = {n: n for n in nodes}

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in nodes}


def check_output(out: Output, rows: list[dict], golden: list[tuple[int, int]]) -> dict:
    """Check one run's output against its input rows. Returns
    ``{"errors": [...], "golden_recall": float, "pairs": int, "clusters": int}``."""
    errors: list[str] = []
    row_of = {(r["repo"], r["path"], r["commit"]): r for r in rows}
    if out.n_signatures != len(rows) or set(out.key_of.values()) != set(row_of):
        errors.append(f"signatures cover {out.n_signatures} files, input has {len(rows)}")
    shingles: dict[int, frozenset] = {}

    def sh(fid: int) -> frozenset:
        if fid not in shingles:
            shingles[fid] = kgrams(row_of[out.key_of[fid]]["content"] or "")
        return shingles[fid]

    seen: set[tuple[int, int]] = set()
    for a, b, jac, con in out.pairs:
        if a >= b or (a, b) in seen or a not in out.key_of or b not in out.key_of:
            errors.append(f"pair ({a}, {b}) is not canonical, unique and known")
            continue
        seen.add((a, b))
        ej, ec = overlap(sh(a), sh(b))
        if abs(ej - jac) > TOL or abs(ec - con) > TOL:
            errors.append(f"pair ({a}, {b}): reported J={jac} C={con}, exact J={ej} C={ec}")

    # clusters: every file once, partition == connected components of pairs
    if out.n_cluster_rows != len(out.cluster_of) or set(out.cluster_of) != set(out.key_of):
        errors.append("cluster table does not list every file exactly once")
    elif _components(out.key_of, seen) != out.cluster_of:
        errors.append("clusters differ from connected components of the reported pairs")

    fid_of = {key: fid for fid, key in out.key_of.items()}
    eligible = found = 0
    for ia, ib in golden:
        fa = fid_of.get((rows[ia]["repo"], rows[ia]["path"], rows[ia]["commit"]))
        fb = fid_of.get((rows[ib]["repo"], rows[ib]["path"], rows[ib]["commit"]))
        if fa is None or fb is None:
            continue
        ej, ec = overlap(sh(fa), sh(fb))
        if ej >= JACCARD_THRESHOLD or ec >= CONTAINMENT_THRESHOLD:
            eligible += 1
            found += (min(fa, fb), max(fa, fb)) in seen
    if not eligible:
        errors.append("no planted pair clears a threshold; recall is undefined")
    return {
        "errors": errors[:20],
        "golden_recall": found / eligible if eligible else 0.0,
        "golden_eligible": eligible,
        "pairs": len(seen),
        "clusters": len(set(out.cluster_of.values())),
    }


def same_result(x: Output, y: Output) -> bool:
    """Equal pair sets and equal cluster partitions (cluster_id = min member)."""
    return x.pair_set() == y.pair_set() and x.cluster_of == y.cluster_of
