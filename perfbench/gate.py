"""Correctness gate and the summary statistics the benchmark reports.

Everything here is plain pandas over the engine's written outputs, so the
gate shares no code path with the engine it checks.
"""

from __future__ import annotations

import hashlib
import statistics

import pandas as pd

RECALL_FAMILIES = ("exact", "near_high")
MIN_RECALL = 0.99


def pair_hits(clusters: pd.DataFrame, truth_pairs: pd.DataFrame,
              families=RECALL_FAMILIES) -> tuple[int, int]:
    """(truth pairs whose endpoints share a cluster, truth pairs) over the
    given families. A conversation missing from ``clusters`` never hits."""
    want = truth_pairs[truth_pairs["family"].isin(families)]
    lab = dict(zip(clusters["conv_id"], clusters["cluster_id"]))
    hits = sum(
        1 for a, b in zip(want["conv_id_a"], want["conv_id_b"])
        if a in lab and lab.get(a) == lab.get(b)
    )
    return hits, len(want)


def precision_hits(pairs: pd.DataFrame, families: pd.DataFrame,
                   truth_pairs: pd.DataFrame) -> tuple[int, int]:
    """(emitted pairs inside one planted family, emitted pairs). A pair also
    counts as correct when it is a planted substring pair (a long shared
    span can legitimately verify as a near-duplicate)."""
    fam = dict(zip(families["conv_id"], families["family"]))
    planted = set(zip(truth_pairs["conv_id_a"], truth_pairs["conv_id_b"]))
    good = 0
    for a, b in zip(pairs["conv_id_a"], pairs["conv_id_b"]):
        fa, fb = fam.get(a, a), fam.get(b, b)
        if fa == fb or (min(a, b), max(a, b)) in planted:
            good += 1
    return good, len(pairs)


def substring_hits(sub_pairs: pd.DataFrame, truth_pairs: pd.DataFrame,
                   among: set[str] | None = None) -> tuple[int, int]:
    """(planted substring pairs present in ``sub_pairs``, planted substring
    pairs); ``among`` restricts the truth to pairs with both endpoints in
    that set (the corpus of a split workload)."""
    want = truth_pairs[truth_pairs["family"] == "substring"]
    if among is not None:
        want = want[want["conv_id_a"].isin(among) & want["conv_id_b"].isin(among)]
    got = set(zip(sub_pairs["conv_id_a"], sub_pairs["conv_id_b"]))
    hits = sum(1 for p in zip(want["conv_id_a"], want["conv_id_b"]) if p in got)
    return hits, len(want)


def ratio(hits: int, total: int) -> float:
    """hits / total, 1.0 for an empty denominator (nothing to miss)."""
    return hits / total if total else 1.0


def fingerprint(clusters: pd.DataFrame) -> str:
    """Order-insensitive fingerprint of the (conv_id, cluster_id) rows."""
    rows = sorted(zip(clusters["conv_id"].astype(str),
                      clusters["cluster_id"].astype(str)))
    h = hashlib.sha256()
    for c, k in rows:
        h.update(f"{c}\t{k}\n".encode())
    return h.hexdigest()[:32]


def tail_percentile(samples, min_beyond: int = 10) -> tuple[float, float, int]:
    """-> (value, percentile, n): the highest percentile of ``samples`` that
    still has at least ``min_beyond`` samples above it, and the sample
    count. With too few samples for that, the maximum is returned with
    percentile 100 (no sample lies beyond it)."""
    xs = sorted(samples)
    n = len(xs)
    if n == 0:
        raise ValueError("tail_percentile of no samples")
    if n <= min_beyond:
        return xs[-1], 100.0, n
    idx = n - min_beyond - 1
    return xs[idx], 100.0 * (idx + 1) / n, n


def median(xs) -> float:
    return float(statistics.median(xs))
