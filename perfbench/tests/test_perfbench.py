"""Tests of the benchmark's own pieces, at tiny scale and without Spark.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys

import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))

from perfbench import gate, probes, workloads  # noqa: E402


def _pairs(rows):
    return pd.DataFrame(rows, columns=["conv_id_a", "conv_id_b", "family"])


@pytest.mark.parametrize("workload", ["batch_templated", "ingest_delta"])
def test_generator_is_deterministic_per_seed(workload):
    a = workloads.generate(workload, seed=3)
    b = workloads.generate(workload, seed=3)
    c = workloads.generate(workload, seed=4)
    key = "transcripts" if "transcripts" in a else "corpus"
    pd.testing.assert_frame_equal(a[key], b[key])
    pd.testing.assert_frame_equal(a["truth_pairs"], b["truth_pairs"])
    pd.testing.assert_frame_equal(a["families"], b["families"])
    assert not a[key]["text"].equals(c[key]["text"])
    if workload == "ingest_delta":
        assert len(a["deltas"]) == len(b["deltas"])
        for da, db in zip(a["deltas"], b["deltas"]):
            pd.testing.assert_frame_equal(da, db)


def test_templated_workload_has_a_hot_template_family():
    data = workloads.generate("batch_templated", seed=5)
    fam = data["families"]
    tmpl = fam[fam["family"].str.startswith("tmpl-")]
    assert len(tmpl) == workloads.N_TEMPLATES * (workloads.CLONES_PER_TEMPLATE + 1)
    assert set(tmpl["conv_id"]) <= set(data["transcripts"]["conv_id"])
    assert fam["conv_id"].is_unique


def test_trim_mix_hits_the_turn_budget_and_keeps_the_truth():
    from pcompress_spark import datagen

    gen = datagen.generate(seed=6, n_conv=120)
    budget = len(gen.transcripts) - 200
    tr, fam = workloads.trim_mix(gen, budget)
    assert budget - 40 < len(tr) <= budget
    ids = set(tr["conv_id"])
    tp = gen.truth_pairs
    assert set(tp["conv_id_a"]) | set(tp["conv_id_b"]) <= ids
    assert set(fam["conv_id"]) == ids
    sizes = gen.truth_clusters.groupby("cluster_id")["conv_id"].transform("size")
    assert set(gen.truth_clusters.loc[sizes > 1, "conv_id"]) <= ids


def test_ingest_split_keeps_deltas_disjoint_and_complete():
    ids = [f"conv-{i:08d}" for i in range(400)]
    turns = pd.Series([1 + i % 9 for i in range(400)], index=ids)
    corpus, deltas = workloads.split_deltas(turns, share=5, delta_turns=20, slack=2)
    assert len(deltas) > 3
    seen = set(corpus)
    for d in deltas:
        assert 20 <= turns[d].sum() <= 20 + 2
        assert seen.isdisjoint(d)
        seen |= set(d)
    assert seen == set(ids) and len(corpus) + sum(map(len, deltas)) == len(ids)
    # the split depends on the ids only, not on their order
    assert workloads.split_deltas(turns.iloc[::-1], share=5, delta_turns=20,
                                  slack=2) == (corpus, deltas)


def test_ingest_generated_deltas_match_the_split():
    data = workloads.generate("ingest_delta", seed=2)
    corpus_ids = set(data["corpus"]["conv_id"])
    all_delta = set()
    for d in data["deltas"]:
        ids = set(d["conv_id"])
        assert corpus_ids.isdisjoint(ids) and all_delta.isdisjoint(ids)
        assert workloads.DELTA_TURNS <= len(d) <= workloads.DELTA_TURNS + workloads.DELTA_SLACK
        all_delta |= ids
    # planted families straddle corpus and deltas
    tp = data["truth_pairs"]
    straddle = tp["conv_id_a"].isin(corpus_ids) != tp["conv_id_b"].isin(corpus_ids)
    assert straddle.any()


def test_delta_truth_pairs_keep_only_recoverable_pairs():
    truth = _pairs([
        ("c1", "d1", "exact"),      # corpus - delta: kept
        ("d1", "d2", "near_high"),  # inside the delta: kept
        ("c1", "c2", "exact"),      # corpus only: dropped
        ("d1", "e1", "exact"),      # spans two deltas: dropped
        ("c3", "d2", "substring"),  # kept (family filtering is the gate's job)
    ])
    got = workloads.delta_truth_pairs(truth, corpus={"c1", "c2", "c3"}, delta={"d1", "d2"})
    assert list(zip(got["conv_id_a"], got["conv_id_b"])) == [
        ("c1", "d1"), ("d1", "d2"), ("c3", "d2")]


def test_tail_percentile_reports_percentile_and_count():
    xs = [float(i) for i in range(1, 101)]          # 1..100
    value, pct, n = gate.tail_percentile(xs)
    assert (value, pct, n) == (90.0, 90.0, 100)
    assert sum(1 for x in xs if x > value) == 10
    value, pct, n = gate.tail_percentile(list(reversed(xs[:25])))
    assert (value, pct, n) == (15.0, 60.0, 25)
    # too few samples for ten beyond: the maximum, at percentile 100
    assert gate.tail_percentile([3.0, 1.0, 2.0]) == (3.0, 100.0, 3)
    with pytest.raises(ValueError):
        gate.tail_percentile([])


def test_recall_and_precision_on_a_hand_built_example():
    truth = _pairs([
        ("a", "b", "exact"),
        ("a", "c", "near_high"),
        ("d", "e", "near_high"),
        ("f", "g", "near_mid"),     # not a recall family
        ("h", "i", "substring"),
    ])
    clusters = pd.DataFrame({
        "conv_id": list("abcdefghi"),
        "cluster_id": ["a", "a", "a", "d", "x", "f", "f", "h", "i"],
    })
    assert gate.pair_hits(clusters, truth) == (2, 3)
    families = pd.DataFrame({"conv_id": list("abcdefg"),
                             "family": ["a", "a", "a", "d", "d", "f", "f"]})
    emitted = pd.DataFrame({"conv_id_a": ["a", "a", "b", "h", "d"],
                            "conv_id_b": ["b", "c", "f", "i", "e"]})
    # a-b, a-c, d-e share a family; h-i is a planted substring pair; b-f is wrong
    assert gate.precision_hits(emitted, families, truth) == (4, 5)
    sub = pd.DataFrame({"conv_id_a": ["h", "a"], "conv_id_b": ["i", "g"]})
    assert gate.substring_hits(sub, truth) == (1, 1)
    assert gate.substring_hits(sub, truth, among={"a", "g"}) == (0, 0)
    assert gate.ratio(0, 0) == 1.0


def test_fingerprint_ignores_row_order_but_not_labels():
    c = pd.DataFrame({"conv_id": ["x", "y", "z"], "cluster_id": ["x", "x", "z"]})
    shuffled = c.iloc[[2, 0, 1]].reset_index(drop=True)
    assert gate.fingerprint(c) == gate.fingerprint(shuffled)
    moved = c.assign(cluster_id=["x", "y", "z"])
    assert gate.fingerprint(c) != gate.fingerprint(moved)


def test_materialize_caches_per_workload_and_seed(tmp_path):
    d = workloads.materialize("batch_templated", 9, str(tmp_path))
    meta = os.path.join(d, "meta.json")
    stamp = os.path.getmtime(meta)
    assert workloads.materialize("batch_templated", 9, str(tmp_path)) == d
    assert os.path.getmtime(meta) == stamp
    for f in ("transcripts.parquet", "truth_pairs.parquet", "families.parquet"):
        assert os.path.exists(os.path.join(d, f))


def test_steal_share_is_the_steal_column_of_the_interval():
    before = [100, 0, 10, 500, 0, 0, 0, 20, 0, 0]
    after = [160, 0, 20, 520, 0, 0, 0, 30, 0, 0]
    assert probes.steal_share(before, after) == 0.1
    assert probes.steal_share(after, after) == 0.0
