"""Engine (Spark) vs oracle (pandas) parity — the correctness gate.

The north_rule judges the engine against the reference implementation's
cluster assignments at the same shingle/signature config. Both sides share
kernels.py, so these tests require *exact* equality, not approximate."""

import numpy as np
import pandas as pd
import pytest

from pcompress_spark.config import DedupConfig
from pcompress_spark import oracle
from pcompress_spark.operators.assemble import assemble, assembled_turns
from pcompress_spark.operators.candidates import candidate_pairs
from pcompress_spark.operators.cluster import connected_components
from pcompress_spark.operators.signatures import compute_signatures
from pcompress_spark.operators.substring import substring_pairs
from pcompress_spark.operators.verify import verify_pairs

CFG = DedupConfig()


@pytest.fixture(scope="module")
def oracle_result(smoke_data):
    return oracle.run(smoke_data.transcripts, CFG)


@pytest.fixture(scope="module")
def engine_sig(spark, smoke_transcripts):
    return compute_signatures(assemble(smoke_transcripts), CFG).cache()


def test_assemble_matches_oracle(spark, smoke_transcripts, smoke_data):
    eng = assemble(smoke_transcripts).toPandas().sort_values("conv_id").reset_index(drop=True)
    orc = oracle.assemble(smoke_data.transcripts).sort_values("conv_id").reset_index(drop=True)
    assert eng["conv_id"].tolist() == orc["conv_id"].tolist()
    assert eng["n_turns"].tolist() == [int(x) for x in orc["n_turns"]]
    assert eng["doc_text"].tolist() == orc["doc_text"].tolist()


def test_per_turn_text_fidelity(spark, smoke_transcripts, smoke_data):
    """input_hint invariant: per-turn text equality under stable turn order."""
    eng = assembled_turns(smoke_transcripts).toPandas()
    orig = smoke_data.transcripts.sort_values(["conv_id", "turn_idx"])
    eng = eng.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    assert eng["text"].tolist() == orig["text"].tolist()
    assert eng["turn_idx"].tolist() == [int(x) for x in orig["turn_idx"]]
    # stable order: pos == rank of turn_idx
    assert eng["pos"].tolist() == eng["turn_idx"].tolist()


def test_signatures_match_oracle(engine_sig, oracle_result):
    eng = engine_sig.toPandas().sort_values("conv_id").reset_index(drop=True)
    orc = oracle_result.signatures.sort_values("conv_id").reset_index(drop=True)
    assert eng["conv_id"].tolist() == orc["conv_id"].tolist()
    assert eng["content_hash"].tolist() == orc["content_hash"].tolist()
    assert eng["simhash"].tolist() == [int(x) for x in orc["simhash"]]
    assert eng["id_hash"].tolist() == [int(x) for x in orc["id_hash"]]
    for i in range(len(eng)):
        assert np.array_equal(np.asarray(eng.loc[i, "minhash"]),
                              np.asarray(orc.loc[i, "minhash"])), eng.loc[i, "conv_id"]
        assert np.array_equal(np.asarray(eng.loc[i, "shingles"]),
                              np.asarray(orc.loc[i, "shingles"])), eng.loc[i, "conv_id"]


def _assert_candidates_match_oracle(engine_sig, oracle_result, cfg):
    """Signatures do not depend on the cap, so every config reuses the
    cached engine and oracle signatures. Returns the bucket stats row."""
    cand, stats = candidate_pairs(engine_sig, cfg)
    orc_cand = oracle.lsh_candidates(oracle_result.signatures, cfg)
    ih_to_cid = dict(zip(*map(list, (
        engine_sig.toPandas()["id_hash"], engine_sig.toPandas()["conv_id"]))))
    cpdf = cand.toPandas()
    eng = {
        tuple(sorted((ih_to_cid[a], ih_to_cid[b])))
        for a, b in zip(cpdf["ih_a"], cpdf["ih_b"])
    }
    orc = set(zip(orc_cand["conv_id_a"], orc_cand["conv_id_b"]))
    assert eng == orc
    # n_bands evidence counts must agree pair-for-pair
    eng_counts = {
        tuple(sorted((ih_to_cid[a], ih_to_cid[b]))): int(n)
        for a, b, n in zip(cpdf["ih_a"], cpdf["ih_b"], cpdf["n_bands"])
    }
    orc_counts = {
        (a, b): int(n)
        for a, b, n in zip(orc_cand["conv_id_a"], orc_cand["conv_id_b"],
                           orc_cand["n_bands"])
    }
    assert eng_counts == orc_counts
    srow = stats.collect()[0]
    assert srow["n_buckets"] > 0
    # id_hash must be injective on the fixture (the long-key invariant)
    sig_pdf = engine_sig.toPandas()
    assert sig_pdf["id_hash"].nunique() == sig_pdf["conv_id"].nunique()
    return srow


def test_candidates_match_oracle(spark, engine_sig, oracle_result):
    _assert_candidates_match_oracle(engine_sig, oracle_result, CFG)


def test_candidates_match_oracle_salted(spark, engine_sig, oracle_result):
    """A cap the fixture's buckets exceed (its largest raw bucket has 3
    members): the hot-bucket salting and the id_hash-sorted cap run on
    both sides and must still agree exactly."""
    cfg = DedupConfig(bucket_cap=2)
    srow = _assert_candidates_match_oracle(engine_sig, oracle_result, cfg)
    assert srow["max_bucket_size"] > cfg.bucket_cap, "salting never fired"
    assert srow["hot_member_rows"] > 0


def test_verified_pairs_match_oracle(spark, engine_sig, oracle_result):
    cand, _ = candidate_pairs(engine_sig, CFG)
    pairs = verify_pairs(engine_sig, cand, CFG).toPandas()
    eng = {(a, b, k) for a, b, k in zip(pairs["conv_id_a"], pairs["conv_id_b"], pairs["match_kind"])}
    orc = {(a, b, k) for a, b, k in zip(oracle_result.pairs["conv_id_a"],
                                        oracle_result.pairs["conv_id_b"],
                                        oracle_result.pairs["match_kind"])}
    assert eng == orc
    # jaccard values match to float precision
    ej = pairs.set_index(["conv_id_a", "conv_id_b"])["jaccard"].to_dict()
    for (a, b), j in zip(
        zip(oracle_result.pairs["conv_id_a"], oracle_result.pairs["conv_id_b"]),
        oracle_result.pairs["jaccard"],
    ):
        assert abs(ej[(a, b)] - j) < 1e-12


def test_clusters_match_oracle_and_truth(spark, engine_sig, oracle_result, smoke_data):
    cand, _ = candidate_pairs(engine_sig, CFG)
    pairs = verify_pairs(engine_sig, cand, CFG)
    clus = connected_components(
        engine_sig.select("conv_id", "id_hash"), pairs, CFG).toPandas()
    eng = dict(zip(clus["conv_id"], clus["cluster_id"]))
    orc = dict(zip(oracle_result.clusters["conv_id"], oracle_result.clusters["cluster_id"]))
    assert eng == orc
    # recall >= 0.99 vs planted truth
    eng_pairs = oracle.cluster_pairs(clus)
    rec = oracle.pair_recall(eng_pairs, smoke_data.truth_pairs, ("exact", "near_high"))
    assert rec >= 0.99, f"recall {rec}"


def test_substring_matches_oracle(spark, engine_sig, oracle_result):
    cand, _ = candidate_pairs(engine_sig, CFG)
    pairs = verify_pairs(engine_sig, cand, CFG)
    sub = substring_pairs(engine_sig, pairs, CFG).toPandas()
    eng = set(zip(sub["conv_id_a"], sub["conv_id_b"]))
    orc = set(zip(oracle_result.substring_pairs["conv_id_a"],
                  oracle_result.substring_pairs["conv_id_b"]))
    assert eng == orc


def test_bucket_members_min_size_keeps_singletons(spark):
    """min_size=1 (bipartite probe indexes) keeps single-member buckets
    that the self-join default (2) drops; cap/salt behavior is otherwise
    identical."""
    from pyspark.sql import functions as F

    from pcompress_spark.operators.candidates import bucket_members

    rows = [(i, 0, 100) for i in range(3)] + [(7, 0, 200)]
    banded = spark.createDataFrame(
        rows, "id_hash long, band_idx int, band_hash long")
    b2, _ = bucket_members(banded, CFG, persist_sizes=False)
    b1, _ = bucket_members(banded, CFG, persist_sizes=False, min_size=1)
    p2 = b2.toPandas().set_index("band_hash")
    p1 = b1.toPandas().set_index("band_hash")
    assert set(p2.index) == {100}
    assert set(p1.index) == {100, 200}
    assert list(p1.loc[200].ids) == [7]
    assert list(p1.loc[100].ids) == list(p2.loc[100].ids) == [0, 1, 2]


def test_tr_simhash_channel_properties(spark, engine_sig):
    """Transcript SimHash channel: normalized pair order, popcount bound,
    no self-pairs, and every near-identical conversation pair (hamming 0
    exact dup twins) is found — pigeonhole guarantees them."""
    from pcompress_spark.operators.candidates import simhash_candidate_pairs

    cfg = DedupConfig()
    pairs = simhash_candidate_pairs(engine_sig, cfg, max_hamming=6).toPandas()
    assert (pairs.hamming <= 6).all()
    assert (pairs.conv_id_a < pairs.conv_id_b).all()
    # exact-dup conversations share identical normalized text, hence
    # identical simhash -> hamming 0 pairs must be present
    sig = engine_sig.select("conv_id", "content_hash").toPandas()
    by_hash = sig.groupby("content_hash")["conv_id"].apply(list)
    found = {(a, b) for a, b in zip(pairs.conv_id_a, pairs.conv_id_b)}
    for members in by_hash:
        if len(members) > 1:
            ms = sorted(members)
            assert (ms[0], ms[1]) in found, ms[:2]
