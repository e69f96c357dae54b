"""Transcript delta admission (functions/incremental.py): the driver path
and the distributed path must give bit-identical pairs, admission verdicts
and labels, and both must hold up under the named delta failure modes —
an empty delta, a delta made only of exact copies of corpus
conversations, and a delta admitted twice.

One small fixture serves every test: a datagen corpus/delta split plus
planted conversations, with ``bucket_cap=3`` so a planted near-copy family
of five fills buckets above the cap (salted on both paths). The driver
path runs at the default ``cc_local_edges``; ``cc_local_edges=0`` forces
the distributed plan, and a small non-zero budget makes the driver path
fall back to it part way."""

import dataclasses

import pandas as pd
import pytest
from pyspark.sql import functions as F

from pcompress_spark import datagen
from pcompress_spark.config import DedupConfig
from pcompress_spark.functions import incremental
from pcompress_spark.operators.assemble import assemble
from pcompress_spark.operators.candidates import candidate_pairs
from pcompress_spark.operators.cluster import connected_components
from pcompress_spark.operators.signatures import compute_signatures
from pcompress_spark.operators.verify import verify_pairs

CFG = DedupConfig(bucket_cap=3, substring_enabled=False)
PATHS = {"driver": CFG, "distributed": dataclasses.replace(CFG, cc_local_edges=0)}
EMPTY_TR = "conv_id string, turn_idx int, text string"


def _copy(tr, src, new_id, edit=None):
    rows = tr[tr["conv_id"] == src].copy()
    rows["conv_id"] = new_id
    if edit is not None:
        last = rows["turn_idx"].idxmax()
        rows.loc[last, "text"] = rows.loc[last, "text"] + f" edit{edit}"
    return rows


@pytest.fixture(scope="module")
def fx(spark, tmp_path_factory):
    """Corpus signature and label tables on disk (the production shape),
    plus the signature tables of three deltas: ``main`` (datagen split +
    planted cases), ``copies`` (exact copies of corpus conversations only)
    and ``empty``."""
    tr = datagen.generate(seed=5, n_conv=48, dup_frac=0.4).transcripts[
        ["conv_id", "turn_idx", "text"]].astype(
            {"conv_id": str, "turn_idx": "int32", "text": str})
    in_delta = tr["conv_id"].str[5:].astype(int) % 4 == 0
    corpus, delta = tr[~in_delta], tr[in_delta]
    sizes = corpus.groupby("conv_id")["text"].apply(
        lambda t: sum(len(x.split()) for x in t))
    big = sizes[sizes > 200].index.tolist()
    hot = big[0]
    tiny = "conv-t0000001"
    planted = [
        # near-copy family of five: 3 corpus + 2 delta members per bucket
        _copy(corpus, hot, "conv-h0000001", edit=1),
        _copy(corpus, hot, "conv-h0000002", edit=2),
        _copy(corpus, hot, "conv-x0000001", edit=3),
        _copy(corpus, hot, "conv-x0000002", edit=4),
        # exact copy of a corpus conversation, and a copy inside the delta
        _copy(corpus, big[1], "conv-x0000003"),
        _copy(delta, delta["conv_id"].iloc[0], "conv-x0000004"),
        # below the shingle floor
        pd.DataFrame({"conv_id": [tiny], "turn_idx": [0], "text": ["ok thanks"]}),
    ]
    corpus = pd.concat([corpus] + planted[:2], ignore_index=True)
    delta = pd.concat([delta] + planted[2:], ignore_index=True)
    copies = pd.concat([_copy(corpus, c, f"conv-y{i:07d}")
                        for i, c in enumerate(big[1:4] + [hot])])

    d = tmp_path_factory.mktemp("incr")
    csig = compute_signatures(assemble(spark.createDataFrame(corpus)), CFG)
    csig.write.parquet(str(d / "csig"))
    csig = spark.read.parquet(str(d / "csig"))
    cand, _ = candidate_pairs(csig, CFG, persist_sizes=False)
    connected_components(csig.select("conv_id", "id_hash"),
                         verify_pairs(csig, cand, CFG), CFG
                         ).write.parquet(str(d / "labels"))
    compute_signatures(assemble(spark.createDataFrame(
        pd.concat([delta, copies], ignore_index=True))), CFG
    ).write.parquet(str(d / "dsig"))
    dsig = spark.read.parquet(str(d / "dsig"))
    is_copy = F.col("conv_id").startswith("conv-y")
    return {
        "csig": csig,
        "labels": spark.read.parquet(str(d / "labels")),
        "main": dsig.where(~is_copy),
        "copies": dsig.where(is_copy),
        "empty": dsig.where(F.lit(False)),
        "hot": hot,
        "tiny": tiny,
    }


def _tidy(df):
    pdf = df.toPandas()
    cols = sorted(pdf.columns)
    return pdf[cols].sort_values(cols).reset_index(drop=True)


def _admit(spark, fx, delta, cfg, labels=None, clusters=True):
    """Pairs, admission and (``clusters``) labels of one delta, each as
    sorted pandas."""
    empty = spark.createDataFrame([], EMPTY_TR)
    st: dict = {}
    pairs = incremental.incremental_transcript_pairs(
        empty, empty, cfg, corpus_sig=fx["csig"], delta_sig=delta, stats=st)
    pairs = spark.createDataFrame(pairs.toPandas(), pairs.schema)
    adm = incremental.incremental_transcript_admission(
        delta.select("conv_id"), pairs, cfg)
    out = {"pairs": _tidy(pairs), "admission": _tidy(adm), "path": st["path"],
           "stats": dict(st)}
    if clusters:
        out["labels"] = _tidy(incremental.incremental_transcript_clusters(
            empty, empty, cfg,
            corpus_labels=fx["labels"] if labels is None else labels,
            corpus_sig=fx["csig"], delta_sig=delta, pairs=pairs, stats=st))
        assert st["path"] == out["path"]
    return out


@pytest.fixture(scope="module")
def main(spark, fx):
    return {name: _admit(spark, fx, fx["main"], cfg) for name, cfg in PATHS.items()}


def test_driver_and_distributed_paths_bit_identical(spark, fx, main):
    drv, dist = main["driver"], main["distributed"]
    assert (drv["path"], dist["path"]) == ("driver", "distributed")
    for key in ("pairs", "admission", "labels"):
        pd.testing.assert_frame_equal(drv[key], dist[key], check_exact=True)
    # the fixture reaches what it is meant to reach: a delta-touched bucket
    # above bucket_cap, exact copies, a conversation below the shingle floor
    fam = [fx["hot"], "conv-h0000001", "conv-h0000002", "conv-x0000001",
           "conv-x0000002"]
    bh = fx["csig"].unionByName(fx["main"]).where(
        F.col("conv_id").isin(fam)).select("band_hashes").toPandas()
    buckets = pd.Series([(b, h) for arr in bh["band_hashes"]
                         for b, h in enumerate(arr)]).value_counts()
    assert buckets.max() > CFG.bucket_cap
    ids = set(drv["pairs"]["conv_id_a"]) | set(drv["pairs"]["conv_id_b"])
    assert {"conv-x0000001", "conv-x0000002", "conv-h0000001"} <= ids
    adm = drv["admission"].set_index("conv_id")
    assert adm.at["conv-x0000003", "dup_kind"] == "exact"
    assert adm.at["conv-x0000004", "dup_kind"] == "exact"
    assert adm.at[fx["tiny"], "keep"] == 1
    n_delta = fx["main"].count()
    assert len(adm) == n_delta
    lab = drv["labels"]
    assert lab["conv_id"].is_unique and len(lab) == fx["labels"].count() + n_delta


def test_driver_results_built_from_pandas(spark, fx, monkeypatch):
    """The driver path builds its admission and label frames from pandas,
    over Arrow, as it builds its pairs: a Python row list would be pickled
    through a second pool of Python workers. No createDataFrame call of a
    driver-path transcript admission, transcript label merge or document
    admission receives a list."""
    from pyspark.sql import SparkSession

    empty = spark.createDataFrame([], EMPTY_TR)
    pairs = incremental.incremental_transcript_pairs(
        empty, empty, CFG, corpus_sig=fx["csig"], delta_sig=fx["main"])
    pairs = spark.createDataFrame(pairs.toPandas(), pairs.schema)
    text = ("the quick brown fox jumps over the lazy dog and then wanders "
            "far away into the deep green forest tonight")
    docs = "doc_id long, text string"
    corpus = spark.createDataFrame([(1, text)], docs)
    delta = spark.createDataFrame(
        [(4, text), (8, "something else entirely unique about minhash bands")],
        docs)
    create, data_types = SparkSession.createDataFrame, []

    def recorded(self, data, *args, **kwargs):
        data_types.append(type(data).__name__)
        return create(self, data, *args, **kwargs)

    def refuse(*args, **kwargs):
        raise AssertionError("distributed plan at the default config")

    with monkeypatch.context() as m:
        m.setattr(SparkSession, "createDataFrame", recorded)
        m.setattr(incremental, "_distributed_admission", refuse)
        m.setattr(incremental, "_distributed_clusters", refuse)
        adm = incremental.incremental_transcript_admission(
            fx["main"].select("conv_id"), pairs, CFG)
        labels = incremental.incremental_transcript_clusters(
            empty, empty, CFG, corpus_labels=fx["labels"],
            corpus_sig=fx["csig"], delta_sig=fx["main"], pairs=pairs)
        doc_adm = incremental.incremental_admission(corpus, delta, threshold=0.3)
    assert data_types and "list" not in data_types, data_types
    assert adm.count() == fx["main"].count()
    assert labels.count() == fx["labels"].count() + fx["main"].count()
    assert {r.doc_id: (r.keep, r.dup_kind, r.dup_of) for r in doc_adm.collect()} == {
        4: (0, "exact", 1), 8: (1, "none", -1)}


def test_over_budget_falls_back_to_distributed(spark, fx):
    """A small non-zero budget: the step that comes out over it discards
    what the driver path fetched and the distributed plan gives the same
    pairs. Two members of the hot family make a delta whose needs grow
    step by step (delta rows x bands, touched corpus rows, candidate pair
    rows, endpoint bytes / 16), so a budget one below each need trips
    exactly that step."""
    delta = fx["main"].where(
        F.col("conv_id").isin("conv-x0000001", "conv-x0000002"))
    drv = _admit(spark, fx, delta, CFG, clusters=False)
    assert drv["path"] == "driver" and len(drv["pairs"]) > 0
    st = drv["stats"]
    need = [("delta rows", st["delta_rows"] * CFG.bands),
            ("touched corpus", st["corpus_rows"]),
            ("candidate pair rows", st["candidate_rows"]),
            ("candidate endpoints", -(-st["endpoint_bytes_est"] // 16))]
    assert all(a[1] < b[1] for a, b in zip(need, need[1:])), need
    for why, n in need:
        cfg = dataclasses.replace(CFG, cc_local_edges=n - 1)
        out = _admit(spark, fx, delta, cfg, clusters=False)
        assert out["path"] == "distributed", (why, out["stats"])
        assert out["stats"]["why"].startswith(why), out["stats"]
        for key in ("pairs", "admission"):
            pd.testing.assert_frame_equal(out[key], drv[key], check_exact=True)


@pytest.mark.parametrize("path", sorted(PATHS))
def test_empty_delta(spark, fx, path):
    out = _admit(spark, fx, fx["empty"], PATHS[path])
    assert len(out["pairs"]) == 0 and len(out["admission"]) == 0
    pd.testing.assert_frame_equal(out["labels"], _tidy(fx["labels"]),
                                  check_exact=True)


@pytest.mark.parametrize("path", sorted(PATHS))
def test_delta_of_exact_copies_only(spark, fx, path):
    adm = _admit(spark, fx, fx["copies"], PATHS[path], clusters=False)["admission"]
    assert len(adm) == 4
    assert (adm["keep"] == 0).all() and (adm["dup_kind"] == "exact").all()


@pytest.mark.parametrize("path", sorted(PATHS))
def test_delta_admitted_twice(spark, fx, main, path):
    """A replay against labels that already contain the delta (a re-run of
    a completed daily run) covers every conversation once and reproduces
    the first admission."""
    first = main[path]
    labels = spark.createDataFrame(first["labels"]).select("conv_id", "cluster_id")
    again = _admit(spark, fx, fx["main"], PATHS[path], labels=labels)
    assert again["labels"]["conv_id"].is_unique
    for key in ("pairs", "admission", "labels"):
        pd.testing.assert_frame_equal(again[key], first[key], check_exact=True)


@pytest.mark.parametrize("path", sorted(PATHS))
def test_delta_against_empty_index_equals_batch(spark, fx, path):
    """A batch is a delta admitted against an empty index: with no corpus
    rows, incremental_transcript_pairs over signatures S equals
    verify_pairs over candidate_pairs(S), on every column. S (the corpus
    and the main delta) holds the planted five-member family, so the
    batch salts a bucket above bucket_cap."""
    sig = fx["csig"].unionByName(fx["main"])
    cand, stats = candidate_pairs(sig, CFG, persist_sizes=False)
    assert stats.first()["max_bucket_size"] > CFG.bucket_cap
    batch = _tidy(verify_pairs(sig, cand, CFG))
    empty = spark.createDataFrame([], EMPTY_TR)
    st: dict = {}
    got = incremental.incremental_transcript_pairs(
        empty, empty, PATHS[path], corpus_sig=fx["csig"].where(F.lit(False)),
        delta_sig=sig, stats=st)
    assert st["path"] == path
    assert len(batch) > 0
    pd.testing.assert_frame_equal(_tidy(got), batch, check_exact=True)
