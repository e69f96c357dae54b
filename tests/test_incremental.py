"""Incremental delta-vs-corpus dedup (functions/incremental.py).

The load-bearing claim: the incremental path — which bands only the delta
and probes the corpus signature table's band_hashes through a broadcast
semi-join on touched bucket keys — emits EXACTLY the pairs a full-corpus
re-run would emit, restricted to >= 1 delta endpoint. These tests pin that
equivalence, the precomputed-stage-table input path, the admission rule,
and the parity of the admission and label cores' two paths on documents.
"""

import dataclasses

import pytest
from pyspark.sql import functions as F

from pcompress_spark.config import DedupConfig
from pcompress_spark.functions import doc_dedup, incremental
from pcompress_spark.sources.tables import load_table

SF = "/root/testdata/sf0.001"
CFG = DedupConfig(shingle_k=3, substring_enabled=False, jaccard_threshold=0.3)


@pytest.fixture(scope="module")
def split(spark):
    docs = load_table(spark, SF, "documents").cache()
    is_delta = (F.col("doc_id") % 4) == 0
    return docs.where(~is_delta).cache(), docs.where(is_delta).cache()


def _pairs_set(df):
    return {(r.doc_id_a, r.doc_id_b, r.jaccard) for r in df.collect()}


def test_incremental_equals_filtered_full_batch(spark, split):
    corpus, delta = split
    incr = incremental.incremental_lsh_pairs(corpus, delta, CFG, threshold=0.3)
    full = doc_dedup.minhash_lsh_pairs(
        corpus.unionByName(delta), CFG, threshold=0.3
    ).where((F.col("doc_id_a") % 4 == 0) | (F.col("doc_id_b") % 4 == 0))
    assert _pairs_set(incr) == _pairs_set(full)


def test_empty_corpus_equals_batch(spark, split):
    """A delta admitted against an empty corpus is the batch:
    incremental_lsh_pairs with no corpus rows equals minhash_lsh_pairs."""
    corpus, delta = split
    docs = corpus.unionByName(delta)
    incr = incremental.incremental_lsh_pairs(
        docs.where(F.lit(False)), docs, CFG, threshold=0.3)
    full = doc_dedup.minhash_lsh_pairs(docs, CFG, threshold=0.3)
    assert _pairs_set(full) and _pairs_set(incr) == _pairs_set(full)


def test_precomputed_corpus_stage_tables(spark, split, tmp_path):
    """Production shape: corpus signatures (whose band_hashes column is the
    band index) come from the persisted stage table of the corpus's own
    run — results must be identical to the compute-inline path."""
    corpus, delta = split
    sig_path = str(tmp_path / "corpus_sig")
    doc_dedup.doc_signatures(corpus, CFG).write.parquet(sig_path)
    incr = incremental.incremental_lsh_pairs(
        corpus, delta, CFG, threshold=0.3,
        corpus_sig=spark.read.parquet(sig_path),
    )
    inline = incremental.incremental_lsh_pairs(corpus, delta, CFG, threshold=0.3)
    assert _pairs_set(incr) == _pairs_set(inline)


def test_supplied_signature_tables_are_not_persisted(spark, split, tmp_path):
    """Stored signature tables passed as corpus_sig and delta_sig are
    scanned as they are: the call persists nothing (the CLI passes its
    whole stored sig/ table, so a persist there caches O(corpus) per run)."""
    from pcompress_spark import cache

    corpus, delta = split
    stored = {}
    for name, df in (("corpus", corpus), ("delta", delta)):
        doc_dedup.doc_signatures(df, CFG).write.parquet(str(tmp_path / name))
        stored[name] = spark.read.parquet(str(tmp_path / name))
    n_persisted = len(cache._PERSISTED)
    incr = incremental.incremental_lsh_pairs(
        corpus, delta, CFG, threshold=0.3,
        corpus_sig=stored["corpus"], delta_sig=stored["delta"])
    assert len(cache._PERSISTED) == n_persisted
    inline = incremental.incremental_lsh_pairs(corpus, delta, CFG, threshold=0.3)
    assert _pairs_set(incr) and _pairs_set(incr) == _pairs_set(inline)


def test_touched_bucket_probe_is_a_broadcast_semi_join(spark, split):
    """The corpus band scan must be filtered by a BROADCAST semi-join on
    the delta's bucket keys — never shuffled wholesale (per-run work is
    O(delta + touched), the scale contract)."""
    corpus, delta = split
    plan_df = incremental.incremental_lsh_pairs(corpus, delta, CFG, threshold=0.3)
    import io
    from contextlib import redirect_stdout

    buf = io.StringIO()
    with redirect_stdout(buf):
        plan_df.explain("formatted")
    plan = buf.getvalue()
    assert "BroadcastHashJoin LeftSemi BuildRight" in plan


def test_admission_rule(spark, split):
    corpus, delta = split
    adm = incremental.incremental_admission(corpus, delta, CFG, threshold=0.3)
    rows = {r.doc_id: r for r in adm.collect()}
    d_ids = {r.doc_id for r in delta.select("doc_id").collect()}
    assert set(rows) == d_ids  # one decision per delta doc, no extras

    # exact dups of corpus docs must be dropped with the corpus rep id
    cmd5 = {r.content_md5: r.c_rep for r in corpus.select(
        F.md5("text").alias("content_md5"), "doc_id").groupBy("content_md5")
        .agg(F.min("doc_id").alias("c_rep")).collect()}
    dmd5 = {r.doc_id: r.content_md5 for r in delta.select(
        "doc_id", F.md5("text").alias("content_md5")).collect()}
    for did, h in dmd5.items():
        if h in cmd5:
            r = rows[did]
            assert r.keep == 0 and r.dup_kind == "exact"
            assert r.dup_of <= cmd5[h]  # corpus rep, or an even-smaller delta dup

    # every kept doc has no partner sentinel; every dropped doc names one
    for r in rows.values():
        if r.keep == 1:
            assert r.dup_kind == "none" and r.dup_of == -1
        else:
            assert r.dup_kind in ("exact", "near") and r.dup_of >= 0
            assert r.dup_of != r.doc_id

    # near partners: corpus priority at any id order, else smaller-id delta
    pairs = incremental.incremental_lsh_pairs(corpus, delta, CFG, threshold=0.3)
    near_partner = {}
    for p in pairs.collect():
        a, b = p.doc_id_a, p.doc_id_b
        if b in d_ids:
            near_partner.setdefault(b, set()).add(a)
        if a in d_ids and b not in d_ids:
            near_partner.setdefault(a, set()).add(b)
    for r in rows.values():
        if r.dup_kind == "near":
            assert r.dup_of == min(near_partner[r.doc_id])


def _uf_labels(nodes, edges):
    """Reference union-find (driver python): min-id labels."""
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            lo, hi = min(ra, rb), max(ra, rb)
            parent[hi] = lo
    return {n: find(n) for n in nodes}


def test_incremental_clusters_contract(spark, split):
    """incremental_clusters == CC over (corpus label star ∪ delta-endpoint
    LSH pairs ∪ delta exact edges) with min-doc_id labels — the defined
    contract, reconstructed independently with a driver union-find."""
    corpus, delta = split
    labels = {r.doc_id: r.cluster_id
              for r in doc_dedup.neardup_clusters(corpus, CFG, 0.3).collect()}
    star = [(c, d) for d, c in labels.items() if d != c]
    ipairs = [(r.doc_id_a, r.doc_id_b) for r in incremental.incremental_lsh_pairs(
        corpus, delta, CFG, threshold=0.3).collect()]
    import hashlib

    cmd5, dmd5 = {}, []
    for r in corpus.select("doc_id", "text").collect():
        h = hashlib.md5(r.text.encode()).hexdigest()
        cmd5[h] = min(cmd5.get(h, r.doc_id), r.doc_id)
    for r in delta.select("doc_id", "text").collect():
        dmd5.append((r.doc_id, hashlib.md5(r.text.encode()).hexdigest()))
    dmin = {}
    for did, h in dmd5:
        dmin[h] = min(dmin.get(h, did), did)
    exact = [(did, cmd5[h]) for did, h in dmd5 if h in cmd5]
    exact += [(did, dmin[h]) for did, h in dmd5 if dmin[h] < did]
    nodes = set(labels) | {r.doc_id for r in delta.select("doc_id").collect()}
    expected = _uf_labels(nodes, star + ipairs + exact)
    got = {r.doc_id: r.cluster_id for r in incremental.incremental_clusters(
        corpus, delta, CFG, threshold=0.3).collect()}
    assert got == expected


def test_incremental_clusters_synthetic_merge(spark):
    """Handcrafted merge: a delta doc near-dups members of TWO separate
    corpus clusters -> they merge under the global min id; an untouched
    corpus cluster passes through verbatim; a unique delta doc is a
    singleton; a delta exact-dup joins its corpus partner's component.
    rows=1 banding + no est-Jaccard prefilter: candidate recall is
    ~exhaustive at this scale, so the merge edges are structural, not a
    lottery on the default 32x4 geometry."""
    cfg_t = DedupConfig(shingle_k=3, substring_enabled=False,
                        jaccard_threshold=0.3, minhash_prefilter=0.0,
                        num_perm=32, bands=32, rows=1)
    ta = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
          "lambda mu nu xi omicron pi rho sigma tau upsilon phi chi psi")
    tb = ("one two three four five six seven eight nine ten eleven twelve "
          "thirteen fourteen fifteen sixteen seventeen eighteen nineteen twenty")
    tu = ("untouched cluster text about parquet row groups and column "
          "statistics pruning at the reader level with predicate pushdown")
    corpus = spark.createDataFrame(
        [(1, ta), (2, ta.replace("psi", "omega")),       # cluster {1, 2}
         (3, tb),                                        # cluster {3}
         (5, tu), (6, tu)],                              # untouched {5, 6}
        "doc_id long, text string",
    )
    delta = spark.createDataFrame(
        [(4, ta.replace("psi", "omega").replace("alpha", "alpho") + " " + tb),
         (8, "a totally unrelated singleton delta document about nothing"),
         (12, tb)],                                      # exact dup of 3
        "doc_id long, text string",
    )
    got = {r.doc_id: r.cluster_id for r in incremental.incremental_clusters(
        corpus, delta, cfg_t, threshold=0.3).collect()}
    assert got[5] == 5 and got[6] == 5          # untouched passthrough
    assert got[8] == 8                          # delta singleton
    assert got[12] == got[3]                    # exact edge joins 3's component
    # doc 4 bridges {1,2} and {3,12}: all merge under min id 1
    assert got[1] == got[2] == got[3] == got[4] == got[12] == 1


def test_incremental_clusters_persisted_stage_tables(spark, split, tmp_path):
    """Production shape: labels and signatures (band and md5 indexes
    included) come from persisted stage tables — output identical to the
    inline path."""
    corpus, delta = split
    p = {k: str(tmp_path / k) for k in ("labels", "sig")}
    doc_dedup.neardup_clusters(corpus, CFG, 0.3).write.parquet(p["labels"])
    doc_dedup.doc_signatures(corpus, CFG).write.parquet(p["sig"])
    staged = incremental.incremental_clusters(
        corpus, delta, CFG, threshold=0.3,
        corpus_labels=spark.read.parquet(p["labels"]),
        corpus_sig=spark.read.parquet(p["sig"]),
    )
    inline = incremental.incremental_clusters(corpus, delta, CFG, threshold=0.3)
    as_map = lambda df: {r.doc_id: r.cluster_id for r in df.collect()}
    assert as_map(staged) == as_map(inline)


def test_admission_exact_branch_synthetic(spark):
    """Handcrafted corpus/delta exercising every admission branch: corpus
    exact dup, earlier-delta exact dup, corpus-priority near dup, and a
    clean keep. (The sf0.001 %4 split happens to contain no cross-split
    exact dup, so this pins the exact branch deterministically.)"""
    base = ("the quick brown fox jumps over the lazy dog and then "
            "wanders far away into the deep green forest tonight")
    corpus = spark.createDataFrame(
        [(1, base), (2, "completely unrelated corpus text about spark "
                        "shuffle partitions and adaptive execution plans")],
        "doc_id long, text string",
    )
    delta = spark.createDataFrame(
        [
            (4, base),                       # exact dup of corpus doc 1
            (8, "something else entirely unique about minhash bands"),
            (12, "something else entirely unique about minhash bands"),
            # near (not exact) dup of corpus doc 1: one word changed
            (16, base.replace("tonight", "tomorrow")),
        ],
        "doc_id long, text string",
    )
    adm = incremental.incremental_admission(corpus, delta, CFG, threshold=0.3)
    rows = {r.doc_id: r for r in adm.collect()}
    assert rows[4].keep == 0 and rows[4].dup_kind == "exact" and rows[4].dup_of == 1
    assert rows[8].keep == 1 and rows[8].dup_kind == "none" and rows[8].dup_of == -1
    assert rows[12].keep == 0 and rows[12].dup_kind == "exact" and rows[12].dup_of == 8
    assert rows[16].keep == 0 and rows[16].dup_kind == "near" and rows[16].dup_of == 1


def test_doc_cores_driver_matches_distributed(spark, split, monkeypatch):
    """Doc admission and doc labels run the transcript cores (_admission,
    _clusters_core): the default config takes their driver path, so the
    distributed plans are made to raise there, and cc_local_edges=0 takes
    the distributed plans; outputs and schemas are bit-identical. Planted
    docs add what the split lacks: an exact copy of a corpus doc, an exact
    copy inside the delta and a near copy of a corpus doc."""
    base = ("the quick brown fox jumps over the lazy dog and then "
            "wanders far away into the deep green forest tonight")
    other = "something else entirely unique about minhash bands"
    rows = "doc_id long, text string"
    corpus = split[0].select("doc_id", "text").unionByName(
        spark.createDataFrame([(1000001, base)], rows))
    delta = split[1].select("doc_id", "text").unionByName(spark.createDataFrame(
        [(1000004, base), (1000008, other), (1000012, other),
         (1000016, base.replace("tonight", "tomorrow"))], rows))

    # the path-independent inputs once, as the production loop passes them
    csig = doc_dedup.doc_signatures(corpus, CFG).cache()
    labels = doc_dedup.neardup_clusters(corpus, CFG, 0.3).cache()
    pairs = incremental.incremental_lsh_pairs(corpus, delta, CFG,
                                              corpus_sig=csig).cache()

    def run(cfg):
        out = []
        for df in (incremental.incremental_admission(
                       corpus, delta, cfg, corpus_sig=csig, pairs=pairs),
                   incremental.incremental_clusters(
                       corpus, delta, cfg, corpus_labels=labels,
                       corpus_sig=csig, pairs=pairs)):
            out.append((df.dtypes, sorted(tuple(r) for r in df.collect())))
        return out

    def refuse(*args, **kwargs):
        raise AssertionError("distributed plan at the default config")

    with monkeypatch.context() as m:
        m.setattr(incremental, "_distributed_admission", refuse)
        m.setattr(incremental, "_distributed_clusters", refuse)
        driver = run(CFG)
    assert driver == run(dataclasses.replace(CFG, cc_local_edges=0))
    adm = {r[0]: r[1:] for r in driver[0][1]}
    assert adm[1000004] == (0, "exact", 1000001)
    assert adm[1000008] == (1, "none", -1)
    assert adm[1000012] == (0, "exact", 1000008)
    assert adm[1000016] == (0, "near", 1000001)
    merged = dict(driver[1][1])
    assert merged[1000004] == merged[1000016] == merged[1000001]
    assert merged[1000012] == merged[1000008] == 1000008
    for df in (csig, labels, pairs):
        df.unpersist()


def test_cli_state_compaction(spark, tmp_path):
    """tools/run_incremental.py --compact: K deltas -> compact -> delta
    K+1 must produce byte-identical admission/pairs/labels to the
    uncompacted state (VERDICT r3 'done' criterion); plus crash recovery
    of an interrupted compaction, the compacted-tag replay refusal, and
    the refusal of state dirs of older layouts."""
    import json
    import os
    import shutil
    import sys as _sys

    import pandas as pd

    from pcompress_spark import store

    REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    _sys.path.insert(0, os.path.join(REPO, "tools"))
    import run_incremental as ri

    docs = pd.read_parquet("/root/testdata/sf0.001/documents.parquet")[
        ["doc_id", "text"]].head(240)
    corpus = docs[docs["doc_id"] % 4 != 0]
    delta1 = docs[docs["doc_id"] % 8 == 0]
    delta2 = docs[docs["doc_id"] % 8 == 4]
    # delta3 reuses delta1 text (exercises near/exact drops vs folded state)
    delta3 = delta1.head(10).assign(
        doc_id=lambda d: d.doc_id + 900000)
    paths = {}
    for name, frame in (("corpus", corpus), ("delta1", delta1),
                        ("delta2", delta2), ("delta3", delta3)):
        p = str(tmp_path / f"{name}.parquet")
        frame.to_parquet(p, index=False)
        paths[name] = p
    state_a = str(tmp_path / "state_a")
    common = ["--state-dir", state_a, "--master", "inherit"]

    assert ri.main(["--bootstrap", "--corpus", paths["corpus"]] + common) == 0
    assert ri.main(["--delta", paths["delta1"], "--run-tag", "day1",
                    "--out", str(tmp_path / "o1")] + common) == 0
    assert ri.main(["--delta", paths["delta2"], "--run-tag", "day2",
                    "--out", str(tmp_path / "o2")] + common) == 0

    # branch the state: B stays uncompacted, A compacts
    state_b = str(tmp_path / "state_b")
    shutil.copytree(state_a, state_b)
    assert ri.main(["--compact", "--state-dir", state_a,
                    "--master", "inherit"]) == 0
    assert sorted(os.listdir(state_a)) == ["labels", "sig"]
    for t in ("sig", "labels"):
        subs = [d for d in os.listdir(os.path.join(state_a, t))
                if d.startswith("run=")]
        assert subs == ["run=c1"], (t, subs)
    # the merge keeps one signature row per doc
    assert pd.read_parquet(os.path.join(state_a, "sig"))["doc_id"].is_unique

    # delta K+1 on both branches: byte-identical outputs and labels
    for st, out in ((state_a, "oa"), (state_b, "ob")):
        assert ri.main(["--delta", paths["delta3"], "--run-tag", "day3",
                        "--out", str(tmp_path / out),
                        "--state-dir", st, "--master", "inherit"]) == 0

    def table(path):
        df = pd.read_parquet(path)
        return df.sort_values(list(df.columns)).reset_index(drop=True)

    for sub in ("admission", "pairs"):
        pd.testing.assert_frame_equal(
            table(str(tmp_path / "oa" / sub)),
            table(str(tmp_path / "ob" / sub)))

    def labels(st):
        df = store.read_labels(spark, os.path.join(st, "labels"), "run",
                               "doc_id").toPandas()
        return df.sort_values(list(df.columns)).reset_index(drop=True)

    pd.testing.assert_frame_equal(labels(state_a), labels(state_b))

    # replay of a compacted tag is refused with the real story
    with pytest.raises(SystemExit, match="compacted"):
        ri.main(["--delta", paths["delta2"], "--run-tag", "day2",
                 "--out", str(tmp_path / "oc")] + common)

    # crash recovery, incomplete tmp (no unit list): discarded, originals
    # untouched
    sig_dir = os.path.join(state_a, "sig")
    dead = os.path.join(sig_dir, f"{store._TMP}9")
    os.makedirs(dead)
    runs_before = sorted(n for n, _ in store.listing(spark, sig_dir, "run")[0])
    assert runs_before == ["c1", "day3"]
    assert not os.path.exists(dead)

    # crash recovery, complete tmp: originals deleted, tmp renamed in,
    # rows preserved exactly (the tmp holds the full merge)
    import numpy as np

    def sig_table(path):
        df = pd.read_parquet(path)
        df = df[[c for c in df.columns if c != "run"]]
        for c in df.columns:
            if len(df) and isinstance(df[c].iloc[0], (list, np.ndarray)):
                df[c] = df[c].map(tuple)
        return df.sort_values("doc_id").reset_index(drop=True)

    before = sig_table(sig_dir)
    runs = [d for d in os.listdir(sig_dir) if d.startswith("run=")]
    assert len(runs) == 2  # run=c1 + run=day3
    merged = store.listing(spark, sig_dir, "run")[1] | {"c1", "day3"}
    tmp = os.path.join(sig_dir, f"{store._TMP}2")
    spark.read.parquet(
        *[os.path.join(sig_dir, d) for d in runs]
    ).write.mode("overwrite").parquet(tmp)
    with open(os.path.join(tmp, store.UNITS), "w") as f:
        json.dump(sorted(merged), f)
    units, compacted = store.listing(spark, sig_dir, "run")
    assert [n for n, _ in units] == ["c2"]
    pd.testing.assert_frame_equal(before, sig_table(sig_dir))
    # day3's tag is now recorded as compacted too
    assert {"day1", "day2", "day3"} <= compacted

    # older layouts are refused before any write, the tree left byte for
    # byte as it was: a state dir compacted by the older CLI (a tag
    # manifest beside the tables, compacted dirs without unit lists), one
    # whose labels/ is the bare full table each older run replaced (or has
    # that replace's labels._tmp beside it), and a docs state with the
    # bands/ and md5/ tables the signature table's band_hashes and
    # content_md5 columns replaced
    import hashlib
    import pathlib

    def tree(root):
        return {str(p.relative_to(root)): p.is_file() and hashlib.sha256(
                    p.read_bytes()).hexdigest()
                for p in pathlib.Path(root).rglob("*")}

    bare_labels = labels(state_b)
    for name, plant, match in (
            ("state_old", "_compacted_tags.json", "_compacted_tags.json"),
            ("state_old_labels", "labels", "labels is from the older state"),
            ("state_old_labels_tmp", "labels._tmp",
             "labels is from the older state"),
            ("state_old_bands", "bands", "bands is from the older document"),
            ("state_old_md5", "md5", "md5 is from the older document")):
        state_old = str(tmp_path / name)
        shutil.copytree(state_b, state_old)
        if plant.endswith(".json"):
            with open(os.path.join(state_old, plant), "w") as f:
                json.dump({"day1": 1}, f)
        elif plant.startswith("labels"):
            # the older CLI's labels table, one bare parquet table, or the
            # tmp copy its replace staged beside the table
            if plant == "labels":
                shutil.rmtree(os.path.join(state_old, plant))
            os.makedirs(os.path.join(state_old, plant))
            bare_labels.to_parquet(
                os.path.join(state_old, plant, "part-00000.parquet"),
                index=False)
        else:
            # an older docs state's table: its units hold sig/'s layout
            shutil.copytree(os.path.join(state_old, "sig"),
                            os.path.join(state_old, plant))
        files = tree(state_old)
        for argv in (["--compact"],
                     ["--delta", paths["delta3"], "--run-tag", "day4",
                      "--out", str(tmp_path / "od")]):
            with pytest.raises(ValueError, match=match):
                ri.main(argv + ["--state-dir", state_old, "--master", "inherit"])
        assert tree(state_old) == files
        assert not os.path.exists(tmp_path / "od")


def test_cli_chained_transcript_ingest(spark, tmp_path):
    """Three transcript deltas chained through tools/run_incremental.py,
    with --compact between the 2nd and the 3rd. After each delta the label
    store's reader gives what incremental_transcript_clusters' full-table
    merge over the previous step's labels gives, one row per conversation,
    and the run's labels unit holds fewer rows than the corpus (the write
    is O(delta)). Each delta plants a copy of one corpus conversation
    under a smaller conv_id, so that cluster's label falls every step and
    stale rows sit in the store beside the current ones."""
    import os
    import sys as _sys

    import pandas as pd

    from pcompress_spark import store
    from pcompress_spark.sources.tables import transcripts_path

    REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    _sys.path.insert(0, os.path.join(REPO, "tools"))
    import run_incremental as ri

    tr = pd.read_parquet(transcripts_path(SF))
    ids = sorted(tr["conv_id"].unique())
    src = ids[0]
    corpus_ids, delta_ids = ids[:40], [ids[40 + 8 * k:48 + 8 * k] for k in range(3)]
    paths = {"corpus": str(tmp_path / "corpus.parquet")}
    tr[tr["conv_id"].isin(corpus_ids)].to_parquet(paths["corpus"], index=False)
    for k, (ds, copy_id) in enumerate(zip(delta_ids,
                                          ("zdup-1", "adup-2", "0dup-3"))):
        delta = pd.concat([tr[tr["conv_id"].isin(ds)],
                           tr[tr["conv_id"] == src].assign(conv_id=copy_id)],
                          ignore_index=True)
        paths[k] = str(tmp_path / f"delta{k}.parquet")
        delta.to_parquet(paths[k], index=False)
    state = str(tmp_path / "state")
    common = ["--mode", "transcripts", "--state-dir", state, "--master", "inherit"]
    cfg = DedupConfig(jaccard_threshold=0.3)

    def read_labels():
        df = store.read_labels(spark, os.path.join(state, "labels"), "run")
        return df.toPandas()

    assert ri.main(["--bootstrap", "--corpus", paths["corpus"]] + common) == 0
    prev = read_labels()
    seen = set(corpus_ids)
    for k in range(3):
        if k == 2:
            assert ri.main(["--compact"] + common) == 0
        out = str(tmp_path / f"out{k}")
        assert ri.main(["--delta", paths[k], "--out", out,
                        "--run-tag", f"day{k}"] + common) == 0
        want = incremental.incremental_transcript_clusters(
            None, None, cfg,
            corpus_labels=spark.createDataFrame(
                prev, "conv_id string, cluster_id string"),
            delta_sig=spark.read.parquet(f"{out}/delta_sig"),
            pairs=spark.read.parquet(f"{out}/pairs")).toPandas()
        got = read_labels()
        seen |= set(pd.read_parquet(paths[k])["conv_id"])
        assert got["conv_id"].is_unique
        assert set(got["conv_id"]) == seen
        assert (dict(zip(got["conv_id"], got["cluster_id"]))
                == dict(zip(want["conv_id"], want["cluster_id"])))
        unit = pd.read_parquet(os.path.join(state, "labels", f"run=day{k}"))
        assert 0 < len(unit) < len(corpus_ids)
        prev = want
    # the planted copies' cluster took a smaller label at every step: the
    # reader's min over stale rows gives the latest, 0dup-3
    assert dict(zip(got["conv_id"], got["cluster_id"]))[src] == "0dup-3"
    raw = pd.read_parquet(os.path.join(state, "labels"))
    assert set(raw.loc[raw["conv_id"] == src, "cluster_id"]) == {
        src, "adup-2", "0dup-3"}
