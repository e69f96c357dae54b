"""Curation operators: stratified sampling, decontamination, boilerplate
mining — determinism, invariants, and the verify-stage plan shape."""

import io
import re
from contextlib import redirect_stdout

import pytest
from pyspark.sql import functions as F

from pcompress_spark.functions import curation
from pcompress_spark.sources.tables import load_table

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return load_table(spark, SF, "documents").cache()


def test_stratified_sample_deterministic_and_rate_bound(spark, docs):
    a = curation.stratified_sample(docs, seed=7).toPandas()
    b = curation.stratified_sample(docs, seed=7).toPandas()
    assert a.sort_values("doc_id").reset_index(drop=True).equals(
        b.sort_values("doc_id").reset_index(drop=True))
    # decision table covers every document exactly once
    assert len(a) == docs.count()
    # kept is exactly the threshold predicate, per row
    assert ((a.sample_key < a.rate_per_mille) == a.kept).all()
    # empty stratum keeps nothing; unknown strata never occur here
    assert not a[a.content_class == "empty"].kept.any()
    # a different seed flips some membership (hash actually varies by seed)
    c = curation.stratified_sample(docs, seed=8).toPandas()
    merged = a.merge(c, on="doc_id", suffixes=("_a", "_c"))
    assert (merged.sample_key_a != merged.sample_key_c).any()


def test_stratified_sample_rate_accuracy(spark, docs):
    """Observed keep fraction in each populated stratum tracks its nominal
    rate (binomial tolerance at these counts)."""
    pdf = curation.stratified_sample(docs, seed=7).toPandas()
    for klass, grp in pdf.groupby("content_class"):
        rate = grp.rate_per_mille.iloc[0] / 1000
        if len(grp) >= 50:
            observed = grp.kept.mean()
            assert abs(observed - rate) < 0.2, (klass, observed, rate)


def test_stratified_sample_map_only_plan(spark, docs):
    df = curation.stratified_sample(docs, seed=7)
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    assert "Exchange" not in plan, "sampling must be map-only"
    assert ("MapInPandas" not in plan and "MapInArrow" not in plan
            and "BatchEvalPython" not in plan)


def test_decontaminate_flags_benchmark_copies(spark, docs):
    """A document byte-identical to a benchmark member must report full
    overlap; documents sharing no grams report 0."""
    is_bench = (F.col("doc_id") % 19) == 0
    bench = docs.where(is_bench)
    corpus = docs.where(~is_bench)
    rep = curation.decontaminate(corpus, bench, n=3,
                                 overlap_threshold=0.5).toPandas()
    assert len(rep) == corpus.count()
    assert ((rep.overlap_ratio >= 0.5) == rep.contaminated).all()
    assert (rep.n_overlap <= rep.n_grams).all()
    # inject an exact copy of a benchmark doc with a fresh id
    donor = bench.where(F.size(F.split(F.col("text"), " ")) >= 10).limit(1)
    clone = donor.select((F.lit(10_000_000) + F.col("doc_id")).alias("doc_id"),
                         "text")
    rep2 = curation.decontaminate(
        clone, bench.select("doc_id", "text"), n=3).toPandas()
    assert len(rep2) == 1 and bool(rep2.contaminated.iloc[0])
    assert rep2.overlap_ratio.iloc[0] == 1.0


def test_bloom_decontaminate_is_conservative_superset(spark, docs):
    """The Bloom gate can only OVER-count (false positives add, never
    subtract): per doc, bloom n_overlap >= exact n_overlap, n_grams
    identical, and every exactly-contaminated doc is bloom-contaminated."""
    is_bench = (F.col("doc_id") % 19) == 0
    bench = docs.where(is_bench)
    corpus = docs.where(~is_bench)
    exact = curation.decontaminate(
        corpus, bench, n=3, overlap_threshold=0.5).toPandas().set_index("doc_id")
    bloom = curation.decontaminate_bloom(
        corpus, bench, n=3, overlap_threshold=0.5).toPandas().set_index("doc_id")
    assert set(exact.index) == set(bloom.index)
    b = bloom.loc[exact.index]
    assert (b.n_grams == exact.n_grams).all()
    assert (b.n_overlap >= exact.n_overlap).all()
    assert (b.loc[exact.contaminated].contaminated).all()
    # at a 1 KB filter over this gram set, false positives stay rare
    assert (b.n_overlap - exact.n_overlap).sum() <= 0.05 * max(
        1, exact.n_grams.sum())


def test_neardup_decontaminate_flags_planted_copy(spark, docs):
    """An exact clone of a benchmark doc must surface with jaccard 1.0;
    every reported row is a train doc, every partner a bench doc, and
    max_jaccard clears the threshold."""
    is_bench = (F.col("doc_id") % 17) == 0
    bench = docs.where(is_bench).select("doc_id", "text")
    corpus = docs.where(~is_bench).select("doc_id", "text")
    # plant a byte-identical copy of a long benchmark doc under a fresh id
    donor = bench.where(F.length("text") >= 50).limit(1)
    clone = donor.select((F.lit(10_000_001) + F.col("doc_id")).alias("doc_id"),
                         "text")
    rep = curation.neardup_decontaminate(
        corpus.unionByName(clone), bench, threshold=0.3).toPandas()
    bench_ids = set(bench.toPandas().doc_id)
    assert set(rep.doc_id).isdisjoint(bench_ids)
    assert rep.doc_id.is_unique
    assert (rep.max_jaccard >= 0.3).all()
    assert set(rep.top_bench_id) <= bench_ids
    assert (rep.n_bench_hits >= 1).all()
    planted = rep[rep.doc_id >= 10_000_001]
    assert len(planted) == 1 and planted.max_jaccard.iloc[0] == 1.0
    donor_id = donor.toPandas().doc_id.iloc[0]
    assert planted.doc_id.iloc[0] - 10_000_001 == donor_id


def test_boilerplate_ngrams_df_counts(spark, docs):
    """df counts distinct documents (grams are distinct per doc before the
    explode), and every reported gram really occurs in >= min_df docs."""
    out = curation.boilerplate_ngrams(docs, n=3, min_df=3).toPandas()
    assert (out.df >= 3).all()
    assert len(out), "fixture corpus has duplicated docs — boilerplate must surface"
    # recount the top gram's document frequency through the same
    # normalization path (grams are distinct per doc, so rows == docs)
    from pcompress_spark.functions.text import norm_words

    gram = out.sort_values(["df", "gram"]).iloc[-1].gram
    recount = (
        docs.select("doc_id", norm_words("text").alias("words"))
        .select("doc_id", F.explode(curation.ngrams_col(3)).alias("g"))
        .where(F.col("g") == gram).count()
    )
    assert recount == int(out[out.gram == gram].df.iloc[0])


def test_verify_pairs_broadcasts_pair_list(spark, smoke_transcripts):
    """The verify stage must broadcast the bare pair list to both probe
    joins and never exchange the signature table on a single pair-end key
    (the O(corpus) array sort this architecture forbids)."""
    from pcompress_spark.config import DedupConfig
    from pcompress_spark.operators.assemble import assemble
    from pcompress_spark.operators.candidates import candidate_pairs
    from pcompress_spark.operators.signatures import compute_signatures
    from pcompress_spark.operators.verify import verify_pairs

    cfg = DedupConfig()
    sig = compute_signatures(assemble(smoke_transcripts), cfg)
    cand, _ = candidate_pairs(sig, cfg, persist_sizes=False)
    plan_buf = io.StringIO()
    with redirect_stdout(plan_buf):
        verify_pairs(sig, cand, cfg, cand_rows=100).explain("formatted")
    plan = plan_buf.getvalue()
    assert plan.count("BroadcastHashJoin") >= 2
    assert not re.search(r"hashpartitioning\(ih_[ab]#\d+L, \d+\)", plan), (
        "signature table exchanged on a single pair-end key")


def test_pack_assignments_watermark_semantics(spark, docs):
    """Every pack's exclusive-start offset is below the budget (a pack only
    closes once it crosses it), packs are contiguous in doc_id order, and
    the plan is deterministic under repartitioning."""
    budget = 300
    a = curation.pack_assignments(docs, budget=budget, n_shards=4).toPandas()
    b = (
        curation.pack_assignments(docs.repartition(7), budget=budget, n_shards=4)
        .toPandas()
    )
    cols = ["doc_id", "shard", "n_tokens", "pack_id"]
    assert a[cols].sort_values("doc_id").reset_index(drop=True).equals(
        b[cols].sort_values("doc_id").reset_index(drop=True))
    assert len(a) == docs.count()
    for shard, grp in a.sort_values("doc_id").groupby("shard"):
        cum = 0
        prev_pack = 0
        for _, r in grp.iterrows():
            assert r.pack_id == cum // budget  # watermark rule, per row
            assert r.pack_id >= prev_pack  # packs never reopen
            prev_pack = r.pack_id
            cum += r.n_tokens


def test_pack_assignments_shard_route_is_hash(spark, docs):
    pdf = curation.pack_assignments(docs, n_shards=8).toPandas()
    assert set(pdf.shard.unique()) <= set(range(8))
    # route must depend on doc_id only: same docs, different partitioning,
    # same shard (covered above); shards should be reasonably balanced
    sizes = pdf.groupby("shard").size()
    assert sizes.max() <= 4 * max(1, sizes.min())


def test_tr_neardup_decontaminate_exact_and_near_channels(spark):
    """A train conversation byte-identical to a benchmark conversation is
    flagged at jaccard 1.0 even when its exact-dup group rep is another
    TRAIN conversation (the star-rep blindspot the direct hash probe
    exists for); reported rows are train-only with bench partners."""
    from pcompress_spark.sources.tables import load_transcripts

    turns = load_transcripts(spark, SF)
    is_bench = F.expr("CAST(substring(conv_id, 6) AS BIGINT) % 17 = 0")
    bench = turns.where(is_bench)
    corpus = turns.where(~is_bench)
    # clone one bench conversation into TWO train convs whose ids sort
    # BELOW every bench id — the exact star's rep is then a train conv,
    # so star edges alone would miss the second clone
    donor_id = bench.select("conv_id").distinct().orderBy("conv_id").limit(1)
    donor = bench.join(donor_id, "conv_id")
    c1 = donor.withColumn("conv_id", F.concat(F.lit("aaaa-1-"), "conv_id"))
    c2 = donor.withColumn("conv_id", F.concat(F.lit("aaaa-2-"), "conv_id"))
    rep = curation.neardup_decontaminate_transcripts(
        corpus.unionByName(c1).unionByName(c2), bench).toPandas()
    bench_ids = set(bench.select("conv_id").distinct().toPandas().conv_id)
    assert set(rep.conv_id).isdisjoint(bench_ids)
    assert set(rep.top_bench_id) <= bench_ids
    assert rep.conv_id.is_unique and (rep.n_bench_hits >= 1).all()
    dn = donor_id.toPandas().conv_id.iloc[0]
    planted = rep[rep.conv_id.str.startswith("aaaa-")].set_index("conv_id")
    assert len(planted) == 2, "both clones must be flagged (star rep is train)"
    assert (planted.max_jaccard == 1.0).all()
    assert (planted.top_bench_id == dn).all()


def test_neardup_decontaminate_takes_corpus_sig(spark, docs):
    """Both near-dup decontamination surfaces give the same rows when the
    corpus's precomputed signature table is passed as ``corpus_sig`` as
    when they sign the corpus themselves — and with ``corpus_sig`` given
    the corpus itself is never read (an empty frame stands in for it)."""
    import pandas as pd

    from pcompress_spark.config import DedupConfig
    from pcompress_spark.functions.doc_dedup import doc_signatures
    from pcompress_spark.operators.assemble import assemble
    from pcompress_spark.operators.signatures import compute_signatures
    from pcompress_spark.sources.tables import load_transcripts

    def tidy(df):
        pdf = df.toPandas()
        return pdf.sort_values(list(pdf.columns)).reset_index(drop=True)

    is_bench = (F.col("doc_id") % 17) == 0
    bench = docs.where(is_bench).select("doc_id", "text")
    corpus = docs.where(~is_bench).select("doc_id", "text")
    clone = bench.where(F.length("text") >= 50).limit(1).select(
        (F.lit(10_000_001) + F.col("doc_id")).alias("doc_id"), "text")
    corpus = corpus.unionByName(clone)
    dcfg = DedupConfig(shingle_k=3, substring_enabled=False, jaccard_threshold=0.3)
    want = tidy(curation.neardup_decontaminate(corpus, bench, threshold=0.3))
    got = tidy(curation.neardup_decontaminate(
        corpus.limit(0), bench, threshold=0.3,
        corpus_sig=doc_signatures(corpus, dcfg)))
    assert len(want) > 0
    pd.testing.assert_frame_equal(got, want, check_exact=True)

    turns = load_transcripts(spark, SF)
    is_tb = F.expr("CAST(substring(conv_id, 6) AS BIGINT) % 17 = 0")
    tbench, tcorpus = turns.where(is_tb), turns.where(~is_tb)
    donor = tbench.join(tbench.select("conv_id").distinct().orderBy("conv_id")
                        .limit(1), "conv_id")
    tcorpus = tcorpus.unionByName(
        donor.withColumn("conv_id", F.concat(F.lit("aaaa-1-"), "conv_id")))
    want = tidy(curation.neardup_decontaminate_transcripts(tcorpus, tbench))
    got = tidy(curation.neardup_decontaminate_transcripts(
        tcorpus.limit(0), tbench,
        corpus_sig=compute_signatures(assemble(tcorpus), DedupConfig())))
    assert len(want) > 0
    pd.testing.assert_frame_equal(got, want, check_exact=True)


def test_budget_mix_weights_and_prefix_rule(spark, docs):
    """Per-source budgets follow mean-quality^alpha ordering and never
    exceed the global budget; within a source the watermark prefix rule
    holds exactly; alpha=0 degenerates to equal budgets."""
    out = curation.budget_mix(docs, token_budget=10_000, alpha=2).toPandas()
    assert len(out) == docs.count() and out.doc_id.is_unique
    per_src = out.groupby("source")
    budgets = per_src.source_budget.first()
    assert budgets.sum() <= 10_000
    mq = per_src.quality.mean()
    assert (budgets[mq.sort_values().index].is_monotonic_increasing)
    for _s, g in per_src:
        g = g.sort_values(["quality", "doc_id"], ascending=[False, True])
        cum = g.n_tokens.cumsum().shift(fill_value=0)
        assert (g.cum_before.to_numpy() == cum.to_numpy()).all()
        assert ((g.cum_before < g.source_budget) == g.kept).all()
    uni = curation.budget_mix(docs, token_budget=10_000, alpha=0).toPandas()
    assert uni.groupby("source").source_budget.first().nunique() == 1


def test_transcript_source_profile_invariants(spark):
    """Per-source counts add up: n_convs covers the union corpus, summing
    n_exact_dup equals what exact dedup would remove corpus-wide, and
    mean_quality stays in [0, 1]."""
    from pcompress_spark.operators.assemble import assemble
    from pcompress_spark.operators.turns import norm_text_col
    from pcompress_spark.sources.tables import load_transcripts_multi

    t = load_transcripts_multi(spark, SF)
    prof = curation.transcript_source_profile(t).toPandas()
    asm = assemble(t).select(
        "conv_id", F.sha2(norm_text_col(F.col("doc_text")), 256).alias("h"))
    n_convs = asm.count()
    n_dups = n_convs - asm.select("h").distinct().count()
    assert prof.n_convs.sum() == n_convs
    assert prof.n_exact_dup.sum() == n_dups
    assert prof.mean_quality.between(0, 1).all()
    assert (prof.n_turns_total > 0).all() and (prof.n_tokens_total > 0).all()
    assert len(prof) == 3  # the three fixture sources


def test_curation_semantic_stage(spark, docs):
    """The optional SemDeDup stage: earlier-stage verdicts are unchanged
    vs the base cascade, every semantic_dup doc is a semdedup non-keeper
    whose keeper_doc_id is its group's keeper, and no kept doc is a
    non-keeper."""
    from pcompress_spark.functions import similarity
    from pcompress_spark.sources.tables import load_table

    emb = load_table(spark, SF, "embeddings")
    base = curation.curate_corpus(docs, threshold=0.3).toPandas()
    sem = curation.curate_corpus(
        docs, threshold=0.3, embeddings=emb).toPandas()
    b = base.set_index("doc_id").sort_index()
    s = sem.set_index("doc_id").sort_index()
    pre = ["exact_dup", "empty", "low_quality", "unknown_lang", "near_dup"]
    early = b[b.verdict.isin(pre)]
    assert (s.loc[early.index].verdict == early.verdict).all()

    sd = s[s.verdict == "semantic_dup"]
    assert len(sd) > 0, "semantic stage must fire on the fixture corpus"
    verd = similarity.semdedup(emb, 0.4, 8, 3).toPandas()
    m = verd.set_index("vec_id")
    for did, row in sd.iterrows():
        assert not m.loc[did].keep
        g = m.loc[did].group_id
        keeper = verd[(verd.group_id == g) & verd.keep].vec_id.iloc[0]
        assert row.keeper_doc_id == keeper
    # a kept doc is never a semdedup non-keeper (it would have been
    # dropped at stage 2b before reaching the budget stage)
    kept_ids = s[s.verdict == "kept"].index
    assert m.loc[kept_ids].keep.all()


@pytest.fixture(scope="module")
def pii_docs(spark):
    rows = [
        (1, "mail me at Alice.Smith+work@Example.COM or bob@test.org thanks"),
        (2, "call 555-123-4567 or 555.987.6543 today"),
        (3, "server at 192.168.1.100 and 10.0.0.1 are up"),
        (4, "ssn is 123-45-6789 do not share"),
        (5, "plain text with no pii at all"),
        (6, ""),
        (7, "edge 999-99-9999 and 111-222-3333 and x@y.io"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"]).cache()


def test_pii_report_counts(spark, pii_docs):
    rep = curation.pii_report(pii_docs).toPandas().set_index("doc_id")
    assert rep.loc[1].n_email == 2  # case-folded before matching
    assert rep.loc[2].n_phone == 2  # dash and dot separators
    assert rep.loc[3].n_ipv4 == 2
    assert rep.loc[4].n_ssn == 1
    assert rep.loc[5].n_pii == 0 and not rep.loc[5].has_pii
    assert rep.loc[6].n_pii == 0
    # 3-2-4 is an SSN, 3-3-4 is a phone — the shapes never cross-match
    assert rep.loc[7].n_ssn == 1 and rep.loc[7].n_phone == 1
    assert rep.loc[7].n_email == 1
    assert (rep.n_pii == rep[["n_email", "n_phone", "n_ipv4", "n_ssn"]]
            .sum(axis=1)).all()
    assert ((rep.n_pii > 0) == rep.has_pii).all()


def test_pii_redact_replaces_every_match(spark, pii_docs):
    red = curation.pii_redact(pii_docs).toPandas().set_index("doc_id")
    assert red.loc[1].clean_text == (
        "mail me at <EMAIL> or <EMAIL> thanks")
    assert red.loc[2].clean_text == "call <PHONE> or <PHONE> today"
    assert red.loc[3].clean_text == "server at <IPV4> and <IPV4> are up"
    assert red.loc[4].clean_text == "ssn is <SSN> do not share"
    assert red.loc[5].clean_text == "plain text with no pii at all"
    rep = curation.pii_report(pii_docs).toPandas().set_index("doc_id")
    assert (red.n_redacted == rep.n_pii).all()
    # nothing PII-shaped survives redaction
    for pat in [p for _, p, _ in curation.PII_PATTERNS]:
        assert not red.clean_text.str.contains(pat, regex=True).any()


def test_pii_sequential_ownership_on_overlaps(spark):
    """Textually-overlapping classes must not double-count: counting is
    sequential over progressively-redacted text, so the first class in
    PII_PATTERNS owns the span and n_redacted equals the replacements
    actually performed."""
    rows = [
        (1, "reach 123-456-7890@x.co today"),  # phone-shaped email local part
        (2, "at user@1.2.3.4.co now"),         # ipv4 inside the email domain
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    rep = curation.pii_report(docs).toPandas().set_index("doc_id")
    assert rep.loc[1].n_email == 1 and rep.loc[1].n_phone == 0
    assert rep.loc[1].n_pii == 1
    assert rep.loc[2].n_email == 1 and rep.loc[2].n_ipv4 == 0
    red = curation.pii_redact(docs).toPandas().set_index("doc_id")
    assert red.loc[1].clean_text == "reach <EMAIL> today"
    assert red.loc[2].clean_text == "at <EMAIL> now"
    assert (red.n_redacted == rep.n_pii).all()


def test_pii_ops_map_only_plan(spark, pii_docs):
    for df in (curation.pii_report(pii_docs), curation.pii_redact(pii_docs)):
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        plan = buf.getvalue()
        assert "Exchange" not in plan, "PII ops must be map-only"
        assert ("MapInPandas" not in plan and "MapInArrow" not in plan
            and "BatchEvalPython" not in plan)


def test_repetition_report_known_values(spark):
    rows = [
        (1, "a b a b a b a b"),          # one 2-gram dominates
        (2, "one two three four five six seven eight"),  # all distinct
        (3, "x"),                        # no 2-grams
        (4, ""),                         # empty
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    rep = curation.repetition_report(docs).toPandas().set_index("doc_id")
    # doc 1: words=8, 2 distinct -> dup_word=0.75; 2-grams: 7 total,
    # 2 distinct ('a b' x4, 'b a' x3) -> dup=5/7; top frac 4/7
    assert rep.loc[1].n_words == 8
    assert abs(rep.loc[1].dup_word_ratio - 0.75) < 1e-9
    assert abs(rep.loc[1].dup_2gram_ratio - round(5 / 7, 6)) < 1e-9
    assert abs(rep.loc[1].top_2gram_frac - round(4 / 7, 6)) < 1e-9
    assert bool(rep.loc[1].repetitive)
    assert rep.loc[2].dup_2gram_ratio == 0.0
    assert not bool(rep.loc[2].repetitive)
    assert rep.loc[3].top_2gram_frac == 0.0
    assert rep.loc[4].n_words == 0 and rep.loc[4].top_2gram_frac == 0.0
    assert not bool(rep.loc[4].repetitive)


def test_budget_selection_prefix_sum_exact(spark, docs):
    """The distributed (bucketed) prefix sum must equal the global running
    sum over (quality DESC, doc_id), and kept must be the watermark
    predicate on it."""
    budget = 2000
    out = curation.budget_selection(docs, token_budget=budget, n_buckets=16)
    pdf = out.toPandas().sort_values(
        ["quality", "doc_id"], ascending=[False, True]
    ).reset_index(drop=True)
    assert len(pdf) == docs.count()
    expect = pdf.n_tokens.cumsum().shift(1).fillna(0).astype(int)
    assert (pdf.cum_before == expect).all()
    assert ((pdf.cum_before < budget) == pdf.kept).all()
    # kept is a prefix of the quality ordering
    kept_flags = pdf.kept.tolist()
    assert kept_flags == sorted(kept_flags, reverse=True)
    # deterministic under input repartitioning
    pdf2 = curation.budget_selection(
        docs.repartition(7), token_budget=budget, n_buckets=16
    ).toPandas().sort_values("doc_id").reset_index(drop=True)
    assert pdf.sort_values("doc_id").reset_index(drop=True).equals(pdf2)


def test_budget_selection_no_single_partition_window(spark, docs):
    plan_buf = io.StringIO()
    with redirect_stdout(plan_buf):
        curation.budget_selection(docs).explain("formatted")
    plan = plan_buf.getvalue()
    assert "SinglePartition" not in plan, (
        "global running sum must be bucket-decomposed, not one partition")


def test_repetition_report_covers_corpus(spark, docs):
    rep = curation.repetition_report(docs).toPandas()
    assert len(rep) == docs.count()
    assert ((rep.dup_word_ratio >= 0) & (rep.dup_word_ratio < 1)).all()
    assert ((rep.top_2gram_frac >= 0) & (rep.top_2gram_frac <= 1)).all()


def test_source_profile_invariants(spark, docs):
    from pcompress_spark.functions import doc_dedup

    prof = curation.source_profile(docs).toPandas()
    # one row per distinct source, corpus fully partitioned across them
    srcs = {r.source for r in docs.select("source").distinct().collect()}
    assert set(prof.source) == srcs
    assert prof.n_docs.sum() == docs.count()
    # summed per-source dups == rows exact dedup would remove
    n_kept = doc_dedup.dedup_keep_first(docs).count()
    assert prof.n_exact_dup.sum() == docs.count() - n_kept
    assert ((prof.mean_quality >= 0) & (prof.mean_quality <= 1)).all()
    assert ((prof.exact_dup_rate >= 0) & (prof.exact_dup_rate <= 1)).all()
    # the synthetic generator's n_chars column is consistent with the text
    assert prof.n_chars_mismatch.sum() == 0
    assert prof.n_chars_total.sum() > 0
    # deterministic under input repartitioning
    pdf2 = curation.source_profile(docs.repartition(7)).toPandas()
    a = prof.sort_values("source").reset_index(drop=True)
    b = pdf2.sort_values("source").reset_index(drop=True)
    assert a.equals(b)


def test_source_overlap_matches_edge_count(spark, docs):
    from pcompress_spark.functions import doc_dedup

    ov = doc_dedup.source_overlap(docs, threshold=0.3).toPandas()
    # unordered pair convention
    assert (ov.source_a <= ov.source_b).all()
    assert (ov.n_pairs > 0).all()
    # total pairs == |near ∪ star| edge set (distinct)
    near = doc_dedup.minhash_lsh_pairs(docs, threshold=0.3).select(
        "doc_id_a", "doc_id_b"
    )
    eh = doc_dedup.exact_hash(docs)
    reps = (
        eh.groupBy("content_md5")
        .agg(F.min("doc_id").alias("rep"), F.count(F.lit(1)).alias("n"))
        .where(F.col("n") > 1)
    )
    star = (
        eh.join(reps, "content_md5")
        .where(F.col("doc_id") != F.col("rep"))
        .select(F.col("rep").alias("doc_id_a"),
                F.col("doc_id").alias("doc_id_b"))
    )
    n_edges = near.unionByName(star).distinct().count()
    assert ov.n_pairs.sum() == n_edges


def test_curate_corpus_cascade_invariants(spark, docs):
    from pcompress_spark.functions import doc_dedup

    out = curation.curate_corpus(docs, threshold=0.3).toPandas()
    adm = doc_dedup.corpus_admission(docs).toPandas().set_index("doc_id")

    # exactly one verdict per input document
    assert len(out) == docs.count()
    assert out.doc_id.is_unique
    allowed = {"exact_dup", "empty", "low_quality", "unknown_lang",
               "near_dup", "repetitive", "over_budget", "kept"}
    assert set(out.verdict) <= allowed
    # admission reasons pass through verbatim
    for row in out.itertuples(index=False):
        reason = adm.at[row.doc_id, "reason"]
        if reason != "ok":
            assert row.verdict == reason
        else:
            assert row.verdict in {"near_dup", "repetitive",
                                   "over_budget", "kept"}
    # keeper set iff a dedup verdict; shard/pack set iff kept
    dedup = out.verdict.isin(["exact_dup", "near_dup"])
    assert (out.keeper_doc_id.notna() == dedup).all()
    kept = out.verdict == "kept"
    assert (out.shard.notna() == kept).all()
    assert (out.pack_id.notna() == kept).all()
    assert kept.sum() > 0
    # near-dup keepers are admitted docs with >= quality (min id on ties)
    q = out.set_index("doc_id").quality
    near = out[out.verdict == "near_dup"]
    for row in near.itertuples(index=False):
        k = int(row.keeper_doc_id)
        assert adm.at[k, "reason"] == "ok"
        assert (q[k], -k) >= (row.quality, -row.doc_id)
    # deterministic under input repartitioning
    out2 = curation.curate_corpus(docs.repartition(7), threshold=0.3).toPandas()
    a = out.sort_values("doc_id").reset_index(drop=True)
    b = out2.sort_values("doc_id").reset_index(drop=True)
    assert a.equals(b)


def test_tr_decontamination_planted_leak(spark):
    """A non-benchmark conversation that verbatim-copies a benchmark
    conversation must report full 3-gram overlap; unrelated text reports
    zero. Mirrors the tr_decontamination entry (suffix % 19 split)."""
    import __spark_entry__ as entry

    leak = "the quick brown fox jumps over the lazy dog again and again"
    rows = [
        ("conv-00000000", 0, "user", leak, None, None),      # bench (0 % 19)
        ("conv-00000001", 0, "user", leak, None, None),      # verbatim leak
        ("conv-00000002", 0, "user",
         "completely unrelated words about spark shuffles and parquet io",
         None, None),
    ]
    turns = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, "
              "tool string, ts timestamp")
    from pcompress_spark.operators.assemble import assemble
    from pyspark.sql import functions as F2

    asm = assemble(turns)
    d = asm.select(F2.col("conv_id").alias("doc_id"),
                   F2.col("doc_text").alias("text"))
    is_bench = F2.expr("CAST(substring(doc_id, 6) AS BIGINT) % 19 = 0")
    out = curation.decontaminate(
        d.where(~is_bench), d.where(is_bench), n=3, overlap_threshold=0.5
    ).toPandas().set_index("doc_id")
    assert "conv-00000000" not in out.index
    assert out.at["conv-00000001", "overlap_ratio"] == 1.0
    assert bool(out.at["conv-00000001", "contaminated"])
    assert out.at["conv-00000002", "n_overlap"] == 0
    assert not bool(out.at["conv-00000002", "contaminated"])
    # the registered query runs end-to-end on the fixture corpus
    q = entry.queries()["tr_decontamination"]
    res = q(spark, SF).toPandas()
    assert len(res) > 0 and res.conv_id.is_unique
    assert ((res.overlap_ratio >= 0.5) == res.contaminated).all()


def test_curate_transcripts_cascade_invariants(spark):
    from pcompress_spark.operators.assemble import assemble
    from pcompress_spark.sources.tables import load_transcripts

    turns = load_transcripts(spark, SF).cache()
    out = curation.curate_transcripts(turns, threshold=0.3).toPandas()
    asm = assemble(turns).select("conv_id", "doc_text").toPandas()

    # exactly one verdict per conversation, all conversations covered
    assert len(out) == len(asm)
    assert out.conv_id.is_unique
    assert set(out.conv_id) == set(asm.conv_id)
    allowed = {"exact_dup", "empty", "low_quality", "unknown_lang",
               "near_dup", "repetitive", "over_budget", "kept"}
    assert set(out.verdict) <= allowed
    kept = out.verdict == "kept"
    assert kept.sum() > 0

    # keeper set iff a dedup verdict; shard/pack set iff kept
    dedup = out.verdict.isin(["exact_dup", "near_dup"])
    assert (out.keeper_conv_id.notna() == dedup).all()
    assert (out.shard.notna() == kept).all()
    assert (out.pack_id.notna() == kept).all()

    # exact-dup keepers carry byte-identical assembled text
    text = asm.set_index("conv_id").doc_text
    exact = out[out.verdict == "exact_dup"]
    assert len(exact) > 0, "fixture corpus must contain exact dup convs"
    for row in exact.itertuples(index=False):
        assert row.keeper_conv_id != row.conv_id
        assert text[row.keeper_conv_id] == text[row.conv_id]

    # near-dup keepers are corpus members of >= quality (max-quality wins)
    qual = out.set_index("conv_id").quality
    for row in out[out.verdict == "near_dup"].itertuples(index=False):
        assert row.keeper_conv_id in qual.index
        assert qual[row.keeper_conv_id] >= row.quality

    # deterministic under input repartitioning
    out2 = curation.curate_transcripts(
        turns.repartition(7), threshold=0.3).toPandas()
    a = out.sort_values("conv_id").reset_index(drop=True)
    b = out2.sort_values("conv_id").reset_index(drop=True)
    assert a.equals(b)


def test_pii_turn_keyed_report_and_redact(spark):
    """id_cols generalization: PII ops keyed (conv_id, turn_idx) must
    report and redact per TURN — transcript scrubbing happens before
    assembly so the conversation structure survives."""
    rows = [
        ("conv-1", 0, "user", "mail me at a@b.co", None),
        ("conv-1", 1, "assistant", "noted 555-123-4567", None),
        ("conv-2", 0, "user", "all clean here", None),
    ]
    turns = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string")
    rep = curation.pii_report(
        turns, id_cols=("conv_id", "turn_idx")
    ).toPandas().set_index(["conv_id", "turn_idx"])
    assert list(rep.columns) == [
        "n_email", "n_phone", "n_ipv4", "n_ssn", "n_pii", "has_pii"]
    assert rep.loc[("conv-1", 0)].n_email == 1
    assert rep.loc[("conv-1", 1)].n_phone == 1
    assert rep.loc[("conv-2", 0)].n_pii == 0
    red = curation.pii_redact(
        turns, id_cols=("conv_id", "turn_idx")
    ).toPandas().set_index(["conv_id", "turn_idx"])
    assert red.loc[("conv-1", 0)].clean_text == "mail me at <EMAIL>"
    assert red.loc[("conv-1", 1)].clean_text == "noted <PHONE>"
    assert (red.n_redacted == rep.n_pii).all()


def test_tr_repetition_planted_loop(spark):
    """A degenerate agent loop (the same turn retried over and over) must
    come out repetitive=true after assembly; a diverse conversation must
    not. Exercises the assemble -> repetition_report composition the
    tr_repetition_report query ships."""
    from pcompress_spark.operators.assemble import assemble

    loop = [("conv-1", i, "assistant", "retry tool call now", None)
            for i in range(12)]
    ok = [("conv-2", i, "user", t, None) for i, t in enumerate(
        ["alpha beta gamma", "delta epsilon zeta", "eta theta iota kappa"])]
    turns = spark.createDataFrame(
        loop + ok,
        "conv_id string, turn_idx int, role string, text string, tool string")
    d = assemble(turns).select(
        F.col("conv_id").alias("doc_id"), F.col("doc_text").alias("text"))
    rep = curation.repetition_report(d).toPandas().set_index("doc_id")
    assert bool(rep.loc["conv-1"].repetitive)
    assert rep.loc["conv-1"].dup_3gram_ratio > 0.5
    assert not bool(rep.loc["conv-2"].repetitive)


def test_budget_ops_precomputed_token_col(spark, docs):
    """token_col: a precomputed count column must drive the budget math
    exactly — identity when the column equals the heuristic, and exact
    scaling equivalence when counts double (2c < 2B <=> c < B), for all
    three budget/packing operators."""
    ws = F.size(F.split(F.trim(F.col("text")), r"\s+")).cast("long")
    with_same = docs.withColumn("bpe_n", ws)
    with_dbl = docs.withColumn("bpe_n", (ws * 2).cast("long"))

    def rows(df):
        return df.toPandas().sort_values("doc_id").reset_index(drop=True)

    # identity: column == heuristic -> byte-identical outputs
    for default_df, col_df in (
        (curation.budget_selection(docs, 10_000),
         curation.budget_selection(with_same, 10_000, token_col="bpe_n")),
        (curation.budget_mix(docs, 10_000, alpha=2),
         curation.budget_mix(with_same, 10_000, alpha=2, token_col="bpe_n")),
        (curation.pack_assignments(docs, 2048),
         curation.pack_assignments(with_same, 2048, token_col="bpe_n")),
    ):
        assert rows(default_df).equals(rows(col_df))

    # scaling: doubled counts + doubled budget keep the same selection
    a = rows(curation.budget_selection(docs, 10_000))
    b = rows(curation.budget_selection(with_dbl, 20_000, token_col="bpe_n"))
    assert (b.n_tokens == 2 * a.n_tokens).all()
    assert (b.cum_before == 2 * a.cum_before).all()
    assert b.kept.equals(a.kept)
    # packing: floor(2c / 2B) == floor(c / B)
    pa = rows(curation.pack_assignments(docs, 2048))
    pb = rows(curation.pack_assignments(with_dbl, 4096, token_col="bpe_n"))
    assert pb.pack_id.equals(pa.pack_id)
    assert pb.shard.equals(pa.shard)


def test_pack_sql_oracle_parameterized_token_col(docs):
    """The DuckDB pack twin parameterizes the token expression the same
    way the engine parameterizes token_col: running it with a precomputed
    count column must match the engine's token_col run row-for-row."""
    import duckdb

    from pcompress_spark import oracle_queries as oq

    pdf = docs.select("doc_id", "text").toPandas()
    pdf["bpe_n"] = pdf["text"].str.strip().str.split().map(len) * 3

    con = duckdb.connect()
    con.register("documents", pdf)
    got = con.execute(
        oq.doc_pack_sql(budget=2048, n_shards=8, ntok_expr="bpe_n")
    ).df().sort_values("doc_id").reset_index(drop=True)

    spark = docs.sparkSession
    eng = (
        curation.pack_assignments(
            spark.createDataFrame(pdf), 2048, token_col="bpe_n")
        .toPandas().sort_values("doc_id").reset_index(drop=True)
    )
    assert got.astype({"shard": "int64", "pack_id": "int64"}).equals(
        eng.astype({"shard": "int64", "pack_id": "int64"}))


class TestPrecomputedHooks:
    """The external-score column hooks (quality_col / lang_col /
    signatures) must be value-identical substitutions: same cascade rules,
    scores read from columns instead of heuristics/re-shingling."""

    def test_curate_corpus_precomputed_signatures_bit_identical(
        self, spark, docs
    ):
        from pcompress_spark.config import DedupConfig
        from pcompress_spark.functions import doc_dedup

        cfg = DedupConfig(shingle_k=3, substring_enabled=False,
                          jaccard_threshold=0.3)
        inline = (
            curation.curate_corpus(docs, cfg, threshold=0.3)
            .toPandas().sort_values("doc_id").reset_index(drop=True)
        )
        sig = doc_dedup.doc_signatures(docs.select("doc_id", "text"), cfg)
        staged = (
            curation.curate_corpus(docs, cfg, threshold=0.3, signatures=sig)
            .toPandas().sort_values("doc_id").reset_index(drop=True)
        )
        assert staged.equals(inline)

    def test_budget_selection_quality_col_drives_order(self, spark, docs):
        ext = docs.withColumn(
            "extq", (F.col("doc_id") % 7).cast("double") / F.lit(6.0))
        out = curation.budget_selection(
            ext, token_budget=5_000, quality_col="extq"
        ).toPandas()
        src = ext.select("doc_id", "extq").toPandas().set_index("doc_id")
        # the emitted quality IS the external column, untouched
        assert (out.set_index("doc_id").quality
                == src.extq.loc[out.doc_id].values).all()
        # cum_before is the running token sum in (extq DESC, doc_id) order
        ordered = out.sort_values(
            ["quality", "doc_id"], ascending=[False, True]
        ).reset_index(drop=True)
        assert (ordered.cum_before
                == ordered.n_tokens.cumsum().shift(fill_value=0)).all()

    def test_budget_selection_out_of_range_scores_kept(self, spark, docs):
        """External quality scores outside [0,1] (and NULLs) clamp into
        the edge buckets instead of silently vanishing: every input doc
        must appear in the output, scores > 1.0 must sort FIRST (they are
        the best-rated docs), and NULL scores sort after every scored
        doc."""
        ext = docs.withColumn(
            "extq",
            F.when(F.col("doc_id") % 11 == 0, F.lit(2.5))      # above range
            .when(F.col("doc_id") % 11 == 1, F.lit(-0.7))      # below range
            .when(F.col("doc_id") % 11 == 2, F.lit(None).cast("double"))
            .otherwise((F.col("doc_id") % 7).cast("double") / F.lit(6.0)),
        )
        out = curation.budget_selection(
            ext, token_budget=5_000, quality_col="extq"
        ).toPandas()
        assert len(out) == docs.count()  # nothing dropped
        # above-range docs occupy the lowest cum_before positions of any
        # non-null group (they rank ahead of every in-range score)
        over = out[out.quality > 1.0]
        rest = out[out.quality <= 1.0]
        assert over.cum_before.max() < rest.cum_before.min()
        # NULL-scored docs sort after every scored doc
        nulls = out[out.quality.isna()]
        scored = out[out.quality.notna()]
        assert nulls.cum_before.min() > scored[
            scored.quality > -0.7].cum_before.max() or len(nulls) == 0
        assert len(nulls) > 0 and len(over) > 0

    def test_admission_lang_gate_off_skips_lang(self, spark, docs):
        from pcompress_spark.functions import doc_dedup

        adm = doc_dedup.corpus_admission(docs, lang_gate=False).toPandas()
        assert adm.lang_guess.isna().all()
        assert not (adm.reason == "unknown_lang").any()

    def test_admission_external_lang_and_quality_cols(self, spark, docs):
        from pcompress_spark.functions import doc_dedup

        ext = docs.withColumn(
            "extq", (F.col("doc_id") % 89).cast("double") / F.lit(88.0))
        adm = doc_dedup.corpus_admission(
            ext, quality_min=0.25, quality_col="extq", lang_col="lang"
        ).toPandas().set_index("doc_id")
        src = ext.select("doc_id", "lang", "extq").toPandas().set_index("doc_id")
        assert (adm.lang_guess == src.lang.loc[adm.index]).all()
        assert (adm.quality == src.extq.loc[adm.index]).all()
        # low_quality fires exactly on the external score
        lowq = adm[adm.reason == "low_quality"]
        assert (lowq.quality < 0.25).all()
