"""Corpus curation operators: deterministic stratified sampling, benchmark
decontamination, and boilerplate n-gram mining.

These are the selection/hygiene passes a training-data pipeline runs AFTER
dedup: downsample over-represented strata, remove documents that leak
evaluation content, and surface viral boilerplate phrases. Reference
analogs: pcompress routes content classes to different treatment
(/root/reference/adaptive_compress.c:255-335 — here: per-stratum sample
rates) and its global index deliberately drops content by deterministic
rule at capacity (/root/reference/rabin/global/index.c:539-547 — here:
hash-threshold sampling, the same "keep iff key < rate" shape as the
hot-bucket salt).

Scale notes (100 TB design point):
- stratified_sample is map-only: one JVM projection per row, no shuffle,
  no UDF. The sample decision is a pure function of (doc_id, seed), so it
  is reproducible across runs/partitionings and auditable row-by-row.
- decontamination broadcasts the benchmark gram set (eval suites are tiny
  by nature — if yours is not, it is a corpus, not a benchmark) and counts
  hits with one groupBy(doc_id): shuffle volume is bounded by matched
  grams, never the corpus text.
- boilerplate mining is explode -> hash-agg with map-side combine; the
  min_df filter happens after partial aggregation, so only frequent-gram
  partials survive the exchange.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .doc_dedup import ngrams_col
from .text import materialized_words

# per-stratum keep rates (per mille) for the judged default sample: empty
# docs carry no signal, numeric/airy classes are over-represented noise in
# web corpora, dense prose is what training wants most of
DEFAULT_RATES = {"empty": 0, "numeric": 100, "airy": 500, "dense": 800}


def stratified_sample(
    docs: DataFrame,
    rates_per_mille: dict[str, int] | None = None,
    seed: int = 7,
) -> DataFrame:
    """Deterministic per-stratum downsampling decision table:
    (doc_id, lang, content_class, rate_per_mille, sample_key, kept).

    kept <=> pmod(xxhash64(doc_id XOR seed), 1000) < rate[content_class].
    xxhash64 is JVM-native (whole-stage codegen, no Python) and the DuckDB
    oracle reproduces it bit-for-bit (oracle_sql.xxh64_long_ctes), so the
    exact membership of the sample is value-checked, not just its size.
    Unknown strata keep everything (rate 1000) — sampling must fail open,
    silently dropping a class nobody listed is a data-loss bug."""
    from .text import content_class_expr, text_features

    rates = DEFAULT_RATES if rates_per_mille is None else rates_per_mille
    rate = F.lit(1000)
    for klass, r in sorted(rates.items()):
        rate = F.when(F.col("content_class") == klass, F.lit(int(r))).otherwise(rate)
    key = F.pmod(F.xxhash64(F.col("doc_id").bitwiseXOR(F.lit(int(seed)))), F.lit(1000))
    # content_class via text_features: the rate cascade references the
    # class 4x, and the inline classifier would re-run its regex ratios
    # per reference after projection collapse (text.text_features)
    return (
        text_features(docs, "doc_id", "lang")
        .select("doc_id", "lang", content_class_expr().alias("content_class"))
        .withColumn("rate_per_mille", rate.cast("long"))
        .withColumn("sample_key", key.cast("long"))
        .withColumn("kept", F.col("sample_key") < F.col("rate_per_mille"))
    )


def decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = 3,
    overlap_threshold: float = 0.5,
) -> DataFrame:
    """Benchmark-decontamination report for every non-benchmark document:
    (doc_id, n_grams, n_overlap, overlap_ratio, contaminated).

    A document is contaminated when >= overlap_threshold of its distinct
    word n-grams appear anywhere in the benchmark suite — the standard
    n-gram-collision eval-leak test run before training. benchmark is a
    (doc_id, text) frame of the eval suite.

    Plan shape: the benchmark's distinct grams are broadcast (eval suites
    are small); each corpus doc's grams are exploded once, inner-joined
    against the broadcast set, and hit counts come back through one
    groupBy(doc_id) whose input is only the MATCHED gram rows. The corpus
    text itself is never shuffled. Documents shorter than n words have no
    grams and report ratio 0.0 (nothing to leak)."""
    grams = materialized_words(docs, "doc_id").select(
        "doc_id", ngrams_col(n).alias("grams"))
    bench_grams = (
        materialized_words(benchmark)
        .select(F.explode(ngrams_col(n)).alias("gram"))
        .distinct()
    )
    hits = (
        grams.select("doc_id", F.explode("grams").alias("gram"))
        .join(F.broadcast(bench_grams), "gram")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_overlap"))
    )
    ratio = F.when(
        F.col("n_grams") > 0, F.col("n_overlap") / F.col("n_grams")
    ).otherwise(F.lit(0.0))
    return (
        grams.select("doc_id", F.size("grams").cast("long").alias("n_grams"))
        .join(hits, "doc_id", "left")
        .withColumn("n_overlap", F.coalesce("n_overlap", F.lit(0)).cast("long"))
        .withColumn("overlap_ratio", F.round(ratio, 6))
        .withColumn(
            "contaminated", F.col("overlap_ratio") >= F.lit(float(overlap_threshold))
        )
    )


def decontaminate_bloom(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = 3,
    overlap_threshold: float = 0.5,
    m_bits: int = 1 << 16,
    k_hashes: int = 3,
) -> DataFrame:
    """``decontaminate`` through a BLOOM FILTER of the benchmark's grams —
    the scale path when the eval-suite gram set outgrows a plain
    broadcast: the filter is a fixed ``m_bits/64``-word bitmap (2^16 bits
    = 1 KB here; 2^33 bits = 1 GB covers billions of grams at ~1% false
    positives with k=3) built once from the benchmark and broadcast to a
    map-side membership probe. Same output contract as ``decontaminate``
    ((doc_id, n_grams, n_overlap, overlap_ratio, contaminated)) with
    n_overlap >= the exact count (Bloom false positives only ADD — the
    gate stays conservative: it can only over-flag, never leak).

    Determinism across engines: gram hash i = md5_60(i || ':' || gram)
    (the kmv surrogate-hash recipe — identical md5 math in Spark and
    DuckDB), bit = h % m_bits, word = bit // 64; the oracle builds the
    SAME bitmap, so even the false positives match bit-for-bit and the
    row is value-checked exactly. All JVM built-ins (md5/conv/bit_or/
    shifts) — no UDF anywhere."""
    from .kmv import md5_60
    from .text import norm_words

    def hashes(df: DataFrame, gram_col: str) -> DataFrame:
        ki = F.explode(
            F.array(*[F.lit(i) for i in range(int(k_hashes))])).alias("ki")
        h = md5_60(F.concat_ws(
            ":", F.col("ki").cast("string"), F.col(gram_col)))
        bit = h % F.lit(int(m_bits))
        return df.select("*", ki).select(
            "*",
            (bit / 64).cast("long").alias("word_idx"),
            (bit % 64).cast("int").alias("bitpos"),
        )

    bench_grams = (
        materialized_words(benchmark)
        .select(F.explode(ngrams_col(n)).alias("gram"))
        .distinct()
    )
    bloom = (
        hashes(bench_grams, "gram")
        .select("word_idx",
                F.expr("shiftleft(1L, bitpos)").alias("mask"))
        .groupBy("word_idx")
        .agg(F.expr("bit_or(mask)").alias("word"))
    )
    grams = materialized_words(docs, "doc_id").select(
        "doc_id", ngrams_col(n).alias("grams"))
    occ = grams.select(
        "doc_id", F.posexplode("grams").alias("pos", "gram"))
    probed = (
        hashes(occ, "gram")
        .join(F.broadcast(bloom), "word_idx", "left")
        .select(
            "doc_id", "pos",
            F.coalesce(
                F.expr("shiftright(word, bitpos) & 1"), F.lit(0)
            ).cast("int").alias("hit"),
        )
    )
    hits = (
        probed.groupBy("doc_id", "pos")
        .agg((F.sum("hit") == F.lit(int(k_hashes))).alias("passed"))
        .groupBy("doc_id")
        .agg(F.sum(F.col("passed").cast("long")).alias("n_overlap"))
    )
    ratio = F.when(
        F.col("n_grams") > 0, F.col("n_overlap") / F.col("n_grams")
    ).otherwise(F.lit(0.0))
    return (
        grams.select("doc_id", F.size("grams").cast("long").alias("n_grams"))
        .join(hits, "doc_id", "left")
        .withColumn("n_overlap", F.coalesce("n_overlap", F.lit(0)).cast("long"))
        .withColumn("overlap_ratio", F.round(ratio, 6))
        .withColumn(
            "contaminated",
            F.col("overlap_ratio") >= F.lit(float(overlap_threshold)),
        )
    )


def neardup_decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    threshold: float = 0.3,
    cfg=None,
    corpus_sig: DataFrame | None = None,
) -> DataFrame:
    """Near-duplicate decontamination: training documents that are a
    verified MinHash near-dup (shingle Jaccard >= threshold) of ANY
    benchmark document — the paraphrase-leak companion to
    ``decontaminate``'s exact n-gram test (a lightly rewritten eval item
    shares few exact word n-grams but keeps high shingle Jaccard).

    Returns one row per CONTAMINATED training document:
    (doc_id, n_bench_hits, max_jaccard, top_bench_id), top_bench_id being
    the (jaccard DESC, bench id ASC) arg-max partner. Clean docs are
    absent — anti-join the result against the corpus to drop leaks.

    Plan shape (the 100 TB path): rides incremental_lsh_pairs with the
    benchmark as the delta — the corpus signatures' band_hashes are probed
    with a broadcast semi-join on the benchmark's bucket keys, so per-run work
    is O(benchmark + touched buckets), never O(corpus). ``corpus_sig``:
    incremental_lsh_pairs' — the corpus's persisted doc_signatures table,
    passed exactly as the daily admission loop does; when omitted the
    corpus is signed here, O(corpus). Honest recall note: symmetric-Jaccard banding
    means a SHORT eval item embedded inside a LONG training doc can evade
    the bands — that containment case is ``decontaminate``'s (exact
    grams) and the substring channel's job; this operator targets
    whole-document near-copies of eval items.
    """
    from ..config import DedupConfig
    from .incremental import incremental_lsh_pairs

    cfg = cfg or DedupConfig(shingle_k=3, substring_enabled=False,
                             jaccard_threshold=threshold)
    pairs = incremental_lsh_pairs(docs, benchmark, cfg=cfg,
                                  threshold=threshold, corpus_sig=corpus_sig)
    return _bench_rollup(_bench_oriented(pairs, benchmark, "doc_id"), "doc_id")


def _bench_oriented(pairs: DataFrame, bench: DataFrame, id_col: str) -> DataFrame:
    """Pairs (<id_col>_a, <id_col>_b, jaccard) with >= 1 endpoint among
    the id_col values of ``bench``, oriented to (id_col, bench_id, jaccard
    rounded to 6 dp): the training end first. Bench-bench pairs (possible
    when the benchmark self-duplicates) are dropped — they are the eval
    suite's hygiene problem, not the corpus's."""
    bids = F.broadcast(bench.select(F.col(id_col).alias("bid")))

    def orient(train_col: str, bench_col: str) -> DataFrame:
        return (
            pairs.join(bids, F.col(bench_col) == F.col("bid"), "left_semi")
            .join(bids, F.col(train_col) == F.col("bid"), "left_anti")
            .select(F.col(train_col).alias(id_col),
                    F.col(bench_col).alias("bench_id"),
                    F.round("jaccard", 6).alias("jaccard"))
        )

    return orient(f"{id_col}_a", f"{id_col}_b").unionByName(
        orient(f"{id_col}_b", f"{id_col}_a"))


def _bench_rollup(hits: DataFrame, id_col: str) -> DataFrame:
    """Benchmark hits (id_col, bench_id, jaccard) -> one row per
    CONTAMINATED id: (id_col, n_bench_hits, max_jaccard, top_bench_id). A
    (train, bench) pair that surfaces more than once (identical text also
    collides in LSH) counts once, at its max jaccard; top_bench_id is the
    (jaccard DESC, bench id ASC) arg-max partner."""
    return (
        hits.groupBy(id_col, "bench_id").agg(F.max("jaccard").alias("jaccard"))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_bench_hits"),
            F.round(F.max("jaccard"), 6).alias("max_jaccard"),
            F.min(F.struct((-F.col("jaccard")).alias("nj"),
                           F.col("bench_id").alias("b"))).alias("w"),
        )
        .select(id_col, "n_bench_hits", "max_jaccard",
                F.col("w.b").alias("top_bench_id"))
    )


def neardup_decontaminate_transcripts(
    corpus_tr: DataFrame,
    benchmark_tr: DataFrame,
    cfg=None,
    corpus_sig: DataFrame | None = None,
) -> DataFrame:
    """Near-dup decontamination on the PRIMARY axis: training
    conversations that duplicate a benchmark conversation, by either
    channel — verified LSH near-dup (shingle Jaccard over the assembled
    conversation) or byte-exact content hash. Returns one row per
    CONTAMINATED training conversation:
    (conv_id, n_bench_hits, max_jaccard, top_bench_id), top_bench_id the
    (jaccard DESC, bench conv ASC) arg-max partner.

    The exact channel probes content hashes DIRECTLY (train signatures
    joined against a broadcast of the benchmark's per-hash min conv_id)
    rather than reusing the pipeline's exact star: star edges connect
    members to their group REP, so a train copy in a group whose rep is
    another train conv would never meet the bench member through the
    star. Near evidence rides incremental_transcript_pairs with the
    benchmark as the delta (O(benchmark + touched buckets) per run — the
    corpus is never re-paired). ``corpus_sig``: incremental_transcript_pairs'
    — the pipeline's persisted signatures stage table; when omitted the
    corpus is signed here, O(corpus).
    Tiny conversations below the shingle floor have no bands and are
    caught by the exact channel only — a paraphrased tiny conv is
    invisible to both, which is the documented LSH floor trade-off."""
    from ..config import DedupConfig
    from ..operators.assemble import assemble
    from ..operators.signatures import compute_signatures
    from .. import cache
    from .incremental import incremental_transcript_pairs

    cfg = cfg or DedupConfig()
    csig = (corpus_sig if corpus_sig is not None
            else cache.persist(compute_signatures(assemble(corpus_tr), cfg)))
    bsig = cache.persist(compute_signatures(assemble(benchmark_tr), cfg))
    near = incremental_transcript_pairs(
        corpus_tr, benchmark_tr, cfg, corpus_sig=csig, delta_sig=bsig
    ).where(F.col("match_kind") == "near")
    bench_hash = bsig.groupBy("content_hash").agg(
        F.min("conv_id").alias("bench_id"))
    ex = (
        csig.join(F.broadcast(bench_hash), "content_hash")
        .select("conv_id", "bench_id",
                F.lit(1.0).cast("double").alias("jaccard"))
    )
    return _bench_rollup(
        _bench_oriented(near, bsig, "conv_id").unionByName(ex), "conv_id")


def bench_probe_index(benchmark_sig: DataFrame, cfg=None):
    """Static probe-side assets for the conv-x-benchmark near-dup gate:
    -> (buckets, bench_sig, bench_md5). ``buckets`` is the benchmark's
    banded LSH index capped on BENCH membership alone (the shared
    salted/capped ``bucket_members`` with min_size=1 — a single-member
    bucket is still a probe target); ``bench_md5`` maps each benchmark
    content hash to its min conv_id (the exact channel). Build ONCE per
    benchmark suite, then probe any number of corpora/batches against it
    — the index never changes, which is what makes the streaming gate's
    per-batch verdicts equal the batch run's verdicts row for row
    (contamination is a property of conv x benchmark, independent of the
    rest of the corpus — unlike the corpus-capped pair semantics of
    neardup_decontaminate_transcripts)."""
    from ..config import DedupConfig
    from ..operators.candidates import band_explode, bucket_members

    cfg = cfg or DedupConfig()
    banded = band_explode(benchmark_sig, cfg)
    buckets, _stats = bucket_members(
        banded, cfg, min_size=1, persist_sizes=False)
    md5 = benchmark_sig.groupBy("content_hash").agg(
        F.min("conv_id").alias("bench_id"))
    return buckets, benchmark_sig, md5


def probe_bench_neardup(
    sig: DataFrame,
    bench_buckets: DataFrame,
    bench_sig: DataFrame,
    bench_md5: DataFrame,
    cfg=None,
    threshold: float | None = None,
) -> DataFrame:
    """Probe a corpus (or micro-batch) signature table against a static
    benchmark probe index (bench_probe_index): one row per CONTAMINATED
    conversation — (conv_id, n_bench_hits, max_jaccard, top_bench_id),
    same rollup contract as neardup_decontaminate_transcripts. Channels:
    near = band collision against the capped bench buckets, verified by
    exact shingle Jaccard at the rounded threshold (no est-Jaccard
    prefilter — the probe set is benchmark-bounded, so the prefilter's
    recall/cost trade is not worth taking here); exact = content-hash hit
    against the bench md5 index (catches below-shingle-floor convs the
    bands never see). A pair surfacing through both channels collapses
    to its max jaccard.

    Plan shape: the bench index is BROADCAST (eval suites are small);
    candidate pairs are benchmark-bounded, so the verify is the shared
    double-broadcast verify.jaccard_pairs, with the corpus table probed
    for one pair end and the bench table for the other — the corpus
    signature table is scanned, never exchanged on a pair-end key."""
    from ..config import DedupConfig
    from ..operators.candidates import band_explode
    from ..operators.verify import jaccard_pairs

    cfg = cfg or DedupConfig()
    threshold = cfg.jaccard_threshold if threshold is None else threshold
    cand = (
        band_explode(sig, cfg)
        .join(F.broadcast(bench_buckets), ["band_idx", "band_hash"])
        .select(F.col("id_hash").alias("ih_c"), F.explode("ids").alias("ih_b"))
        .where(F.col("ih_c") != F.col("ih_b"))
        .distinct()
    )
    near = jaccard_pairs(cand, sig, bench_sig, "id_hash", threshold,
                         pair=("ih_c", "ih_b"), carry=("conv_id",)).select(
        F.col("conv_id_a").alias("conv_id"),
        F.col("conv_id_b").alias("bench_id"), "jaccard")
    ex = (
        sig.join(F.broadcast(bench_md5), "content_hash")
        .where(F.col("conv_id") != F.col("bench_id"))
        .select("conv_id", "bench_id",
                F.lit(1.0).cast("double").alias("jaccard"))
    )
    return _bench_rollup(near.unionByName(ex), "conv_id")


def boilerplate_ngrams(docs: DataFrame, n: int = 3, min_df: int = 5) -> DataFrame:
    """Word n-grams appearing in >= min_df distinct documents, with their
    document frequency: (gram, df). The frequency-analysis half of
    boilerplate removal — navigation chrome, license headers, and viral
    spans surface here long before they are frequent enough to matter to
    pairwise dedup. Distinct-per-doc explode -> hash agg with map-side
    partial combine; the df >= min_df filter keeps the result set tiny.
    No top-k LIMIT: a count cutoff is deterministic under any row order,
    a rank boundary is not."""
    return (
        materialized_words(docs, "doc_id")
        .select("doc_id", F.explode(ngrams_col(n)).alias("gram"))
        .groupBy("gram")
        .agg(F.count(F.lit(1)).cast("long").alias("df"))
        .where(F.col("df") >= int(min_df))
    )


# PII classes as (name, pattern, redaction token). Patterns are the
# conservative ASCII shapes both regex engines (Java in Spark, RE2 in the
# DuckDB oracle) parse identically: \b, \d, {m,n} quantifiers, char classes
# only — no lookaround, no unicode classes. Matching runs over LOWERCASED
# text so the two engines never disagree on case folding.
PII_PATTERNS = [
    ("email", r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}", "<EMAIL>"),
    ("phone", r"\b\d{3}[-.]\d{3}[-.]\d{4}\b", "<PHONE>"),
    ("ipv4", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IPV4>"),
    ("ssn", r"\b\d{3}-\d{2}-\d{4}\b", "<SSN>"),
]


def _pii_progressive(lower: Column) -> tuple[dict[str, Column], Column]:
    """(per-class count columns, fully-redacted text) computed
    SEQUENTIALLY: each class is counted on the text with all EARLIER
    classes already replaced by their tokens, then replaced itself. The
    classes are therefore counted over DISJOINT spans even when patterns
    overlap textually (an email whose local part is phone-shaped, an IPv4
    inside an email domain): whichever class comes first in PII_PATTERNS
    owns the span, sum(counts) == number of replacements performed, and
    has_pii/n_redacted can never disagree with the redacted output.
    Non-overlapping match semantics are identical in Java regexp_count and
    RE2 regexp_extract_all (the DuckDB twin)."""
    counts: dict[str, Column] = {}
    red = lower
    for name, pat, token in PII_PATTERNS:
        counts[name] = F.regexp_count(red, F.lit(pat)).cast("long")
        red = F.regexp_replace(red, pat, token)
    return counts, red


def pii_report(
    docs: DataFrame,
    text_col: str = "text",
    id_cols: tuple[str, ...] = ("doc_id",),
) -> DataFrame:
    """Per-row PII census: (*id_cols, n_email, n_phone, n_ipv4, n_ssn,
    n_pii, has_pii) — the scrub-before-training audit pass. Counting is
    sequential over progressively-redacted text (_pii_progressive), so a
    span never double-counts across classes and n_pii is exactly the
    number of replacements pii_redact would perform. Reference analog: the
    type-specific content detectors that route payloads to special
    handling (/root/reference/filters/analyzer/analyzer.c:33-98).

    id_cols names the row key: ("doc_id",) for documents, ("conv_id",
    "turn_idx") for turn-granular transcript scans — PII scrubbing of
    agent transcripts has to happen per turn, before assembly, so the
    redacted corpus keeps its conversation structure.

    Scale: map-only JVM projection, whole-stage codegen, no shuffle, no
    Python — runs at scan speed on any corpus size."""
    counts, _ = _pii_progressive(F.lower(F.col(text_col)))
    total = None
    for c in counts.values():
        total = c if total is None else total + c
    return docs.select(
        *id_cols,
        *[counts[name].alias(f"n_{name}") for name, _, _ in PII_PATTERNS],
        total.alias("n_pii"),
        (total > 0).alias("has_pii"),
    )


def pii_redact(
    docs: DataFrame,
    text_col: str = "text",
    id_cols: tuple[str, ...] = ("doc_id",),
) -> DataFrame:
    """Redacted corpus view: (*id_cols, clean_text, n_redacted) with every
    PII match replaced by its class token (<EMAIL>, <PHONE>, <IPV4>,
    <SSN>), applied in the fixed PII_PATTERNS order over lowercased text.
    Tokens contain no digits or '@', so a replacement can never create a
    match for a later pattern; n_redacted counts sequentially
    (_pii_progressive) and equals the replacements actually performed.
    Map-only, no shuffle — the redacted view costs one projection over
    the scan."""
    counts, red = _pii_progressive(F.lower(F.col(text_col)))
    n = None
    for c in counts.values():
        n = c if n is None else n + c
    return docs.select(
        *id_cols, red.alias("clean_text"), n.alias("n_redacted")
    )


def _all_ngrams_expr(n: int) -> F.Column:
    """NON-distinct word n-gram array over a `words` column (0-based Spark
    indexing) — repetition scoring needs occurrence counts, so this is the
    multiset sibling of doc_dedup.ngrams_col (which deduplicates)."""
    return F.expr(
        f"CASE WHEN size(words) >= {n} THEN "
        f"transform(sequence(0, size(words) - {n}), "
        f"i -> concat_ws(' ', {', '.join(f'words[i + {j}]' for j in range(n))})) "
        f"ELSE array() END"
    )


def repetition_report(
    docs: DataFrame,
    top_frac_max: float = 0.2,
    dup_ratio_max: float = 0.3,
) -> DataFrame:
    """Gopher-style intra-document repetition signals: (doc_id, n_words,
    dup_word_ratio, dup_2gram_ratio, dup_3gram_ratio, top_2gram_frac,
    repetitive).

    - dup_{word,2gram,3gram}_ratio = 1 - distinct/total occurrences (the
      'fraction of duplicate n-grams' family) — computed with
      size(array_distinct(.))/size(.), map-only.
    - top_2gram_frac = occurrences of the document's most frequent 2-gram
      / total 2-grams (the 'most frequent n-gram' family, counted in
      occurrences rather than characters).
    - repetitive = top_2gram_frac > top_frac_max OR dup_3gram_ratio >
      dup_ratio_max — the keep/drop verdict a quality filter consumes.

    Plan shape: the ratio columns are one JVM projection; only the
    per-document mode needs an aggregation, and its shuffle key is
    (doc_id, gram) — high cardinality, skew-free by construction (a key
    never spans documents), with map-side partial combine. The join back
    is doc_id-keyed and AQE-broadcastable when the repetitive tail is
    small. Reference analog: the dedup-gain early-abort that measures how
    self-similar a chunk is before committing to the expensive path
    (/root/reference/rabin/rabin_dedup.c:1250-1257)."""
    # Both projection layers sit behind Generate barriers (see
    # text.materialized_words — the 487 s vs 6 s collapse-inlining
    # hazard): the words layer so the gram transforms index a
    # materialized array, and the grams layer because g2/g3 each fan out
    # to size/array_distinct/explode consumers.
    from .text import materialized_words

    base = materialized_words(docs, "doc_id").select(
        "doc_id",
        F.explode(F.array(F.struct(
            F.col("words").alias("w"),
            _all_ngrams_expr(2).alias("g2"),
            _all_ngrams_expr(3).alias("g3"),
        ))).alias("b"),
    ).select(
        "doc_id",
        F.col("b.w").alias("words"),
        F.col("b.g2").alias("g2"),
        F.col("b.g3").alias("g3"),
    )

    def dup_ratio(col: str) -> F.Column:
        n = F.size(F.col(col))
        return F.round(
            F.when(
                n > 0,
                1.0 - F.size(F.array_distinct(F.col(col))).cast("double") / n,
            ).otherwise(F.lit(0.0)),
            6,
        )

    stats = base.select(
        "doc_id",
        F.size("words").cast("long").alias("n_words"),
        F.size("g2").cast("long").alias("n_2grams"),
        dup_ratio("words").alias("dup_word_ratio"),
        dup_ratio("g2").alias("dup_2gram_ratio"),
        dup_ratio("g3").alias("dup_3gram_ratio"),
    )
    top = (
        base.select("doc_id", F.explode("g2").alias("gram"))
        .groupBy("doc_id", "gram")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .groupBy("doc_id")
        .agg(F.max("cnt").cast("long").alias("top2_n"))
    )
    frac = F.when(
        F.col("n_2grams") > 0,
        F.coalesce(F.col("top2_n"), F.lit(0)).cast("double") / F.col("n_2grams"),
    ).otherwise(F.lit(0.0))
    return (
        stats.join(top, "doc_id", "left")
        .withColumn("top_2gram_frac", F.round(frac, 6))
        .withColumn(
            "repetitive",
            (F.col("top_2gram_frac") > F.lit(float(top_frac_max)))
            | (F.col("dup_3gram_ratio") > F.lit(float(dup_ratio_max))),
        )
        .select(
            "doc_id", "n_words", "dup_word_ratio", "dup_2gram_ratio",
            "dup_3gram_ratio", "top_2gram_frac", "repetitive",
        )
    )


def _ntok_col(token_col: str | None):
    """Token-count expression for the budget/packing operators: the
    whitespace-split heuristic by default, or a caller-provided
    PRECOMPUTED count column (``token_col``) — the hook that lets real
    BPE counts (computed upstream by a tokenizer job, e.g. a
    ``mapInPandas`` pass over a shipped vocab) drive budget math without
    this engine bundling a vocabulary. All downstream arithmetic is
    integer-exact either way."""
    if token_col is not None:
        return F.col(token_col).cast("long")
    return F.size(F.split(F.trim(F.col("text")), r"\s+")).cast("long")


def budget_selection(
    docs: DataFrame, token_budget: int = 10_000, n_buckets: int = 16,
    token_col: str | None = None, quality_col: str | None = None,
) -> DataFrame:
    """Greedy token-budget corpus selection: order documents by
    (quality DESC, doc_id ASC) and keep the prefix whose preceding token
    sum is under the budget (watermark semantics, matching
    pack_assignments — the last kept document may overrun). Emits
    (doc_id, quality, n_tokens, cum_before, kept).

    The global running sum is a DISTRIBUTED prefix sum, never a
    single-partition window: quality (a bounded [0,1] score) is bucketed
    by the deterministic rule bucket = min(n_buckets-1,
    floor((1-quality) * n_buckets)) — monotone in the sort order, a pure
    per-row function, so no sampled range boundaries and no persist is
    needed for determinism. Within a bucket the running sum is a
    partition-local window; across buckets the per-bucket totals (a
    n_buckets-row driver collect, like the IVF anchors) become broadcast
    offsets. Skew bound: a bucket holds only documents in one quality
    1/n_buckets-ile — raise n_buckets if the score distribution
    concentrates. Reference analog: the memory-budgeted index that admits
    content only while under its limit
    (/root/reference/rabin/global/index.c:119-215).

    ``token_col``: name of a precomputed token-count column to use in
    place of the whitespace heuristic (see _ntok_col) — pass real BPE
    counts here when budgets must be model-accurate. ``quality_col``:
    same hook for the ordering score — a precomputed model-quality
    column replaces the heuristic, so external scorers drive selection
    order. Scores are expected in [0,1]; out-of-range scores clamp into
    the edge buckets (above 1.0 -> the top-quality bucket, below 0 ->
    the bottom), and NULL scores land in the bottom bucket after every
    scored document — every input doc appears in the output either
    way."""
    from pyspark.sql import Window

    from .. import cache
    from .text import quality_expr, text_features

    ntok = _ntok_col(token_col)
    # clamp BOTH quality edges: without the greatest(), an external score
    # > 1.0 floor-maps to a NEGATIVE bucket and the inner join against the
    # driver-built offsets frame (buckets 0..n_buckets-1) silently drops
    # the document — the highest-scored docs would vanish from the output
    # instead of being kept first. In-range scores are untouched. NULL
    # scores land in the bottom bucket (least/greatest skip nulls) and
    # sort after every scored doc — deterministic, never dropped.
    bucket = F.greatest(F.lit(0), F.least(
        F.lit(int(n_buckets) - 1),
        F.floor((F.lit(1.0) - F.col("quality")) * F.lit(int(n_buckets))),
    )).cast("long")
    # heuristic path rides text_features (quality referenced by the bucket
    # rule AND the output — inline it would re-split per reference); base
    # is persisted because it feeds BOTH the per-bucket totals collect and
    # the window — without it the scan+score runs twice
    if quality_col is not None:
        base = docs.select(
            "doc_id", F.col(quality_col).cast("double").alias("quality"),
            ntok.alias("n_tokens"))
    else:
        base = text_features(docs, "doc_id", ntok.alias("n_tokens")).select(
            "doc_id", quality_expr().alias("quality"), "n_tokens")
    base = cache.persist(base.withColumn("qbucket", bucket))
    w = (
        Window.partitionBy("qbucket")
        .orderBy(F.col("quality").desc(), F.col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    local = base.withColumn("cum_incl", F.sum("n_tokens").over(w))
    totals = {
        r["qbucket"]: r["total"]
        for r in base.groupBy("qbucket")
        .agg(F.sum("n_tokens").alias("total"))
        .collect()
    }
    offsets, acc = [], 0
    for b in range(int(n_buckets)):
        offsets.append((b, acc))
        acc += int(totals.get(b, 0))
    off_df = docs.sparkSession.createDataFrame(
        offsets, ["qbucket", "bucket_offset"]
    )
    cum_before = (
        F.col("bucket_offset") + F.col("cum_incl") - F.col("n_tokens")
    ).cast("long")
    return (
        local.join(F.broadcast(off_df), "qbucket")
        .select(
            "doc_id",
            "quality",
            "n_tokens",
            cum_before.alias("cum_before"),
            (cum_before < F.lit(int(token_budget))).alias("kept"),
        )
    )


def budget_mix(
    docs: DataFrame,
    token_budget: int = 10_000,
    alpha: int = 2,
    n_buckets: int = 16,
    token_col: str | None = None,
    quality_col: str | None = None,
) -> DataFrame:
    """Data MIXING: split one global token budget across sources by
    quality weight, then greedy-select within each source — the
    mixture-weighting step a multi-corpus training ingest runs after
    per-source profiling (the deterministic skeleton of
    temperature-weighted sampling: weight w_s = mean_quality_s^alpha,
    alpha=0 uniform, larger alpha concentrates budget on cleaner
    sources). Emits one row per doc:
    (doc_id, source, quality, n_tokens, source_budget, cum_before, kept).

    Determinism across engines (every step integer-exact or
    bit-reproducible): mean quality is the source_profile recipe
    (decimal-exact sum / count, 6dp double); alpha is an INTEGER
    exponent computed by chained multiplication (identical IEEE ops in
    Spark and DuckDB — pow() ulp drift would flip floor() at
    boundaries); weights are scaled to integer micro-units
    (floor(w*1e6 + 0.5)); source budgets are INTEGER arithmetic
    token_budget * W_s // sum(W) (arbitrary-precision driver ints /
    HUGEINT in the twin). Within a source the watermark rule is
    budget_selection's: kept = cum_before < source_budget over
    (quality DESC, doc_id) order.

    Scale shape: two driver collects of source-bounded rows (n_sources
    weights; n_sources x n_buckets prefix offsets — the IVF-anchor-class
    traffic); the per-source running sum is the same bucketed
    DISTRIBUTED prefix sum as budget_selection, windows keyed
    (source, qbucket) — never a per-source single partition.

    ``token_col`` / ``quality_col``: precomputed-column hooks, same
    contract as budget_selection."""
    from pyspark.sql import Window

    from .. import cache
    from .text import quality_expr, text_features

    alpha = int(alpha)
    if alpha < 0:
        raise ValueError("alpha must be a non-negative integer")
    ntok = _ntok_col(token_col)
    # both quality edges clamped — see budget_selection's bucket rule
    bucket = F.greatest(F.lit(0), F.least(
        F.lit(int(n_buckets) - 1),
        F.floor((F.lit(1.0) - F.col("quality")) * F.lit(int(n_buckets))),
    )).cast("long")
    # same shape as budget_selection: heuristic scores via text_features,
    # and base persisted — it feeds THREE consumers (source-weight collect,
    # per-bucket totals collect, the window)
    if quality_col is not None:
        base = docs.select(
            "doc_id", "source",
            F.col(quality_col).cast("double").alias("quality"),
            ntok.alias("n_tokens"))
    else:
        base = text_features(
            docs, "doc_id", "source", ntok.alias("n_tokens")
        ).select("doc_id", "source", quality_expr().alias("quality"),
                 "n_tokens")
    base = cache.persist(base.withColumn("qbucket", bucket))

    srcq = base.groupBy("source").agg(
        F.round(
            F.sum(F.col("quality").cast("decimal(18,6)")).cast("double")
            / F.count(F.lit(1)), 6,
        ).alias("mq")
    )
    wts = {}
    for r in srcq.collect():
        w = 1.0
        for _ in range(alpha):
            w *= r["mq"]
        wts[r["source"]] = int(w * 1_000_000 + 0.5)
    tw = sum(wts.values())
    bud_rows = [
        (s, (int(token_budget) * w_) // tw if tw > 0 else 0)
        for s, w_ in sorted(wts.items())
    ]
    bud_df = docs.sparkSession.createDataFrame(
        bud_rows, "source string, source_budget long")

    w = (
        Window.partitionBy("source", "qbucket")
        .orderBy(F.col("quality").desc(), F.col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    local = base.withColumn("cum_incl", F.sum("n_tokens").over(w))
    totals = {
        (r["source"], r["qbucket"]): r["total"]
        for r in base.groupBy("source", "qbucket")
        .agg(F.sum("n_tokens").alias("total"))
        .collect()
    }
    offsets = []
    for s in sorted(wts):
        acc = 0
        for b in range(int(n_buckets)):
            offsets.append((s, b, acc))
            acc += int(totals.get((s, b), 0))
    off_df = docs.sparkSession.createDataFrame(
        offsets, "source string, qbucket long, bucket_offset long")
    cum_before = (
        F.col("bucket_offset") + F.col("cum_incl") - F.col("n_tokens")
    ).cast("long")
    return (
        local.join(F.broadcast(off_df), ["source", "qbucket"])
        .join(F.broadcast(bud_df), "source")
        .select(
            "doc_id", "source", "quality", "n_tokens", "source_budget",
            cum_before.alias("cum_before"),
            (cum_before < F.col("source_budget")).alias("kept"),
        )
    )


def budget_mix_transcripts(
    turns: DataFrame,
    token_budget: int = 10_000,
    alpha: int = 2,
    n_buckets: int = 16,
) -> DataFrame:
    """budget_mix on the PRIMARY axis: split a conversation token budget
    across a multi-source corpus (load_transcripts_multi's ``source``
    column) by per-source mean quality^alpha, then watermark-select
    within each source. Assemble under stable turn order, key by the
    md5_60 surrogate (the curate_transcripts mapping — 8-byte shuffle
    keys), run the document mixer verbatim, map conv_ids back via one
    id-keyed join. One row per conversation:
    (conv_id, source, quality, n_tokens, source_budget, cum_before,
    kept)."""
    from .. import cache
    from ..operators.assemble import assemble
    from .kmv import md5_60

    tdocs = cache.persist(
        assemble(turns)
        .join(turns.select("conv_id", "source").distinct(), "conv_id")
        .select(md5_60(F.col("conv_id")).alias("doc_id"), "conv_id",
                "source", F.col("doc_text").alias("text"))
    )
    out = budget_mix(tdocs.select("doc_id", "source", "text"),
                     token_budget, alpha, n_buckets)
    return (
        out.join(tdocs.select("doc_id", "conv_id"), "doc_id")
        .select("conv_id", "source", "quality", "n_tokens",
                "source_budget", "cum_before", "kept")
    )


def pack_assignments(
    docs: DataFrame, budget: int = 2048, n_shards: int = 8,
    token_col: str | None = None,
) -> DataFrame:
    """Deterministic sequence-packing plan for training-shard assembly:
    (doc_id, shard, n_tokens, pack_id).

    Documents are routed to a shard by pmod(xxhash64(doc_id), n_shards)
    (JVM-native, reproducible across runs/partitionings — the same
    hash-route shape as stratified_sample) and packed greedily in doc_id
    order within the shard under a token budget with WATERMARK semantics:
    pack_id = floor(preceding_shard_tokens / budget), i.e. a pack keeps
    accepting documents until its cumulative token count crosses the
    budget, then closes — a document never splits, so a pack may overrun
    by at most one document (the rule training-data packers actually use
    when sequences must stay whole). The whole plan is two window
    functions over one exchange, deterministic under any input order.

    Scale (100 TB design point): the only shuffle is hash-partitioning by
    shard; the in-shard ordering is a per-partition sort, so n_shards is
    the parallelism knob — set it >> executor count and each sort stays
    partition-bounded. No UDF, whole-stage codegen end to end. Reference
    analog: the archive member sort that packs similar members into
    fixed-size segments before compression
    (/root/reference/archive/pc_archive.c:378-423, 642-700).

    ``token_col``: precomputed token-count column override (_ntok_col) —
    real BPE counts make the packs model-accurate.
    """
    from pyspark.sql import Window

    ntok = _ntok_col(token_col)
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        docs.select(
            "doc_id",
            F.pmod(F.xxhash64("doc_id"), F.lit(int(n_shards))).cast("long").alias("shard"),
            ntok.alias("n_tokens"),
        )
        .withColumn(
            "pack_id",
            F.floor(
                F.coalesce(F.sum("n_tokens").over(w), F.lit(0)) / F.lit(int(budget))
            ).cast("long"),
        )
    )


def source_profile(docs: DataFrame) -> DataFrame:
    """Per-source ingest profile — the first table a curation run looks at
    when deciding which corpora to keep: document count, stored-metadata
    consistency (does the upstream ``n_chars`` column match the text?),
    exact-duplicate rate within the corpus, and mean quality. One row per
    source: (source, n_docs, n_chars_total, n_chars_mismatch,
    n_exact_dup, exact_dup_rate, mean_quality).

    Exact-dup convention matches dedup_keep_first: a document counts as a
    duplicate when it is NOT the min doc_id of its content-md5 group (the
    group representative is not a duplicate), so summing n_exact_dup
    across sources gives exactly the rows exact dedup would remove.

    Determinism: mean_quality sums the per-doc 6dp-rounded quality as
    decimal(18,6) (exact, order-independent) before the single double
    division; both ratios round 6dp. Scale shape: one md5 hash aggregation
    (the exact-dedup shuffle — partial-agg combine, so a viral identical
    doc contributes one group) re-joined on content_md5 (AQE can split the
    skewed join; a window over the md5 partition could not be split) + one
    |sources|-group aggregate — the text column is scanned once, all
    expressions JVM built-ins.
    """
    from .text import quality_expr, text_features

    # quality via text_features (normalize+split once per row — see
    # text.text_features); md5/length ride the passthrough columns
    per_doc = text_features(
        docs,
        "doc_id",
        "source",
        F.col("n_chars").cast("long").alias("n_chars"),
        (F.length("text").cast("long") != F.col("n_chars").cast("long"))
        .cast("int").alias("chars_mismatch"),
        F.md5("text").alias("content_md5"),
    ).select(
        "doc_id",
        "source",
        "n_chars",
        "chars_mismatch",
        quality_expr().cast("decimal(18,6)").alias("quality"),
        "content_md5",
    )
    reps = per_doc.groupBy("content_md5").agg(
        F.min("doc_id").alias("rep_doc_id")
    )
    flagged = per_doc.join(reps, "content_md5").withColumn(
        "is_dup", (F.col("doc_id") != F.col("rep_doc_id")).cast("int")
    )
    n_docs = F.count(F.lit(1))
    return (
        flagged.groupBy("source")
        .agg(
            n_docs.cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("n_chars_total"),
            F.sum("chars_mismatch").cast("long").alias("n_chars_mismatch"),
            F.sum("is_dup").cast("long").alias("n_exact_dup"),
            F.round(F.sum("is_dup").cast("double") / n_docs, 6)
            .alias("exact_dup_rate"),
            F.round(F.sum("quality").cast("double") / n_docs, 6)
            .alias("mean_quality"),
        )
    )


def transcript_source_profile(turns: DataFrame) -> DataFrame:
    """Per-source conversation profile over a multi-source corpus — the
    primary-axis twin of ``source_profile``, the first table a transcript
    ingest looks at when deciding which crawls to keep. One row per
    source: (source, n_convs, n_turns_total, n_tokens_total, n_exact_dup,
    exact_dup_rate, mean_quality) over ASSEMBLED conversations.

    Exact-dup identity is the transcript convention — sha256 of the
    NORMALIZED assembled text (the same key the pipeline's exact channel
    and tr_provenance_dedup use), counted corpus-wide: a conversation is
    a duplicate when it is not its content group's min conv_id, so the
    per-source counts sum to exactly what exact dedup would remove from
    the union. mean_quality is the decimal-exact recipe over assembled
    text. Same plan shape as the doc twin: one content-hash aggregation
    re-joined on the hash + one |sources|-group aggregate."""
    from ..operators.assemble import assemble
    from ..operators.turns import norm_text_col
    from .text import quality_expr, text_features

    asm = assemble(turns).join(
        turns.select("conv_id", "source").distinct(), "conv_id")
    per_conv = text_features(
        asm,
        "conv_id", "source",
        F.col("n_turns").cast("long").alias("n_turns"),
        F.size(F.split(F.trim("doc_text"), r"\s+")).cast("long")
        .alias("n_tokens"),
        F.sha2(norm_text_col(F.col("doc_text")), 256).alias("chash"),
        text_col="doc_text",
    ).select(
        "conv_id", "source", "n_turns", "n_tokens",
        quality_expr().cast("decimal(18,6)").alias("quality"),
        "chash",
    )
    reps = per_conv.groupBy("chash").agg(F.min("conv_id").alias("rep"))
    flagged = per_conv.join(reps, "chash").withColumn(
        "is_dup", (F.col("conv_id") != F.col("rep")).cast("int"))
    n = F.count(F.lit(1))
    return (
        flagged.groupBy("source")
        .agg(
            n.cast("long").alias("n_convs"),
            F.sum("n_turns").cast("long").alias("n_turns_total"),
            F.sum("n_tokens").cast("long").alias("n_tokens_total"),
            F.sum("is_dup").cast("long").alias("n_exact_dup"),
            F.round(F.sum("is_dup").cast("double") / n, 6)
            .alias("exact_dup_rate"),
            F.round(F.sum("quality").cast("double") / n, 6)
            .alias("mean_quality"),
        )
    )


def curate_corpus(
    docs: DataFrame,
    cfg=None,
    quality_min: float = 0.25,
    threshold: float = 0.3,
    top_frac_max: float = 0.2,
    dup_ratio_max: float = 0.3,
    token_budget: int = 10_000,
    n_buckets: int = 16,
    pack_budget: int = 2048,
    n_shards: int = 8,
    lang_gate: bool = True,
    embeddings: DataFrame | None = None,
    sem_threshold: float = 0.4,
    sem_clusters: int = 8,
    sem_iters: int = 3,
    quality_col: str | None = None,
    lang_col: str | None = None,
    stage_seconds: dict | None = None,
    signatures: DataFrame | None = None,
) -> DataFrame:
    """End-to-end corpus curation verdict — the ONE table a training-data
    ingest ships, composing the individually-oracled stages into a
    first-match-wins cascade over every input document:

      1. admission   exact_dup / empty / low_quality / unknown_lang
                     (doc_dedup.corpus_admission)
      2. near_dup    MinHash-LSH + exact-star clusters over admitted docs;
                     per cluster keep the max-quality member (min doc_id on
                     ties — the dedup_keep_best policy), drop the rest
      2b. semantic_dup (only when ``embeddings`` is given: a (vec_id ==
                     doc_id, embedding) frame) — SemDeDup verdicts from
                     similarity.semdedup over the FULL embedding table
                     (cluster structure is an embedding-space property,
                     independent of the text-level filters), applied to
                     the docs still alive after the near stage: a
                     non-keeper is dropped in favor of its group's keeper
      3. repetitive  Gopher-style intra-doc repetition filter
                     (repetition_report verdict)
      4. over_budget quality-ordered greedy token-budget selection
                     (budget_selection: kept = cum_before < token_budget)
      5. kept        packed into training shards (pack_assignments:
                     xxhash64 shard route + watermark packing)

    One row per input doc: (doc_id, verdict, keeper_doc_id, quality,
    n_tokens, shard, pack_id). keeper_doc_id points at the exact-dup
    keeper or the near-dup cluster winner; shard/pack_id are non-null only
    for kept docs. Reference analog: the whole per-chunk dispatch cascade
    — exact index hit -> similarity delta -> store, with capacity-driven
    eviction — run corpus-wide (/root/reference/rabin/rabin_dedup.c:
    1236-1344 with /root/reference/pcompress.c:205-401).

    Scale shape: every stage keeps its own audited plan (bucketed LSH —
    never all-pairs; skew-safe CC; bucketed prefix sum — never a
    single-partition window; shard-parallel packing). Stage composition
    adds only id-keyed joins/anti-joins. EVERY frame consumed by more
    than one downstream branch is materialized via cache.stage — a LAZY
    localCheckpoint: like the round-4 persist it stops fan-out
    recomputation (an un-persisted clusters/bud multiplied the cascade's
    cost ~5x), and additionally CUTS LINEAGE, which r6 measured as the
    cascade's dominant fixed cost (AQE re-serializes the full plan tree
    per stage materialization — ~10 s on the composed verdict count at
    sf0.1, ~0.4 s with stage frames as LogicalRDD leaves; see
    cache.stage). At warehouse scale, point these at real stage tables
    the way the transcript pipeline does.

    ``quality_col`` / ``lang_col``: precomputed-score column names passed
    through to corpus_admission (the token_col pattern) — external model
    scores drive admission, keep-best ranking, and budget ordering.
    ``stage_seconds``: pass a dict to force each stage in order and
    record SEGMENT wall seconds (everything since the previous mark —
    construction + materialization, since cache.stage materializes
    eagerly) under admission/near_dup/semantic_dup/repetition/budget
    keys; only the final compose joins land on the caller's total — the
    cascade analog of DedupPipeline's metrics.json stage log, so a cost
    pathology localizes without hand-decomposition.
    ``signatures``: optional precomputed same-cfg doc-signature stage
    table (doc_id, id_hash, shingles, minhash) — the near-dup stage reads
    it (filtered to admitted ids) instead of re-shingling; point it at
    checkpointed parquet at warehouse scale.
    """
    import time as _time

    from .. import cache
    from .doc_dedup import corpus_admission, neardup_clusters

    _seg_start = [_time.monotonic()]

    def _mark(name: str, df: DataFrame) -> DataFrame:
        # close an attribution segment: force the segment's last stage
        # frame, then record the wall time since the PREVIOUS mark. Stage
        # frames are cache.stage localCheckpoints, whose non-result
        # shuffle stages materialize at construction (AQE resolves the
        # final RDD eagerly) — so a stage's cost lands in its builder,
        # not in a later count, and segment timing is the attribution
        # that sums to the cascade's build wall (round-5's count-only
        # timing left ~60% of the wall unattributed).
        if stage_seconds is not None:
            df.count()
            now = _time.monotonic()
            stage_seconds[name] = round(
                now - _seg_start[0] + stage_seconds.get(name, 0.0), 3)
            _seg_start[0] = now
        return df

    ntok = F.size(F.split(F.trim(F.col("text")), r"\s+")).cast("long")
    adm = cache.stage(corpus_admission(
        docs, quality_min, lang_gate,
        quality_col=quality_col, lang_col=lang_col))
    _mark("admission", adm)
    s1 = cache.stage(
        docs.join(adm.where(F.col("reason") == "ok").select("doc_id"),
                  "doc_id")
    )

    clusters = cache.stage(
        # exact_star=False: s1 is the post-admission frame — admission
        # dropped every non-min member of each content-md5 group, so the
        # md5 star over s1 is empty by construction; building it would
        # cost a full text scan + md5 agg to produce zero edges
        neardup_clusters(s1, cfg, threshold, signatures=signatures,
                         exact_star=False))
    scored = adm.select("doc_id", "quality").join(clusters, "doc_id")
    best = scored.groupBy("cluster_id").agg(F.max("quality").alias("best_q"))
    winners = (
        scored.join(best, "cluster_id")
        .where(F.col("quality") == F.col("best_q"))
        .groupBy("cluster_id")
        .agg(F.min("doc_id").alias("winner"))
    )
    near_drops = cache.stage(
        clusters.join(winners, "cluster_id")
        .where(F.col("doc_id") != F.col("winner"))
        .select("doc_id", "winner")
    )
    _mark("near_dup", near_drops)

    s2 = s1.join(near_drops.select("doc_id"), "doc_id", "left_anti")

    if embeddings is not None:
        from .similarity import semdedup

        sem = cache.stage(
            semdedup(embeddings, sem_threshold, sem_clusters, sem_iters,
                     cfg=cfg))
        keepers = sem.where(F.col("keep")).select(
            "group_id", F.col("vec_id").alias("sem_keeper"))
        # only docs still alive after the near stage take the semantic
        # verdict (first-match-wins); the keeper attribution may point at
        # a doc an earlier stage dropped — same as the near stage's winner
        sem_drops = cache.stage(
            s2.select("doc_id").join(
                sem.where(~F.col("keep"))
                .join(keepers, "group_id")
                .select(F.col("vec_id").alias("doc_id"), "sem_keeper"),
                "doc_id")
        )
        _mark("semantic_dup", sem_drops)
        s2 = s2.join(sem_drops.select("doc_id"), "doc_id", "left_anti")
    else:
        sem_drops = None

    rep = cache.stage(
        repetition_report(s2, top_frac_max, dup_ratio_max)
        .select("doc_id", "repetitive")
    )
    _mark("repetition", rep)
    s3 = cache.stage(
        s2.join(rep.where(~F.col("repetitive")).select("doc_id"), "doc_id")
    )

    bud = cache.stage(
        budget_selection(s3, token_budget, n_buckets,
                         quality_col=quality_col)
    )
    _mark("budget", bud)
    kept_ids = bud.where(F.col("kept")).select("doc_id")
    packed = pack_assignments(s3.join(kept_ids, "doc_id"),
                              pack_budget, n_shards)

    out = (
        adm.select("doc_id", "quality", "keeper_doc_id", "reason")
        .join(docs.select("doc_id", ntok.alias("n_tokens")), "doc_id")
        .join(near_drops.withColumnRenamed("winner", "near_keeper"),
              "doc_id", "left")
        .join(rep, "doc_id", "left")
        .join(bud.select("doc_id", "kept"), "doc_id", "left")
        .join(packed.select("doc_id", "shard", "pack_id"), "doc_id", "left")
    )
    if sem_drops is not None:
        out = out.join(sem_drops, "doc_id", "left")
    else:
        out = out.withColumn("sem_keeper", F.lit(None).cast("long"))
    verdict = (
        F.when(F.col("reason") != "ok", F.col("reason"))
        .when(F.col("near_keeper").isNotNull(), "near_dup")
        .when(F.col("sem_keeper").isNotNull(), "semantic_dup")
        .when(F.col("repetitive"), "repetitive")
        .when(~F.col("kept"), "over_budget")
        .otherwise("kept")
    )
    keeper = (
        F.when(F.col("reason") == "exact_dup", F.col("keeper_doc_id"))
        .when(F.col("near_keeper").isNotNull(), F.col("near_keeper"))
        .when(F.col("sem_keeper").isNotNull(), F.col("sem_keeper"))
        .cast("long")
    )
    return out.select(
        "doc_id",
        verdict.alias("verdict"),
        keeper.alias("keeper_doc_id"),
        "quality",
        "n_tokens",
        F.col("shard").cast("long").alias("shard"),
        F.col("pack_id").cast("long").alias("pack_id"),
    )


def curate_transcripts(
    turns: DataFrame,
    cfg=None,
    quality_min: float = 0.25,
    threshold: float = 0.3,
    top_frac_max: float = 0.2,
    dup_ratio_max: float = 0.3,
    token_budget: int = 10_000,
    n_buckets: int = 16,
    pack_budget: int = 2048,
    n_shards: int = 8,
    stage_seconds: dict | None = None,
    signatures: DataFrame | None = None,
) -> DataFrame:
    """curate_corpus on the PRIMARY axis: the end-to-end training-ingest
    verdict for multi-turn conversation transcripts. One row per
    conversation: (conv_id, verdict, keeper_conv_id, quality, n_tokens,
    shard, pack_id) with the same first-match-wins cascade as documents —
    exact_dup / empty / low_quality / unknown_lang -> near_dup (keep the
    max-quality cluster member) -> repetitive -> over_budget -> kept, kept
    conversations packed whole into training shards.

    The language gate is OFF for transcripts: agent conversations carry
    tool output, code, and ids — a natural-language stopword test
    legitimately finds no evidence and would drop the entire corpus (the
    admission cascade is otherwise identical).

    Shape: assemble turns under stable turn_idx order (the one text
    shuffle), key each conversation by the 60-bit md5 surrogate the KMV
    channel uses (kmv.md5_60 — 8-byte keys through every cascade shuffle
    instead of conv_id strings; DuckDB twin bit-for-bit), and run the
    document cascade verbatim over (doc_id, text). conv_ids map back at
    the end through two id-keyed joins. Exact-dup keepers are therefore
    the min-SURROGATE member of a content group (deterministic and
    order-free; near-dup keepers are quality-ranked regardless), and at
    10^12 conversations the 60-bit key admits ~n^2/2^61 spurious key
    collisions — far inside the recall budget, same bound the KMV channel
    documents. The assembled/keyed frame fans out to the cascade and both
    id maps, so it is persisted (point it at a stage table at warehouse
    scale, as the transcript pipeline does)."""
    from .. import cache
    from ..operators.assemble import assemble
    from .kmv import md5_60

    asm = cache.stage(
        assemble(turns).select(
            "conv_id",
            md5_60(F.col("conv_id")).alias("doc_id"),
            F.col("doc_text").alias("text"),
        )
    )
    verdict = curate_corpus(
        asm.select("doc_id", "text"), cfg, quality_min, threshold,
        top_frac_max, dup_ratio_max, token_budget, n_buckets,
        pack_budget, n_shards, lang_gate=False,
        stage_seconds=stage_seconds, signatures=signatures,
    )
    ids = asm.select("doc_id", "conv_id")
    keeper_ids = asm.select(
        F.col("doc_id").alias("keeper_doc_id"),
        F.col("conv_id").alias("keeper_conv_id"),
    )
    return (
        verdict.join(ids, "doc_id")
        .join(keeper_ids, "keeper_doc_id", "left")
        .select("conv_id", "verdict", "keeper_conv_id", "quality",
                "n_tokens", "shard", "pack_id")
    )
