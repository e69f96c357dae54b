"""Document-table deduplication operators (training-data-pipeline suite).

The same dedup semantics as the transcript pipeline, applied to a flat
``documents(doc_id, text, lang, source, n_chars)`` table:

  - exact dedup          -> crypto-hash groupBy (J3 analog)
  - n-gram Jaccard       -> shingle-set verify (J1 residual predicate analog)
  - MinHash + LSH        -> segmented similarity index (J4 analog)
  - SimHash banding      -> per-block similarity_hash probe (J2 analog)
  - embedding cosine     -> no reference analog; the modern near-dup channel

JVM built-ins everywhere except MinHash/SimHash signatures (shared Arrow
kernels). Scale notes per function.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import cache
from ..config import DedupConfig
from ..kernels import splitmix64, trim_after
from ..operators.signatures import band_hashes_col
from .text import norm_words


def exact_hash(docs: DataFrame) -> DataFrame:
    """doc_id, md5 content hash of raw text (exact-dup key)."""
    return docs.select("doc_id", F.md5("text").alias("content_md5"))


def exact_dup_groups(docs: DataFrame) -> DataFrame:
    """Hash groups with >1 member: (content_md5, n_dups, rep_doc_id)."""
    return (
        exact_hash(docs)
        .groupBy("content_md5")
        .agg(F.count(F.lit(1)).cast("long").alias("n_dups"),
             F.min("doc_id").alias("rep_doc_id"))
        .where(F.col("n_dups") > 1)
    )


def md5_star(hashed: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Exact-dup star edges (<id_col>_a, <id_col>_b) over (id_col,
    content_md5) rows: each content-md5 group's min id linked to every
    other member (connectivity of the group). Documents pass
    exact_hash(docs); the KMV transcript channel its normalized-text md5."""
    reps = (
        hashed.groupBy("content_md5")
        .agg(F.min(id_col).alias("rep"), F.count(F.lit(1)).alias("n"))
        .where(F.col("n") > 1)
    )
    return (
        hashed.join(reps, "content_md5")
        .where(F.col(id_col) != F.col("rep"))
        .select(F.col("rep").alias(f"{id_col}_a"),
                F.col(id_col).alias(f"{id_col}_b"))
    )


def dedup_keep_first(docs: DataFrame) -> DataFrame:
    """Exact dedup: keep min doc_id per content hash (first-occurrence-wins,
    /root/reference/rabin/global/index.c:485-558). One shuffle; scales as a
    plain hash aggregation."""
    return (
        exact_hash(docs)
        .groupBy("content_md5")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id", "content_md5")
    )


def corpus_admission(docs: DataFrame, quality_min: float = 0.25,
                     lang_gate: bool = True,
                     quality_col: str | None = None,
                     lang_col: str | None = None) -> DataFrame:
    """Combined keep/drop admission decision per document — the single
    verdict table a training-data ingest emits, folding exact dedup and the
    text filters into one deterministic first-match-wins cascade (the
    reference's analog: the per-chunk filter dispatch that decides
    dedupe/delta/store + skip routing, /root/reference/pcompress.c:205-401
    with the global-index first-occurrence rule
    /root/reference/rabin/global/index.c:485-558):

      1. exact_dup      doc_id is not the min of its content-hash group
      2. empty          content_class == 'empty'
      3. low_quality    composite quality (rounded 6dp) < quality_min
      4. unknown_lang   stopword language guess found no evidence
                        (``lang_gate=False`` skips this step — agent
                        transcripts and code corpora legitimately carry
                        no natural-language stopwords)
      5. ok             -> keep

    Scale shape: one hash aggregation + one shuffle join on content_md5
    (identical to dedup_keep_first); every filter column is a JVM
    expression in the same projection — no Python, no extra shuffles.

    Pluggable scores (the ``token_col`` pattern, curation._ntok_col):
    ``quality_col`` / ``lang_col`` name PRECOMPUTED columns on ``docs`` to
    use in place of the built-in heuristics — the hook that lets external
    model scorers (a quality classifier, a real language-ID model, run
    upstream as their own Spark jobs) drive the admission cascade without
    this engine bundling a model. The cascade rules are unchanged: quality
    is compared to ``quality_min`` as-is, and a provided lang column drops
    docs whose value is ``'und'`` (emit 'und' for "no confident guess").
    When ``lang_gate`` is False the language guess is skipped entirely
    (lang_guess emitted as NULL — agent transcripts legitimately carry no
    natural-language stopwords and the column would cost a 4-language
    stopword scan per row for nothing).
    """
    from .text import (content_class_expr, lang_guess_expr, quality_expr,
                       text_features)

    q = (F.col(quality_col).cast("double") if quality_col is not None
         else quality_expr())
    if not lang_gate:
        lg = F.lit(None).cast("string")
    elif lang_col is not None:
        lg = F.col(lang_col)
    else:
        lg = lang_guess_expr()
    # the quality/lang/class heuristics ride text_features: the reason
    # cascade + decision column reference them repeatedly, and the inline
    # expressions would be collapse-inlined into every reference (full
    # normalize+split per reference — see text.text_features)
    passthrough: list = ["doc_id", F.md5("text").alias("content_md5")]
    if quality_col is not None:
        passthrough.append(quality_col)
    if lang_gate and lang_col is not None:
        passthrough.append(lang_col)
    # ONE text scan: the scored frame is persisted (a ~100 B/row
    # projection — cacheable at any scale) and the keeper aggregation
    # reads it back instead of re-scanning + re-hashing the corpus text
    # a second time (at 100 TB that is a whole extra input pass)
    scored = cache.persist(text_features(docs, *passthrough).select(
        "doc_id",
        "content_md5",
        q.alias("quality"),
        lg.alias("lang_guess"),
        content_class_expr().alias("content_class"),
    ))
    keepers = (
        scored.groupBy("content_md5")
        .agg(F.min("doc_id").alias("keeper_doc_id"))
    )
    enriched = scored.join(keepers, "content_md5")
    reason = (
        F.when(F.col("doc_id") != F.col("keeper_doc_id"), "exact_dup")
        .when(F.col("content_class") == "empty", "empty")
        .when(F.col("quality") < F.lit(quality_min), "low_quality")
    )
    if lang_gate:
        reason = reason.when(F.col("lang_guess") == "und", "unknown_lang")
    reason = reason.otherwise("ok")
    return enriched.select(
        "doc_id", "quality", "lang_guess", "content_class", "keeper_doc_id",
        reason.alias("reason"),
    ).withColumn(
        "decision", F.when(F.col("reason") == "ok", "keep").otherwise("drop")
    )


def ngrams_col(n: int = 3) -> F.Column:
    """Distinct word n-grams (0-based Spark array indexing)."""
    grams = F.expr(
        f"CASE WHEN size(words) >= {n} THEN "
        f"transform(sequence(0, size(words) - {n}), "
        f"i -> concat_ws(' ', {', '.join(f'words[i + {j}]' for j in range(n))})) "
        f"ELSE array() END"
    )
    return F.array_distinct(grams)


def ngram_jaccard_pairs(docs: DataFrame, n: int = 3, threshold: float = 0.3) -> DataFrame:
    """Same-lang doc pairs with n-gram-set Jaccard >= threshold.

    Scale note: this is the BRUTE-FORCE verify (O(n^2) within a lang group),
    kept as the small-table / oracle-checkable path. At corpus scale use
    minhash_lsh_pairs below — same verify predicate, LSH candidate
    generation instead of the quadratic self-join."""
    from .text import materialized_words

    # words behind the Generate barrier (text.materialized_words): the
    # ngram transform's per-element words[i+j] accesses must index a
    # materialized array, not a collapse-inlined norm_words expression
    g = materialized_words(docs, "doc_id", "lang").select(
        "doc_id", "lang", ngrams_col(n).alias("grams"))
    a = g.select(F.col("doc_id").alias("doc_id_a"), F.col("lang").alias("lang_a"),
                 F.col("grams").alias("grams_a"))
    b = g.select(F.col("doc_id").alias("doc_id_b"), F.col("lang").alias("lang_b"),
                 F.col("grams").alias("grams_b"))
    inter = F.size(F.array_intersect("grams_a", "grams_b"))
    union = F.size("grams_a") + F.size("grams_b") - inter
    jac = F.when(union > 0, inter.cast("double") / union).otherwise(F.lit(0.0))
    return (
        a.join(b, (F.col("lang_a") == F.col("lang_b"))
               & (F.col("doc_id_a") < F.col("doc_id_b")))
        .select("doc_id_a", "doc_id_b", F.col("lang_a").alias("lang"),
                F.round(jac, 6).alias("jaccard"))
        .where(F.col("jaccard") >= threshold)
    )


_DOCSIG_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("id_hash", T.LongType(), False),
        T.StructField("shingles", T.ArrayType(T.LongType()), False),
        T.StructField("minhash", T.ArrayType(T.LongType()), False),
        T.StructField("simhash", T.LongType(), False),
        T.StructField("content_md5", T.StringType(), True),
    ]
)
# Bump when doc_signatures' columns change: cached signature tables carry it
# in their path (__spark_entry__._cascade_signatures), so an older table is
# rebuilt rather than read.
DOCSIG_FORMAT = 2


_DOCSIG_WIN_SCHEMA = T.StructType(
    _DOCSIG_SCHEMA.fields
    + [T.StructField("win_hashes", T.ArrayType(T.LongType()), False)]
)


def doc_signatures(docs: DataFrame, cfg: DedupConfig,
                   with_windows: bool = False) -> DataFrame:
    """MinHash/SimHash signatures for a documents table (shared kernels).
    id_hash = splitmix64(doc_id): the deterministic salting hash for
    hot-bucket sampling (same role as the transcript pipeline's id_hash).
    Like compute_signatures, the row carries its index keys from signing
    time on: ``band_hashes`` (signatures.band_hashes_col, the only band
    index — doc_band_explode reads it) and ``content_md5`` (md5 of the raw
    text, the exact-dup key of exact_hash).
    with_windows adds the content-defined substring window fingerprints
    (requires cfg.substring_enabled — the kernel only emits them then).
    Arrow-native (mapInArrow + flat kernel) like compute_signatures: the
    signature arrays leave Python as flat (values, offsets) buffers with
    no per-row object wrapping."""
    if with_windows and not cfg.substring_enabled:
        raise ValueError("with_windows requires cfg.substring_enabled")

    def _sign(batches):
        import pyarrow as pa

        from ..kernels import arrow_list_array, signatures_flat_for_texts

        for rb in batches:
            texts = rb.column(rb.schema.get_field_index("text")).to_pandas()
            ids = rb.column(rb.schema.get_field_index("doc_id"))
            n = len(texts)
            flat = signatures_flat_for_texts(texts, cfg)
            id_np = ids.to_numpy(zero_copy_only=False).astype(np.int64)
            cols = [
                ids,
                pa.array(splitmix64(id_np.view(np.uint64)).view(np.int64),
                         type=pa.int64()),
                arrow_list_array(flat["sh_values"], flat["sh_offsets"]),
                arrow_list_array(
                    flat["mh"].ravel(),
                    np.arange(0, (n + 1) * cfg.num_perm, cfg.num_perm,
                              dtype=np.int64)),
                pa.array(flat["simhash"].view(np.int64), type=pa.int64()),
                rb.column(rb.schema.get_field_index("content_md5")),
            ]
            names = list(_DOCSIG_SCHEMA.fieldNames())
            if with_windows:
                cols.append(
                    arrow_list_array(flat["wh_values"], flat["w_offsets"]))
                names.append("win_hashes")
            yield pa.RecordBatch.from_arrays(cols, names=names)

    schema = _DOCSIG_WIN_SCHEMA if with_windows else _DOCSIG_SCHEMA
    return (
        docs.select("doc_id", "text", F.md5("text").alias("content_md5"))
        .mapInArrow(trim_after(_sign), schema=schema)
        .withColumn("band_hashes", band_hashes_col(cfg))
    )


def doc_band_explode(sig: DataFrame) -> DataFrame:
    """doc signatures -> (doc_id, id_hash, band_idx, band_hash) exploded
    band rows of the stored ``band_hashes`` column (docs below the shingle
    floor contribute nothing — they are covered by the exact-hash path).
    Shared by the ad-hoc LSH query and the incremental delta-vs-corpus
    path, so both band identically, with the transcript engine's keys."""
    return sig.where(F.size("shingles") > 0).select(
        "doc_id",
        "id_hash",
        F.posexplode("band_hashes").alias("band_idx", "band_hash"),
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    cfg: DedupConfig | None = None,
    threshold: float = 0.3,
    with_stats: bool = False,
    signatures: DataFrame | None = None,
):
    """MinHash+LSH near-dup pairs (doc_id_a, doc_id_b, jaccard), verified
    by the shared set-Jaccard verify (operators.verify.jaccard_pairs).
    The scale path: shuffles only (band_idx, band_hash) buckets — never the
    quadratic pair space. Same LSH geometry as the transcript engine, and
    the SAME shared salted/capped/LOGGED bucket implementation
    (operators.candidates.bucket_members — no silent caps): hot buckets are
    deterministically sampled by splitmix64(doc_id), truncated to
    bucket_cap in doc_id order, and the drop counts surface in the stats
    frame (returned when with_stats=True).

    ``signatures``: optional PRECOMPUTED doc_signatures frame (doc_id,
    id_hash, shingles, minhash) produced at the SAME cfg — e.g. a
    checkpointed stage table — restricted here to ``docs``'s ids by a
    semi join. Signatures are per-document, so filtering a full-corpus
    table to any subset is value-identical to signing the subset; the
    expensive text-shingling UDF is skipped entirely."""
    from ..operators.candidates import bucket_candidates
    from ..operators.verify import jaccard_pairs

    cfg = cfg or DedupConfig(shingle_k=3, substring_enabled=False,
                             jaccard_threshold=threshold)
    # The signature frame fans out three ways (banding + both verify
    # sides); without a persist the expensive mapInPandas signature UDF
    # would run ~3x per query. The transcript pipeline checkpoints
    # signatures to parquet (pipeline.py); the ad-hoc doc path caches
    # in-memory instead (MEMORY_AND_DISK, LRU-evicted — at corpus scale,
    # point this at a stage table via ``signatures``).
    if signatures is not None:
        sig = cache.persist(
            signatures.select("doc_id", "id_hash", "shingles", "band_hashes")
            .join(docs.select("doc_id"), "doc_id", "left_semi")
        )
    else:
        sig = cache.persist(doc_signatures(docs, cfg))
    cand, stats = bucket_candidates(
        doc_band_explode(sig), cfg, ("doc_id_a", "doc_id_b"), id_col="doc_id",
        salt_col="id_hash", persist_sizes=with_stats)
    pairs = jaccard_pairs(cand, sig, sig, "doc_id", threshold)
    return (pairs, stats) if with_stats else pairs


def duplicate_weights(docs: DataFrame, cfg: DedupConfig | None = None,
                      threshold: float = 0.3) -> DataFrame:
    """Duplicate-aware example WEIGHTS — the soft alternative to dropping
    near-dups: every document keeps flowing to training, down-weighted by
    its duplication factor (weight = 1 / near-dup-cluster size, 6dp), so
    a family of n copies contributes one document's worth of loss in
    total. Returns (doc_id, cluster_id, cluster_size, weight); singletons
    carry weight 1.0. One count agg over the cluster labels + an
    id-keyed join — nothing beyond neardup_clusters' audited plan."""
    cl = neardup_clusters(docs, cfg, threshold)
    sizes = cl.groupBy("cluster_id").agg(
        F.count(F.lit(1)).cast("long").alias("cluster_size"))
    return (
        cl.join(sizes, "cluster_id")
        .select("doc_id", "cluster_id", "cluster_size",
                F.round(F.lit(1.0) / F.col("cluster_size"), 6).alias("weight"))
    )


def neardup_clusters(docs: DataFrame, cfg: DedupConfig | None = None,
                     threshold: float = 0.3,
                     signatures: DataFrame | None = None,
                     exact_star: bool = True) -> DataFrame:
    """Near-dup clusters over the documents table: connected components of
    (MinHash-LSH verified near pairs UNION exact-dup star edges), labeled
    with the min doc_id of the component (singletons map to self). Gives
    the documents table the same reconstruction/clustering capability the
    transcript pipeline has, on the same long-key agg+join CC
    (operators/cluster.py — no collect_set, skew-safe at 10^12 rows).

    ``signatures``: optional precomputed same-cfg signature stage table
    (see minhash_lsh_pairs) — the near-pair channel skips re-shingling.
    ``exact_star``: callers whose input PROVABLY contains no byte-exact
    duplicates (the curation cascade's post-admission frame: admission
    already dropped every non-min member of each content-md5 group, so
    each group has exactly one survivor) pass False to skip building the
    star channel — it is empty by construction there, but still costs a
    full text scan + md5 aggregation to discover that."""
    from ..operators.cluster import connected_components

    cfg = cfg or DedupConfig(shingle_k=3, substring_enabled=False,
                             jaccard_threshold=threshold)
    edges = minhash_lsh_pairs(docs, cfg, threshold,
                              signatures=signatures).select(
        F.col("doc_id_a").alias("ih_a"), F.col("doc_id_b").alias("ih_b")
    )
    if exact_star:
        edges = edges.unionByName(md5_star(exact_hash(docs)).select(
            F.col("doc_id_a").alias("ih_a"), F.col("doc_id_b").alias("ih_b")))
    nodes = docs.select(
        F.col("doc_id").alias("conv_id"), F.col("doc_id").alias("id_hash")
    )
    cc = connected_components(nodes, edges, cfg)
    return cc.select(
        F.col("conv_id").cast("long").alias("doc_id"),
        F.col("cluster_id").cast("long").alias("cluster_id"),
    )


def dedup_keep_best(docs: DataFrame, cfg: DedupConfig | None = None,
                    threshold: float = 0.3) -> DataFrame:
    """Quality-aware near-dup dedup: one kept row per near-dup cluster —
    the HIGHEST-quality member, ties broken by min doc_id. Output
    (cluster_id, doc_id, quality, n_members); singletons keep themselves.

    This is the curation policy real training-data pipelines use instead of
    first-occurrence-wins: within a duplicate cluster, retain the cleanest
    copy (composite quality score: alnum ratio + stopword ratio + length,
    text.quality_col) rather than the earliest id. Reference analog: the
    global index keeps the FIRST occurrence because byte-identical blocks
    have no better/worse copy (/root/reference/rabin/global/index.c:485-558);
    near-dup clusters DO have unequal members, so the keep rule generalizes
    to arg-max quality.

    Scale shape: clusters come from the bucketed LSH + star CC path (never
    all-pairs); the policy itself is two hash aggregations on cluster_id
    (max quality + member count, then min doc_id among the tied best) —
    skew-safe, since even a viral cluster contributes one group with
    count/max/min aggregates, membership never materialized."""
    from .text import quality_expr, text_features

    clusters = neardup_clusters(docs, cfg, threshold)
    # quality via text_features (statistics materialized once per row;
    # the inline quality_col expression re-runs normalize+split per
    # reference after projection collapse — see text.text_features)
    scored = text_features(docs, "doc_id").select(
        "doc_id", quality_expr().alias("quality")
    ).join(clusters, "doc_id")
    agg = scored.groupBy("cluster_id").agg(
        F.max("quality").alias("best_q"),
        F.count(F.lit(1)).cast("long").alias("n_members"),
    )
    return (
        scored.join(agg, "cluster_id")
        .where(F.col("quality") == F.col("best_q"))
        .groupBy("cluster_id", "best_q", "n_members")
        .agg(F.min("doc_id").alias("doc_id"))
        .select(
            "cluster_id", "doc_id", F.col("best_q").alias("quality"),
            "n_members",
        )
    )


def simhash_pairs(docs: DataFrame, max_hamming: int = 6,
                  cfg: DedupConfig | None = None,
                  with_stats: bool = False):
    """Near-dup pairs (doc_id_a, doc_id_b, hamming) by SimHash Hamming
    distance <= max_hamming: the shared SimHash plan
    (operators.candidates.simhash_pairs) over doc_id members.

    Candidate generation — multi-index segment PAIRS: split the 64-bit
    fingerprint into 8 contiguous 8-bit segments and index every pair of
    segments (i < j) as one 16-bit key, 28 keys per doc. Pigeonhole: at
    Hamming distance d <= 6, at most 6 of the 8 segments differ, so at
    least TWO are clean and their pair key matches exactly. Verify with
    exact popcount.

    Scale rationale: single 8-bit segments give only 256 bucket values per
    band — at 1B docs that is ~4M members per bucket and a quadratic
    within-bucket join. 16-bit pair keys give a 65536-value keyspace per
    band, and the shared bucket_members path salts + caps + LOGS anything
    still hot (reference eviction analog,
    /root/reference/rabin/global/index.c:539-547). For d > 6 the pair-key
    guarantee breaks; the plan refuses rather than silently losing
    recall."""
    from ..operators.candidates import simhash_pairs as shared_simhash_pairs

    cfg = cfg or DedupConfig(shingle_k=3, substring_enabled=False)
    # persisted for the same three-way fan-out as minhash_lsh_pairs: the
    # signature UDF must run once per query, not once per reference
    sig = cache.persist(doc_signatures(docs, cfg).select(
        "doc_id", "id_hash", "simhash"
    ))
    pairs, stats = shared_simhash_pairs(sig, cfg, "doc_id", max_hamming,
                                        persist_sizes=with_stats)
    return (pairs, stats) if with_stats else pairs


def doc_substring_pairs(docs: DataFrame,
                        cfg: DedupConfig | None = None) -> DataFrame:
    """Containment channel for the documents table: (doc_id_a, doc_id_b,
    n_windows, lcs_tokens) pairs sharing long verbatim token runs — the
    case Jaccard misses entirely (a short doc embedded in a much longer
    one has tiny Jaccard but total containment). The transcript substring
    operators (operators/substring.py; reference analog: bsdiff long-match
    search, bsdiff/bsdiff.c:142-254 in pcompress) run over doc_id as
    their long conv_id: substring_candidates keys its window buckets by
    doc_id (salted by id_hash), and verify_substring_pairs measures the
    longest common token run of the raw texts, only over flagged pairs."""
    from ..operators.substring import (substring_candidates,
                                       verify_substring_pairs)

    cfg = cfg or DedupConfig(shingle_k=3, substring_enabled=True)
    sig = doc_signatures(docs, cfg, with_windows=True)
    cand, _stats = substring_candidates(
        sig.withColumnRenamed("doc_id", "conv_id"), cfg, persist_sizes=False)
    ver = verify_substring_pairs(
        cand.select(F.col("ih_a").alias("conv_id_a"),
                    F.col("ih_b").alias("conv_id_b"), "n_windows"),
        docs.select(F.col("doc_id").alias("conv_id"),
                    F.col("text").alias("doc_text")),
        cfg)
    return ver.select(F.col("conv_id_a").alias("doc_id_a"),
                      F.col("conv_id_b").alias("doc_id_b"),
                      "n_windows", "lcs_tokens")


# routes per content class — the D6 adaptive-algorithm dispatch made real:
# shingling/MinHash is wasted work on empty docs and misleading on numeric
# blobs (digit-run shingles collide pathologically), so those classes take
# the exact-hash path only, exactly like the reference skipping dedup-
# unfriendly filters per detected type
# (/root/reference/adaptive_compress.c:255-335).
CLASS_ROUTES = {
    "empty": "exact_only",
    "numeric": "exact_only",
    "airy": "shingle",
    "dense": "shingle",
}


def recall_report(docs: DataFrame, cfg: DedupConfig | None = None,
                  truth_threshold: float = 0.5,
                  design_threshold: float = 0.3) -> DataFrame:
    """One-row audit of the north-rule headline metric: dup-pair RECALL of
    the MinHash-LSH channel against exact shingle-Jaccard ground truth
    (>= 0.99 required at a truth threshold above the LSH design point).

    Truth = brute-force same-lang self-join over the kernel shingle sets —
    the documented O(n^2) audit path (like ngram_jaccard_pairs; run it at
    audit scale, never on the full corpus). Measured = minhash_lsh_pairs at
    ``design_threshold`` — the bucketed production path. Output:
    (truth_threshold, n_truth, n_found, recall).

    Reference analog: the similarity-index hit-rate statistics pcompress
    prints per archive (dedup ratio accounting, pcompress.c stats path);
    here the statistic is pinned to an exact ground truth instead."""
    from ..operators.verify import recall_row, rounded_jaccard

    cfg = cfg or DedupConfig(shingle_k=3, substring_enabled=False,
                             jaccard_threshold=design_threshold)
    sig = cache.persist(doc_signatures(docs, cfg))
    lang = docs.select("doc_id", "lang")
    side = (
        sig.join(lang, "doc_id")
        .where(F.size("shingles") > 0)
        .select("doc_id", "lang", "shingles")
    )
    a = side.select(F.col("doc_id").alias("doc_id_a"), "lang",
                    F.col("shingles").alias("sh_a"))
    b = side.select(F.col("doc_id").alias("doc_id_b"), "lang",
                    F.col("shingles").alias("sh_b"))
    truth = (
        a.join(b, ["lang"])
        .where(F.col("doc_id_a") < F.col("doc_id_b"))
        .select("doc_id_a", "doc_id_b", rounded_jaccard().alias("jaccard"))
        .where(F.col("jaccard") >= truth_threshold)
    )
    found = truth.join(
        minhash_lsh_pairs(docs, cfg, design_threshold)
        .select("doc_id_a", "doc_id_b"),
        ["doc_id_a", "doc_id_b"], "left_semi",
    )
    return recall_row(truth, found, truth_threshold)


def doc_tier_attribution(docs: DataFrame, cfg: DedupConfig | None = None,
                         threshold: float = 0.3) -> DataFrame:
    """(doc_id, tier, removed_by): WHICH dedup channel removed each
    document — the reference's per-chunk cascade (exact global-index hit ->
    similarity-probe delta -> stored whole, /root/reference/rabin/
    rabin_dedup.c:1236-1344, 1469-1489) at document granularity, symmetric
    to the transcript pipeline's tiers stage (operators/tiers.py):

      exact     — not the min doc_id of its raw-md5 group
      near      — non-representative of a near-dup cluster (LSH + star CC)
      substring — representative losing a verified containment pair
                  (loser = fewer tokens, tie -> greater doc_id)
      kept      — everything else (removed_by = itself)

    Reuses the SAME tier_attribution operator as transcripts — doc ids ride
    through its conv_id columns as longs (comparisons and min() are
    type-generic), so the cascade rule lives in exactly one place."""
    from ..operators.tiers import tier_attribution
    from .text import norm_words

    cfg = cfg or DedupConfig(shingle_k=3, substring_enabled=True,
                             jaccard_threshold=threshold)
    sig = docs.select(
        F.col("doc_id").alias("conv_id"),
        F.md5("text").alias("content_hash"),
        F.size(norm_words("text")).cast("long").alias("n_tokens"),
    )
    clusters = neardup_clusters(docs, cfg, threshold).select(
        F.col("doc_id").alias("conv_id"), "cluster_id"
    )
    sub = doc_substring_pairs(docs, cfg).select(
        F.col("doc_id_a").alias("conv_id_a"),
        F.col("doc_id_b").alias("conv_id_b"),
        "n_windows", "lcs_tokens",
    )
    return tier_attribution(sig, clusters, sub, cfg).select(
        F.col("conv_id").alias("doc_id"), "tier", "removed_by"
    )


def route_docs(docs: DataFrame) -> DataFrame:
    """Adds (content_class, route) columns from the shared census
    classifier. Pure JVM; the routing decision itself is driver-checkable
    (see the doc_routed_dedup query). The route CASE references the
    just-computed content_class column — the classifier's regexp ratio
    expressions are evaluated once per row, not once per branch."""
    from .text import content_class_col

    expr = None
    for klass, r in CLASS_ROUTES.items():
        cond = F.col("content_class") == klass
        expr = F.when(cond, r) if expr is None else expr.when(cond, r)
    return docs.withColumn("content_class", content_class_col()).withColumn(
        "route", expr
    )


def routed_lsh_pairs(
    docs: DataFrame,
    cfg: DedupConfig | None = None,
    threshold: float = 0.3,
    with_stats: bool = False,
):
    """minhash_lsh_pairs restricted to the shingle-routed classes — the
    exact_only classes contribute nothing to the expensive signature UDF
    and LSH shuffle (they are covered completely by exact_dup_groups).
    Returns the same pair schema; with_stats adds per-route doc counts."""
    routed = route_docs(docs)
    shingled = routed.where(F.col("route") == "shingle").drop(
        "content_class", "route"
    )
    pairs = minhash_lsh_pairs(shingled, cfg, threshold)
    if not with_stats:
        return pairs
    stats = routed.groupBy("route").agg(F.count(F.lit(1)).alias("n_docs"))
    return pairs, stats


def adaptive_k_lsh_pairs(
    docs: DataFrame,
    k_airy: int = 3,
    k_dense: int = 5,
    threshold: float = 0.3,
) -> DataFrame:
    """D6 depth — per-class adaptive shingle width (the reference picks a
    different filter/compressor per detected content type,
    /root/reference/adaptive_compress.c:255-335): airy text (high space
    ratio — prose-like, shorter effective tokens) shingles at ``k_airy``;
    dense text at ``k_dense``. Same shared LSH machinery per class, pairs
    unioned with a ``k`` column recording which width produced them.

    The emitted jaccard values are functions of the class's shingle set,
    so the oracle's value-hash check verifies the two classes REALLY ran
    with different k — not just that a column says so. Pairs are
    within-class by construction (cross-class near-dups belong to the
    single-k path)."""
    routed = route_docs(docs)
    out = None
    for klass, k in (("airy", k_airy), ("dense", k_dense)):
        sub = routed.where(F.col("content_class") == klass).drop(
            "content_class", "route"
        )
        cfg = DedupConfig(shingle_k=k, substring_enabled=False,
                          jaccard_threshold=threshold)
        pairs = minhash_lsh_pairs(sub, cfg, threshold).withColumn(
            "k", F.lit(k).cast("int")
        )
        out = pairs if out is None else out.unionByName(pairs)
    return out


def embedding_cosine_pairs(emb: DataFrame, threshold: float = 0.9) -> DataFrame:
    """Embedding near-dup: pairs with cosine similarity >= threshold.
    Brute-force O(n^2) form (oracle-checkable); ANN/LSH variant lives in
    functions/similarity.py. Scoring goes through the shared fold-exact
    Arrow kernels (similarity._score_pairs / kernels.fold_dot):
    left-to-right float64 summation, bit-identical to the JVM
    zip_with+aggregate fold it replaced and to the DuckDB oracle."""
    from .similarity import _prep, _score_pairs

    withn = _prep(emb)
    a = withn.select(F.col("vec_id").alias("query_id"), F.col("v").alias("vq"),
                     F.col("norm").alias("nq"))
    b = withn.select(F.col("vec_id").alias("neighbor_id"), F.col("v").alias("vc"),
                     F.col("norm").alias("nc"))
    return (
        _score_pairs(a.join(b, F.col("query_id") < F.col("neighbor_id")))
        .select(F.col("query_id").alias("vec_id_a"),
                F.col("neighbor_id").alias("vec_id_b"),
                F.round("cosine", 6).alias("cosine"))
        .where(F.col("cosine") >= threshold)
    )


def source_overlap(docs: DataFrame, cfg: DedupConfig | None = None,
                   threshold: float = 0.3) -> DataFrame:
    """Cross-source duplication matrix over the documents table's OWN
    ``source`` column — the crawl-vs-crawl overlap report run before
    merging corpora (the documents twin of the transcript pipeline's
    tr_source_overlap, which synthesizes provenance; here the column is
    real). Edge set = the same evidence neardup_clusters consumes: verified
    MinHash-LSH near pairs UNION exact md5-star edges, distinct. One row
    per unordered source pair: (source_a, source_b, n_pairs), source_a <=
    source_b lexically.

    Scale shape: edges come from the bucketed LSH path (never all-pairs);
    the verified pair list is then bounded, so both source probes broadcast
    the pair side into a plain (doc_id, source) corpus scan — the corpus is
    never exchanged on a pair key (verify-stage join shape). The final
    aggregate has at most |sources|^2 groups.
    """
    cfg = cfg or DedupConfig(shingle_k=3, substring_enabled=False,
                             jaccard_threshold=threshold)
    near = minhash_lsh_pairs(docs, cfg, threshold).select(
        "doc_id_a", "doc_id_b"
    )
    edges = near.unionByName(md5_star(exact_hash(docs))).distinct()
    src = docs.select("doc_id", "source")
    ea = src.select(
        F.col("doc_id").alias("doc_id_a"), F.col("source").alias("src_a")
    ).join(F.broadcast(edges), "doc_id_a")
    full = src.select(
        F.col("doc_id").alias("doc_id_b"), F.col("source").alias("src_b")
    ).join(F.broadcast(ea), "doc_id_b")
    return (
        full.groupBy(
            F.least("src_a", "src_b").alias("source_a"),
            F.greatest("src_a", "src_b").alias("source_b"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
    )
