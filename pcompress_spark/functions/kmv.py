"""Pure-JVM K-min-values near-dup channel — zero Python workers.

The reference's segment sketch is literally a bottom-K MinHash: sort the
block hashes and keep the K smallest distinct values ("K min values
sketch where K == 20", /root/reference/rabin/rabin_dedup.c:975-994), then
probe the index with EACH of the K values — any single matching min value
nominates a candidate (/root/reference/rabin/rabin_dedup.c:1026-1036,
/root/reference/rabin/global/index.c:184-196). This module re-expresses
that exact geometry in Spark built-ins only:

  normalize/tokenize   lower + regexp_replace + split        (codegen)
  k-gram shingles      transform(sequence, concat_ws)        (codegen)
  shingle hashing      conv(substr(md5(gram), 1, 15), 16, 10) -> 60-bit
  bottom-K sketch      array_sort + slice                    (codegen)
  1-of-K candidates    explode(kmv) -> the SHARED salted/capped/LOGGED
                       bucket_members (operators/candidates.py)
  verify               exact Jaccard via array_intersect     (codegen;
                       the shared operators/verify.jaccard_pairs)

No MapInPandas, no ArrowEvalPython, no Python worker processes anywhere
in the plan (plan-checked by tools/dump_plans.py). The engine's other near-dup
channels pay an Arrow-serialize + Python-worker hop per executor for the
signature stage; this channel keeps the entire path inside Tungsten
whole-stage codegen. At 1000-executor scale that removes the Python
worker fleet (memory + fork/reuse management) from the near-dup job
entirely; on a single box it is also immune to the measured JVM+Python
core-oversubscription collapse (BENCH/STAGE_SCALING.md diagnostic pair).

Hash width: 15 hex chars of md5 = 60 bits, always positive in a signed
long, so Spark's signed array_sort and DuckDB's unsigned HUGEINT ordering
agree without sign gymnastics — the bottom-K selection is bit-identical
in engine and oracle. Collisions at 60 bits only create extra verified-
away candidates (band keys) or vanishingly rare Jaccard perturbations.

Recall of 1-of-K banding: two sets with Jaccard J share any given
bottom-K slot of their union with probability J, so
P(candidate) ~ 1 - (1-J)^K; at K=20 that is ~0.999 for J=0.3 and
~1 - 1e-6 for J=0.5 — comfortably above the 0.99 north-rule floor, and
the exact-Jaccard verify keeps precision at 1.

Tradeoff vs the kernel channel (documented, not hidden): md5 per shingle
costs more CPU per byte than the kernels' FNV/splitmix pipeline, and the
sketch is bottom-K (no per-band geometry knob). The channel exists
ALONGSIDE the Arrow-kernel channels as the UDF-free execution strategy,
not as a replacement — same table in, same pair semantics out.

No streaming twin, by decision: incremental/streaming admission rides the
kernel channel's persisted stores (streaming/dedup_stream.py,
functions/incremental.py). A KMV streaming variant would mirror that
machinery with kmv values as band hashes, but one deployment runs ONE
near-dup store — maintaining two redundant stores with different hash
families is an operational hazard, not coverage. A cluster that wants the
UDF-free strategy end to end runs this channel in its batch/daily-delta
jobs (kmv signatures are plain columns, so incremental admission against
a persisted kmv signature table is the same join shape as
incremental.py's).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .. import cache
from ..config import DedupConfig
from .text import norm_words

# reference K: sub_intervals = 100 / pct_interval = 20 by default
# (/root/reference/rabin/global/index.c:184-185, dedupe_config.h:38)
DEFAULT_K_MIN = 20


def md5_60(col: Column | str) -> Column:
    """60-bit positive hash: first 15 hex chars of md5, base-16 parsed.
    Positive in a signed long => signed order == unsigned order, and the
    DuckDB twin (hex-parse of the same md5 prefix) matches bit-for-bit."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def kmv_signatures(
    docs: DataFrame,
    k_shingle: int = 3,
    k_min: int = DEFAULT_K_MIN,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(id_col, id_hash, shingles, kmv) — whole-stage-codegen only.

    shingles = sorted distinct 60-bit hashes of the k-gram word shingles
    (same normalization as the kernel channels: norm_words). kmv = the
    bottom-``k_min`` of them (the reference's KMV segment sketch). Docs
    below the shingle floor carry empty arrays — the exact-dup channel
    covers them, mirroring the trailing-block rule
    (/root/reference/rabin/rabin_dedup.c:717-757)."""
    k = k_shingle
    gram_expr = F.expr(
        f"CASE WHEN size(words) >= {k} THEN "
        f"transform(sequence(0, size(words) - {k}), "
        f"i -> concat_ws(' ', {', '.join(f'words[i + {j}]' for j in range(k))})) "
        f"ELSE array() END"
    )
    from .text import materialized_words

    # words behind the Generate barrier: gram_expr's lambda indexes
    # words[i + j] per element, and a collapsed norm_words alias would be
    # re-evaluated per access (see text.materialized_words — the measured
    # 80x hazard). This channel's whole point is JVM speed.
    return (
        materialized_words(docs, id_col, text_col=text_col)
        .select(
            F.col(id_col),
            md5_60(F.col(id_col).cast("string")).alias("id_hash"),
            F.array_sort(
                F.array_distinct(F.transform(F.array_distinct(gram_expr), md5_60))
            ).alias("shingles"),
        )
        .withColumn("kmv", F.slice("shingles", 1, k_min))
    )


def _kmv_pairs(
    sig: DataFrame, cfg: DedupConfig, id_col: str, a_col: str, b_col: str,
    threshold: float, broadcast_pairs: bool = True,
) -> DataFrame:
    """Shared candidate + verify tail over a persisted signature frame:
    1-of-K buckets through the shared bucket_candidates, then the shared
    set-Jaccard verify (operators.verify.jaccard_pairs; broadcast_pairs
    as there). The public entry points broadcast: pair lists are
    candidate-bound, orders of magnitude under the corpus at the design
    thresholds."""
    from ..operators.candidates import bucket_candidates
    from ..operators.verify import jaccard_pairs

    banded = sig.where(F.size("kmv") > 0).select(
        F.col(id_col),
        "id_hash",
        F.lit(0).alias("band_idx"),
        F.explode("kmv").alias("band_hash"),
    )
    cand, _stats = bucket_candidates(banded, cfg, (a_col, b_col),
                                     id_col=id_col, salt_col="id_hash",
                                     persist_sizes=False)
    return jaccard_pairs(cand, sig, sig, id_col, threshold,
                         pair=(a_col, b_col), broadcast_pairs=broadcast_pairs)


def kmv_near_pairs(
    docs: DataFrame,
    cfg: DedupConfig | None = None,
    k_shingle: int = 3,
    k_min: int = DEFAULT_K_MIN,
    threshold: float = 0.3,
) -> DataFrame:
    """documents -> (doc_id_a, doc_id_b, jaccard), doc_id_a < doc_id_b.
    Entirely JVM: see module docstring. cfg supplies the shared bucket
    cap / hot threshold (skew policy identical to every other channel)."""
    cfg = cfg or DedupConfig(shingle_k=k_shingle, substring_enabled=False,
                             jaccard_threshold=threshold)
    sig = cache.persist(
        kmv_signatures(docs, cfg.shingle_k, k_min, id_col="doc_id")
    )
    return _kmv_pairs(sig, cfg, "doc_id", "doc_id_a", "doc_id_b", threshold)


def kmv_near_pairs_transcripts(
    transcripts: DataFrame,
    cfg: DedupConfig | None = None,
    k_min: int = DEFAULT_K_MIN,
    threshold: float | None = None,
) -> DataFrame:
    """transcripts -> (conv_id_a, conv_id_b, jaccard) with the judged
    default config geometry (k=5 shingles, verify >= 0.5): assemble (one
    text shuffle, JVM) -> KMV sketch -> shared buckets -> exact verify.
    The PRIMARY-axis twin of kmv_near_pairs; the whole job runs without a
    single Python worker."""
    from ..operators.assemble import assemble

    cfg = cfg or DedupConfig()
    threshold = cfg.jaccard_threshold if threshold is None else threshold
    asm = assemble(transcripts)
    sig = cache.persist(
        kmv_signatures(asm, cfg.shingle_k, k_min,
                       id_col="conv_id", text_col="doc_text")
    )
    return _kmv_pairs(sig, cfg, "conv_id", "conv_id_a", "conv_id_b", threshold)


def kmv_clusters_transcripts(
    transcripts: DataFrame,
    cfg: DedupConfig | None = None,
    k_min: int = DEFAULT_K_MIN,
    threshold: float | None = None,
) -> DataFrame:
    """Complete JVM-only dedup on the PRIMARY axis: (conv_id, cluster_id)
    connected components over (KMV near pairs UNION exact-content star
    edges), cluster_id = min conv_id of the component, singletons -> self.

    Exact channel: md5 of the channel's own normalized document text (the
    same lower/[^a-z0-9]/trim folding the shingles see), so whitespace and
    punctuation variants of a conversation collapse exactly — covering the
    below-shingle-floor docs the KMV sketch skips (the trailing-block rule,
    /root/reference/rabin/rabin_dedup.c:717-757). Star edges via
    groupBy(content_md5) + min — never quadratic.

    CC rides 60-bit md5_60(conv_id) node keys (same key the salting uses);
    a key collision can only merge two clusters — P ~ n^2/2^61, ~400
    spurious merges at 10^9 docs, far inside the 0.99-recall budget. The
    distributed star loop is pure JVM; the size-gated local path runs
    union-find ON THE DRIVER (no executor Python workers either way)."""
    from ..operators.assemble import assemble
    from ..operators.cluster import connected_components
    from .doc_dedup import md5_star

    cfg = cfg or DedupConfig()
    threshold = cfg.jaccard_threshold if threshold is None else threshold
    asm = cache.persist(assemble(transcripts))
    sig = cache.persist(
        kmv_signatures(asm, cfg.shingle_k, k_min,
                       id_col="conv_id", text_col="doc_text")
    )
    near = _kmv_pairs(sig, cfg, "conv_id", "conv_id_a", "conv_id_b", threshold)
    norm = F.trim(F.regexp_replace(F.lower("doc_text"), "[^a-z0-9]+", " "))
    star = md5_star(asm.select("conv_id", F.md5(norm).alias("content_md5")),
                    "conv_id")
    edges = near.select("conv_id_a", "conv_id_b").unionByName(star).select(
        md5_60(F.col("conv_id_a")).alias("ih_a"),
        md5_60(F.col("conv_id_b")).alias("ih_b"),
    )
    nodes = asm.select("conv_id", md5_60(F.col("conv_id")).alias("id_hash"))
    return connected_components(nodes, edges, cfg)


def kmv_recall_report(
    docs: DataFrame,
    cfg: DedupConfig | None = None,
    k_shingle: int = 3,
    k_min: int = DEFAULT_K_MIN,
    truth_threshold: float = 0.5,
    design_threshold: float = 0.3,
) -> DataFrame:
    """One-row recall audit of the JVM channel against ITS OWN exact
    ground truth: brute-force all-pairs Jaccard over the full md5-60bit
    shingle sets (the documented O(n^2) audit path — run at audit scale,
    never the full corpus) vs the 1-of-K bucketed path at the design
    threshold. Output (truth_threshold, n_truth, n_found, recall) — the
    channel's twin of doc_recall_report / emb_pair_recall_report, pinning
    the north-rule headline (recall >= 0.99) for the UDF-free strategy."""
    from ..operators.verify import recall_row, rounded_jaccard

    cfg = cfg or DedupConfig(shingle_k=k_shingle, substring_enabled=False,
                             jaccard_threshold=design_threshold)
    sig = cache.persist(
        kmv_signatures(docs, cfg.shingle_k, k_min, id_col="doc_id")
    )
    side = sig.where(F.size("shingles") > 0).select("doc_id", "shingles")
    a = side.select(F.col("doc_id").alias("doc_id_a"),
                    F.col("shingles").alias("sh_a"))
    b = side.select(F.col("doc_id").alias("doc_id_b"),
                    F.col("shingles").alias("sh_b"))
    truth = (
        a.join(b, F.col("doc_id_a") < F.col("doc_id_b"))
        .select("doc_id_a", "doc_id_b", rounded_jaccard().alias("jaccard"))
        .where(F.col("jaccard") >= truth_threshold)
    )
    found = truth.join(
        _kmv_pairs(sig, cfg, "doc_id", "doc_id_a", "doc_id_b",
                   design_threshold).select("doc_id_a", "doc_id_b"),
        ["doc_id_a", "doc_id_b"], "left_semi",
    )
    return recall_row(truth, found, truth_threshold)
