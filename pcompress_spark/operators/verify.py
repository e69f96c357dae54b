"""Verify: candidate pairs -> confirmed duplicate pairs.

Reference analog: candidate segments are confirmed by block-level exact
matching (memcmp residual after the hash probe,
/root/reference/rabin/rabin_dedup.c:1074-1183, 1311-1366) and abandoned
early when the projected gain is too small ("No Dedupe possible",
/root/reference/rabin/rabin_dedup.c:1250-1257 — the A2 early-abort).

Spark shape: the bare pair list is BROADCAST against the signatures table
TWICE (one map-side hash join per pair end — no shuffle of the corpus), and
the two enriched sides then join on the composite (ih_a, ih_b) key, so the
only exchange in this stage moves O(candidate) rows. Then pure JVM
expressions:
  - est_jaccard: fraction of agreeing MinHash positions (zip_with +
    aggregate) — the cheap pre-filter (early-abort analog);
  - jaccard: EXACT Jaccard on the sorted-distinct shingle sets
    (array_intersect / sizes) — the memcmp-strength residual;
  - exact: content_hash equality (crypto-hash path).

Everything here is whole-stage-codegen JVM; no Python.

Why the explicit double-broadcast instead of chained joins: the naive
cand ⋈ sig_a ⋈ sig_b plan makes Spark shuffle + sort the FULL signatures
table (shingle + minhash arrays — by far the heaviest table in the
pipeline) on the second join key. That is an O(corpus) array shuffle whose
sort spill dominated the stage and swung its wall time 4x run-to-run.
With the pair list broadcast to both probe joins, the corpus is only ever
SCANNED (map-side), and the composite-key exchange carries array payloads
for candidate rows only — at the 10^12-turn design point candidates are
orders of magnitude smaller than the corpus, so the stage's shuffle volume
is pair-bound, not corpus-bound. When the pair list itself outgrows
broadcast range (cand_rows > broadcast_limit) the probes fall back to
ordinary shuffled joins; in that regime pair volume rivals corpus volume
(LSH produced >= broadcast_limit surviving pairs), so a corpus-keyed
exchange is inherent to the question being asked, not plan overhead.

Exact-duplicate pairs are generated independently of LSH from
content_hash groups (J3 analog: the global crypto-hash index,
/root/reference/rabin/global/index.c:485-558, first-occurrence-wins becomes
a deterministic min(conv_id) star) — so exact-dup recall is 1.0 by
construction even for docs below the shingle floor.

Scale note: shingle arrays ride through these joins. At the 10^12-turn
design point, signatures keep shingles as ~8B x n_tokens arrays; the pair
join touches only candidate rows (<< corpus). If pair volume ever rivals
corpus size, bump minhash_prefilter — est_jaccard needs only the 1 KB
minhash column and drops most pairs before the shingle columns are read
(Parquet column pruning keeps the scan narrow).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..config import DedupConfig


def exact_pairs(sig: DataFrame) -> DataFrame:
    """Star edges within each content_hash group: (min_id, other_id).
    One shuffle on content_hash; groups collapse to a representative star,
    never the quadratic pair set — at 10^12 scale a 1M-copy boilerplate
    document yields 1M-1 edges, not 10^12/2 pairs. Carries both the conv_id
    strings (the public pair columns, a < b lexicographic by construction)
    and the 64-bit id hashes (the connected-components join keys)."""
    reps = (
        sig.groupBy("content_hash")
        .agg(
            F.min("conv_id").alias("rep"),
            F.min_by("id_hash", "conv_id").alias("rep_ih"),
            F.count(F.lit(1)).alias("n"),
        )
        .where(F.col("n") > 1)
        .drop("n")
    )
    return (
        sig.join(reps, "content_hash")
        .where(F.col("conv_id") != F.col("rep"))
        .select(
            F.col("rep").alias("conv_id_a"),
            F.col("conv_id").alias("conv_id_b"),
            F.lit(1.0).alias("jaccard"),
            F.lit("exact").alias("match_kind"),
            F.col("rep_ih").alias("ih_a"),
            F.col("id_hash").alias("ih_b"),
        )
    )


def near_pairs(
    sig: DataFrame,
    candidates: DataFrame,
    cfg: DedupConfig,
    cand_rows: int | None = None,
    broadcast_limit: int = 20_000_000,
) -> DataFrame:
    """candidates (ih_a, ih_b, n_bands — long keys, UNIQUE on (ih_a, ih_b):
    every producer is a groupBy/distinct; duplicates would cross-multiply
    in the composite join below) -> verified NEAR pairs
    (conv_id_a, conv_id_b, jaccard, match_kind='near', ih_a, ih_b) with
    (conv_id_a, conv_id_b) normalized lexicographic a < b and the ih
    columns aligned to that order. Exact-hash pairs are excluded here; they
    come from exact_pairs (the content-hash star).

    The joins are keyed on the 64-bit id_hash, not the conv_id string — the
    candidate table never carries strings, and the join hashes 8-byte keys.
    conv_ids come along for free from the signature rows.

    cand_rows: known candidate-pair count (the pipeline reads it from the
    candidates stage manifest — zero extra jobs). The bare pair list is
    broadcast to both probe joins when it fits (<= broadcast_limit rows,
    ~16 B/row => 320 MB at the 20M default); above that the probes degrade
    to ordinary shuffled joins (see module docstring). None (ad-hoc
    callers) broadcasts: a pair list only outgrows broadcast range in
    pipelines, which always know the count."""
    bare = candidates.select("ih_a", "ih_b")
    if cand_rows is None or cand_rows <= broadcast_limit:
        bare = F.broadcast(bare)
    a_side = sig.select(
        F.col("id_hash").alias("ih_a"),
        F.col("conv_id").alias("cid_a"),
        F.col("content_hash").alias("ch_a"),
        F.col("shingles").alias("sh_a"),
        F.col("minhash").alias("mh_a"),
    ).join(bare, "ih_a")
    b_side = sig.select(
        F.col("id_hash").alias("ih_b"),
        F.col("conv_id").alias("cid_b"),
        F.col("content_hash").alias("ch_b"),
        F.col("shingles").alias("sh_b"),
        F.col("minhash").alias("mh_b"),
    ).join(bare, "ih_b")
    joined = a_side.join(b_side, ["ih_a", "ih_b"])
    est = (
        F.aggregate(
            F.zip_with("mh_a", "mh_b", lambda x, y: (x == y).cast("int")),
            F.lit(0),
            lambda acc, v: acc + v,
        )
        / F.lit(cfg.num_perm)
    ).alias("est_jaccard")
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    jac = F.when(union > 0, inter / union).otherwise(F.lit(1.0))
    # exact-hash pairs are NOT special-cased into the prefilter: equal
    # content_hash implies equal minhash (est = 1.0 passes any floor), and
    # the final filter drops ch_a == ch_b rows anyway (they belong to
    # exact_pairs) — a disjunct here would only push doomed rows through
    # the array_intersect scoring
    scored = (
        joined.withColumn("est_jaccard", est)
        .where(F.col("est_jaccard") >= F.lit(cfg.minhash_prefilter))
        .withColumn("jaccard_x", jac)
    )
    a_first = F.col("cid_a") < F.col("cid_b")
    return scored.where(
        (F.col("ch_a") != F.col("ch_b"))
        & (F.col("jaccard_x") >= F.lit(cfg.jaccard_threshold))
    ).select(
        F.least("cid_a", "cid_b").alias("conv_id_a"),
        F.greatest("cid_a", "cid_b").alias("conv_id_b"),
        F.col("jaccard_x").alias("jaccard"),
        F.lit("near").alias("match_kind"),
        F.when(a_first, F.col("ih_a")).otherwise(F.col("ih_b")).alias("ih_a"),
        F.when(a_first, F.col("ih_b")).otherwise(F.col("ih_a")).alias("ih_b"),
    )


def verify_pairs(
    sig: DataFrame,
    candidates: DataFrame,
    cfg: DedupConfig,
    cand_rows: int | None = None,
) -> DataFrame:
    """Full verified-pair table: near pairs (LSH candidates -> est-jaccard
    prefilter -> exact shingle jaccard) plus exact star edges. Exact pairs
    come from the content-hash star (complete by construction); LSH-sourced
    exact pairs are dropped in near_pairs to avoid duplicates. cand_rows:
    see near_pairs (broadcast-vs-shuffle decision for the pair probes)."""
    return near_pairs(sig, candidates, cfg, cand_rows=cand_rows).unionByName(
        exact_pairs(sig)
    )


def rounded_jaccard() -> Column:
    """Exact Jaccard of the sorted-distinct set arrays sh_a and sh_b,
    rounded to 6 dp (two empty sets count as 1.0): the pair rule of every
    set-Jaccard channel but near_pairs, and of their brute-force audit
    truths."""
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    return F.round(
        F.when(union > 0, inter.cast("double") / union).otherwise(F.lit(1.0)), 6
    )


def jaccard_pairs(
    cand: DataFrame,
    sig_a: DataFrame,
    sig_b: DataFrame,
    id_col: str,
    threshold: float,
    pair: tuple[str, str] | None = None,
    carry: tuple[str, ...] = (),
    broadcast_pairs: bool = True,
) -> DataFrame:
    """The set-Jaccard verify of the document MinHash, KMV, incremental
    and benchmark-probe channels: candidate pairs (a, b) — named ``pair``,
    default <id_col>_a/<id_col>_b — probed against ``sig_a`` for the a
    end and ``sig_b`` for the b end (pass one table twice for a
    self-join; each has id_col, shingles and the ``carry`` columns) ->
    (a, b, *carry_a, *carry_b, jaccard) where jaccard = rounded_jaccard
    >= threshold. No est-Jaccard prefilter (near_pairs has one).

    Plan: near_pairs' double-broadcast shape — the bare pair list is
    broadcast to both probe joins and the enriched sides join on the
    composite (a, b) key, so the shingle tables are only scanned, never
    exchanged on one pair-end key. ``broadcast_pairs=False`` degrades the
    probes to shuffled joins — the regime of near_pairs above its
    broadcast_limit, where pair volume rivals corpus volume and a
    corpus-keyed exchange is inherent to the question."""
    a_col, b_col = pair or (f"{id_col}_a", f"{id_col}_b")
    bare = cand.select(a_col, b_col)
    if broadcast_pairs:
        bare = F.broadcast(bare)

    def side(sig: DataFrame, key: str, s: str) -> DataFrame:
        return sig.select(F.col(id_col).alias(key),
                          F.col("shingles").alias(f"sh_{s}"),
                          *(F.col(c).alias(f"{c}_{s}") for c in carry)
                          ).join(bare, key)

    return (
        side(sig_a, a_col, "a").join(side(sig_b, b_col, "b"), [a_col, b_col])
        .select(a_col, b_col, *(f"{c}_{s}" for s in "ab" for c in carry),
                rounded_jaccard().alias("jaccard"))
        .where(F.col("jaccard") >= threshold)
    )


def transcript_recall_report(
    sig: DataFrame, clusters: DataFrame, truth_threshold: float = 0.7
) -> DataFrame:
    """One-row audit of the north-rule headline on the TRANSCRIPT pipeline:
    dup-pair recall of the clustered output against exact shingle-Jaccard
    ground truth, required >= 0.99 at a truth threshold above the LSH
    design point (cfg.jaccard_threshold, default 0.50; truth default 0.70).

    Truth = every conversation pair whose exact Jaccard over the
    sorted-distinct shingle sets is >= truth_threshold, computed by a
    shingle-row self-join (explode -> join on shingle -> count per pair) —
    never an all-pairs array_intersect scan, so cost is bounded by pairs
    that SHARE a shingle. A pair counts as found when both ends carry the
    same cluster_id, i.e. recall is measured on the transitive closure the
    north rule's "matching cluster assignments" wording asks about, so
    exact-dup star edges and multi-hop merges count naturally.

    AUDIT path, like doc_dedup.recall_report: a shingle shared by m
    conversations contributes C(m,2) join rows, which is exactly the
    quadratic hot-bucket blowup the production LSH path caps away — run
    this on audit samples, never the full 10^12-turn corpus. Reference
    analog: the end-of-run dedup-ratio accounting pcompress prints
    (/root/reference/rabin/rabin_dedup.c:1469-1489), strengthened from a
    ratio to a recall against ground truth.
    """
    ex = (
        sig.where(F.size("shingles") > 0)
        .select(
            "conv_id",
            F.size("shingles").alias("nsh"),
            F.explode("shingles").alias("sh"),
        )
    )
    a = ex.select(
        F.col("conv_id").alias("conv_id_a"), F.col("nsh").alias("na"), "sh"
    )
    b = ex.select(
        F.col("conv_id").alias("conv_id_b"), F.col("nsh").alias("nb"), "sh"
    )
    inter = (
        a.join(b, "sh")
        .where(F.col("conv_id_a") < F.col("conv_id_b"))
        .groupBy("conv_id_a", "conv_id_b", "na", "nb")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    # plain IEEE double compare: integer-valued operands, bit-identical in
    # Spark and the DuckDB twin — no rounding at the threshold boundary
    jac = F.col("inter").cast("double") / (
        F.col("na") + F.col("nb") - F.col("inter")
    )
    truth = inter.where(jac >= F.lit(truth_threshold)).select(
        "conv_id_a", "conv_id_b"
    )
    c1 = clusters.select(
        F.col("conv_id").alias("conv_id_a"), F.col("cluster_id").alias("cl_a")
    )
    c2 = clusters.select(
        F.col("conv_id").alias("conv_id_b"), F.col("cluster_id").alias("cl_b")
    )
    found = (
        truth.join(c1, "conv_id_a")
        .join(c2, "conv_id_b")
        .where(F.col("cl_a") == F.col("cl_b"))
    )
    return recall_row(truth, found, truth_threshold)


def recall_row(truth: DataFrame, found: DataFrame,
               truth_threshold: float) -> DataFrame:
    """The one-row recall audit of the transcript, document and KMV
    channels: (truth_threshold, n_truth, n_found, recall), recall =
    n_found / n_truth rounded to 6 dp (1.0 when there is no truth)."""
    nt = truth.agg(F.count(F.lit(1)).cast("long").alias("n_truth"))
    nf = found.agg(F.count(F.lit(1)).cast("long").alias("n_found"))
    return nt.crossJoin(nf).select(
        F.lit(float(truth_threshold)).alias("truth_threshold"),
        "n_truth",
        "n_found",
        F.round(
            F.when(
                F.col("n_truth") > 0,
                F.col("n_found").cast("double") / F.col("n_truth"),
            ).otherwise(F.lit(1.0)),
            6,
        ).alias("recall"),
    )
