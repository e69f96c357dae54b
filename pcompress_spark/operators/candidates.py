"""LSH banding + candidate-pair generation (the scalable similarity path).

Reference analog: the segmented similarity index (MODE_SIMILARITY) — probe
the global index with each of K sketch values; ANY single match nominates a
candidate segment (/root/reference/rabin/rabin_dedup.c:897-1183,
/root/reference/rabin/global/index.c:184-196). Here the shuffle IS the
index: explode (band_idx, band_hash), group, and every bucket with >= 2
members nominates candidate pairs. No shared mutable state, no semaphore
ring — determinism comes from sorted bucket membership.

Long keys through every shuffle: banding, buckets, and pairs carry only the
64-bit ``id_hash`` (derived deterministically from conv_id by the shared
kernel), never the conv_id string — at 10^12-turn scale the string id would
multiply shuffle bytes by ~4x across the three hottest exchanges. conv_ids
are joined back from the signatures table at verify time. A 64-bit id
collision (P ~ n^2/2^65; ~3e4 pairs at 10^12 docs) can only DROP a
candidate pair (equal keys never pair) or merge two clusters — far inside
the 0.99-recall budget; tests assert injectivity on real fixtures.

Skew handling (north_rule: explicit salting of hot LSH buckets; reference
analog: lossy eviction of the oldest chain entry at capacity,
/root/reference/rabin/global/index.c:539-547 — theirs is silent, ours is
deterministic and LOGGED):
  1. bucket sizes via groupBy().count() — cheap, map-side partial agg;
  2. hot buckets (size > bucket_cap) broadcast back to the exploded rows;
  3. salt-sample hot buckets map-side: keep members with
     pmod(salt, n_groups) == 0, n_groups = ceil(size / cap) — so the
     expensive collect_list reducer never sees more than ~cap rows for a
     hot bucket (prevents the 10M-member boilerplate bucket from creating
     a straggler/OOM at 10^12-turn scale);
  4. final deterministic cap: sorted members truncated to bucket_cap.
The same rule runs in the oracle (same id_hash kernel), so engine and
oracle candidate sets stay identical. Dropped-membership counts surface in
the metrics table — no silent caps. ``bucket_members`` is THE shared bucket
implementation: the transcript pipeline, the documents MinHash-LSH path,
and the documents SimHash path all route through it.

Pair generation is entirely JVM (transform/slice/flatten over the sorted
member array): bucket of m members -> C(m,2) struct rows, m <= bucket_cap.

Scale: one shuffle keyed by (band_idx, band_hash) — high cardinality, near
uniform after hot-bucket salting; AQE coalesces small reduces. Output pairs
are aggregated by (a, b) with a map-side combine (n_bands evidence counter,
the A2 early-abort analog).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import DedupConfig


def band_explode(sig: DataFrame, cfg: DedupConfig) -> DataFrame:
    """signatures -> (id_hash, band_idx, band_hash); docs below the
    shingle floor (empty shingle set) take the exact-hash path only, exactly
    like the reference's trailing-block handling (rabin/rabin_dedup.c:717-757
    in pcompress)."""
    # n_tokens >= k  <=>  non-empty shingle set (shingle count per doc is
    # max(n_tokens - (k-1), 0) before distinct; kernels.shingle_hashes_flat).
    # Filtering on the scalar lets Parquet prune the wide array columns
    # from this stage's scan entirely.
    # The band keys are the stored ``band_hashes`` column
    # (signatures.band_hashes_col); posexplode it DIRECTLY (pos IS the
    # band index): no intermediate per-row struct array.
    return sig.where(F.col("n_tokens") >= cfg.shingle_k).select(
        "id_hash",
        F.posexplode("band_hashes").alias("band_idx", "band_hash"),
    )


def bucket_members(
    banded: DataFrame,
    cfg: DedupConfig,
    id_col: str = "id_hash",
    salt_col: str | None = None,
    persist_sizes: bool = True,
    min_size: int = 2,
) -> tuple[DataFrame, DataFrame]:
    """-> (buckets, bucket_stats). THE shared salted/capped/logged bucket
    implementation (see module docstring).

    banded: (id_col, [salt_col,] band_idx, band_hash) exploded rows.
    buckets: (band_idx, band_hash, ids sorted-by-id_col array <= bucket_cap)
    bucket_stats: per-bucket raw size / kept size for the metrics table.

    id_col is the member identity collected into buckets (long id_hash for
    transcripts, doc_id for document tables); salt_col (default id_col) is
    the 64-bit hash used for deterministic hot-bucket sampling.

    persist_sizes: cache the bucket-size frame, which the batch pipeline
    consumes twice (hot-bucket broadcast + stats collect). Pass False from
    repeated callers that ignore stats (e.g. the per-micro-batch streaming
    path) — Spark's cache holds strong references, so per-batch persists
    would accumulate for the life of a stream.

    min_size: self-join callers keep the default 2 (a singleton bucket
    can't pair); BIPARTITE probes (a foreign key set probing these
    buckets, e.g. the benchmark probe index) pass 1 — a single-member
    bucket is still a valid probe target.
    """
    salt_col = salt_col or id_col
    sizes = banded.groupBy("band_idx", "band_hash").agg(
        F.count(F.lit(1)).alias("raw_size")
    )
    if persist_sizes:
        sizes = sizes.persist()
    hot = sizes.where(F.col("raw_size") > cfg.bucket_cap)
    salted = (
        banded.join(F.broadcast(hot), ["band_idx", "band_hash"], "left")
        .where(
            F.col("raw_size").isNull()
            | (
                F.pmod(
                    F.col(salt_col),
                    F.ceil(F.col("raw_size") / F.lit(cfg.bucket_cap)).cast("long"),
                )
                == 0
            )
        )
        .drop("raw_size")
    )
    buckets = (
        salted.groupBy("band_idx", "band_hash")
        .agg(F.slice(F.sort_array(F.collect_list(id_col)), 1, cfg.bucket_cap).alias("ids"))
        .where(F.size("ids") >= int(min_size))
    )
    stats = sizes.select(
        F.count(F.lit(1)).alias("n_buckets"),
        F.sum(F.when(F.col("raw_size") > cfg.hot_bucket_threshold, 1).otherwise(0)).alias("n_hot_buckets"),
        F.sum(F.when(F.col("raw_size") > cfg.bucket_cap, F.col("raw_size")).otherwise(0)).alias("hot_member_rows"),
        F.max("raw_size").alias("max_bucket_size"),
    )
    return buckets, stats


def bucket_pairs(buckets: DataFrame, a_col: str, b_col: str) -> DataFrame:
    """Explode each bucket's sorted member array into C(m,2) (a, b) pairs
    with a < b — entirely JVM (transform/slice/flatten)."""
    return buckets.select(
        F.explode(
            F.expr(
                "flatten(transform(ids, (x, i) -> "
                "transform(slice(ids, i + 2, size(ids)), y -> "
                f"struct(x as {a_col}, y as {b_col}))))"
            )
        ).alias("p")
    ).select(f"p.{a_col}", f"p.{b_col}")


def bucket_candidates(
    banded: DataFrame,
    cfg: DedupConfig,
    pair: tuple[str, str] = ("ih_a", "ih_b"),
    id_col: str = "id_hash",
    salt_col: str | None = None,
    persist_sizes: bool = True,
    count: str = "n_bands",
) -> tuple[DataFrame, DataFrame]:
    """The bucket-and-count step every banded channel shares: banded rows
    -> (bucket_members) -> each bucket's C(m,2) member pairs -> one row per
    pair, (a, b, <count>) with a < b and ``count`` the number of buckets
    the pair shares; plus bucket_members' stats. ``pair`` names the pair
    columns; ``id_col``/``salt_col``/``persist_sizes`` are bucket_members'."""
    buckets, stats = bucket_members(banded, cfg, id_col=id_col,
                                    salt_col=salt_col,
                                    persist_sizes=persist_sizes)
    a, b = pair
    agg = bucket_pairs(buckets, a, b).groupBy(a, b).agg(
        F.count(F.lit(1)).cast("int").alias(count)
    )
    return agg, stats


def candidate_pairs(
    sig: DataFrame,
    cfg: DedupConfig,
    persist_sizes: bool = True,
) -> tuple[DataFrame, DataFrame]:
    """signatures -> ((ih_a, ih_b, n_bands) with ih_a < ih_b signed, stats).
    Long keys only — conv_ids are resolved at verify time."""
    return bucket_candidates(band_explode(sig, cfg), cfg,
                             persist_sizes=persist_sizes)


def simhash_band_expr(col: str = "simhash", n_segs: int = 8,
                      seg_bits: int = 8) -> F.Column:
    """Array of C(n_segs,2) (band_idx, band_hash) structs from a 64-bit
    SimHash column — the segment-PAIR multi-index of simhash_pairs, the
    document and transcript SimHash channel. 16-bit pair keys give a
    65536-value keyspace per band; pigeonhole guarantees recall for
    hamming <= n_segs - 2. Arithmetic shiftright is safe under the & mask."""
    seg_pairs = [(i, j) for i in range(n_segs) for j in range(i + 1, n_segs)]
    mask = (1 << seg_bits) - 1
    return F.array(*[
        F.struct(
            F.lit(p).alias("band_idx"),
            (
                (F.shiftright(col, i * seg_bits).bitwiseAND(F.lit(mask))
                 * F.lit(1 << seg_bits))
                + F.shiftright(col, j * seg_bits).bitwiseAND(F.lit(mask))
            ).cast("long").alias("band_hash"),
        )
        for p, (i, j) in enumerate(seg_pairs)
    ])


def simhash_pairs(
    sig: DataFrame, cfg: DedupConfig, id_col: str, max_hamming: int = 6,
    carry: tuple[str, ...] = (), persist_sizes: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """The SimHash channel of documents and transcripts (J2; reference
    per-block similarity_hash probe,
    rabin/rabin_dedup.c:684-706, 1469-1489 in pcompress): signature
    rows (id_col, id_hash, simhash, *carry) -> ((<id_col>_a, <id_col>_b,
    *carry_a, *carry_b, hamming) with hamming <= max_hamming and the pair
    ordered by id_col, bucket stats).

    Candidates: the segment-pair multi-index (simhash_band_expr), bucketed
    by the shared salted/capped/logged bucket_members with id_col as the
    member and id_hash as the salt; verify: exact popcount of the XOR.
    Empty docs carry the sentinel fingerprint and pair among themselves —
    identical in the oracle. For hamming > n_segs - 2 the pair-key
    guarantee breaks; this refuses rather than silently losing recall."""
    n_segs = 8
    if max_hamming > n_segs - 2:
        raise ValueError(
            f"segment-pair multi-index guarantees recall only for "
            f"max_hamming <= {n_segs - 2}; got {max_hamming}"
        )
    a, b = f"{id_col}_a", f"{id_col}_b"
    banded = sig.select(
        *dict.fromkeys([id_col, "id_hash"]),
        F.explode(simhash_band_expr("simhash", n_segs)).alias("band"),
    ).select(id_col, "id_hash", "band.band_idx", "band.band_hash")
    cand, stats = bucket_candidates(banded, cfg, (a, b), id_col=id_col,
                                    salt_col="id_hash",
                                    persist_sizes=persist_sizes)

    def side(key: str, s: str) -> DataFrame:
        return sig.select(F.col(id_col).alias(key),
                          F.col("simhash").alias(f"sh_{s}"),
                          *(F.col(c).alias(f"{c}_{s}") for c in carry))

    ham = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))).cast("long")
    pairs = (
        cand.join(side(a, "a"), a).join(side(b, "b"), b)
        .select(a, b, *(f"{c}_{s}" for s in "ab" for c in carry),
                ham.alias("hamming"))
        .where(F.col("hamming") <= max_hamming)
    )
    return pairs, stats


def simhash_candidate_pairs(
    sig: DataFrame, cfg: DedupConfig, max_hamming: int = 6
) -> DataFrame:
    """SimHash pairs for TRANSCRIPTS over the pipeline signatures table:
    (conv_id_a, conv_id_b, hamming) with conv_id_a < conv_id_b — the
    shared simhash_pairs plan with id_hash as the member (long keys
    through the bucket shuffle, like candidate_pairs) and conv_ids
    carried from the verify joins."""
    pairs, _stats = simhash_pairs(sig, cfg, "id_hash", max_hamming,
                                  carry=("conv_id",))
    return pairs.select(
        F.least("conv_id_a", "conv_id_b").alias("conv_id_a"),
        F.greatest("conv_id_a", "conv_id_b").alias("conv_id_b"),
        "hamming",
    )
