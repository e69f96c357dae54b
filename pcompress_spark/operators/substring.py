"""Substring pass: long exact token runs shared across conversations.

Reference analog: bsdiff's suffix-array long-match search between similar
blocks (/root/reference/bsdiff/bsdiff.c:142-254, invoked at
/root/reference/rabin/rabin_dedup.c:1469-1489). Shingle-based MinHash misses
a short-vs-long containment pair (Jaccard is tiny when one doc is much
longer), so this stage catches "conversation B embeds a long verbatim span
of conversation A".

Spark-first: no suffix arrays needed for *detection* — signatures already
carry content-defined window fingerprints (kernels.window_fingerprints: a
window is selected iff its own hash % stride == 0, the rabin-boundary trick,
so selection is position-independent). Detection is then exactly the LSH
shape: explode (win_hash), group, pair within bucket — one shuffle on the
window hash, routed through THE shared salted/capped/logged bucket
implementation (candidates.bucket_candidates) with band_idx=0 and
band_hash=win_hash: a viral boilerplate span shared by 10M conversations is
salt-sampled map-side BEFORE the collect_list reducer ever materializes the
membership (the same straggler/OOM guard the LSH path has; reference
eviction analog /root/reference/rabin/global/index.c:539-547), and the
dropped membership counts surface in bucket stats — no silent caps.

Pairs already verified as exact/near duplicates are anti-joined away: this
table reports *containment-style* overlap that clustering did NOT capture.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..config import DedupConfig
from .candidates import bucket_candidates


def substring_candidates(
    sig: DataFrame, cfg: DedupConfig, persist_sizes: bool = True
) -> tuple[DataFrame, DataFrame]:
    """signatures -> ((ih_a, ih_b, n_windows) pairs sharing at least
    substring_min_windows distinct window fingerprints, bucket stats for
    the metrics table).

    The bucket member follows the type of the input's ``conv_id``: a
    string conv_id (transcripts) rides its 64-bit id_hash, and a long one
    (documents, whose doc_id is passed as conv_id) is its own member. Either
    way id_hash salts hot buckets, and ih_a/ih_b hold the member keys.

    Routed through the shared ``bucket_candidates`` (band_idx=0,
    band_hash=win_hash): hot window-hash buckets are salt-sampled map-side
    before the reducer, deterministically capped, and drops are logged —
    identical skew story to the LSH candidate stage. The window-hash
    shuffle carries only 8-byte ids."""
    long_ids = isinstance(sig.schema["conv_id"].dataType, T.LongType)
    mem = "conv_id" if long_ids else "id_hash"
    exploded = (
        sig.where(F.size("win_hashes") > 0)
        .select(
            *dict.fromkeys([mem, "id_hash"]),
            F.lit(0).alias("band_idx"),
            F.explode(F.array_distinct("win_hashes")).alias("band_hash"),
        )
    )
    cand, stats = bucket_candidates(exploded, cfg, id_col=mem,
                                    salt_col="id_hash",
                                    persist_sizes=persist_sizes,
                                    count="n_windows")
    return cand.where(F.col("n_windows") >= cfg.substring_min_windows), stats


def substring_pairs(
    sig: DataFrame,
    verified_pairs: DataFrame,
    cfg: DedupConfig,
    return_stats: bool = False,
) -> DataFrame | tuple[DataFrame, DataFrame]:
    """Substring-overlap pairs not already explained by exact/near dedup:
    (conv_id_a, conv_id_b, n_windows) with a < b lexicographic. conv_ids
    are resolved from the signatures table (long-key joins). With
    return_stats, also returns the window-bucket stats frame for the
    metrics table."""
    cand, stats = substring_candidates(sig, cfg)
    a = sig.select(F.col("id_hash").alias("ih_a"), F.col("conv_id").alias("cid_a"))
    b = sig.select(F.col("id_hash").alias("ih_b"), F.col("conv_id").alias("cid_b"))
    named = (
        cand.join(a, "ih_a").join(b, "ih_b")
        .select(
            F.least("cid_a", "cid_b").alias("conv_id_a"),
            F.greatest("cid_a", "cid_b").alias("conv_id_b"),
            "n_windows",
        )
    )
    known = verified_pairs.select("conv_id_a", "conv_id_b")
    out = named.join(known, ["conv_id_a", "conv_id_b"], "left_anti")
    return (out, stats) if return_stats else out


def verify_substring_pairs(
    pairs: DataFrame, assembled: DataFrame, cfg: DedupConfig
) -> DataFrame:
    """Exact longest-common-token-run length for each flagged pair:
    (conv_id_a, conv_id_b, n_windows) pairs and (conv_id, doc_text) texts
    -> (conv_id_a, conv_id_b, n_windows, lcs_tokens), the conv_id type
    taken from ``pairs``. The true bsdiff long-match measurement
    (suffix-array search replaced by a rolling-hash binary search,
    kernels.longest_common_run).

    Spark shape: two joins pull the pair texts (pairs << corpus; AQE
    broadcasts the pair side), then one Arrow-batched mapInPandas computes
    LCS per pair. Only flagged pairs pay this cost — the candidate stage
    already reduced the search space, exactly like the reference only
    bsdiffs blocks its similarity probe nominated
    (/root/reference/rabin/rabin_dedup.c:1469-1489)."""
    from collections.abc import Iterator

    import pandas as pd

    from ..kernels import lcs_kernel, tokens_to_hashes, trim_after

    a = assembled.select(F.col("conv_id").alias("conv_id_a"),
                         F.col("doc_text").alias("text_a"))
    b = assembled.select(F.col("conv_id").alias("conv_id_b"),
                         F.col("doc_text").alias("text_b"))
    joined = pairs.join(a, "conv_id_a").join(b, "conv_id_b").select(
        "conv_id_a", "conv_id_b", "n_windows", "text_a", "text_b"
    )
    max_chars = cfg.max_token_chars
    lcs_fn = lcs_kernel(getattr(cfg, "substring_verify", "rolling"))

    def _verify(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            lcs = [
                lcs_fn(tokens_to_hashes(ta, max_chars),
                       tokens_to_hashes(tb, max_chars))
                for ta, tb in zip(pdf["text_a"], pdf["text_b"])
            ]
            yield pd.DataFrame(
                {
                    "conv_id_a": pdf["conv_id_a"].values,
                    "conv_id_b": pdf["conv_id_b"].values,
                    "n_windows": pdf["n_windows"].values,
                    "lcs_tokens": pd.array(lcs, dtype="int64"),
                }
            )

    id_type = pairs.schema["conv_id_a"].dataType
    schema = T.StructType([
        T.StructField("conv_id_a", id_type, False),
        T.StructField("conv_id_b", id_type, False),
        T.StructField("n_windows", T.IntegerType(), False),
        T.StructField("lcs_tokens", T.LongType(), False),
    ])
    return joined.mapInPandas(trim_after(_verify), schema=schema)
