"""Signatures: assembled documents -> content hash + shingle set + MinHash +
SimHash (+ substring window fingerprints), via ONE Arrow-batched
``mapInPandas`` pass.

Reference analogs: per-block SHA-256 (H1, /root/reference/rabin/
rabin_dedup.c:790-797), K-min-values sketches (H3/H4, rabin_dedup.c:684-706,
975-994), rabin shingling (C1, rabin_dedup.c:622-757). The reference
vectorizes these with SSE + OpenMP; we vectorize with numpy over Arrow
batches (kernels.py) — the identical kernels the oracle uses, so engine
signatures == oracle signatures bit-for-bit.

Design notes:
- mapInArrow (not a scalar pandas_udf returning a struct) so the heavy
  ``text`` column is DROPPED on output — downstream stages shuffle only
  hashes, never raw text — and the signature arrays cross the boundary as
  flat Arrow (values, offsets) buffers with zero per-row Python objects
  (kernels.signatures_flat_for_texts). At 100 TB input, every later join
  runs against the signatures table, never the text.
- NO shuffle in this stage: it maps over whatever partitioning assemble
  produced.
- Arrow batch size (spark.sql.execution.arrow.maxRecordsPerBatch) bounds
  the per-task working set; kernels process MinHash permutations in chunks
  of 16 to cap memory at batch_shingles x 16 x 8B.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..config import DedupConfig
from ..kernels import hash_tokens, trim_after

SIGNATURE_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("id_hash", T.LongType(), False),
        T.StructField("n_turns", T.LongType(), False),
        T.StructField("n_tokens", T.LongType(), False),
        T.StructField("content_hash", T.StringType(), False),
        T.StructField("shingles", T.ArrayType(T.LongType()), False),
        T.StructField("minhash", T.ArrayType(T.LongType()), False),
        T.StructField("simhash", T.LongType(), False),
        T.StructField("win_hashes", T.ArrayType(T.LongType()), False),
        T.StructField("win_positions", T.ArrayType(T.LongType()), False),
    ]
)


def compute_signatures(
    assembled: DataFrame, cfg: DedupConfig, parallelism: int | None = None,
    passthrough: tuple[str, ...] = (),
) -> DataFrame:
    """(conv_id, n_turns, doc_text) -> signature rows (schema above).

    The stage is CPU-bound Python, so it must not inherit AQE's
    size-coalesced partitioning (AQE targets ~64MB/partition, which is far
    too few tasks for numpy work). Callers should pass an
    assemble(..., parallelism=N)-partitioned input (no extra exchange); the
    optional ``parallelism`` here forces a repartition only when the input
    isn't already pinned.

    ``passthrough``: extra input columns copied verbatim onto the output
    (appended after the signature columns, keeping their input types).
    Streaming callers use it to carry the event-time column through the
    mapInPandas boundary — the watermark tag itself does not survive a
    Python map, so they re-apply withWatermark on the passed-through
    column."""
    if parallelism:
        assembled = assembled.repartition(parallelism, "conv_id")
    schema = SIGNATURE_SCHEMA
    for name in passthrough:
        schema = schema.add(assembled.schema[name])

    # Arrow-NATIVE batches (mapInArrow + kernels.signatures_flat_for_texts):
    # the signature arrays leave Python as flat (values, offsets) buffers —
    # a pyarrow ListArray IS that pair — so no per-row numpy object is ever
    # wrapped or pickled. The per-row pandas form this replaced spent ~37%
    # of the 160k-conv signature stage on row wrapping alone (guide §4.2:
    # hand whole batches to the columnar format).
    def _sign(batches):
        import hashlib

        import pyarrow as pa

        from ..kernels import arrow_list_array, signatures_flat_for_texts

        for rb in batches:
            texts = rb.column(rb.schema.get_field_index("doc_text")).to_pandas()
            conv = rb.column(rb.schema.get_field_index("conv_id"))
            n = len(texts)
            flat = signatures_flat_for_texts(texts, cfg)
            cols = [
                conv,
                # deterministic 64-bit id hash (shared kernel) — used for
                # hot-bucket salting; reproducible in the oracle.
                # max_token_chars=None: identifiers hash FULL-length — the
                # 64-char token truncation would deterministically collide
                # conv_ids sharing a long prefix.
                pa.array(hash_tokens(
                    conv.to_pandas().to_numpy(dtype=np.str_), None
                ).view(np.int64), type=pa.int64()),
                rb.column(rb.schema.get_field_index("n_turns")),
                pa.array(flat["n_tokens"], type=pa.int64()),
                pa.array([hashlib.sha256(b).hexdigest()
                          for b in flat["norm_bytes"]], type=pa.string()),
                arrow_list_array(flat["sh_values"], flat["sh_offsets"]),
                arrow_list_array(
                    flat["mh"].ravel(),
                    np.arange(0, (n + 1) * cfg.num_perm, cfg.num_perm,
                              dtype=np.int64)),
                pa.array(flat["simhash"].view(np.int64), type=pa.int64()),
                arrow_list_array(flat["wh_values"], flat["w_offsets"]),
                arrow_list_array(flat["wp_values"], flat["w_offsets"]),
            ]
            names = list(SIGNATURE_SCHEMA.fieldNames())
            for name in passthrough:
                cols.append(rb.column(rb.schema.get_field_index(name)))
                names.append(name)
            yield pa.RecordBatch.from_arrays(cols, names=names)

    # trim_after: workers release arena RSS once their partition is done, so
    # idle (reused) Python workers don't starve the following shuffle stage
    out = assembled.mapInArrow(trim_after(_sign), schema=schema)
    return out.withColumn("band_hashes", band_hashes_col(cfg))


def band_hashes_col(cfg: DedupConfig):
    """THE LSH band-key formula: band b's key is xxhash64(b, minhash[b*rows
    : (b+1)*rows]). Batch and stream store it at signing time as the
    ``band_hashes`` column (bands x 8 B per row: banding then scans ready
    keys instead of decoding and re-hashing the 1 KB minhash array); the
    document path bands with it directly."""
    r = cfg.rows
    return F.expr(f"transform(sequence(0, {cfg.bands - 1}), "
                  f"b -> xxhash64(b, slice(minhash, b * {r} + 1, {r})))")
