"""Incremental (delta-vs-corpus) batch deduplication — the daily-ingest
admission pass a web-scale training-data pipeline actually runs.

Reference analog: pcompress's pipe/global mode probes a PERSISTENT
segmented similarity index instead of rebuilding it per invocation
(rabin/global/index.c:140-151). A new delta is admitted against an existing
corpus without re-banding or re-pairing the corpus. Batch and stream share
the transcript admission: streaming/dedup_stream._near_dup_process admits
each micro-batch through incremental_transcript_pairs, with the stream's
accumulated signature store as the corpus, so the signature table's
``band_hashes`` column is the one band index both probe. Documents and
transcripts share one admission core (_admission) and one label core
(_clusters_core), each with a driver form and a distributed form; the
document wrappers only map their evidence onto the cores' rows. Document
PAIRS (incremental_lsh_pairs) keep the document verify rule the oracle
pins (doc_id-ordered bucket cap, 6 dp Jaccard with no est-Jaccard
prefilter), but share the operators: both pair functions band the touched
corpus rows with the delta's (_touched_bands), count candidates with
candidates.bucket_candidates and keep pairs with a delta endpoint
(_delta_endpoint_pairs); documents then verify with verify.jaccard_pairs,
transcripts with verify.near_pairs.

Scale shape, distributed path (document pairs always; the transcript
pairs and both cores above the driver budget):
  - signatures are computed for the DELTA only when corpus signatures are
    supplied (at scale they are persisted stage tables from the corpus's
    own dedup run — pass them via ``corpus_sig``);
  - the corpus band index (the signature table's ``band_hashes``) is
    probed with a broadcast semi-join on the delta's distinct bucket keys,
    so only corpus rows in TOUCHED buckets survive a map-side filter:
    per-run shuffle work is O(delta + touched members), never O(corpus);
  - hot-bucket salting/capping (the shared ``bucket_members`` path) runs
    on the union membership of each touched bucket, which is bit-identical
    to what a full-corpus re-run would compute for that bucket — so the
    emitted pairs are EXACTLY the full run's pairs restricted to >= 1
    delta endpoint. The DuckDB oracle exploits that equivalence: it
    computes the full pair set in SQL and filters on the endpoint
    predicate, pinning the incremental plan to full-batch semantics.

Scale shape, driver path (small deltas; every function but document
pairs): on
perfbench's ingest_delta workload a distributed admission is ~180 Spark
jobs of fixed scheduling cost on a few hundred rows, slower than
rebuilding the corpus.
When the delta and what it touches fit the driver budget
(``cfg.cc_local_edges`` — the same budget that puts connected components
on its driver union-find), each function instead pulls its inputs in a
few bounded fetches — the delta's narrow signature rows, ONE map-only
scan of the corpus signature table for the bucket memberships and
content-hash rows the delta touches, the shingles and minhash of the
candidate endpoints only, the pair list, the touched label rows — and
computes the same answer on the driver with the same rules (bucket
salting and cap, est-Jaccard prefilter, exact Jaccard, content-hash star,
first-occurrence admission, union-find). Each fetch is either capped by
``limit(n + 1)`` on narrow columns or sized in advance from n_tokens, so
no wide array is fetched before the path is decided. Driver key sets
reach the executors as broadcast relations. The result returns as a
small local DataFrame, so writing it is one job. A step over budget
discards what it fetched and the distributed plan runs unchanged;
``cc_local_edges=0`` forces it. Both paths are bit-identical
(tests/test_incremental_transcripts.py and tests/test_incremental.py pin
the parity), and the transcript functions' optional ``stats`` dict
records which one ran and why.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import cache
from ..config import DedupConfig
from ..operators.candidates import bucket_candidates
from .doc_dedup import doc_band_explode, doc_signatures, exact_hash


def _delta_endpoint_pairs(pairs: DataFrame, delta_ids: DataFrame,
                          a_col: str, b_col: str) -> DataFrame:
    """Rows of ``pairs`` with >= 1 endpoint (``a_col`` or ``b_col``) in the
    one-column ``delta_ids``. Touched buckets can still emit corpus-corpus
    pairs (a hot bucket may salt-drop its delta members); those are
    already known from the corpus's own run and are filtered here. The
    delta id set is the small side by construction (a daily batch), so
    both semi-joins broadcast."""
    key = delta_ids.columns[0]
    return pairs.join(
        F.broadcast(delta_ids.withColumnRenamed(key, a_col)), a_col, "left_semi"
    ).unionByName(pairs.join(
        F.broadcast(delta_ids.withColumnRenamed(key, b_col)), b_col, "left_semi"
    )).distinct()


def _touched_bands(cbands: DataFrame, dbands: DataFrame) -> DataFrame:
    """The delta's band rows plus the corpus band rows of every bucket the
    delta touches: the corpus band scan is filtered map-side by a
    BROADCAST semi-join on the delta's distinct bucket keys, so per-run
    work is O(delta + touched members), never O(corpus)."""
    keys = F.broadcast(dbands.select("band_idx", "band_hash").distinct())
    return cbands.join(keys, ["band_idx", "band_hash"], "left_semi").unionByName(
        dbands)


def incremental_lsh_pairs(
    corpus: DataFrame,
    delta: DataFrame,
    cfg: DedupConfig | None = None,
    threshold: float = 0.3,
    corpus_sig: DataFrame | None = None,
    delta_sig: DataFrame | None = None,
) -> DataFrame:
    """MinHash-LSH near-dup pairs (doc_id_a, doc_id_b, jaccard) between the
    delta and (corpus ∪ delta), WITHOUT re-pairing the corpus: every pair
    has >= 1 delta endpoint; corpus-corpus pairs are the corpus run's job.
    Candidates come from the touched corpus bands ∪ the delta bands
    through the shared bucket_candidates; the delta-endpoint filter and
    the shared set-Jaccard verify (operators.verify.jaccard_pairs) follow.
    The pair list is delta-endpoint-bounded, so it broadcasts to both
    verify probes.

    ``corpus_sig``: the persisted doc_signatures table of the corpus's own
    run; its stored ``band_hashes`` column is the corpus band index. When
    omitted (ad-hoc/test use) it is computed here from ``corpus`` —
    correct but O(corpus); production callers at scale MUST pass it
    (module docstring). ``delta_sig``: precomputed delta signatures —
    callers that also fold signatures into state (tools/run_incremental.py)
    materialize them once and pass them here so the Arrow signature
    kernels run a single time per delta."""
    from ..operators.verify import jaccard_pairs

    cfg = cfg or DedupConfig(shingle_k=3, substring_enabled=False,
                             jaccard_threshold=threshold)
    # stored tables are scanned as they are; only what is computed here
    # is persisted
    csig = (corpus_sig if corpus_sig is not None
            else cache.persist(doc_signatures(corpus, cfg)))
    dsig = (delta_sig if delta_sig is not None
            else cache.persist(doc_signatures(delta, cfg)))
    pair = ("doc_id_a", "doc_id_b")
    cand, _stats = bucket_candidates(
        _touched_bands(doc_band_explode(csig), doc_band_explode(dsig)), cfg,
        pair, id_col="doc_id", salt_col="id_hash", persist_sizes=False)
    cand = _delta_endpoint_pairs(cand, dsig.select("doc_id"), *pair)
    all_sig = csig.select("doc_id", "shingles").unionByName(
        dsig.select("doc_id", "shingles"))
    return jaccard_pairs(cand, all_sig, all_sig, "doc_id", threshold)


def _delta_exact_edges(csig: DataFrame, delta: DataFrame) -> DataFrame:
    """Exact-dup edges with the delta endpoint first: (doc_id, partner)
    where partner is the min corpus doc_id of the doc's content md5 and/or
    the earliest delta doc with the same md5 (d_min < doc_id). The corpus
    exact index is the signature table's ``content_md5`` column, probed
    map-side with a BROADCAST of the delta's hashes; only the hit rows (a
    delta-bounded set) reach the min, so no corpus-sized state shuffles."""
    dmd5 = exact_hash(delta)
    keys = F.broadcast(dmd5.select("content_md5").distinct())
    c_rep = (
        csig.select("content_md5", "doc_id")
        .join(keys, "content_md5", "left_semi")
        .groupBy("content_md5").agg(F.min("doc_id").alias("partner"))
    )
    d_min = dmd5.groupBy("content_md5").agg(F.min("doc_id").alias("partner"))
    return (
        dmd5.join(c_rep, "content_md5")
        .unionByName(dmd5.join(d_min, "content_md5")
                     .where(F.col("partner") < F.col("doc_id")))
        .select("doc_id", "partner")
        .distinct()
    )


def doc_evidence(corpus: DataFrame, delta: DataFrame, cfg: DedupConfig,
                 threshold: float, corpus_sig: DataFrame | None,
                 pairs: DataFrame | None) -> DataFrame:
    """A delta's duplicate evidence in the admission and label cores' row
    form (conv_id_a, conv_id_b, match_kind) over doc_ids: the near pairs
    (``pairs``, precomputed by callers that materialize the pair output,
    else incremental_lsh_pairs) plus _delta_exact_edges as 'exact'."""
    csig = (corpus_sig if corpus_sig is not None
            else cache.persist(doc_signatures(corpus, cfg)))
    if pairs is None:
        pairs = incremental_lsh_pairs(corpus, delta, cfg, threshold,
                                      corpus_sig=csig)
    return pairs.select(
        F.col("doc_id_a").alias("conv_id_a"), F.col("doc_id_b").alias("conv_id_b"),
        F.lit("near").alias("match_kind"),
    ).unionByName(_delta_exact_edges(csig, delta).select(
        F.col("doc_id").alias("conv_id_a"), F.col("partner").alias("conv_id_b"),
        F.lit("exact").alias("match_kind"),
    ))


def incremental_clusters(
    corpus: DataFrame,
    delta: DataFrame,
    cfg: DedupConfig | None = None,
    threshold: float = 0.3,
    corpus_labels: DataFrame | None = None,
    corpus_sig: DataFrame | None = None,
    pairs: DataFrame | None = None,
) -> DataFrame:
    """Incremental cluster maintenance: merge a delta's duplicate evidence
    into the corpus's persisted cluster assignment WITHOUT re-clustering
    the corpus. Output (doc_id, cluster_id) covers corpus ∪ delta;
    cluster_id = min doc_id of the merged component (the same
    first-occurrence-wins label rule as every other cluster surface).

    Contract: the result is connected components over
      corpus evidence   — the corpus run's own verdict, taken as the
                          label STAR of ``corpus_labels`` (collapsing each
                          corpus component to rep->member edges preserves
                          connectivity exactly), and
      delta evidence    — incremental_lsh_pairs (>= 1 delta endpoint,
                          bit-identical to a full-batch run's pairs
                          restricted to that predicate) plus exact-md5
                          edges from delta docs to the corpus exact index
                          / earlier delta docs.
    Components the delta never touches keep their corpus labels verbatim.
    The merge is the transcript label core (_clusters_core) over doc_ids,
    so it takes the driver union-find under ``cfg.cc_local_edges`` and the
    distributed plan above it, bit-identically.

    ``corpus_labels``/``corpus_sig``: persisted stage tables of the
    corpus's own run; with both (and ``pairs``) supplied, ``corpus`` is
    never scanned. When omitted (ad-hoc/test use) they are computed here
    — correct but O(corpus). ``pairs``: precomputed near-dup evidence
    (incremental_lsh_pairs), so the banding/verify chain executes ONCE
    per run when the caller materializes it anyway.

    Reference analog: the persistent global index admits new blocks
    against prior occupants without revisiting them
    (/root/reference/rabin/global/index.c:140-151, 485-558); clustering is
    the backward-reference closure of those hits."""
    from .doc_dedup import neardup_clusters

    cfg = cfg or DedupConfig(shingle_k=3, substring_enabled=False,
                             jaccard_threshold=threshold)
    if corpus_labels is None:
        corpus_labels = cache.persist(neardup_clusters(corpus, cfg, threshold))
    edges = doc_evidence(corpus, delta, cfg, threshold, corpus_sig, pairs)
    changed, untouched = _clusters_core(
        corpus_labels.select(F.col("doc_id").alias("conv_id"), "cluster_id"),
        edges.select("conv_id_a", "conv_id_b"),
        delta.select(F.col("doc_id").alias("conv_id")), cfg, {})
    return untouched.unionByName(changed).select(
        F.col("conv_id").alias("doc_id"), "cluster_id")


# ---- transcript driver path -------------------------------------------
_PAIR_SCHEMA = ("conv_id_a string, conv_id_b string, jaccard double, "
               "match_kind string, ih_a long, ih_b long")
_PAIR_COLS = [c.split()[0] for c in _PAIR_SCHEMA.split(", ")]
# Driver bytes per budget unit for the one wide fetch (shingles + minhash
# of the candidate endpoints): the 16 B/edge of connected components' edge
# fetch, so the default budget bounds it at 32 MB.
_BYTES_PER_EDGE = 16


def _fetch(df: DataFrame, limit: int):
    """At most ``limit + 1`` rows of ``df`` as pandas — one bounded job. A
    result longer than ``limit`` means the frame is over budget."""
    return df.limit(limit + 1).toPandas()


def _fetch_with_ids(pairs: DataFrame, cols: tuple, ids: DataFrame, limit: int):
    """The ``cols`` of ``pairs`` and the ``conv_id`` of ``ids`` in ONE
    bounded job of at most 2 x ``limit`` + 1 rows: (pair rows, id list).
    If the fetch was cut, one side holds more than ``limit``. An id row
    repeats its id, cast to each column's type, in every column: a null
    would turn a long id column into float64 on the driver."""
    types = dict(pairs.dtypes)
    rows = _fetch(
        pairs.select(*cols, F.lit(False).alias("is_id")).unionByName(
            ids.select(*(F.col("conv_id").cast(types[c]).alias(c) for c in cols),
                       F.lit(True).alias("is_id"))),
        2 * limit)
    is_id = rows["is_id"].to_numpy(dtype=bool)
    return rows.loc[~is_id, list(cols)], rows.loc[is_id, cols[0]].tolist()


def _where_in(df: DataFrame, col: str, keys, negate: bool = False) -> DataFrame:
    """Rows of ``df`` whose ``col`` is (``negate``: is not) in the driver
    key collection, shipped as a broadcast relation: a map-only semi (anti)
    join, with no key literals in the plan."""
    dtype = df.schema[col].dataType.simpleString()
    keys = pd.DataFrame({col: sorted(set(keys))},
                        dtype="int64" if dtype == "bigint" else object)
    rel = df.sparkSession.createDataFrame(keys, f"{col} {dtype}")
    return df.join(F.broadcast(rel), col, "left_anti" if negate else "left_semi")


def _delta_keys(drows, cfg: DedupConfig):
    """The delta's probe keys (ih, b, h): one per band above the shingle
    floor, like band_explode, and for every row the content key
    (b = ``bands``, h = xxhash64(content_hash))."""
    import numpy as np

    keyed = drows[drows["n_tokens"] >= cfg.shingle_k]
    bh = (np.stack(keyed["bh"].to_numpy()) if len(keyed)
          else np.empty((0, cfg.bands), dtype=np.int64))
    return pd.DataFrame({
        "ih": np.concatenate([
            np.repeat(keyed["id_hash"].to_numpy(dtype=np.int64), cfg.bands),
            drows["id_hash"].to_numpy(dtype=np.int64)]),
        "b": np.concatenate([np.tile(np.arange(cfg.bands), len(keyed)),
                             np.full(len(drows), cfg.bands)]).astype(np.int32),
        "h": np.concatenate([bh.ravel(), drows["ch_key"].to_numpy()]
                            ).astype(np.int64),
    })


def _corpus_hits(csig: DataFrame, dkeys, cfg: DedupConfig) -> DataFrame:
    """One map-only pass over the corpus signature table, narrow columns
    only, probed with ONE broadcast relation of the delta's keys
    (_delta_keys): (id_hash, n_tokens, band_idx, band_hash) for every
    membership of a bucket the delta touches (above the shingle floor),
    and, with band_idx = ``bands``, (id_hash, n_tokens, conv_id,
    content_hash) for every row whose content key matches the delta's."""
    keys = csig.sparkSession.createDataFrame(
        dkeys[["b", "h"]].drop_duplicates().set_axis(
            ["band_idx", "band_hash"], axis=1),
        "band_idx int, band_hash long")
    is_ch = F.col("band_idx") == cfg.bands
    return (
        csig.select("id_hash", "n_tokens", "conv_id", "content_hash",
                    F.posexplode(F.concat("band_hashes",
                                          F.array(F.xxhash64("content_hash"))))
                    .alias("band_idx", "band_hash"))
        .where(is_ch | (F.col("n_tokens") >= cfg.shingle_k))
        .join(F.broadcast(keys), ["band_idx", "band_hash"], "left_semi")
        .select("id_hash", "n_tokens", "band_idx", "band_hash",
                F.when(is_ch, F.col("conv_id")).alias("conv_id"),
                F.when(is_ch, F.col("content_hash")).alias("content_hash"))
    )


def _driver_candidates(dkeys, hits, d_ih: set, cfg: DedupConfig, budget: int):
    """Candidate pairs (ih_a, ih_b, n_bands), ih_a < ih_b signed, with >= 1
    delta endpoint, from the full membership of every bucket the delta
    touches — bucket_members' salting, signed sort and cap, then each delta
    member x every other member of its capped bucket: O(delta members x
    cap), the same rows as bucket_candidates restricted to a delta
    endpoint, n_bands the number of capped buckets the pair shares. Self
    pairs (a replayed row listed twice) are dropped; near_pairs drops them
    anyway, for their shared content hash. Returns (pairs or None when the
    pair rows would exceed ``budget``, the pair row count, bucket_members'
    stats over the touched buckets)."""
    import numpy as np

    cmem = hits.loc[hits["band_idx"] < cfg.bands,
                    ["id_hash", "band_idx", "band_hash"]]
    mem = pd.concat([cmem.set_axis(["ih", "b", "h"], axis=1),
                     dkeys[dkeys["b"] < cfg.bands]], ignore_index=True)
    by_bucket = mem.groupby(["b", "h"])["ih"]
    buckets = _bucket_stats(by_bucket.size(), cfg)
    raw = by_bucket.transform("size").to_numpy()
    # pmod(id_hash, ceil(raw / cap)) == 0; the divisor is 1 below the cap
    mem = mem[mem["ih"].to_numpy() % -(-raw // cfg.bucket_cap) == 0]
    mem = mem.sort_values(["b", "h", "ih"])
    mem = mem[mem.groupby(["b", "h"]).cumcount().to_numpy() < cfg.bucket_cap]
    mem = mem.assign(d=mem["ih"].isin(d_ih).to_numpy())
    size = mem.groupby(["b", "h"])["ih"].transform("size").to_numpy()
    n_rows = int((size[mem["d"].to_numpy()] - 1).sum())
    if n_rows > budget:
        return None, n_rows, buckets
    pr = mem[mem["d"]].merge(mem, on=["b", "h"], suffixes=("_x", "_y"))
    x, y = pr["ih_x"].to_numpy(), pr["ih_y"].to_numpy()
    # each unordered pair once per shared bucket: a delta-delta pair is
    # listed from both ends, so keep its x < y listing only
    keep = (x != y) & (~pr["d_y"].to_numpy() | (x < y))
    cand = pd.DataFrame({"ih_a": np.minimum(x, y)[keep],
                         "ih_b": np.maximum(x, y)[keep]})
    cand = cand.groupby(["ih_a", "ih_b"]).size().rename("n_bands").reset_index()
    return cand.astype({"n_bands": "int32"}), n_rows, buckets


def _bucket_stats(sizes, cfg: DedupConfig) -> dict:
    """bucket_members' stats row from the raw bucket sizes ``sizes``; over
    no bucket, the sums and the max are null, as in Spark."""
    if not len(sizes):
        return {"n_buckets": 0, "n_hot_buckets": None,
                "hot_member_rows": None, "max_bucket_size": None}
    return {"n_buckets": len(sizes),
            "n_hot_buckets": int((sizes > cfg.hot_bucket_threshold).sum()),
            "hot_member_rows": int(sizes[sizes > cfg.bucket_cap].sum()),
            "max_bucket_size": int(sizes.max())}


def _verify(cand, wide, cfg: DedupConfig) -> list[tuple]:
    """operators.verify.near_pairs on the driver: est-Jaccard prefilter,
    the content-hash exclusion, exact Jaccard, lexicographic conv_id order."""
    import numpy as np

    by_ih = dict(zip(wide["id_hash"].tolist(), wide.itertuples(index=False)))
    out = []
    for x, y in sorted(zip(cand["ih_a"].tolist(), cand["ih_b"].tolist())):
        a, b = by_ih[x], by_ih[y]
        agree = np.count_nonzero(np.asarray(a.minhash) == np.asarray(b.minhash))
        if (int(agree) / cfg.num_perm < cfg.minhash_prefilter
                or a.content_hash == b.content_hash):
            continue
        inter = np.intersect1d(a.shingles, b.shingles).size
        union = len(a.shingles) + len(b.shingles) - inter
        jac = inter / union if union > 0 else 1.0
        if jac < cfg.jaccard_threshold:
            continue
        if a.conv_id > b.conv_id:
            a, b = b, a
        out.append((a.conv_id, b.conv_id, jac, "near",
                    int(a.id_hash), int(b.id_hash)))
    return out


def _exact_star(drows, hits, d_ih: set, cfg: DedupConfig) -> list[tuple]:
    """exact_pairs' star over the content groups the delta touches, kept
    where an endpoint is a delta row. A corpus row whose content key only
    collides with the delta's forms a group without a delta row: no edge."""
    cols = ["conv_id", "id_hash", "content_hash"]
    rows = pd.concat([hits.loc[hits["band_idx"] == cfg.bands, cols], drows[cols]])
    exact = set()
    for _, grp in rows.groupby("content_hash"):
        group = sorted(zip(grp["conv_id"], grp["id_hash"].tolist()))
        rep, rep_ih = group[0]
        for cid, ih in group[1:]:
            if cid != rep and (ih in d_ih or rep_ih in d_ih):
                exact.add((rep, cid, 1.0, "exact", rep_ih, ih))
    return sorted(exact)


def incremental_transcript_pairs(
    corpus_tr: DataFrame,
    delta_tr: DataFrame,
    cfg: DedupConfig | None = None,
    corpus_sig: DataFrame | None = None,
    delta_sig: DataFrame | None = None,
    stats: dict | None = None,
) -> DataFrame:
    """Delta-vs-corpus admission for the PRIMARY axis: verified duplicate
    pairs (conv_id_a, conv_id_b, jaccard, match_kind, ih_a, ih_b) between
    a delta of new conversations and (corpus ∪ delta), every pair with
    >= 1 delta endpoint — the daily-ingest form of the transcript pipeline,
    the admission of every streaming micro-batch
    (streaming/dedup_stream._near_dup_process passes its signature store as
    ``corpus_sig`` and the batch as ``delta_sig``), and, over an empty
    corpus, the batch pipeline's pair stage (batch_pairs; the documents
    twin is incremental_lsh_pairs above). At the
    10^12-turn design point the corpus pipeline runs once and each day's
    conversations are admitted against its checkpointed stage tables —
    corpus text is never re-read, re-shingled, or re-paired.

    ``corpus_sig``/``delta_sig``: precomputed signature tables
    (operators.signatures.compute_signatures; the pipeline checkpoints
    corpus_sig under work_dir/signatures). When omitted they are computed
    here — correct but O(corpus) for the corpus side. ``stats`` (optional
    dict) receives ``path`` ('driver' or 'distributed'), ``why``, and the
    fetched row counts. The work is _pairs_core's."""
    from ..operators.assemble import assemble
    from ..operators.signatures import compute_signatures

    cfg = cfg or DedupConfig()
    # stored tables are scanned as they are: the driver path reads each once
    csig = (corpus_sig if corpus_sig is not None
            else cache.persist(compute_signatures(assemble(corpus_tr), cfg)))
    dsig = (delta_sig if delta_sig is not None
            else cache.persist(compute_signatures(assemble(delta_tr), cfg)))
    return _pairs_core(csig, dsig, cfg, {} if stats is None else stats).pairs()


def batch_pairs(sig: DataFrame, cfg: DedupConfig,
                stats: dict | None = None) -> "_Admitted":
    """A batch as one delta admitted against an empty index: _pairs_core
    with every row of the signature table ``sig`` as the delta. Its pairs
    are verify_pairs(sig, candidate_pairs(sig)), its candidates and bucket
    stats candidate_pairs', its labels connected_components' — each
    bit-identical, on either path. The one corpus build of the pipeline's
    candidates/pairs/clusters stages, tools/run_incremental.py's
    transcript bootstrap and incremental_transcript_clusters' label
    fallback.

    Reference analog: pcompress runs one dedup pass over its global index
    whether that index is empty or populated
    (rabin/global/index.c:140-151, 485-558)."""
    return _pairs_core(None, sig, cfg, {} if stats is None else stats)


def _pairs_core(csig: DataFrame | None, dsig: DataFrame, cfg: DedupConfig,
                stats: dict) -> "_Admitted":
    """The transcript admission core: the pairs of ``dsig`` against
    ``csig`` (incremental_transcript_pairs' contract), with the candidate
    rows and bucket stats behind them (_Admitted). ``csig`` None is an
    empty index (batch_pairs): nothing is probed, and the distributed path
    is candidate_pairs and verify_pairs themselves.

    Scale shape, driver path: every decision is made from narrow columns
    before any wide array leaves the executors. (1) The delta's narrow
    rows (ids, n_tokens, content hash, band keys) — at most
    ``cfg.cc_local_edges // bands`` rows. (2) One map-only scan of the
    corpus signature table, probed with one broadcast relation of the
    delta's band keys and content keys, for the bucket memberships and
    content-hash rows the delta touches (_corpus_hits) — at most
    ``cfg.cc_local_edges`` rows. (3)
    Candidates on the driver (_driver_candidates) — at most
    ``cfg.cc_local_edges`` pair rows. (4) Shingles and minhash of the
    candidate endpoints only, fetched when their size estimated from
    n_tokens fits ``_BYTES_PER_EDGE x cfg.cc_local_edges`` bytes; then
    _verify and _exact_star. Distributed path (any step over budget): the
    corpus band table is derived map-only from the signature table's
    precomputed ``band_hashes`` column (a bands x 8 B scan — no kernel
    re-run) and probed with a BROADCAST of the delta's distinct bucket
    keys, so only corpus rows in TOUCHED buckets survive a map-side
    filter; hot-bucket salting/capping sees the union membership of each
    touched bucket, which is bit-identical to the full run's membership
    there. Either way the emitted pairs are EXACTLY the full run's pairs
    restricted to >= 1 delta endpoint (the DuckDB oracle pins that
    equivalence). Verification rides operators.verify.near_pairs (bare
    pair list broadcast to both probes — no corpus-keyed array exchange);
    the exact channel stars only content-hash groups the delta touches.

    Reference analog: pipe-mode probes of the persistent segmented index
    (rabin/global/index.c:140-151, 485-558)."""
    budget = cfg.cc_local_edges

    def distributed(why: str) -> _Admitted:
        stats.update(path="distributed", why=why)
        return _Admitted(csig, dsig, cfg)

    max_rows = budget // cfg.bands
    if max_rows <= 0:
        return distributed(f"cc_local_edges={budget} fits no delta row x "
                           f"{cfg.bands} bands")
    drows = _fetch(dsig.select("conv_id", "id_hash", "n_tokens", "content_hash",
                               F.xxhash64("content_hash").alias("ch_key"),
                               F.col("band_hashes").alias("bh")), max_rows)
    stats["delta_rows"] = len(drows)
    if len(drows) > max_rows:
        return distributed(f"delta rows x {cfg.bands} bands over "
                           f"cc_local_edges={budget}")
    if not len(drows):
        stats.update(path="driver", why="empty delta")
        return _Admitted(csig, dsig, cfg, cand=pd.DataFrame(
            {"ih_a": [], "ih_b": [], "n_bands": []}, dtype="int64"),
            buckets=_bucket_stats(pd.Series(dtype="int64"), cfg), rows=[],
            drows=drows)
    dkeys = _delta_keys(drows, cfg)
    hits = (_fetch(_corpus_hits(csig, dkeys, cfg), budget) if csig is not None
            else pd.DataFrame({c: pd.Series(dtype=t) for c, t in (
                ("id_hash", "int64"), ("n_tokens", "int64"), ("band_idx", "int32"),
                ("band_hash", "int64"), ("conv_id", object),
                ("content_hash", object))}))
    stats["corpus_rows"] = len(hits)
    if len(hits) > budget:
        return distributed("touched corpus bucket members and content-hash "
                           f"rows over cc_local_edges={budget}")
    d_ih = set(drows["id_hash"].tolist())
    cand, n_rows, buckets = _driver_candidates(dkeys, hits, d_ih, cfg, budget)
    stats["candidate_rows"] = n_rows
    if cand is None:
        return distributed(f"candidate pair rows over cc_local_edges={budget}")
    ends = set(cand["ih_a"].tolist()) | set(cand["ih_b"].tolist())
    n_tok = dict(zip(hits["id_hash"].tolist(), hits["n_tokens"].tolist()))
    n_tok.update(zip(drows["id_hash"].tolist(), drows["n_tokens"].tolist()))
    # a row's shingles are at most n_tokens longs; its minhash num_perm
    est = sum(8 * (n_tok[i] + cfg.num_perm) for i in ends)
    stats.update(endpoint_rows=len(ends), endpoint_bytes_est=est)
    if est > _BYTES_PER_EDGE * budget:
        return distributed(f"candidate endpoints' shingles and minhash (~{est} B) "
                           f"over {_BYTES_PER_EDGE} B x cc_local_edges={budget}")
    near = []
    if ends:
        wide_cols = ("id_hash", "conv_id", "content_hash", "shingles", "minhash")
        rows = dsig.select(*wide_cols)
        if csig is not None:
            rows = csig.select(*wide_cols).unionByName(rows)
        wide = _where_in(rows, "id_hash", ends).toPandas()
        near = _verify(cand, wide, cfg)
    stats.update(path="driver", why=f"every fetch within cc_local_edges={budget}")
    return _Admitted(csig, dsig, cfg, cand=cand, buckets=buckets,
                     rows=near + _exact_star(drows, hits, d_ih, cfg), drows=drows)


class _Admitted:
    """What _pairs_core hands back: the candidate rows (ih_a, ih_b,
    n_bands), bucket_members' stats over the buckets the delta touches,
    and the verified pairs. On the driver path ``rows`` holds the pairs
    and ``cand``/``buckets`` are a pandas frame and a dict; on the
    distributed path (``rows`` None) the candidates are planned when first
    asked for and the pairs are _distributed_pairs'."""

    def __init__(self, csig, dsig, cfg, cand=None, buckets=None, rows=None,
                 drows=None):
        self.csig, self.dsig, self.cfg = csig, dsig, cfg
        self.cand, self.buckets = cand, buckets
        self.rows, self.drows = rows, drows

    def candidates(self) -> DataFrame:
        if self.rows is not None:
            return self.dsig.sparkSession.createDataFrame(
                self.cand, "ih_a long, ih_b long, n_bands int").coalesce(1)
        if self.cand is None:
            self.cand, self.buckets = _distributed_candidates(
                self.csig, self.dsig, self.cfg)
        return self.cand

    def lsh_buckets(self) -> dict:
        """bucket_members' stats as a dict (distributed path: one job)."""
        if self.rows is not None:
            return self.buckets
        self.candidates()
        row = self.buckets.collect()
        return row[0].asDict() if row else {}

    def pairs(self, cand: DataFrame | None = None,
              cand_rows: int | None = None) -> DataFrame:
        """The verified pairs. Distributed path: verified from ``cand``, a
        stored copy of candidates() when the caller wrote them (default:
        the planned candidates); ``cand_rows`` is near_pairs'."""
        if self.rows is not None:
            # from pandas, over Arrow: a row list would be pickled through
            # a second pool of Python workers
            return self.dsig.sparkSession.createDataFrame(
                pd.DataFrame(self.rows, columns=_PAIR_COLS), _PAIR_SCHEMA)
        return _distributed_pairs(self.csig, self.dsig, self.cfg,
                                  self.cand if cand is None else cand, cand_rows)

    def labels(self, pairs: DataFrame | None = None,
               stats: dict | None = None) -> DataFrame:
        """connected_components(dsig's (conv_id, id_hash), pairs) when the
        corpus is empty (batch_pairs): (conv_id, cluster_id), cluster_id
        the min conv_id of the component. On the driver path, when the
        distinct non-self edges fit ``cfg.cc_local_edges`` (the bound of
        connected_components' local path), _driver_clusters labels the
        pairs already on the driver and no edge is fetched back; otherwise
        connected_components runs over ``pairs`` (default: self.pairs()).
        ``stats`` receives connected_components' {"n_edges", "path"}."""
        from ..operators.cluster import connected_components

        stats = {} if stats is None else stats
        n_edges = (len({(r[4], r[5]) for r in self.rows if r[4] != r[5]})
                   if self.rows is not None else None)
        if n_edges is None or n_edges > self.cfg.cc_local_edges:
            return connected_components(
                self.dsig.select("conv_id", "id_hash"),
                self.pairs() if pairs is None else pairs, self.cfg, stats=stats)
        stats.update(n_edges=n_edges, path="local_union_find")
        edges = pd.DataFrame([r[:2] for r in self.rows],
                             columns=["conv_id_a", "conv_id_b"])
        no_labels = pd.DataFrame({"conv_id": [], "cluster_id": []})
        # one file, as a stage written from the driver: the label table is
        # the corpus side every later delta's label merge scans
        return self.dsig.sparkSession.createDataFrame(pd.DataFrame(
            _driver_clusters(edges, set(self.drows["conv_id"]), no_labels,
                             self.cfg.cc_max_iters),
            columns=["conv_id", "cluster_id"]),
            "conv_id string, cluster_id string").coalesce(1)


def _distributed_candidates(csig: DataFrame | None, dsig: DataFrame,
                            cfg: DedupConfig):
    """The distributed candidates of _pairs_core, with bucket_members'
    stats: candidate_pairs' bucket-and-count step over the touched band
    rows, kept where an endpoint is a delta row. Over an empty index
    (``csig`` None) that is candidate_pairs(dsig). Nothing is persisted:
    a stats read re-counts the bucket sizes."""
    from ..operators.candidates import band_explode, candidate_pairs

    if csig is None:
        return candidate_pairs(dsig, cfg, persist_sizes=False)
    cand, buckets = bucket_candidates(
        _touched_bands(band_explode(csig, cfg), band_explode(dsig, cfg)), cfg,
        persist_sizes=False)
    return _delta_endpoint_pairs(cand, dsig.select("id_hash"), "ih_a", "ih_b"), buckets


def _distributed_pairs(csig: DataFrame | None, dsig: DataFrame,
                       cfg: DedupConfig, cand: DataFrame | None = None,
                       cand_rows: int | None = None) -> DataFrame:
    """The distributed pairs of _pairs_core: verify_pairs' two channels
    restricted to >= 1 delta endpoint — near pairs of ``cand`` (default:
    _distributed_candidates; ``cand_rows`` is near_pairs') and the exact
    star of the content groups the delta touches. Over an empty index
    (``csig`` None) that is verify_pairs(dsig, cand)."""
    from ..operators.verify import exact_pairs, near_pairs, verify_pairs

    if cand is None:
        cand = _distributed_candidates(csig, dsig, cfg)[0]
    if csig is None:
        return verify_pairs(dsig, cand, cfg, cand_rows=cand_rows)
    sig_all = csig.unionByName(dsig)
    near = near_pairs(sig_all, cand, cfg, cand_rows=cand_rows)
    # exact channel: star only the content-hash groups the delta touches
    # (identical to the full run's star for those groups — group membership
    # is hash-determined), then keep edges with a delta endpoint
    sig_exact = sig_all.join(
        F.broadcast(dsig.select("content_hash").distinct()),
        "content_hash", "left_semi",
    )
    return near.unionByName(_delta_endpoint_pairs(
        exact_pairs(sig_exact), dsig.select("id_hash"), "ih_a", "ih_b"))


def incremental_transcript_admission(
    delta_ids: DataFrame, pairs: DataFrame, cfg: DedupConfig | None = None,
    stats: dict | None = None,
) -> DataFrame:
    """Per-delta-conversation admission verdict from the evidence pairs
    (incremental_transcript_pairs): (conv_id, keep, dup_kind, dup_of) —
    derived entirely from the materialized pair table (no second verify
    pass), by the admission core _admission; dup_of = '' when kept
    (null-free output).

    ``delta_ids``: one conv_id per delta conversation (the admission
    universe — kept conversations appear with keep=1). ``stats``: as
    incremental_transcript_pairs."""
    return _admission(delta_ids, pairs, cfg or DedupConfig(), stats).withColumn(
        "dup_of", F.coalesce("dup_of", F.lit("")))


def _admission(delta_ids: DataFrame, pairs: DataFrame, cfg: DedupConfig,
               stats: dict | None = None) -> DataFrame:
    """The admission core of transcripts and documents, over ids of any one
    type: (conv_id, keep, dup_kind, dup_of) per ``delta_ids`` conv_id from
    evidence rows ``pairs`` (conv_id_a, conv_id_b, match_kind); dup_of is
    null when kept (each public wrapper fills its own sentinel).

    Rule (deterministic, first-occurrence-wins with corpus priority —
    reference first-writer-wins at the index, rabin/global/index.c:485-558):
    a delta id's duplicate partner is the MIN id over its pair neighbors
    that are either corpus ids (priority regardless of id order) or
    EARLIER (smaller) delta ids; exact outranks near when both exist.
    Admission is by partner EXISTENCE, not transitive kept-ness: a delta
    id dropped as a dup of another DROPPED delta id stays dropped (its
    content is covered by that partner's own dup chain). The transcript
    exact channel's star edges suffice for this rule: the star
    representative is the content group's global min, so every member's
    min valid neighbor IS the representative, and a delta representative
    of a group containing corpus members sees them as member-side
    neighbors.

    When the pair list and the delta ids each fit ``cfg.cc_local_edges``
    rows, both are fetched and the rule runs on the driver; otherwise as a
    Spark plan. ``stats`` receives the path and why."""
    budget = cfg.cc_local_edges
    stats = {} if stats is None else stats
    if budget <= 0:
        stats.update(path="distributed", why="cc_local_edges=0 forces it")
        return _distributed_admission(delta_ids, pairs)
    cols = ("conv_id_a", "conv_id_b", "match_kind")
    prs, ids = _fetch_with_ids(pairs, cols, delta_ids, budget)
    stats.update(pair_rows=len(prs), delta_rows=len(ids))
    if len(prs) > budget or len(ids) > budget:
        stats.update(path="distributed", why=(
            f"pair or delta rows over cc_local_edges={budget}"))
        return _distributed_admission(delta_ids, pairs)
    stats.update(path="driver", why=f"pair and delta rows within "
                 f"cc_local_edges={budget}")
    delta = set(ids)
    best: dict = {}
    for a, b, kind in zip(*(prs[c].tolist() for c in cols)):
        for me, nbr in ((a, b), (b, a)):
            if me in delta and (nbr not in delta or nbr < me):
                key = (me, kind)
                best[key] = min(best.get(key, nbr), nbr)
    ids = sorted(delta)
    kinds = ["exact" if (c, "exact") in best
             else "near" if (c, "near") in best else "none" for c in ids]
    t = delta_ids.schema["conv_id"].dataType.simpleString()
    return delta_ids.sparkSession.createDataFrame(pd.DataFrame({
        "conv_id": pd.Series(ids, dtype=_id_dtype(t)),
        "keep": pd.Series([int(k == "none") for k in kinds], dtype="int32"),
        "dup_kind": pd.Series(kinds, dtype=object),
        "dup_of": pd.Series([best.get(ck) for ck in zip(ids, kinds)],
                            dtype=_id_dtype(t)),
    }), f"conv_id {t}, keep int, dup_kind string, dup_of {t}")


def _id_dtype(t: str) -> str:
    """The pandas dtype of ids of Spark type ``t`` in a driver result built
    over Arrow (a Python row list would be pickled through a second pool of
    Python workers): long ids are nullable Int64, since a null would turn
    int64 into float64; any other type stays objects."""
    return "Int64" if t == "bigint" else "object"


def _distributed_admission(delta_ids: DataFrame, pairs: DataFrame) -> DataFrame:
    """The Spark plan of _admission."""
    d_ids = delta_ids.select("conv_id").distinct()
    sym = pairs.select(
        F.col("conv_id_a").alias("conv_id"),
        F.col("conv_id_b").alias("nbr"), "match_kind",
    ).unionByName(pairs.select(
        F.col("conv_id_b").alias("conv_id"),
        F.col("conv_id_a").alias("nbr"), "match_kind",
    ))
    mine = sym.join(F.broadcast(d_ids), "conv_id", "left_semi")
    nbr_delta = d_ids.select(F.col("conv_id").alias("nbr")).withColumn(
        "nbr_is_delta", F.lit(1)
    )
    valid = (
        mine.join(F.broadcast(nbr_delta), "nbr", "left")
        .where(F.col("nbr_is_delta").isNull() | (F.col("nbr") < F.col("conv_id")))
    )
    ex = valid.where(F.col("match_kind") == "exact").groupBy("conv_id").agg(
        F.min("nbr").alias("exact_of"))
    nr = valid.where(F.col("match_kind") == "near").groupBy("conv_id").agg(
        F.min("nbr").alias("near_of"))
    return (
        d_ids.join(ex, "conv_id", "left")
        .join(nr, "conv_id", "left")
        .select(
            "conv_id",
            F.when(F.col("exact_of").isNotNull() | F.col("near_of").isNotNull(),
                   F.lit(0)).otherwise(F.lit(1)).cast("int").alias("keep"),
            F.when(F.col("exact_of").isNotNull(), F.lit("exact"))
            .when(F.col("near_of").isNotNull(), F.lit("near"))
            .otherwise(F.lit("none")).alias("dup_kind"),
            F.coalesce("exact_of", "near_of").alias("dup_of"),
        )
    )


def _driver_clusters(edges, nodes: set, members, max_iters: int) -> list[tuple]:
    """Connected components over conv_ids on the driver, with
    connected_components' label rule: edges are the evidence pairs plus
    each touched label member's star edge to its old cluster_id; every
    conv_id in ``nodes`` gets the min node conv_id of its component."""
    import numpy as np

    from ..operators.cluster import union_find

    star = members[members["conv_id"] != members["cluster_id"]]
    us = edges["conv_id_a"].tolist() + star["cluster_id"].tolist()
    vs = edges["conv_id_b"].tolist() + star["conv_id"].tolist()
    code = {n: i for i, n in enumerate(sorted(nodes.union(us, vs)))}
    uv = np.array([(code[u], code[v]) for u, v in zip(us, vs) if u != v],
                  dtype=np.int64).reshape(-1, 2)
    ids, labs = union_find(uv[:, 0], uv[:, 1], max_iters)
    root = dict(zip(ids.tolist(), labs.tolist()))
    rep: dict[int, str] = {}
    out = []
    for n in sorted(nodes):
        c = code[n]
        out.append((n, rep.setdefault(root.get(c, c), n)))
    return out


def incremental_transcript_clusters(
    corpus_tr: DataFrame,
    delta_tr: DataFrame,
    cfg: DedupConfig | None = None,
    corpus_labels: DataFrame | None = None,
    corpus_sig: DataFrame | None = None,
    delta_sig: DataFrame | None = None,
    pairs: DataFrame | None = None,
    stats: dict | None = None,
) -> DataFrame:
    """Incremental cluster maintenance for TRANSCRIPTS: merge a delta's
    duplicate evidence (incremental_transcript_pairs) into the corpus
    pipeline's persisted cluster assignment without re-clustering the
    corpus — (conv_id, cluster_id) over corpus ∪ delta, cluster_id = min
    conv_id of the merged component (the pipeline's own label rule).
    Like incremental_clusters, it runs the label core _clusters_core:
    untouched components pass through one filter verbatim; CC runs only
    over touched members + delta conversations + evidence endpoints, with
    each touched member linked to its old cluster_id (the label star
    preserves corpus connectivity exactly). Nodes are keyed by conv_id
    alone, so a touched member that has no signature row (a conversation
    admitted by an earlier delta, or this delta on a replay) keeps its
    place.

    ``corpus_labels``: the pipeline's checkpointed clusters table. When
    omitted (ad-hoc/test use) the corpus's own cluster pass runs here
    (batch_pairs) —
    correct but O(corpus). ``pairs``: precomputed evidence (callers that
    materialize the pair output pass it back, as for documents).
    ``stats``: as incremental_transcript_pairs.

    Scale shape: when the evidence, the delta and the touched label rows
    each fit ``cfg.cc_local_edges`` rows, one fetch of the evidence and
    the delta ids and one filtered fetch of the label table (every row of
    a cluster an endpoint sits in) feed a driver union-find
    (operators.cluster.union_find). Otherwise the
    label table is scanned map-side against BROADCAST delta-bounded key
    sets and connected_components runs over xxhash64(conv_id) node keys."""
    from ..operators.assemble import assemble
    from ..operators.signatures import compute_signatures

    cfg = cfg or DedupConfig()
    stats = {} if stats is None else stats
    dsig = (delta_sig if delta_sig is not None
            else cache.persist(compute_signatures(assemble(delta_tr), cfg)))
    if corpus_labels is None or pairs is None:
        csig = cache.persist(corpus_sig if corpus_sig is not None
                             else compute_signatures(assemble(corpus_tr), cfg))
    if corpus_labels is None:
        corpus_labels = batch_pairs(csig, cfg).labels()
    if pairs is None:
        pairs = incremental_transcript_pairs(
            corpus_tr, delta_tr, cfg, corpus_sig=csig, delta_sig=dsig
        )
    changed, untouched = _clusters_core(
        corpus_labels.select("conv_id", "cluster_id"),
        pairs.select("conv_id_a", "conv_id_b"), dsig, cfg, stats)
    return untouched.unionByName(changed)


def _clusters_core(labels: DataFrame, edges: DataFrame, delta_ids: DataFrame,
                   cfg: DedupConfig, stats: dict) -> tuple[DataFrame, DataFrame]:
    """The label core of transcripts, documents and the stream, over ids of
    any one type: (the rows that may change, the untouched rows) of
    ``labels`` (conv_id, cluster_id) merged with evidence ``edges``
    (conv_id_a, conv_id_b) and the conv_ids of ``delta_ids``. The rows
    that may change are the new labels of every touched member, evidence
    endpoint and delta id; every other ``labels`` row passes through
    unchanged.

    ``labels`` (conv_id, cluster_id) may also be a store's raw rows, with
    older rows of a conversation beside its latest one (a label store,
    pcompress_spark.store.append_labels): a conversation's label only ever falls, because components
    only merge and the label is the component's min conv_id. So a cluster
    id that stops being current never comes back, every row naming a
    current id belongs to a current member of that component, and a stale
    row only adds a star edge inside one current component. The changed
    rows are then the same as from the latest rows alone; the untouched
    rows are not, and a store caller uses only the changed ones."""
    budget = cfg.cc_local_edges

    def distributed(why: str) -> tuple[DataFrame, DataFrame]:
        stats.update(path="distributed", why=why)
        return _distributed_clusters(labels, edges, delta_ids, cfg)

    if budget <= 0:
        return distributed("cc_local_edges=0 forces it")
    ev, delta = _fetch_with_ids(edges, ("conv_id_a", "conv_id_b"), delta_ids,
                                budget)
    stats.update(edge_rows=len(ev), delta_rows=len(delta))
    if len(ev) > budget or len(delta) > budget:
        return distributed(f"evidence or delta rows over cc_local_edges={budget}")
    endpoints = set(delta) | set(ev["conv_id_a"].tolist()) | set(
        ev["conv_id_b"].tolist())
    touched = _where_in(labels, "conv_id", endpoints).select("cluster_id")
    members = _fetch(labels.join(F.broadcast(touched), "cluster_id", "left_semi"),
                     budget)
    stats["label_rows"] = len(members)
    if len(members) > budget:
        return distributed(f"touched label rows over cc_local_edges={budget}")
    stats.update(path="driver", why="evidence, delta and touched label rows "
                 f"within cc_local_edges={budget}")
    nodes = endpoints | set(members["conv_id"].tolist())
    t = labels.schema["conv_id"].dataType.simpleString()
    cc = labels.sparkSession.createDataFrame(pd.DataFrame(
        _driver_clusters(ev, nodes, members, cfg.cc_max_iters),
        columns=["conv_id", "cluster_id"]).astype(_id_dtype(t)),
        f"conv_id {t}, cluster_id {t}")
    # every row of a touched cluster (conv_id is unique in ``labels``) and
    # every delta conversation (a replayed delta already sits in
    # ``labels``) exits through the CC side
    return cc, _where_in(labels, "conv_id", nodes, negate=True)


def _distributed_clusters(labels: DataFrame, edges: DataFrame,
                          delta_ids: DataFrame,
                          cfg: DedupConfig) -> tuple[DataFrame, DataFrame]:
    """The Spark plan of _clusters_core: the same node and edge sets as
    _driver_clusters, keyed by xxhash64(conv_id). Its inputs are stored
    tables or small frames, so nothing is persisted here."""
    from ..operators.cluster import connected_components

    d_ids = delta_ids.select("conv_id")
    ep = (
        edges.select(F.col("conv_id_a").alias("conv_id"))
        .unionByName(edges.select(F.col("conv_id_b").alias("conv_id")))
        .unionByName(d_ids)
        .distinct()
    )
    # delta-bounded key sets broadcast against the corpus-sized label scan
    touched = (
        labels.join(F.broadcast(ep), "conv_id", "left_semi")
        .select("cluster_id")
        .distinct()
    )
    members = labels.join(F.broadcast(touched), "cluster_id", "left_semi")
    star = members.where(F.col("conv_id") != F.col("cluster_id")).select(
        F.col("cluster_id").alias("conv_id_a"), F.col("conv_id").alias("conv_id_b")
    )
    nodes = members.select("conv_id").unionByName(ep).distinct()
    cc = connected_components(
        nodes.select("conv_id", F.xxhash64("conv_id").alias("id_hash")),
        edges.unionByName(star).select(F.xxhash64("conv_id_a").alias("ih_a"),
                                       F.xxhash64("conv_id_b").alias("ih_b")),
        cfg,
    )
    # replay safety: when a prior attempt already merged THIS delta into
    # ``labels``, a singleton delta id sits there but is no edge endpoint;
    # delta ids therefore always exit through the CC side only
    untouched = labels.join(F.broadcast(touched), "cluster_id", "left_anti").join(
        F.broadcast(d_ids), "conv_id", "left_anti"
    )
    return cc, untouched


def incremental_admission(
    corpus: DataFrame,
    delta: DataFrame,
    cfg: DedupConfig | None = None,
    threshold: float = 0.3,
    corpus_sig: DataFrame | None = None,
    pairs: DataFrame | None = None,
) -> DataFrame:
    """Per-delta-doc admission decision against the corpus:
    (doc_id, keep, dup_kind, dup_of) — keep=1 admits the doc; dup_kind in
    ('exact', 'near', 'none'); dup_of is the duplicate partner (-1 when
    kept). Null-free output so the driver's value hash is unambiguous.

    The verdict is the admission core _admission over doc_ids, fed the
    near pairs (``pairs``, or incremental_lsh_pairs) and the exact-md5
    edges (_delta_exact_edges): a corpus partner at any id order or an
    earlier delta doc, the min such partner, exact outranking near — for
    exact evidence the min of the corpus rep and the earliest same-md5
    delta doc. ``corpus_sig``: the corpus's persisted doc_signatures table
    (its band_hashes and content_md5 are the probed indexes); with it and
    ``pairs`` supplied, ``corpus`` itself is never scanned."""
    cfg = cfg or DedupConfig(shingle_k=3, substring_enabled=False,
                             jaccard_threshold=threshold)
    evidence = doc_evidence(corpus, delta, cfg, threshold, corpus_sig, pairs)
    d_ids = delta.select(F.col("doc_id").alias("conv_id"))
    return _admission(d_ids, evidence, cfg).select(
        F.col("conv_id").alias("doc_id"), "keep", "dup_kind",
        F.coalesce("dup_of", F.lit(-1)).cast("long").alias("dup_of"))
