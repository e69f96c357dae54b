"""Structured Streaming front-end: incremental signatures, exact dedup and
near-duplicate admission over an arriving transcript stream.

Reference analog: pipe mode (`pcompress -p < in > out`,
/root/reference/pcompress.c:2397-2420) — same single-pass pipeline, with the
segmented index sized for bounded memory (/root/reference/rabin/global/
index.c:140-151). Here bounded state comes from a watermark: conversations
are assembled per event-time window, signatures computed by the SAME Arrow
kernels as batch, and exact dedup runs with dropDuplicates within the
watermark horizon.

Cross-horizon near-dup detection is the pipe-mode index probe: each
micro-batch of closed conversations is admitted as a delta against the
accumulated signature store by functions/incremental's
incremental_transcript_pairs — one admission path and one band index (the
stored ``band_hashes`` column) for batch and stream.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import DedupConfig
from ..operators.signatures import band_hashes_col, compute_signatures


def assemble_windowed(stream: DataFrame, watermark: str = "10 minutes",
                      keep_event_time: bool = False) -> DataFrame:
    """Assemble conversations from streaming turn rows: group by conv_id
    within the watermark horizon, stable turn order via array_sort (same
    construction as batch assemble). Works on append-mode aggregation.
    ``keep_event_time``: carry the window end as a ``ts`` column so a
    downstream stateful operator can re-establish a watermark (the batch
    signature schema has no event-time column)."""
    asm = (
        stream.withWatermark("ts", watermark)
        .groupBy("conv_id", F.window("ts", watermark).alias("win"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_turns"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("turn_idx", "text"))),
                    lambda s: F.coalesce(s["text"], F.lit("")),
                ),
                "\n",
            ).alias("doc_text"),
        )
    )
    if keep_event_time:
        # window_time (not win.end): it PRESERVES the event-time/watermark
        # tag through the aggregation, which is what lets a second stateful
        # operator chain after this one without re-declaring a watermark
        # (a re-declared watermark late-filters against the CURRENT value
        # and drops every agg-emitted row as late)
        asm = asm.withColumn("ts", F.window_time("win"))
    return asm.drop("win")


def signatures_stream(stream: DataFrame, cfg: DedupConfig | None = None,
                      watermark: str = "10 minutes") -> DataFrame:
    """Streaming signatures: identical schema/values to the batch stage for
    conversations fully contained in one watermark window."""
    cfg = cfg or DedupConfig()
    return compute_signatures(assemble_windowed(stream, watermark), cfg)


def stateful_assemble_signatures(
    stream: DataFrame,
    cfg: DedupConfig | None = None,
    gap: str = "10 minutes",
) -> DataFrame:
    """Custom stateful operator (applyInPandasWithState): conversation
    sessionization with event-time timeout.

    Turns accumulate in per-conv_id state across micro-batches; when the
    watermark passes a conversation's last turn + gap (no more turns can
    arrive), the conversation is assembled under stable turn ordering,
    signed with the SAME shared kernels as batch, emitted, and its state
    dropped. This is the streaming analog of the reference's content-
    aligned chunk boundary — a conversation is "closed" by content-defined
    quiescence, never split mid-stream (Read_Adjusted,
    /root/reference/utils/utils.c:234-278).

    Single stateful operator on the raw turn stream (Spark disallows
    applyInPandasWithState after a streaming aggregation). State per key is
    one conversation's turns — bounded and sharded across executors by the
    state store.

    Emits the FULL batch signature schema — operators/signatures.py
    SIGNATURE_SCHEMA plus the stored ``band_hashes`` column, in
    compute_signatures' column order — so a streamed row equals the batch
    row and downstream batch operators (LSH candidates, verify, delta
    admission) run unchanged on the stream's output.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    cfg = cfg or DedupConfig()
    gap_ms = int(pd.Timedelta(gap).total_seconds() * 1000)
    out_schema = (
        "conv_id string, id_hash long, n_turns long, n_tokens long, "
        "content_hash string, shingles array<long>, minhash array<long>, "
        "simhash long, win_hashes array<long>, win_positions array<long>"
    )
    _cols = ["conv_id", "id_hash", "n_turns", "n_tokens", "content_hash",
             "shingles", "minhash", "simhash", "win_hashes", "win_positions"]
    state_schema = "turn_idxs array<int>, texts array<string>, max_ts long"

    def assemble_fn(key, pdf_iter, state: GroupState):
        from pcompress_spark.kernels import hash_tokens, signatures_for_texts
        from pcompress_spark.operators.assemble import TURN_SEP

        if state.hasTimedOut:
            turn_idxs, texts, _ = state.get
            texts = ["" if t is None else t for t in texts]
            # (turn_idx, text) ordering — same tie-break as batch assemble's
            # array_sort(struct(turn_idx, text)) for duplicate turn_idx rows
            order = sorted(range(len(texts)), key=lambda i: (turn_idxs[i], texts[i]))
            doc = TURN_SEP.join(texts[i] for i in order)
            sig = signatures_for_texts(pd.Series([doc]), cfg)
            if "win_hashes" not in sig.columns:
                sig["win_hashes"] = [[]]
                sig["win_positions"] = [[]]
            state.remove()
            yield pd.DataFrame(
                {
                    "conv_id": [key[0]],
                    "id_hash": [int(hash_tokens(
                        np.asarray([key[0]], dtype=np.str_)).view(np.int64)[0])],
                    "n_turns": [len(turn_idxs)],
                    "n_tokens": [int(sig.loc[0, "n_tokens"])],
                    "content_hash": [sig.loc[0, "content_hash"]],
                    "shingles": [np.asarray(sig.loc[0, "shingles"], dtype=np.int64)],
                    "minhash": [np.asarray(sig.loc[0, "minhash"], dtype=np.int64)],
                    "simhash": [int(sig.loc[0, "simhash"])],
                    "win_hashes": [np.asarray(sig.loc[0, "win_hashes"], dtype=np.int64)],
                    "win_positions": [np.asarray(sig.loc[0, "win_positions"], dtype=np.int64)],
                }
            )
            return
        turn_idxs, texts, max_ts = ([], [], 0)
        if state.exists:
            turn_idxs, texts, max_ts = state.get
            turn_idxs, texts = list(turn_idxs), list(texts)
        for pdf in pdf_iter:
            turn_idxs.extend(int(x) for x in pdf["turn_idx"])
            texts.extend("" if x is None else str(x) for x in pdf["text"])
            batch_max = int(pdf["ts"].max().value // 10**6)
            max_ts = max(max_ts, batch_max)
        state.update((turn_idxs, texts, max_ts))
        # late stragglers (event time already behind the watermark) would
        # otherwise request a timeout in the past, which Spark rejects —
        # clamp so the resurrected conversation closes at the next trigger
        wm = state.getCurrentWatermarkMs()
        state.setTimeoutTimestamp(max(max_ts + gap_ms, wm + 1))
        yield pd.DataFrame(columns=_cols)

    return (
        stream.withWatermark("ts", gap)
        .groupBy("conv_id")
        .applyInPandasWithState(
            assemble_fn,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
        .withColumn("band_hashes", band_hashes_col(cfg))
    )


def _store_listing(spark, root: str):
    """(fs, root Path, [(dir name, dir path str)]) of batch=* subdirs under
    root, via the Hadoop FileSystem API so work_dir may live on HDFS/S3
    (the spark-submit deployment target), not only the driver's local
    disk. Completes (or aborts) an interrupted compaction first, so no
    caller can ever observe the delete/rename window's intermediate
    state."""
    jvm = spark._jvm
    root_path = jvm.org.apache.hadoop.fs.Path(root)
    fs = root_path.getFileSystem(spark._jsc.hadoopConfiguration())

    def scan():
        batch_dirs, tmp_dirs = [], []
        if fs.exists(root_path):
            for status in fs.listStatus(root_path):
                name = status.getPath().getName()
                if name.startswith("batch="):
                    batch_dirs.append((name, str(status.getPath())))
                elif name.startswith(_COMPACT_TMP_PREFIX):
                    tmp_dirs.append((name, str(status.getPath())))
        return batch_dirs, tmp_dirs

    batch_dirs, tmp_dirs = scan()
    if tmp_dirs:
        _recover_compaction(spark, fs, root, batch_dirs, tmp_dirs)
        batch_dirs, _ = scan()
    return fs, root_path, batch_dirs


_COMPACT_TMP_PREFIX = "_compact_tmp_c"


def _recover_compaction(spark, fs, root: str, batch_dirs, tmp_dirs) -> None:
    """Finish or abort a compaction interrupted between its tmp write and
    the final rename. A COMPLETE tmp (parquet _SUCCESS marker present)
    holds the full merge of every batch id <= its c<N> tag, so recovery is:
    delete any surviving originals with id <= N, then rename tmp ->
    batch=c<N>. An incomplete tmp (no _SUCCESS — the crash hit mid-write)
    is discarded and the untouched originals stand. Either way the store
    is never observable in a half-compacted state."""
    hpath = spark._jvm.org.apache.hadoop.fs.Path
    for name, p in tmp_dirs:
        tag = int(name[len(_COMPACT_TMP_PREFIX):])
        if not fs.exists(hpath(p + "/_SUCCESS")):
            fs.delete(hpath(p), True)
            continue
        for bname, bp in batch_dirs:
            bid = int(bname.split("=", 1)[1].lstrip("c"))
            if bid <= tag:
                fs.delete(hpath(bp), True)
        if not fs.rename(hpath(p), hpath(root + f"/batch=c{tag}")):
            raise IOError(
                f"compaction recovery rename failed: {p} -> batch=c{tag}")


def _store_state(spark, root: str, batch_id: int) -> tuple[list[str], int]:
    """(prior batch dir paths excluding this batch's own, compacted-through
    watermark) from ONE Hadoop listing (on S3A each is a LIST round-trip).
    The watermark is the highest batch id merged into a ``batch=c<N>`` dir
    (-1 if none): the dir NAME, written atomically by the compaction
    rename — no side marker file to drift."""
    _, _, listing = _store_listing(spark, root)
    dirs = [p for name, p in listing if name != f"batch={batch_id}"]
    wm = max(
        (int(name.split("=", 1)[1][1:]) for name, _ in listing
         if name.startswith("batch=c")),
        default=-1,
    )
    return dirs, wm


def _prior_batch_dirs(spark, root: str, batch_id: int) -> list[str]:
    """batch=N subdirs under root, excluding this batch's own (replay
    safety)."""
    return _store_state(spark, root, batch_id)[0]


def _compacted_through(spark, root: str) -> int:
    """The store's compaction watermark (see _store_state)."""
    return _store_state(spark, root, -1)[1]


def _update_labels_store(spark, root: str, batch_id: int,
                         batch_df: DataFrame, edges: DataFrame,
                         cfg: DedupConfig) -> None:
    """Streaming cluster maintenance — the per-batch twin of
    functions.incremental.incremental_clusters.

    The labels store holds rows (conv_id, id_hash, cluster_id, src_batch)
    under ``batch=N`` subdirs; a conversation's CURRENT label is its row
    with the highest src_batch (read_stream_labels resolves it). Per batch:
    look up the current labels of this batch's evidence endpoints (a
    broadcast-filtered map scan of the store), pull the members of the
    touched clusters, run connected components over (touched label stars ∪
    batch evidence edges), and write ONE dir of rows for touched members +
    batch docs. Untouched conversations are never rewritten — their latest
    rows simply remain the latest, so per-batch write volume is
    O(batch + touched members), never O(stream lifetime).

    Replay/compaction: rows carry src_batch in-data, so a replayed batch
    whose rows were already compacted into a ``batch=c<N>`` dir restores
    its pre-batch view by filtering src_batch == batch_id (no id anti-join
    needed) and skips its own rewrite — same idempotence rule as the
    signature store. Incremental-CC correctness: collapsing each
    prior component to its label star preserves connectivity exactly, and
    CC over (stars ∪ new edges) on the touched subgraph equals a full
    recompute over the accumulated edge set restricted to those
    components; min-conv_id labels therefore match the batch pipeline's
    (cluster.connected_components' first-occurrence-wins rule).

    Coverage when labels are enabled MID-stream (work_dir already holds
    signature/pair batches from label-less runs): the caller folds the
    WHOLE accumulated pair store into the first labeled batch's evidence
    (_near_dup_process), and edge endpoints always enter the node set
    straight from the evidence rows (``ep_nodes``) — so every
    pair-connected conversation gets a label consistent with full pair
    history. Pre-enablement SINGLETONS (never in any pair) stay absent
    from the labels store until next seen — read_stream_labels covers
    conversations seen since enablement plus pair-linked history, not the
    full stream lifetime."""
    import os

    from ..operators.cluster import connected_components

    prior, wm = _store_state(spark, root, batch_id)
    own_in_store = batch_id <= wm
    store = None
    if prior:
        store = spark.read.parquet(*prior)
        if own_in_store:
            store = store.where(F.col("src_batch") != batch_id)

    # evidence endpoints as nodes, independent of store membership: without
    # this, an endpoint with no labels row (pair partner from a batch before
    # labels were enabled) would be silently dropped from the CC node set
    # and the new edge's connectivity lost
    ep_nodes = (
        edges.select(F.col("conv_id_a").alias("conv_id"),
                     F.col("ih_a").alias("id_hash"))
        .unionByName(
            edges.select(F.col("conv_id_b").alias("conv_id"),
                         F.col("ih_b").alias("id_hash")))
    )
    if store is not None:
        ep = (
            edges.select(F.col("conv_id_a").alias("conv_id"))
            .unionByName(edges.select(F.col("conv_id_b").alias("conv_id")))
            .unionByName(batch_df.select("conv_id"))
            .distinct()
        )
        # current labels of endpoint docs -> touched cluster set. Both key
        # sets are batch-evidence-bounded, so the store is only ever
        # SCANNED behind a broadcast filter, never shuffled wholesale.
        ep_rows = store.join(F.broadcast(ep), "conv_id", "left_semi")
        touched = (
            ep_rows.groupBy("conv_id")
            .agg(F.max_by("cluster_id", "src_batch").alias("cluster_id"))
            .select("cluster_id")
            .distinct()
        )
        # members of touched clusters: docs with ANY row labeled into a
        # touched cluster are candidates; latest-wins over ALL their rows
        # then re-filters (a doc relabeled OUT of a touched cluster by a
        # later batch must not be pulled back in). The candidate pull is a
        # plain semi-join — AQE broadcasts it while the candidate set is
        # small and degrades to a candidate-bounded shuffle for a viral
        # touched cluster, never a corpus-bounded one.
        cand_ids = (
            store.join(F.broadcast(touched), "cluster_id", "left_semi")
            .select("conv_id")
            .distinct()
        )
        cur = (
            store.join(cand_ids, "conv_id", "left_semi")
            .groupBy("conv_id")
            .agg(
                F.max_by("cluster_id", "src_batch").alias("cluster_id"),
                F.max_by("id_hash", "src_batch").alias("id_hash"),
            )
        )
        members = cur.join(F.broadcast(touched), "cluster_id", "left_semi")
        rep_ih = members.where(F.col("conv_id") == F.col("cluster_id")).select(
            "cluster_id", F.col("id_hash").alias("rep_ih")
        )
        star = (
            members.join(rep_ih, "cluster_id")
            .where(F.col("conv_id") != F.col("cluster_id"))
            .select(F.col("rep_ih").alias("ih_a"), F.col("id_hash").alias("ih_b"))
        )
        nodes = (
            members.select("conv_id", "id_hash")
            .unionByName(batch_df.select("conv_id", "id_hash"))
            .unionByName(ep_nodes)
            .distinct()
        )
        cc_edges = edges.select("ih_a", "ih_b").unionByName(star)
    else:
        nodes = (
            batch_df.select("conv_id", "id_hash")
            .unionByName(ep_nodes)
            .distinct()
        )
        cc_edges = edges.select("ih_a", "ih_b")

    labels = connected_components(nodes, cc_edges, cfg)
    out = labels.join(nodes, "conv_id").select(
        "conv_id", "id_hash", "cluster_id",
        F.lit(batch_id).cast("long").alias("src_batch"),
    )
    if not own_in_store:
        out.write.mode("overwrite").parquet(
            os.path.join(root, f"batch={batch_id}"))


def read_stream_labels(spark, work_dir: str) -> DataFrame:
    """Current cluster assignment from a stream's labels store
    (start_near_dup_stream(with_labels=True)): latest row per conversation
    — (conv_id, cluster_id). One groupBy over the accumulated label rows;
    compact_near_dup_store bounds how many dirs that scan lists."""
    import os

    root = os.path.join(work_dir, "labels") if not work_dir.rstrip("/").endswith(
        "/labels") else work_dir
    _, _, listing = _store_listing(spark, root)
    if not listing:
        return spark.createDataFrame([], "conv_id string, cluster_id string")
    store = spark.read.parquet(*[p for _, p in listing])
    return store.groupBy("conv_id").agg(
        F.max_by("cluster_id", "src_batch").alias("cluster_id")
    )


def _near_dup_process(batch_df: DataFrame, batch_id: int, *, store: str,
                      pairs_out: str, cfg: DedupConfig,
                      labels_store: str | None = None) -> None:
    """foreachBatch body for start_near_dup_stream (module-level so replay
    idempotence is directly testable).

    The micro-batch is a delta admitted by incremental_transcript_pairs
    against the signature store minus this batch's own rows — the
    reference's pipe-mode probe of a persistent index
    (rabin/global/index.c:140-151 in pcompress): a small batch takes the
    driver path, a large one the distributed plan, and neither rebuilds
    the store's band index. The pairs touching the batch are written, then
    the batch joins the store.

    Writes are keyed by batch_id and overwritten on replay; store reads
    EXCLUDE this batch's own subdir, so a replayed batch is admitted
    against exactly the state it saw first. If the store was compacted past
    this batch (batch_id <= its c<N> watermark — possible only when
    compact_near_dup_store ran against a stream stopped MID-batch), its own
    rows hide inside the merged dir: they are anti-joined back out by
    id_hash before the probe, and the batch=<id> rewrite is skipped."""
    import os

    from ..functions.incremental import incremental_transcript_pairs

    spark = batch_df.sparkSession
    batch_df = batch_df.persist()
    try:
        if batch_df.count() == 0:
            return
        # one listing yields both the prior dirs and the compaction watermark
        prior, wm = _store_state(spark, store, batch_id)
        own_in_store = batch_id <= wm
        if prior:
            corpus = spark.read.parquet(*prior)
            if own_in_store:
                corpus = corpus.join(
                    F.broadcast(batch_df.select("id_hash").distinct()),
                    "id_hash", "left_anti")
        else:
            corpus = spark.createDataFrame([], batch_df.schema)
        incremental_transcript_pairs(
            None, None, cfg, corpus_sig=corpus, delta_sig=batch_df
        ).write.mode("overwrite").parquet(
            os.path.join(pairs_out, f"batch={batch_id}"))
        if not own_in_store:
            batch_df.write.mode("overwrite").parquet(
                os.path.join(store, f"batch={batch_id}"))
        if labels_store:
            # evidence = the just-written (materialized) pair parquet, so
            # the verify join is never re-executed for the label update
            ecols = ["conv_id_a", "conv_id_b", "ih_a", "ih_b"]
            edges = spark.read.parquet(
                os.path.join(pairs_out, f"batch={batch_id}")).select(*ecols)
            # labels enabled MID-stream (pair batches exist, label store
            # empty): fold the WHOLE accumulated pair store into the first
            # labeled batch's evidence, so labels agree with pair history —
            # otherwise components the earlier pairs connect would stay
            # split forever (each later batch sees only its own edges).
            # One-time cost bounded by the pair store (already the
            # compactable evidence table); pre-enablement singletons that
            # never touch a pair remain absent (_update_labels_store doc).
            if not _prior_batch_dirs(spark, labels_store, batch_id):
                prior_pairs = _prior_batch_dirs(spark, pairs_out, batch_id)
                if prior_pairs:
                    edges = edges.unionByName(
                        spark.read.parquet(*prior_pairs).select(*ecols))
            _update_labels_store(
                spark, labels_store, batch_id,
                batch_df.select("conv_id", "id_hash"),
                edges,
                cfg,
            )
    finally:
        batch_df.unpersist()


def _refuse_old_layout(spark, work_dir: str) -> None:
    """Raise on a work dir of the older layout, which kept a separate band
    store: its signature rows have no ``band_hashes``, so reading the store
    would fail or drop those rows from every probe (null band keys)."""
    path = spark._jvm.org.apache.hadoop.fs.Path(
        work_dir.rstrip("/") + "/sig_store_bands")
    if path.getFileSystem(spark._jsc.hadoopConfiguration()).exists(path):
        raise ValueError(
            f"{work_dir} has the old near-dup stream layout (a separate "
            "sig_store_bands/ band store); start the stream in a new work dir")


def start_near_dup_stream(
    stream: DataFrame,
    work_dir: str,
    cfg: DedupConfig | None = None,
    watermark: str = "10 minutes",
    trigger_available_now: bool = True,
    compact_every: int | None = None,
    with_labels: bool = False,
):
    """Incremental near-duplicate PAIR detection on a transcript stream.

    Spark disallows stream-stream joins downstream of stateful operators, so
    the incremental index probe is expressed the idiomatic micro-batch way:
    ``foreachBatch`` joins each batch of newly-closed conversation signatures
    (same Arrow kernels as batch) against an accumulated signature store —
    the exact shape of the reference's pipe-mode segmented index, where each
    incoming segment's sketch values probe an index built from everything
    seen so far (/root/reference/rabin/global/index.c:140-151, first
    occurrence wins /root/reference/rabin/global/index.c:485-558).

    Conversations are closed by the stateful sessionizer
    (stateful_assemble_signatures: event-time quiescence, never split
    mid-stream), so each conv_id emits exactly ONE full signature row —
    window-straddling fragments cannot occur. Each micro-batch is admitted
    as a delta against the signature store by incremental_transcript_pairs
    (_near_dup_process) — a near pair is emitted exactly once, when its
    later endpoint arrives.

    Equivalence to the batch pipeline, precisely scoped: with no hot
    buckets the accumulated NEAR pair set equals the batch pipeline's near
    pairs over the same closed conversations, and the exact-star edges are
    CLUSTER-EQUIVALENT — the star re-anchors when a later batch introduces
    a smaller conv_id for an existing content_hash group, so the
    accumulated exact edge set can be a superset of the batch star (same
    connected components, same membership). Under hot-bucket salting the
    cap applies to incremental bucket sizes, so drops can differ from batch
    order (same recall bound, logged caps).

    Layout under ``work_dir``: ``sig_store/batch=N/`` (the batch
    signature schema, ``band_hashes`` included — the one band index) and
    ``pairs/batch=N/`` (parquet, one subdir per micro-batch — foreachBatch
    is at-least-once, so a replayed batch OVERWRITES its own subdirs
    instead of double-appending; same idempotent-resume rule as the batch
    pipeline's checkpoints), ``ckpt/`` (streaming checkpoint). Returns the
    started StreamingQuery; read results with
    ``spark.read.parquet(work_dir + "/pairs")`` (the ``batch`` partition
    column records provenance). A work dir of the older layout, with a
    separate band store beside ``sig_store/``, is refused with a ValueError
    before any query starts.

    ``with_labels=True`` additionally maintains a ``labels/batch=N/``
    store: per-batch incremental cluster maintenance (_update_labels_store
    — the streaming twin of functions.incremental.incremental_clusters),
    where a conversation's current assignment is its latest row; read it
    with ``read_stream_labels(spark, work_dir)``. Accumulated labels equal
    the batch pipeline's clusters over the same closed conversations
    (components are the closure of the same pair evidence; min-conv_id
    labels — pinned by the batch-parity test), with the same hot-bucket
    scoping as the pair equivalence above.

    Store compaction: pass ``compact_every=K`` to auto-compact the
    signature and label stores every K micro-batches. The hook runs at the
    START of batch B — a quiesced window: every batch < B is committed
    (so will never replay) and B's own possibly-half-written dirs are
    excluded via ``exclude_batch`` — so it is exactly as safe as running
    compact_near_dup_store with the stream stopped. Without it, run
    compact_near_dup_store periodically yourself (stream quiesced).
    """
    import functools
    import os

    _refuse_old_layout(stream.sparkSession, work_dir)
    cfg = cfg or DedupConfig()
    store = os.path.join(work_dir, "sig_store")
    pairs_out = os.path.join(work_dir, "pairs")
    sigs = stateful_assemble_signatures(stream, cfg, gap=watermark)

    base_process = functools.partial(
        _near_dup_process, store=store, pairs_out=pairs_out, cfg=cfg,
        labels_store=os.path.join(work_dir, "labels") if with_labels else None,
    )
    if compact_every:
        def process(batch_df: DataFrame, batch_id: int) -> None:
            if batch_id > 0 and batch_id % compact_every == 0:
                compact_near_dup_store(
                    batch_df.sparkSession, work_dir, exclude_batch=batch_id
                )
            base_process(batch_df, batch_id)
    else:
        process = base_process
    writer = sigs.writeStream.foreachBatch(process).outputMode("append").option(
        "checkpointLocation", os.path.join(work_dir, "ckpt")
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def compact_near_dup_store(spark, work_dir: str,
                           exclude_batch: int | None = None) -> None:
    """Maintenance: merge the per-batch signature and label store dirs into
    one ``batch=c<maxN>`` dir each and delete the originals — bounds the file
    listing a long-lived stream accumulates. Entirely on the Hadoop
    FileSystem API (listStatus/delete/rename), so it works wherever the
    stream writes — HDFS, S3A, or local ``file:`` paths — not just the
    driver's local disk.

    Safe to run while the stream is stopped/quiesced past those batches,
    or from inside the stream itself via start_near_dup_stream's
    ``compact_every`` hook, which passes ``exclude_batch`` = the in-flight
    batch so an uncommitted attempt's own dirs are never merged. The
    ``c<N>`` tag in the surviving dir name doubles as the compaction
    watermark: _near_dup_process anti-joins a replayed batch's own rows
    out of the store when batch_id <= N (the manually-compacted-mid-batch
    case), so replay idempotence survives compaction. Refuses (ValueError)
    a work dir of the older layout with a separate band store."""
    _refuse_old_layout(spark, work_dir)
    for sub in ("sig_store", "labels"):
        root = work_dir.rstrip("/") + "/" + sub
        # _store_listing completes/aborts any interrupted prior compaction
        fs, root_path, listing = _store_listing(spark, root)
        dirs = [
            (name, p) for name, p in listing
            if exclude_batch is None or name != f"batch={exclude_batch}"
        ]
        if len(dirs) <= 1:
            continue
        tag = max(int(name.split("=", 1)[1].lstrip("c")) for name, _ in dirs)
        hpath = spark._jvm.org.apache.hadoop.fs.Path
        # crash-safe protocol: (1) write the FULL merge to a tagged tmp dir
        # (parquet _SUCCESS marks completeness), (2) delete originals,
        # (3) rename tmp -> batch=c<tag>. A crash anywhere in (2)/(3) is
        # repaired by _recover_compaction on the next listing — the tmp
        # holds everything <= tag, so finishing is always correct; a crash
        # during (1) leaves an unmarked tmp that recovery discards with the
        # originals untouched.
        tmp = root + f"/{_COMPACT_TMP_PREFIX}{tag}"
        spark.read.parquet(*[p for _, p in dirs]).write.mode(
            "overwrite"
        ).parquet(tmp)
        for _, p in dirs:
            fs.delete(hpath(p), True)
        if not fs.rename(hpath(tmp), hpath(root + f"/batch=c{tag}")):
            raise IOError(
                f"compaction rename failed: {tmp} -> batch=c{tag}")


def start_decontam_stream(
    stream: DataFrame,
    benchmark: DataFrame,
    work_dir: str,
    n: int = 3,
    overlap_threshold: float = 0.5,
    watermark: str = "10 minutes",
    trigger_available_now: bool = True,
):
    """Ingest-time benchmark decontamination gate — the streaming twin of
    curation.decontaminate, run the moment a conversation closes instead
    of in a nightly batch. Conversations are assembled under the
    watermark (assemble_windowed, stable turn order); each micro-batch of
    CLOSED conversations is scored against the static ``benchmark``
    (doc_id, text) suite: per-conversation n-gram leak ratio via the
    broadcast eval-gram join. Reports land in
    ``work_dir/report/batch=N/`` as (conv_id, n_grams, n_overlap,
    overlap_ratio, contaminated) — batch-keyed OVERWRITE, so an
    at-least-once replay is idempotent (same rule as the near-dup
    stream's subdirs). Returns the started StreamingQuery; read with
    ``spark.read.parquet(work_dir + "/report")``.

    Unlike the near-dup stream this gate needs NO cross-batch store: a
    conversation's verdict depends only on its own text and the static
    benchmark, so per-batch work is O(batch) with the gram set broadcast
    — the streaming form is exactly the batch op applied per micro-batch
    (the batch-parity test asserts equality row-for-row). The benchmark
    gram set is recomputed per micro-batch from the (small) suite; cache
    the benchmark DataFrame if the suite is large."""
    import os

    from ..functions.curation import decontaminate

    asm = assemble_windowed(stream, watermark)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        docs = batch_df.select(
            F.col("conv_id").alias("doc_id"),
            F.col("doc_text").alias("text"),
        )
        rep = decontaminate(
            docs, benchmark, n=n, overlap_threshold=overlap_threshold
        ).withColumnRenamed("doc_id", "conv_id")
        rep.write.mode("overwrite").parquet(
            os.path.join(work_dir, "report", f"batch={batch_id}")
        )

    writer = (
        asm.writeStream.foreachBatch(process)
        .outputMode("append")
        .option("checkpointLocation", os.path.join(work_dir, "ckpt"))
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def start_bench_probe_stream(
    stream: DataFrame,
    benchmark_tr: DataFrame,
    work_dir: str,
    cfg: DedupConfig | None = None,
    watermark: str = "10 minutes",
    threshold: float | None = None,
    trigger_available_now: bool = True,
):
    """Paraphrase-leak gate at ingest: every closed conversation is probed
    against a STATIC benchmark near-dup index (curation.bench_probe_index
    — bench-only bucket caps, broadcast) the moment its watermark window
    closes. Near channel = band collision + exact shingle Jaccard; exact
    channel = content-hash hit. Reports land in ``work_dir/report/batch=N``
    (batch-keyed overwrite — replay idempotent) with one
    (conv_id, n_bench_hits, max_jaccard, top_bench_id) row per
    contaminated conversation.

    Because the index is capped on BENCH membership alone, a
    conversation's verdict is independent of every other conversation —
    per-batch verdicts equal a batch run's verdicts row for row (the
    parity test pins it), and per-batch work is O(batch + index) with the
    index broadcast. The static assets are persisted for the stream's
    lifetime (they are benchmark-sized); unpersist after stopping the
    stream if the session lives on."""
    import os

    from ..functions.curation import bench_probe_index, probe_bench_neardup
    from ..operators.assemble import assemble
    from ..operators.signatures import compute_signatures

    cfg = cfg or DedupConfig()
    bsig = compute_signatures(assemble(benchmark_tr), cfg)
    buckets, bs, md5 = bench_probe_index(bsig, cfg)
    buckets, bs, md5 = buckets.persist(), bs.persist(), md5.persist()
    sigs = stateful_assemble_signatures(stream, cfg, gap=watermark)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        # audit trail: WHICH conversations this batch gated (the report
        # carries only the contaminated ones) — also what lets the
        # parity test compare against exactly the closed population
        batch_df = batch_df.persist()
        batch_df.select("conv_id").write.mode("overwrite").parquet(
            os.path.join(work_dir, "probed", f"batch={batch_id}")
        )
        rep = probe_bench_neardup(batch_df, buckets, bs, md5, cfg, threshold)
        rep.write.mode("overwrite").parquet(
            os.path.join(work_dir, "report", f"batch={batch_id}")
        )
        batch_df.unpersist()

    writer = (
        sigs.writeStream.foreachBatch(process)
        .outputMode("append")
        .option("checkpointLocation", os.path.join(work_dir, "ckpt"))
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def streaming_exact_dedup(stream: DataFrame, cfg: DedupConfig | None = None,
                          watermark: str = "10 minutes") -> DataFrame:
    """Exact-dup suppression within the watermark horizon: first conversation
    per content_hash survives (state bounded by the watermark, the memlimit
    analog). Emits (conv_id, content_hash, n_turns, n_tokens).

    Bounded state is real, not aspirational: a plain dropDuplicates keeps
    every key forever on an unbounded stream. Here the chained-stateful
    pattern applies — window_time() carries the watermark tag out of the
    assembly aggregation, and dropDuplicatesWithinWatermark evicts a key's
    state once the watermark passes it. The dedup runs JVM-side BEFORE the
    signature UDF on the exact-content key sha2(normalized doc_text) (the
    same normalization the kernel content_hash uses — the DuckDB oracle
    already pins the two normalizations equal), because a Python map strips
    the watermark tag and a re-declared watermark late-drops every
    agg-emitted row. Consequence (the documented horizon semantics): a
    duplicate arriving AFTER its key expired is emitted again, exactly like
    the reference's capacity-evicting index
    (/root/reference/rabin/global/index.c:539-547)."""
    cfg = cfg or DedupConfig()
    asm = assemble_windowed(stream, watermark, keep_event_time=True)
    exact_key = F.sha2(
        F.trim(F.regexp_replace(F.lower("doc_text"), "[^a-z0-9]+", " ")), 256
    )
    deduped = (
        asm.withColumn("exact_key", exact_key)
        .dropDuplicatesWithinWatermark(["exact_key"])
        .drop("exact_key", "ts")
    )
    sig = compute_signatures(deduped, cfg)
    return sig.select("conv_id", "content_hash", "n_turns", "n_tokens")
