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

from .. import store as index_store
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


def _update_labels_store(spark, root: str, listed, pairs_out: str,
                         batch_id: int, batch_df: DataFrame,
                         cfg: DedupConfig) -> None:
    """Streaming cluster maintenance: one micro-batch's ``batch=N`` unit of
    the labels store (``listed``: its store.listing), written by
    store.append_labels — the label store run_incremental keeps too, so
    the batch writes only the rows the label core changes and a small
    batch takes the core's driver path. A replay overwrites its own unit;
    a batch already compacted into the store has nothing left to write.

    Labels enabled MID-stream (pair batches from label-less runs, an empty
    labels store): the first labeled batch takes the WHOLE pair store as
    its evidence, so components the earlier pairs connect are not split.
    Pre-enablement singletons (in no pair) stay absent until next seen."""
    own = str(batch_id)
    if any(n != own for n, _ in listed[0]):
        evidence = [f"{pairs_out.rstrip('/')}/batch={own}"]
    else:
        evidence = [p for _, p in index_store.listing(spark, pairs_out, "batch")[0]]
    index_store.append_labels(spark, root, "batch", own,
                              spark.read.parquet(*evidence), batch_df, cfg,
                              listed=listed)


def read_stream_labels(spark, work_dir: str) -> DataFrame:
    """Current cluster assignment from a stream's labels store
    (start_near_dup_stream(with_labels=True)): (conv_id, cluster_id), by
    store.read_labels. compact_near_dup_store bounds how many dirs its
    scan lists."""
    import os

    root = os.path.join(work_dir, "labels") if not work_dir.rstrip("/").endswith(
        "/labels") else work_dir
    return index_store.read_labels(spark, root, "batch")


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
    EXCLUDE this batch's own unit dir, so a replayed batch is admitted
    against exactly the state it saw first. If the store was compacted
    with this batch in it (possible only when compact_near_dup_store ran
    against a stream stopped MID-batch), its own rows hide inside the
    merged dir: they are anti-joined back out by id_hash before the probe,
    and the batch=<id> rewrite is skipped."""
    from ..functions.incremental import incremental_transcript_pairs

    spark = batch_df.sparkSession
    batch_df = batch_df.persist()
    try:
        if batch_df.count() == 0:
            return
        units, compacted = index_store.listing(spark, store, "batch")
        # listed up front too: an old-layout labels store raises before
        # this batch writes anything
        labels_listed = (index_store.listing(spark, labels_store, "batch")
                         if labels_store else None)
        own = str(batch_id)
        prior = [p for n, p in units if n != own]
        if prior:
            corpus = spark.read.parquet(*prior)
            if own in compacted:
                corpus = corpus.join(
                    F.broadcast(batch_df.select("id_hash").distinct()),
                    "id_hash", "left_anti")
        else:
            corpus = spark.createDataFrame([], batch_df.schema)
        index_store.append(incremental_transcript_pairs(
            None, None, cfg, corpus_sig=corpus, delta_sig=batch_df
        ), pairs_out, "batch", own)
        if own not in compacted:
            index_store.append(batch_df, store, "batch", own)
        if labels_store:
            _update_labels_store(spark, labels_store, labels_listed, pairs_out,
                                 batch_id, batch_df.select("conv_id"), cfg)
    finally:
        batch_df.unpersist()


def _refuse_old_layout(spark, work_dir: str) -> None:
    """Raise ValueError on a work dir of an older layout: one that kept a
    separate band store (its signature rows have no ``band_hashes``, so
    reading the store would fail or drop those rows from every probe), or
    whose compacted dirs have no unit list (pcompress_spark.store)."""
    wd = work_dir.rstrip("/")
    path = spark._jvm.org.apache.hadoop.fs.Path(wd + "/sig_store_bands")
    if path.getFileSystem(spark._jsc.hadoopConfiguration()).exists(path):
        raise ValueError(
            f"{work_dir} has the old near-dup stream layout (a separate "
            "sig_store_bands/ band store); start the stream in a new work dir")
    for sub in ("sig_store", "labels"):
        index_store.listing(spark, f"{wd}/{sub}", "batch")


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
    column records provenance). ``sig_store/`` and ``labels/`` are unit
    stores of pcompress_spark.store, the same append and compaction
    protocol as tools/run_incremental.py's state tables. A work dir of an
    older layout (a separate band store beside ``sig_store/``, or compacted
    dirs without a unit list) is refused with a ValueError before any
    query starts.

    ``with_labels=True`` additionally maintains a ``labels/batch=N/``
    store: per-batch incremental cluster maintenance (_update_labels_store
    — the same label core as
    functions.incremental.incremental_transcript_clusters, so small batches
    take its driver path), where a batch writes only the label rows it
    changes and a conversation's current assignment is the min cluster_id
    over its rows; read it with ``read_stream_labels(spark, work_dir)``.
    Accumulated labels equal the batch pipeline's clusters over the same
    closed conversations (components are the closure of the same pair
    evidence; min-conv_id labels — pinned by the batch-parity test), with
    the same hot-bucket scoping as the pair equivalence above.

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
    one ``batch=c<G>`` dir each (pcompress_spark.store.compact) — bounds the
    file listing a long-lived stream accumulates. Works wherever the
    stream writes: HDFS, S3A or local ``file:`` paths.

    Safe to run while the stream is stopped/quiesced past those batches,
    or from inside the stream itself via start_near_dup_stream's
    ``compact_every`` hook, which passes ``exclude_batch`` = the in-flight
    batch so an uncommitted attempt's own dirs are never merged. A batch
    replayed after compaction finds itself in the compacted dir's unit
    list: _near_dup_process anti-joins its own rows out of the store and
    skips its rewrites, so replay idempotence survives compaction. Refuses
    (ValueError) a work dir of an older layout (_refuse_old_layout)."""
    _refuse_old_layout(spark, work_dir)
    for sub in ("sig_store", "labels"):
        index_store.compact(
            spark, f"{work_dir.rstrip('/')}/{sub}", "batch",
            exclude=None if exclude_batch is None else str(exclude_batch))


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
        index_store.append(rep, os.path.join(work_dir, "report"), "batch",
                           batch_id)

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
        index_store.append(batch_df.select("conv_id"),
                           os.path.join(work_dir, "probed"), "batch", batch_id)
        rep = probe_bench_neardup(batch_df, buckets, bs, md5, cfg, threshold)
        index_store.append(rep, os.path.join(work_dir, "report"), "batch",
                           batch_id)
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
