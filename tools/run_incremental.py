"""spark-submit driver for the daily-ingest (delta-vs-corpus) admission loop.

The batch pipeline (tools/run_pipeline.py) dedups a corpus once; THIS entry
point runs the loop a web-scale training-data pipeline actually operates:
admit each day's delta against persistent corpus state without re-pairing,
re-banding, or re-clustering the corpus, then fold the admitted docs into
that state so tomorrow's delta probes today's corpus. Reference analog: the
persistent global index admits new blocks against prior occupants without
revisiting them (/root/reference/rabin/global/index.c:140-151, 485-558).

State layout under --state-dir (parquet stage tables, the "persisted
corpus run" inputs of functions/incremental.py), the same in both modes:

    sig/     signatures            (store units: run=<tag>/)
    labels/  cluster assignment    (store units: run=<tag>/, changed rows)

sig/ is the only index: its band_hashes column is the band index and its
content hash (docs: content_md5, transcripts: content_hash) the exact
index. labels/ is a label store (pcompress_spark.store.append_labels):
a run appends only the rows the label core changes, the bootstrap
appends the batch labels, and a doc's current label is the min
cluster_id over its rows (store.read_labels). Both are unit stores of
pcompress_spark.store, the same append, listing and compaction protocol
as the near-dup stream's stores. Periodic maintenance: ``--compact``
merges each table's run=<tag> units into one ``run=c<G>`` dir, so a year
of daily deltas doesn't leave every probe listing 365 subdirs. Run it
quiesced (no delta in flight). It is crash-safe: the merge goes to a hidden tmp dir,
the list of merged units goes into that tmp as its completion marker,
then exactly the listed units are deleted and the tmp is renamed; the
next listing finishes a marked tmp and discards an unmarked one.
Admission results for future deltas are byte-identical (tests pin this).
A replay of a tag in a compacted dir's unit list is refused with an
explanation (its appends can no longer be deleted-and-redone; the delta
was committed before compaction by the quiesce contract). A state dir of
an older layout is refused with a ValueError before any write: one
compacted by an older release, which kept a tag manifest beside the
tables; one whose labels/ is a bare table (or has a labels._tmp beside
it), from when each run replaced the whole labels table; and a docs
state with bands/ and md5/ tables, whose sig/ rows lack the columns that
replaced them.

Bootstrap once from the existing corpus:

    spark-submit --py-files dist/pcompress_spark.zip tools/run_incremental.py \
        --bootstrap --corpus /warehouse/docs --state-dir /warehouse/dedup_state

Then per delta batch:

    spark-submit ... tools/run_incremental.py \
        --delta /warehouse/incoming/2026-08-19 \
        --state-dir /warehouse/dedup_state --out /warehouse/admissions/2026-08-19

Outputs under --out: admission/ (doc_id, keep, dup_kind, dup_of), pairs/
(the delta-endpoint near-dup evidence, computed ONCE and reused by both
the admission verdict and the label merge), and delta_sig/ (the delta's
signatures, materialized once — pair generation and the state fold both
read it, so the Arrow kernel chain runs a single time per delta).
Admitted (keep=1) docs'
signature rows are appended to the state; labels/ gets the run's changed
label rows (delta docs, evidence endpoints and every member of a cluster
they touch — dropped dups keep a label row recording which cluster
absorbed them). Scale note: state appends, label appends and all probes
are O(delta + touched); the label core reads the label rows, a narrow
table.

Crash safety / idempotent re-run protocol:
  - the default run tag is a HASH OF THE DELTA'S FILE LISTING, so
    re-running a crashed (or even completed) delta reuses the same tag;
  - a run first DELETES any partial run=<tag> units of sig/ and labels/
    from a prior attempt, so state reads always see the pre-run corpus,
    appends are never duplicated, and the id collision guard below holds
    on a replay too;
  - every output that depends on pre-run state (pairs, admission) is
    MATERIALIZED before any state mutation; then the run=<tag> label unit
    is appended (its core reads the pre-run labels), then the sig/ fold.
  A killed run at ANY point therefore re-runs to the same end state.

Delta doc_ids must be disjoint from the corpus state's doc_ids (validated
against the sig/ and labels/ tables before any work, on a replay too; a
collision would produce conflicting label rows).

Input: parquet with columns (doc_id long, text string).
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pcompress_spark import store  # noqa: E402


def _delete_run_dirs(spark, paths: dict, tag: str, delta, id_col: str) -> None:
    """Idempotent re-run cleanup: finish or discard any interrupted
    compaction (store.listing), then drop any run=<tag> units a prior
    attempt of THIS delta left behind in sig/ and labels/, so state reads
    see the pre-run corpus and the appends below never duplicate rows.

    A tag in a compacted dir's unit list is refused: its units were merged
    into a run=c<G> dir and can no longer be deleted-and-redone. Guard
    against a REUSED tag (an operator passing another delta's --run-tag by
    mistake): deleting a different delta's committed appends would
    silently blind all future probes to its docs, so refuse unless the
    existing sig/ unit's doc_ids are a subset of this delta's."""
    from pyspark.sql import functions as F

    listed = {k: store.listing(spark, p, "run") for k, p in paths.items()}
    if any(tag in compacted for _, compacted in listed.values()):
        # the delta was fully committed before compaction (compaction only
        # runs on quiesced, committed state), so a replay has nothing left
        # to do — refuse with the real story instead of letting the
        # collision guard fire
        raise SystemExit(
            f"run={tag} was committed and later compacted into a run=c<G> "
            "dir; its admission outputs were finalized before compaction "
            "and its state rows are merged. Re-running this delta would "
            "admit it against a corpus that already contains it — nothing "
            "to do.")
    units = dict(listed["sig"][0])
    if tag in units:
        foreign = (
            spark.read.parquet(units[tag]).select(id_col)
            .join(F.broadcast(delta.select(id_col).distinct()),
                  id_col, "left_anti")
            .limit(5)
            .collect()
        )
        if foreign:
            raise SystemExit(
                f"state already holds run={tag} appends for {id_col}s not in "
                f"this delta (sample: {sorted(r[id_col] for r in foreign)})"
                " — the tag belongs to a DIFFERENT delta; deleting it would"
                " orphan those docs from all future dedup probes. Pass a"
                " unique --run-tag (or omit it for the file-listing hash).")
    for p in paths.values():
        store.remove(spark, p, "run", tag)


def _default_tag(delta_df) -> str:
    """Deterministic run tag from the delta's file listing, so a re-run of
    the same delta overwrites its own partial state instead of appending a
    duplicate copy under a fresh time-based tag."""
    import hashlib
    import time

    files = sorted(delta_df.inputFiles())
    if files:
        return "d" + hashlib.sha256("\n".join(files).encode()).hexdigest()[:12]
    return str(int(time.time()))


def _open_run(spark, ap, args, paths: dict, id_col: str):
    """The start of every delta run, both modes: (delta, tag, corpus_sig),
    after the idempotent re-run cleanup and the id collision guard."""
    from pyspark.sql import functions as F

    if not args.delta or not args.out:
        ap.error("--delta and --out are required (or pass --bootstrap)")
    # the state dirs MUTATE between runs; a long-lived session's cache
    # manager matches relations by root path and would serve a STALE file
    # listing (observed: a post-compaction run missing every exact pair)
    for p in (args.state_dir.rstrip("/"), args.out):
        spark.catalog.refreshByPath(p)
    delta = spark.read.parquet(args.delta)
    tag = args.run_tag or _default_tag(delta)
    _delete_run_dirs(spark, paths, tag, delta, id_col)
    # drop the run=<tag> partition column the append layout induces — the
    # stage-table consumers expect the bare signature/band schemas
    corpus_sig = spark.read.parquet(paths["sig"]).drop("run")
    # id spaces MUST be disjoint: a colliding id would get conflicting
    # label rows and the admission verdict would compare the doc against
    # itself-as-corpus. Probe labels ∪ signatures: labels also cover
    # DROPPED delta docs (keep=0 rows get label rows but never fold into
    # sig). A replay's own run=<tag> units are gone by now, so the guard
    # holds on a replay too. Both probes are map-side broadcast filters
    # over one narrow column.
    clash = (
        corpus_sig.select(id_col)
        .unionByName(spark.read.parquet(paths["labels"]).select(id_col))
        .join(F.broadcast(delta.select(id_col).distinct()),
              id_col, "left_semi")
        .limit(5)
        .collect()
    )
    if clash:
        raise SystemExit(
            f"delta {id_col}s collide with corpus state (sample: "
            f"{sorted(set(r[id_col] for r in clash))}); {id_col} spaces "
            "must be disjoint — re-key the delta before admission")
    return delta, tag, corpus_sig


def _written(spark, df, path: str):
    """``df`` materialized at ``path`` and read back."""
    df.write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)


def _close_run(adm, **fields) -> int:
    """Print the run's JSON summary and release its persisted frames."""
    from pyspark.sql import functions as F

    from pcompress_spark.cache import release_persisted

    counts = {r["dup_kind"]: r["n"] for r in adm.groupBy("dup_kind").agg(
        F.count(F.lit(1)).alias("n")).collect()}
    print(json.dumps({
        **fields,
        "admitted": int(counts.get("none", 0)),
        "dropped_exact": int(counts.get("exact", 0)),
        "dropped_near": int(counts.get("near", 0)),
    }))
    release_persisted()  # a reused session must not pin this run's frames
    return 0


def _transcripts_run(spark, ap, args, cfg, paths: dict) -> int:
    """--mode transcripts: the daily-ingest loop on the PRIMARY axis.
    Same state layout and crash-safety protocol as docs mode (module
    docstring); sig/ holds the transcript signature table. Bootstrap can
    also start from an existing pipeline work_dir by pointing --corpus at
    its input table; the signatures computed here are bit-identical to the
    pipeline's checkpointed stage table at the same config."""
    from pyspark.sql import functions as F

    from pcompress_spark.functions import incremental
    from pcompress_spark.operators.assemble import assemble
    from pcompress_spark.operators.signatures import compute_signatures

    if args.bootstrap:
        if not args.corpus:
            ap.error("--bootstrap requires --corpus")
        corpus = spark.read.parquet(args.corpus)
        sig_t = spark.read.parquet(store.append(
            compute_signatures(assemble(corpus), cfg),
            paths["sig"], "run", "bootstrap"))
        store.append(incremental.batch_pairs(sig_t, cfg).labels(),
                     paths["labels"], "run", "bootstrap")
        print(json.dumps({"bootstrapped": True, "mode": "transcripts",
                          "state_dir": args.state_dir.rstrip("/"),
                          "convs": sig_t.count()}))
        return 0

    delta, tag, corpus_sig = _open_run(spark, ap, args, paths, "conv_id")
    # signatures ONCE (kernel chain runs a single time over the delta)
    delta_sig = _written(spark, compute_signatures(assemble(delta), cfg),
                         f"{args.out}/delta_sig")
    empty_tr = spark.createDataFrame(
        [], "conv_id string, turn_idx int, text string")
    # which path (driver or distributed) each step took, and why
    steps = {"pairs": {}, "admission": {}, "clusters": {}}
    pairs = _written(spark, incremental.incremental_transcript_pairs(
        empty_tr, empty_tr, cfg, corpus_sig=corpus_sig, delta_sig=delta_sig,
        stats=steps["pairs"]), f"{args.out}/pairs")
    adm = _written(spark, incremental.incremental_transcript_admission(
        delta_sig.select("conv_id"), pairs, cfg, stats=steps["admission"]),
        f"{args.out}/admission")
    store.append_labels(spark, paths["labels"], "run", tag, pairs,
                        delta_sig.select("conv_id"), cfg,
                        stats=steps["clusters"])
    store.append(delta_sig.join(
        adm.where(F.col("keep") == 1).select("conv_id"), "conv_id", "left_semi"
    ), paths["sig"], "run", tag)
    return _close_run(adm, run=tag, mode="transcripts",
                      delta_convs=delta_sig.count(), out=args.out,
                      steps=steps)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--mode", choices=("docs", "transcripts"), default="docs",
                    help="docs: (doc_id, text) table; transcripts: the "
                         "primary-axis (conv_id, turn_idx, ...) table — "
                         "conversation-granular admission against the "
                         "pipeline's signature/label state")
    ap.add_argument("--corpus", default=None,
                    help="documents parquet (bootstrap only)")
    ap.add_argument("--delta", default=None, help="delta documents parquet")
    ap.add_argument("--state-dir", required=True,
                    help="persistent corpus state (sig/ labels/)")
    ap.add_argument("--out", default=None,
                    help="per-run output dir (admission/ pairs/)")
    ap.add_argument("--bootstrap", action="store_true",
                    help="build state-dir from --corpus and exit")
    ap.add_argument("--threshold", type=float, default=0.3)
    ap.add_argument("--master", default="inherit")
    ap.add_argument("--shuffle-partitions", type=int, default=None)
    ap.add_argument("--config-json", default=None,
                    help="JSON dict of DedupConfig field overrides")
    ap.add_argument("--run-tag", default=None,
                    help="state append subdir tag (default: hash of the "
                         "delta's file listing, so re-runs are idempotent; "
                         "an explicit tag must be unique per delta)")
    ap.add_argument("--compact", action="store_true",
                    help="merge the per-run append subdirs of the sig/ "
                         "and labels/ tables into one run=c<G> dir each "
                         "and exit "
                         "(quiesced maintenance — no delta run may be in "
                         "flight; admission behavior is unchanged)")
    args = ap.parse_args(argv)

    from pyspark.sql import functions as F

    from pcompress_spark.config import DedupConfig
    from pcompress_spark.functions import doc_dedup, incremental
    from pcompress_spark.session import get_spark

    spark = get_spark(
        app_name="pcompress-spark-incremental",
        master=args.master,
        shuffle_partitions=args.shuffle_partitions,
    )
    sd = args.state_dir.rstrip("/")
    store.refuse_old_state(spark, sd)
    paths = {k: f"{sd}/{k}" for k in ("sig", "labels")}
    if args.compact:
        print(json.dumps({"compacted": True, "mode": args.mode,
                          "state_dir": sd, "tables": {
                              k: store.compact(spark, p, "run")
                              for k, p in paths.items()}}))
        return 0

    overrides = json.loads(args.config_json) if args.config_json else {}
    if args.mode == "transcripts":
        # the pipeline's own defaults, so signatures/labels interoperate
        # with its checkpointed stage tables at the same config hash
        overrides.setdefault("jaccard_threshold", args.threshold)
        cfg = DedupConfig(**overrides)
        return _transcripts_run(spark, ap, args, cfg, paths)
    overrides.setdefault("shingle_k", 3)
    overrides.setdefault("substring_enabled", False)
    overrides.setdefault("jaccard_threshold", args.threshold)
    cfg = DedupConfig(**overrides)

    if args.bootstrap:
        if not args.corpus:
            ap.error("--bootstrap requires --corpus")
        corpus = spark.read.parquet(args.corpus)
        sig_t = spark.read.parquet(store.append(
            doc_dedup.doc_signatures(corpus, cfg), paths["sig"], "run",
            "bootstrap"))
        store.append(doc_dedup.neardup_clusters(corpus, cfg, args.threshold),
                     paths["labels"], "run", "bootstrap")
        print(json.dumps({"bootstrapped": True, "state_dir": sd,
                          "docs": sig_t.count()}))
        return 0

    delta, tag, corpus_sig = _open_run(spark, ap, args, paths, "doc_id")
    # corpus text is never read in this loop: every probe rides the stage
    # tables. The `corpus` argument only backstops missing stage tables,
    # so pass an empty frame to make an accidental corpus scan impossible.
    empty_corpus = spark.createDataFrame([], "doc_id long, text string")
    # signatures ONCE: the Arrow kernel chain runs a single time over the
    # delta; the materialized frame feeds pair generation here and the
    # admitted-subset state fold below
    delta_sig = _written(spark, doc_dedup.doc_signatures(delta, cfg),
                         f"{args.out}/delta_sig")
    # evidence ONCE: materialize the pair parquet next, then feed it to
    # both the admission verdict and the label merge — the banding/verify
    # chain over the delta runs a single time per daily run
    pairs = _written(spark, incremental.incremental_lsh_pairs(
        empty_corpus, delta, cfg, args.threshold,
        corpus_sig=corpus_sig, delta_sig=delta_sig,
    ), f"{args.out}/pairs")
    adm = _written(spark, incremental.incremental_admission(
        empty_corpus, delta, cfg, args.threshold,
        corpus_sig=corpus_sig, pairs=pairs,
    ), f"{args.out}/admission")
    # the label unit BEFORE the fold: the evidence's exact edges probe
    # corpus_sig while it is still pre-run
    store.append_labels(spark, paths["labels"], "run", tag,
                        incremental.doc_evidence(
                            empty_corpus, delta, cfg, args.threshold,
                            corpus_sig, pairs),
                        delta.select("doc_id"), cfg, id_col="doc_id")
    # fold = the already-materialized delta signatures filtered to the
    # admitted subset (signatures are per-doc deterministic, so this is
    # bit-identical to recomputing them — without a second kernel pass)
    store.append(delta_sig.join(
        adm.where(F.col("keep") == 1).select("doc_id"), "doc_id", "left_semi"
    ), paths["sig"], "run", tag)
    return _close_run(adm, run=tag, delta_docs=delta.count(), out=args.out)


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
