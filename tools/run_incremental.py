"""spark-submit driver for the daily-ingest (delta-vs-corpus) admission loop.

The batch pipeline (tools/run_pipeline.py) dedups a corpus once; THIS entry
point runs the loop a web-scale training-data pipeline actually operates:
admit each day's delta against persistent corpus state without re-pairing,
re-banding, or re-clustering the corpus, then fold the admitted docs into
that state so tomorrow's delta probes today's corpus. Reference analog: the
persistent global index admits new blocks against prior occupants without
revisiting them (/root/reference/rabin/global/index.c:140-151, 485-558).

State layout under --state-dir (parquet stage tables, the "persisted
corpus run" inputs of functions/incremental.py):

    sig/     doc signatures        (append-per-run subdirs: run=<tag>/)
    bands/   exploded LSH bands    (append-per-run subdirs)
    md5/     exact-dup index rows  (append-per-run subdirs; re-min'd on read)
    labels/  cluster assignment    (FULL table, atomically replaced per run)

Periodic maintenance: ``--compact`` merges the accumulated run=<tag>
subdirs into one ``run=c<G>`` dir per table (md5 re-min'd at merge), so a
year of daily deltas doesn't leave every probe listing 365 subdirs. Run it
quiesced (no delta in flight); crash-safe via the streaming store's
tagged-tmp + _SUCCESS + rename protocol, auto-recovered at the next run;
admission results for future deltas are byte-identical (tests pin this).
A replay of an already-compacted delta tag is refused with an explanation
(its appends can no longer be deleted-and-redone; the delta was committed
before compaction by the quiesce contract).

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
signature/band/md5 rows are appended to the state; labels/ is rewritten
with the merged assignment (corpus ∪ delta — dropped dups keep a label row
recording which cluster absorbed them). Scale note: state appends and all
probes are O(delta + touched); only the labels rewrite is O(corpus
label rows) — a narrow table; keep per-run label deltas instead (the
streaming store's latest-row-wins layout, streaming/dedup_stream.py) if
even that is too hot.

Crash safety / idempotent re-run protocol:
  - the default run tag is a HASH OF THE DELTA'S FILE LISTING, so
    re-running a crashed (or even completed) delta reuses the same tag;
  - a run first DELETES any partial run=<tag> state subdirs from a prior
    attempt, so state reads always see the pre-run corpus and appends are
    never duplicated;
  - every output that depends on pre-run state (pairs, admission, the
    merged labels) is MATERIALIZED before any state mutation: labels are
    staged to labels._tmp first, the sig/bands/md5 folds run next, and the
    labels commit (delete + rename) happens last;
  - an interrupted commit is recovered at the next run's start: a complete
    labels._tmp (parquet _SUCCESS present) with no labels/ is renamed into
    place; a stale tmp next to an intact labels/ is deleted.
  A killed run at ANY point therefore re-runs to the same end state.

Delta doc_ids must be disjoint from the corpus state's doc_ids (validated
against the signature table before any work; a collision would produce
conflicting duplicate label rows).

Input: parquet with columns (doc_id long, text string).
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _hadoop_fs(spark, path: str):
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(spark._jsc.hadoopConfiguration()), p, jvm


def _fresh_session_views(spark, *paths: str) -> None:
    """Invalidate any cached relations/file listings under the given
    paths. The state dirs MUTATE between runs (appends, label replace,
    compaction); in a long-lived reused session Spark's cache manager
    matches relations by root path and would serve a STALE file listing
    for a path a previous run persisted (observed: a post-compaction run
    missing every exact pair because csig came from the pre-compaction
    cache). Per-run subprocess sessions never hit this; a shared session
    (tests, notebook loops) must refresh."""
    for p in paths:
        if p:
            spark.catalog.refreshByPath(p)


# dot-prefixed so an interrupted compaction's tmp dir is invisible to the
# directory-level parquet reads every probe performs (Spark skips hidden
# '.'/'_' paths); the trailing integer is the compaction GENERATION
_COMPACT_TMP_PREFIX = ".compact_tmp_c"


def _list_runs(spark, table_path: str):
    """(fs, jvm Path ctor, [(name, path)] of run=* dirs, [(name, path)] of
    interrupted-compaction tmp dirs) for one state table."""
    fs, root_path, jvm = _hadoop_fs(spark, table_path)
    hpath = jvm.org.apache.hadoop.fs.Path
    runs, tmps = [], []
    if fs.exists(root_path):
        for st in fs.listStatus(root_path):
            name = st.getPath().getName()
            if name.startswith("run="):
                runs.append((name, str(st.getPath())))
            elif name.startswith(_COMPACT_TMP_PREFIX):
                tmps.append((name, str(st.getPath())))
    return fs, hpath, runs, tmps


def _manifest_path(state_dir: str) -> str:
    # underscore-prefixed: ignored by parquet directory reads
    return state_dir.rstrip("/") + "/_compacted_tags.json"


def _manifest_read(spark, state_dir: str) -> dict:
    """{run tag: compaction generation} of every append tag ever folded
    into a run=c<G> dir — consulted by the replay guard (a compacted tag
    can no longer be deleted-and-redone, so replaying it is refused with
    an explanation instead of tripping the collision guard)."""
    fs, p, jvm = _hadoop_fs(spark, _manifest_path(state_dir))
    if not fs.exists(p):
        return {}
    stream = fs.open(p)
    try:
        # commons-io rides Spark's classpath; a py4j-side read loop can't
        # see Java's mutations of a passed buffer (pass-by-value)
        data = jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8")
        return json.loads(data) if data.strip() else {}
    finally:
        stream.close()


def _manifest_add(spark, state_dir: str, gen: int, tags: list) -> None:
    """Record tags merged by generation ``gen``. Best-effort advisory (a
    crash before this write only degrades the replay-refusal message to
    the collision-guard error — state itself is already consistent)."""
    m = _manifest_read(spark, state_dir)
    m.update({t: gen for t in tags})
    fs, p, _ = _hadoop_fs(spark, _manifest_path(state_dir))
    out = fs.create(p, True)
    try:
        out.write(json.dumps(m, sort_keys=True).encode())
    finally:
        out.close()


def _recover_state_compaction(spark, state_dir: str, table: str) -> None:
    """Finish or abort a compaction of one state table interrupted between
    its tmp write and the final rename (same protocol as the streaming
    store's _recover_compaction, streaming/dedup_stream.py:202): a COMPLETE
    tmp (parquet _SUCCESS present) holds the full merge of every run dir
    that existed at its write — under the quiesce contract nothing has
    appended since — so recovery deletes the surviving originals and
    renames the tmp into place; an incomplete tmp is discarded with the
    originals untouched. Runs at the start of every delta run and of
    compaction itself, so no caller observes a half-compacted store."""
    path = state_dir.rstrip("/") + "/" + table
    fs, hpath, runs, tmps = _list_runs(spark, path)
    for name, p in tmps:
        gen = int(name[len(_COMPACT_TMP_PREFIX):])
        if not fs.exists(hpath(p + "/_SUCCESS")):
            fs.delete(hpath(p), True)
            continue
        tags = [n.split("=", 1)[1] for n, _ in runs]
        for _, rp in runs:
            fs.delete(hpath(rp), True)
        if not fs.rename(hpath(p), hpath(f"{path}/run=c{gen}")):
            raise IOError(
                f"compaction recovery rename failed: {p} -> run=c{gen}")
        if table == "sig":
            _manifest_add(spark, state_dir, gen,
                          [t for t in tags if not _is_c_tag(t)])


def _is_c_tag(tag: str) -> bool:
    return tag.startswith("c") and tag[1:].isdigit()


def compact_incremental_state(spark, state_dir: str, tables) -> dict:
    """Quiesced-state maintenance: merge every per-run append subdir of
    each state table into a single ``run=c<G>`` dir (G = generation) and
    delete the originals — after N daily deltas every probe otherwise
    lists N subdirs (and on an object store pays N LISTs). The md5 index
    is re-min'd at merge time (min of per-run min partials == global min),
    so compaction also shrinks it to one row per content hash.

    MUST run quiesced (no concurrent delta run) — the same contract as
    compact_near_dup_store for a stopped stream. Crash-safe: (1) full
    merge to a dot-prefixed tmp (invisible to parquet reads, _SUCCESS
    marks completeness), (2) delete originals, (3) rename tmp ->
    run=c<G>; _recover_state_compaction repairs any interruption.
    Admission behavior for future deltas is byte-identical (the union of
    rows is unchanged; tests pin this). Compacted tags are recorded in
    _compacted_tags.json so a replay of an already-compacted delta is
    refused loudly instead of corrupting state."""
    from pyspark.sql import functions as F

    sd = state_dir.rstrip("/")
    summary = {}
    for t in tables:
        _recover_state_compaction(spark, sd, t)
        path = f"{sd}/{t}"
        fs, hpath, runs, _ = _list_runs(spark, path)
        if len(runs) <= 1:
            summary[t] = {"merged_runs": 0}
            continue
        gen = 1 + max(
            (int(n.split("=", 1)[1][1:]) for n, _ in runs
             if _is_c_tag(n.split("=", 1)[1])),
            default=0,
        )
        df = spark.read.parquet(*[p for _, p in runs])
        if t == "md5":
            df = df.groupBy("content_md5").agg(F.min("c_rep").alias("c_rep"))
        tmp = f"{path}/{_COMPACT_TMP_PREFIX}{gen}"
        df.write.mode("overwrite").parquet(tmp)
        tags = [n.split("=", 1)[1] for n, _ in runs]
        for _, rp in runs:
            fs.delete(hpath(rp), True)
        if not fs.rename(hpath(tmp), hpath(f"{path}/run=c{gen}")):
            raise IOError(f"compaction rename failed: {tmp} -> run=c{gen}")
        if t == "sig":
            _manifest_add(spark, sd, gen,
                          [tg for tg in tags if not _is_c_tag(tg)])
        summary[t] = {"merged_runs": len(runs), "gen": gen}
    return summary


def _stage_replace(spark, df, path: str) -> None:
    """First half of the full-table replace: materialize the new table to
    ``<path>._tmp`` (parquet _SUCCESS marks completeness). The destination
    is untouched until _commit_replace."""
    df.write.mode("overwrite").parquet(path.rstrip("/") + "._tmp")


def _commit_replace(spark, path: str) -> None:
    """Second half: delete the old table, rename the staged tmp over it.
    A crash between delete and rename leaves a complete tmp and no
    destination — _recover_replace at the next run's start finishes the
    rename (module docstring protocol)."""
    fs, dst, jvm = _hadoop_fs(spark, path)
    hpath = jvm.org.apache.hadoop.fs.Path
    tmp = path.rstrip("/") + "._tmp"
    if fs.exists(dst):
        fs.delete(dst, True)
    if not fs.rename(hpath(tmp), dst):
        raise IOError(f"rename failed: {tmp} -> {path}")


def _replace_dir(spark, df, path: str) -> None:
    """Atomic-ish full-table replace (stage + commit in one step — used by
    bootstrap, where there is no state to keep consistent with)."""
    _stage_replace(spark, df, path)
    _commit_replace(spark, path)


def _recover_replace(spark, path: str) -> None:
    """Finish or abort an interrupted _commit_replace: a COMPLETE tmp
    (_SUCCESS present) with no destination is renamed into place (the
    crash hit between delete and rename); any tmp next to an intact
    destination is a stale pre-commit artifact and is deleted."""
    fs, dst, jvm = _hadoop_fs(spark, path)
    hpath = jvm.org.apache.hadoop.fs.Path
    tmp = path.rstrip("/") + "._tmp"
    tmp_p = hpath(tmp)
    if fs.exists(dst):
        if fs.exists(tmp_p):
            fs.delete(tmp_p, True)
    elif fs.exists(hpath(tmp + "/_SUCCESS")):
        if not fs.rename(tmp_p, dst):
            raise IOError(f"recovery rename failed: {tmp} -> {path}")


def _delete_run_dirs(spark, paths: dict, tag: str, delta) -> bool:
    """Idempotent re-run cleanup: drop any run=<tag> appends a prior
    attempt of THIS delta left behind, so state reads see the pre-run
    corpus and the folds below never duplicate rows. Returns whether a
    prior attempt existed (its labels merge may already be committed —
    the caller relaxes the doc_id collision guard accordingly).

    Guard against a REUSED tag (an operator passing another delta's
    --run-tag by mistake): deleting a different delta's committed appends
    would silently blind all future probes to its docs, so refuse unless
    the existing run dir's doc_ids are a subset of this delta's."""
    from pyspark.sql import functions as F

    prior = False
    sig_run = f"{paths['sig']}/run={tag}"
    fs, p, _ = _hadoop_fs(spark, sig_run)
    id_col = "doc_id" if "md5" in paths else "conv_id"
    if fs.exists(p):
        prior = True
        foreign = (
            spark.read.parquet(sig_run).select(id_col)
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
    for k in paths:
        if k == "labels":
            continue
        fs, p, _ = _hadoop_fs(spark, f"{paths[k]}/run={tag}")
        if fs.exists(p):
            prior = True
            fs.delete(p, True)
    if not prior:
        # a compacted tag's appends were merged into a run=c<G> dir and can
        # no longer be deleted-and-redone; the delta was fully committed
        # before compaction (compaction only runs on quiesced, committed
        # state), so a replay has nothing left to do — refuse with the
        # real story instead of letting the collision guard fire
        state_dir = os.path.dirname(paths["sig"].rstrip("/"))
        gen = _manifest_read(spark, state_dir).get(tag)
        if gen is not None:
            raise SystemExit(
                f"run={tag} was committed and later compacted into "
                f"run=c{gen}; its admission outputs were finalized before "
                "compaction and its state rows are merged. Re-running this "
                "delta would admit it against a corpus that already "
                "contains it — nothing to do.")
    return prior


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


def _transcripts_run(spark, ap, args, cfg) -> int:
    """--mode transcripts: the daily-ingest loop on the PRIMARY axis.
    State is leaner than docs mode — sig/ (the transcript signature table;
    bands derive map-only from its precomputed band_hashes column and the
    exact channel rides its content_hash, so no bands/ or md5/ dirs) plus
    labels/. Same crash-safety protocol (module docstring). Bootstrap can
    also start from an existing pipeline work_dir by pointing --corpus at
    its input table; the signatures computed here are bit-identical to the
    pipeline's checkpointed stage table at the same config."""
    from pyspark.sql import functions as F

    from pcompress_spark.functions import incremental
    from pcompress_spark.operators.assemble import assemble
    from pcompress_spark.operators.candidates import candidate_pairs
    from pcompress_spark.operators.cluster import connected_components
    from pcompress_spark.operators.signatures import compute_signatures
    from pcompress_spark.operators.verify import verify_pairs

    sd = args.state_dir.rstrip("/")
    paths = {k: f"{sd}/{k}" for k in ("sig", "labels")}

    if args.bootstrap:
        if not args.corpus:
            ap.error("--bootstrap requires --corpus")
        corpus = spark.read.parquet(args.corpus)
        compute_signatures(assemble(corpus), cfg).write.mode(
            "overwrite").parquet(f"{paths['sig']}/run=bootstrap")
        sig_t = spark.read.parquet(paths["sig"]).drop("run")
        cand, _ = candidate_pairs(sig_t, cfg, persist_sizes=False)
        labels = connected_components(
            sig_t.select("conv_id", "id_hash"),
            verify_pairs(sig_t, cand, cfg), cfg,
        )
        _replace_dir(spark, labels, paths["labels"])
        print(json.dumps({"bootstrapped": True, "mode": "transcripts",
                          "state_dir": sd,
                          "convs": spark.read.parquet(paths["sig"]).count()}))
        return 0

    if not args.delta or not args.out:
        ap.error("--delta and --out are required (or pass --bootstrap)")
    _fresh_session_views(spark, sd, args.out)
    delta = spark.read.parquet(args.delta)
    tag = args.run_tag or _default_tag(delta)
    _recover_state_compaction(spark, sd, "sig")
    prior_attempt = _delete_run_dirs(spark, paths, tag, delta)
    _recover_replace(spark, paths["labels"])
    corpus_sig = spark.read.parquet(paths["sig"]).drop("run")
    corpus_labels = spark.read.parquet(paths["labels"])

    if not prior_attempt:
        ids = corpus_sig.select("conv_id").unionByName(
            corpus_labels.select("conv_id"))
        clash = (
            ids.join(F.broadcast(delta.select("conv_id").distinct()),
                     "conv_id", "left_semi")
            .limit(5)
            .collect()
        )
        if clash:
            raise SystemExit(
                "delta conv_ids collide with corpus state (sample: "
                f"{sorted(set(r['conv_id'] for r in clash))}); conv_id "
                "spaces must be disjoint — re-key the delta before admission")

    # signatures ONCE (kernel chain runs a single time over the delta)
    compute_signatures(assemble(delta), cfg).write.mode("overwrite").parquet(
        f"{args.out}/delta_sig")
    delta_sig = spark.read.parquet(f"{args.out}/delta_sig")
    empty_tr = spark.createDataFrame(
        [], "conv_id string, turn_idx int, text string")
    # which path (driver or distributed) each step took, and why
    steps = {"pairs": {}, "admission": {}, "clusters": {}}
    pairs = incremental.incremental_transcript_pairs(
        empty_tr, empty_tr, cfg, corpus_sig=corpus_sig, delta_sig=delta_sig,
        stats=steps["pairs"])
    pairs.write.mode("overwrite").parquet(f"{args.out}/pairs")
    pairs = spark.read.parquet(f"{args.out}/pairs")
    adm = incremental.incremental_transcript_admission(
        delta_sig.select("conv_id"), pairs, cfg, stats=steps["admission"])
    adm.write.mode("overwrite").parquet(f"{args.out}/admission")
    adm = spark.read.parquet(f"{args.out}/admission")
    labels = incremental.incremental_transcript_clusters(
        empty_tr, empty_tr, cfg, corpus_labels=corpus_labels,
        corpus_sig=corpus_sig, delta_sig=delta_sig, pairs=pairs,
        stats=steps["clusters"])
    _stage_replace(spark, labels, paths["labels"])
    delta_sig.join(
        adm.where(F.col("keep") == 1).select("conv_id"), "conv_id", "left_semi"
    ).write.mode("overwrite").parquet(f"{paths['sig']}/run={tag}")
    _commit_replace(spark, paths["labels"])

    counts = {r["dup_kind"]: r["n"] for r in adm.groupBy("dup_kind").agg(
        F.count(F.lit(1)).alias("n")).collect()}
    print(json.dumps({
        "run": tag,
        "mode": "transcripts",
        "delta_convs": delta_sig.count(),
        "admitted": int(counts.get("none", 0)),
        "dropped_exact": int(counts.get("exact", 0)),
        "dropped_near": int(counts.get("near", 0)),
        "out": args.out,
        "steps": steps,
    }))
    from pcompress_spark.cache import release_persisted
    release_persisted()  # a reused session must not pin this run's frames
    return 0


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
                    help="persistent corpus state (sig/ bands/ md5/ labels/)")
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
                    help="merge the per-run append subdirs of the state "
                         "tables into one run=c<G> dir each and exit "
                         "(quiesced maintenance — no delta run may be in "
                         "flight; admission behavior is unchanged)")
    args = ap.parse_args(argv)

    from pcompress_spark.config import DedupConfig
    from pcompress_spark.functions import doc_dedup, incremental
    from pcompress_spark.session import get_spark

    spark = get_spark(
        app_name="pcompress-spark-incremental",
        master=args.master,
        shuffle_partitions=args.shuffle_partitions,
    )
    if args.compact:
        tables = ("sig",) if args.mode == "transcripts" else (
            "sig", "bands", "md5")
        summary = compact_incremental_state(spark, args.state_dir, tables)
        print(json.dumps({"compacted": True, "mode": args.mode,
                          "state_dir": args.state_dir.rstrip("/"),
                          "tables": summary}))
        return 0

    overrides = json.loads(args.config_json) if args.config_json else {}
    if args.mode == "transcripts":
        # the pipeline's own defaults, so signatures/labels interoperate
        # with its checkpointed stage tables at the same config hash
        overrides.setdefault("jaccard_threshold", args.threshold)
        cfg = DedupConfig(**overrides)
        return _transcripts_run(spark, ap, args, cfg)
    overrides.setdefault("shingle_k", 3)
    overrides.setdefault("substring_enabled", False)
    overrides.setdefault("jaccard_threshold", args.threshold)
    cfg = DedupConfig(**overrides)
    sd = args.state_dir.rstrip("/")
    paths = {k: f"{sd}/{k}" for k in ("sig", "bands", "md5", "labels")}

    if args.bootstrap:
        if not args.corpus:
            ap.error("--bootstrap requires --corpus")
        corpus = spark.read.parquet(args.corpus)
        sig = doc_dedup.doc_signatures(corpus, cfg)
        sig.write.mode("overwrite").parquet(f"{paths['sig']}/run=bootstrap")
        sig_t = spark.read.parquet(paths["sig"])
        doc_dedup.doc_band_explode(sig_t, cfg).write.mode("overwrite").parquet(
            f"{paths['bands']}/run=bootstrap")
        incremental.corpus_md5_index(corpus).write.mode("overwrite").parquet(
            f"{paths['md5']}/run=bootstrap")
        _replace_dir(
            spark,
            doc_dedup.neardup_clusters(corpus, cfg, args.threshold),
            paths["labels"],
        )
        print(json.dumps({"bootstrapped": True, "state_dir": sd,
                          "docs": spark.read.parquet(paths["sig"]).count()}))
        return 0

    if not args.delta or not args.out:
        ap.error("--delta and --out are required (or pass --bootstrap)")
    _fresh_session_views(spark, sd, args.out)
    delta = spark.read.parquet(args.delta)
    tag = args.run_tag or _default_tag(delta)
    for t in ("sig", "bands", "md5"):
        _recover_state_compaction(spark, sd, t)
    prior_attempt = _delete_run_dirs(spark, paths, tag, delta)
    _recover_replace(spark, paths["labels"])
    # drop the run=<tag> partition column the append layout induces — the
    # stage-table consumers expect the bare signature/band schemas
    corpus_sig = spark.read.parquet(paths["sig"]).drop("run")
    corpus_bands = spark.read.parquet(paths["bands"]).drop("run")
    # admitted docs append RAW (content_md5, c_rep=doc_id) rows; re-min on
    # read keeps the index shape without a rewrite-per-run
    from pyspark.sql import functions as F

    corpus_md5 = (
        spark.read.parquet(paths["md5"])
        .groupBy("content_md5")
        .agg(F.min("c_rep").alias("c_rep"))
    )
    corpus_labels = spark.read.parquet(paths["labels"])

    # doc_id spaces MUST be disjoint: a colliding id would get two
    # conflicting label rows (untouched passthrough + fresh CC) and the
    # admission verdict would compare the doc against itself-as-corpus.
    # Probe labels ∪ signatures: labels also cover DROPPED delta docs
    # (keep=0 rows are merged into labels but never folded into sig),
    # signatures cover a crash window before the labels commit. Both
    # probes are map-side broadcast filters over one narrow column.
    # Skipped on a replay of this same tag — the first attempt validated
    # disjointness, and its own committed labels would now false-positive.
    if not prior_attempt:
        ids = (
            corpus_sig.select("doc_id")
            .unionByName(corpus_labels.select("doc_id"))
        )
        clash = (
            ids.join(F.broadcast(delta.select("doc_id").distinct()),
                     "doc_id", "left_semi")
            .limit(5)
            .collect()
        )
        if clash:
            raise SystemExit(
                "delta doc_ids collide with corpus state (sample: "
                f"{sorted(set(r['doc_id'] for r in clash))}); doc_id spaces "
                "must be disjoint — re-key the delta before admission")

    # corpus text is never read in this loop: every probe rides the stage
    # tables. The `corpus` argument only backstops missing stage tables,
    # so pass an empty frame to make an accidental corpus scan impossible.
    empty_corpus = spark.createDataFrame([], "doc_id long, text string")
    # signatures ONCE: the Arrow kernel chain runs a single time over the
    # delta; the materialized frame feeds pair generation here and the
    # admitted-subset state fold below
    doc_dedup.doc_signatures(delta, cfg).write.mode("overwrite").parquet(
        f"{args.out}/delta_sig")
    delta_sig = spark.read.parquet(f"{args.out}/delta_sig")
    # evidence ONCE: materialize the pair parquet next, then feed it to
    # both the admission verdict and the label merge — the banding/verify
    # chain over the delta runs a single time per daily run
    pairs = incremental.incremental_lsh_pairs(
        empty_corpus, delta, cfg, args.threshold,
        corpus_sig=corpus_sig, corpus_bands=corpus_bands,
        delta_sig=delta_sig,
    )
    pairs.write.mode("overwrite").parquet(f"{args.out}/pairs")
    pairs = spark.read.parquet(f"{args.out}/pairs")
    adm = incremental.incremental_admission(
        empty_corpus, delta, cfg, args.threshold,
        corpus_md5=corpus_md5, corpus_sig=corpus_sig,
        corpus_bands=corpus_bands, pairs=pairs,
    )
    adm.write.mode("overwrite").parquet(f"{args.out}/admission")
    adm = spark.read.parquet(f"{args.out}/admission")
    labels = incremental.incremental_clusters(
        empty_corpus, delta, cfg, args.threshold,
        corpus_labels=corpus_labels, corpus_sig=corpus_sig,
        corpus_bands=corpus_bands, corpus_md5=corpus_md5, pairs=pairs,
    )
    # stage the merged labels BEFORE mutating any state (the clusters plan
    # reads corpus_labels/sig/bands — materialize it while they are still
    # pre-run), fold next, commit the labels rename last
    _stage_replace(spark, labels, paths["labels"])

    admitted = delta.join(
        adm.where(F.col("keep") == 1).select("doc_id"), "doc_id", "left_semi"
    )
    # fold = the already-materialized delta signatures filtered to the
    # admitted subset (signatures are per-doc deterministic, so this is
    # bit-identical to recomputing them — without a second kernel pass)
    dsig = delta_sig.join(
        adm.where(F.col("keep") == 1).select("doc_id"), "doc_id", "left_semi"
    )
    dsig.write.mode("overwrite").parquet(f"{paths['sig']}/run={tag}")
    dsig_t = spark.read.parquet(f"{paths['sig']}/run={tag}")
    doc_dedup.doc_band_explode(dsig_t, cfg).write.mode("overwrite").parquet(
        f"{paths['bands']}/run={tag}")
    admitted.select(
        F.md5("text").alias("content_md5"), F.col("doc_id").alias("c_rep")
    ).groupBy("content_md5").agg(F.min("c_rep").alias("c_rep")).write.mode(
        "overwrite").parquet(f"{paths['md5']}/run={tag}")
    _commit_replace(spark, paths["labels"])

    counts = {r["dup_kind"]: r["n"] for r in adm.groupBy("dup_kind").agg(
        F.count(F.lit(1)).alias("n")).collect()}
    print(json.dumps({
        "run": tag,
        "delta_docs": delta.count(),
        "admitted": int(counts.get("none", 0)),
        "dropped_exact": int(counts.get("exact", 0)),
        "dropped_near": int(counts.get("near", 0)),
        "out": args.out,
    }))
    from pcompress_spark.cache import release_persisted
    release_persisted()  # a reused session must not pin this run's frames
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
