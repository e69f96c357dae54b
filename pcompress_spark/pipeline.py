"""Pipeline orchestration: checkpointed stages + lineage + metrics + resume.

Reference analogs:
  - per-chunk headers & checksums verified on every read
    (/root/reference/pcompress.c:799-833, 776-790) -> per-stage manifest
    (config hash, format, input fingerprint, row count and the stage's
    stats record, checked on every resume) and per-partition lineage
    checksums;
  - the metadata stream kept separate from data
    (/root/reference/meta_stream.c) -> metrics/lineage parquet tables
    written alongside stage outputs;
  - deterministic restart semantics (the writer thread's strict ordering,
    /root/reference/pcompress.c:2093-2146) -> idempotent stage resume: a
    stage is skipped iff its output dir carries a manifest whose config
    hash matches the current run. Because every stage is a deterministic
    function of (input table, config), a resumed run produces the
    bit-identical output of an uninterrupted one.

Stage graph (each node one parquet table under work_dir):
  transcripts -> signatures -> candidates -> pairs -> clusters
                      \\----------------------> substring_pairs

candidates, pairs and clusters are one delta admitted against an empty
index (functions/incremental.batch_pairs — the transcript admission core
that deltas and stream micro-batches also run): when the signature table
fits ``cfg.cc_local_edges`` the core computes candidate rows, bucket
stats, verified pairs and union-find labels on the driver from a few
bounded fetches, and each of the three stages is one write job; above the
budget the stages are candidate_pairs, verify_pairs and
connected_components. Output is bit-identical either way; metrics.json
records the pair stage's path and why (``pairs``) beside
``connected_components``.

Scale notes: checkpointing signatures/candidates/pairs to parquet is the
explicit "segcache" (reference spills segment metadata to a tempfile and
mmaps it back, /root/reference/rabin/global/index.c:280-440). At the
10^12-turn design point these intermediates are orders of magnitude smaller
than the input and make every downstream stage restartable without
re-reading the raw table. On a real cluster, point work_dir at object
storage / an Iceberg warehouse; outputs are plain columnar tables.
"""

from __future__ import annotations

import contextlib
import json
import os
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .config import DedupConfig
from .functions import incremental
from .operators.assemble import assemble
from .operators.cluster import connected_components
from .operators.signatures import compute_signatures
from .operators.substring import substring_pairs


# Bumped whenever a stage's output schema/semantics change: a resume only
# reuses checkpoints written by the same format (e.g. format 2 switched the
# candidates/pairs tables to 64-bit id_hash keys; format 3 added the
# precomputed band_hashes column to the signatures table; format 4 put each
# stage's stats record in its manifest).
PIPELINE_FORMAT = 4


@dataclass
class StageResult:
    name: str
    rows: int
    seconds: float
    resumed: bool
    construct_seconds: float = 0.0
    # the stage's metrics.json records ({top-level key: record}), kept in
    # its manifest beside ``rows``
    stats: dict = field(default_factory=dict)


@dataclass
class PipelineResult:
    tables: dict[str, DataFrame]
    stages: list[StageResult] = field(default_factory=list)

    def metrics_rows(self) -> list[dict]:
        return [
            {"stage": s.name, "rows": s.rows, "seconds": round(s.seconds, 3),
             "construct_seconds": round(s.construct_seconds, 3),
             "resumed": s.resumed}
            for s in self.stages
        ]


class DedupPipeline:
    def __init__(
        self,
        spark: SparkSession,
        cfg: DedupConfig | None = None,
        work_dir: str | None = None,
    ) -> None:
        self.spark = spark
        self.cfg = cfg or DedupConfig()
        self.work_dir = work_dir
        self._stages: list[StageResult] = []
        self._input_fp: str | None = None

    # ---- checkpoint bookkeeping -------------------------------------
    def _stage_dir(self, name: str) -> str | None:
        return os.path.join(self.work_dir, name) if self.work_dir else None

    def _manifest_path(self, name: str) -> str:
        return os.path.join(self.work_dir, f"{name}.manifest.json")

    def _resumable(self, name: str) -> dict | None:
        """The stage's manifest when its output can be resumed: the output
        dir carries ``_SUCCESS`` and the manifest matches this run's
        config, format and input."""
        if not (self.work_dir and os.path.exists(
                os.path.join(self._stage_dir(name), "_SUCCESS"))):
            return None
        try:
            with open(self._manifest_path(name)) as f:
                manifest = json.load(f)
        except (OSError, json.JSONDecodeError):
            return None
        ok = (
            manifest.get("config_hash") == self.cfg.config_hash()
            and manifest.get("format") == PIPELINE_FORMAT
            and manifest.get("input") == self._input_fp
        )
        return manifest if ok else None

    def _checkpoint(self, name: str, df: DataFrame,
                    stats) -> tuple[DataFrame, int, dict]:
        """Write stage output (if work_dir set), then its manifest; return
        the (re-read) DataFrame, row count and stats record.

        Row counts ride on the write action via ``Observation`` (zero extra
        jobs); resumed stages read the count from the manifest (zero jobs).
        Keeping the per-stage serial overhead near zero is what makes the
        N->4N scaling efficiency hold: every constant-cost driver round-trip
        is pure Amdahl serial fraction. ``stats`` (the re-read output ->
        the stage's metrics.json records) runs after the write and before
        the manifest, so its jobs are part of the stage and its record is
        checked with the rows on every resume."""
        sd = self._stage_dir(name)
        if sd is None:
            df = df.localCheckpoint()  # cut lineage, keep in memory
            return df, df.count(), {}
        # the re-read passes the just-written plan's schema explicitly:
        # skipping footer inference removes one driver round-trip per stage
        # (fixed serial cost — Amdahl fraction at N->4N). Resume is handled
        # before construction in _run_stage; this path always writes.
        #
        # The old manifest goes BEFORE the write: a run killed after the
        # write's _SUCCESS but before the new manifest must leave no
        # manifest at all, never the previous run's next to this run's
        # output. The new one lands atomically (temp file + os.replace), so
        # a kill mid-dump cannot leave a truncated manifest either.
        from pyspark.sql import Observation

        mp = self._manifest_path(name)
        with contextlib.suppress(FileNotFoundError):
            os.remove(mp)
        obs = Observation()
        df.observe(obs, F.count(F.lit(1)).alias("rows")).write.mode(
            "overwrite"
        ).parquet(sd)
        rows = int(obs.get["rows"])
        out = self.spark.read.schema(df.schema).parquet(sd)
        record = stats(out) if stats else {}
        tmp = f"{mp}.tmp"
        with open(tmp, "w") as f:
            json.dump(
                {"stage": name, "config_hash": self.cfg.config_hash(),
                 "rows": rows, "format": PIPELINE_FORMAT, "input": self._input_fp,
                 "stats": record},
                f, default=str,
            )
        os.replace(tmp, mp)
        return out, rows, record

    def _run_stage(self, name: str, build, stats=None) -> DataFrame:
        """build: () -> DataFrame; stats: (stored output) -> the stage's
        metrics.json records, run only when a manifest is written
        (_checkpoint). Construction is timed separately because
        some operators run driver-synchronized jobs at build time (the CC
        local-path probe, convergence checksums/localCheckpoints) — a fixed,
        core-count-independent cost that is pure Amdahl serial fraction at
        N->4N. Keeping it visible per stage (metrics.json
        ``construct_seconds``) attributes the wall-vs-stage-sum gap instead
        of guessing.

        Resume is checked BEFORE construction: a resumed stage must not pay
        the operator's build-time driver jobs for output it is about to
        discard — "skips completed stages" means skips their work, not just
        their write. Its rows and stats come from its own validated
        manifest, never from an earlier run's metrics.json."""
        t0 = time.monotonic()
        manifest = self._resumable(name)
        if manifest is not None:
            out = self.spark.read.parquet(self._stage_dir(name))
            self._stages.append(StageResult(
                name, manifest["rows"], time.monotonic() - t0, True,
                stats=manifest["stats"]))
            return out
        df = build() if callable(build) else build
        t1 = time.monotonic()
        out, rows, record = self._checkpoint(name, df, stats)
        self._stages.append(
            StageResult(name, rows, time.monotonic() - t0, False,
                        construct_seconds=t1 - t0, stats=record))
        return out

    # ---- lineage ------------------------------------------------------
    def lineage(self, name: str, df: DataFrame, key_cols: list[str]) -> DataFrame:
        """Per-partition row counts + order-insensitive checksums — the
        resume idempotency guard (whole-chunk checksum analog,
        /root/reference/pcompress.c:1840-1842)."""
        return (
            df.withColumn("part_id", F.spark_partition_id())
            .groupBy("part_id")
            .agg(
                F.count(F.lit(1)).alias("rows"),
                F.sum(F.xxhash64(*key_cols).cast("decimal(38,0)")).alias("checksum"),
            )
            .withColumn("stage", F.lit(name))
        )

    # ---- the pipeline ---------------------------------------------------
    def _file_listing(self, files: list[str]) -> list[str]:
        """``path<TAB>size<TAB>mtime`` per input file, from ONE listStatus
        per parent directory (one metadata request per directory on an
        object store, not one per file). A file missing from its
        directory's listing keeps its path alone."""
        jvm = self.spark._jvm
        conf = self.spark._jsc.hadoopConfiguration()
        parents: dict[str, dict] = {}
        listing = []
        for f in files:
            path = jvm.org.apache.hadoop.fs.Path(f)
            parent = path.getParent()
            key = parent.toString()
            if key not in parents:
                parents[key] = {
                    st.getPath().getName(): st
                    for st in parent.getFileSystem(conf).listStatus(parent)
                }
            st = parents[key].get(path.getName())
            listing.append(f if st is None else
                           f"{f}\t{st.getLen()}\t{st.getModificationTime()}")
        return listing

    def _input_fingerprint(self, df: DataFrame) -> str:
        """Cheap input-identity key for resume safety: hash of the input
        file listing, with each file's size and modification time, when
        the DataFrame reads files (no Spark job — one directory listing
        per parent, _file_listing; paths alone if the listing fails), so
        an input rewritten in place under the same path invalidates
        resume. The
        fallback for non-file-backed input is a row count — and that count
        is CACHED in the work_dir keyed by the input plan's semantic hash
        (``df.semanticHash()``, a driver-side canonicalized-plan hash, no
        job): a re-run/resume over the same logical input reuses the
        recorded count instead of re-scanning. A DIFFERENT in-memory input
        produces a different plan hash (local relations hash their data),
        so the count re-runs and a count change still invalidates resume.
        The one blind spot is mutable storage read through an identical
        plan — but such input is file/table-backed, which takes the
        listing-hash path above, never this one. Re-running the same
        work_dir against DIFFERENT input must not silently reuse stale
        stage outputs — a resumed run is only 'bit-identical to an
        uninterrupted one' if (input, config) both match."""
        import hashlib

        try:
            files = sorted(df.inputFiles())
        except Exception:
            files = []
        if files:
            from py4j.protocol import Py4JJavaError

            try:
                listing = self._file_listing(files)
            except Py4JJavaError:   # metadata unavailable: paths alone
                listing = files
            return "files:" + hashlib.sha256(
                "\n".join(listing).encode()).hexdigest()[:16]
        try:
            plan_hash = int(df.semanticHash())
        except Exception:
            return f"rows:{df.count()}"   # no plan hash -> no safe cache key
        cache_path = (os.path.join(self.work_dir, "input_fingerprint.json")
                      if self.work_dir else None)
        if cache_path and os.path.exists(cache_path):
            try:
                with open(cache_path) as f:
                    rec = json.load(f)
                if rec.get("plan_hash") == plan_hash:
                    return rec["fingerprint"]
            except (OSError, json.JSONDecodeError, KeyError):
                pass
        fp = f"rows:{df.count()}"
        if cache_path:
            os.makedirs(self.work_dir, exist_ok=True)
            with open(cache_path, "w") as f:
                json.dump({"plan_hash": plan_hash, "fingerprint": fp}, f)
        return fp

    def run(
        self,
        transcripts: DataFrame,
        with_substring: bool | None = None,
        with_tiers: bool = False,
    ) -> PipelineResult:
        """with_tiers: also materialize the ``tiers`` table (per
        conversation: exact / near / substring / kept + removed_by —
        operators/tiers.tier_attribution) and log per-tier counts to
        metrics.json. Off by default: it pays the substring LCS verify over
        the flagged pairs, which callers that only need clusters skip."""
        cfg = self.cfg
        self._stages = []
        self._input_fp = self._input_fingerprint(transcripts) if self.work_dir else None
        with_substring = cfg.substring_enabled if with_substring is None else with_substring

        asm = assemble(
            transcripts,
            parallelism=self.spark.sparkContext.defaultParallelism * 2)
        sig = self._run_stage("signatures", lambda: compute_signatures(asm, cfg))
        # candidates, pairs and clusters: the signature table admitted as
        # one delta against an empty index (incremental.batch_pairs),
        # built on first use, so a run whose three stages all resume never
        # builds it
        pair_stats: dict = {}
        built: list = []

        def core():
            if not built:
                built.append(incremental.batch_pairs(sig, cfg, pair_stats))
            return built[0]

        cand = self._run_stage("candidates", lambda: core().candidates(),
                               lambda _: {"lsh_buckets": core().lsh_buckets()})
        # exact pair count from the stage manifest (zero extra jobs) drives
        # the distributed verify's broadcast-vs-shuffle decision
        cand_rows = self._stages[-1].rows
        pairs = self._run_stage("pairs", lambda: core().pairs(cand, cand_rows),
                                lambda _: {"pairs": pair_stats})

        cc_stats: dict = {}
        # the pairs already on the driver when the core ran this run;
        # otherwise connected_components over the stored pairs
        clusters = self._run_stage("clusters", lambda: (
            built[0].labels(pairs, cc_stats) if built else connected_components(
                sig.select("conv_id", "id_hash"), pairs, cfg, stats=cc_stats)),
            lambda _: {"connected_components": cc_stats})

        tables: dict[str, DataFrame] = {
            "signatures": sig,
            "candidates": cand,
            "pairs": pairs,
            "clusters": clusters,
        }
        if with_substring:
            sub_df, sub_stats = substring_pairs(sig, pairs, cfg, return_stats=True)
            tables["substring_pairs"] = self._run_stage(
                "substring_pairs", sub_df,  # lazy frame, construct above
                lambda _: {"substring_buckets": next(
                    (r.asDict() for r in sub_stats.collect()), {})})

        if with_tiers:
            from .operators.substring import verify_substring_pairs
            from .operators.tiers import tier_attribution

            if "substring_pairs" in tables:
                ver = verify_substring_pairs(tables["substring_pairs"], asm, cfg)
            else:
                # substring tier disabled: cascade degrades to exact/near/kept
                ver = self.spark.createDataFrame(
                    [], "conv_id_a string, conv_id_b string, "
                        "n_windows long, lcs_tokens long"
                )
            tables["tiers"] = self._run_stage(
                "tiers", tier_attribution(sig, clusters, ver, cfg),
                lambda out: {"tiers": {
                    r["tier"]: r["n"] for r in out.groupBy("tier")
                    .agg(F.count(F.lit(1)).alias("n")).collect()}})

        # metrics + lineage tables (the reference's separate metadata
        # stream): metrics.json is this run's stage records, each from the
        # stage's own manifest when it resumed
        result = PipelineResult(tables, list(self._stages))
        if self.work_dir:
            t_fin = time.monotonic()
            metrics = {"config_hash": cfg.config_hash(),
                       "stages": result.metrics_rows()}
            for s in self._stages:
                metrics.update(s.stats)
            # lineage derives purely from the signatures/clusters stage
            # outputs: when BOTH resumed (same config + input fingerprint),
            # the prior run's lineage parquet is bit-identical — rewriting
            # it would re-run two aggregation jobs per resumed invocation
            resumed = {s.name: s.resumed for s in self._stages}
            lineage_path = os.path.join(self.work_dir, "lineage")
            if not (resumed.get("signatures") and resumed.get("clusters")
                    and os.path.exists(lineage_path)):
                lineage = self.lineage(
                    "signatures", sig, ["conv_id", "content_hash"]
                ).unionByName(
                    self.lineage("clusters", clusters, ["conv_id", "cluster_id"])
                )
                lineage.write.mode("overwrite").parquet(lineage_path)
            # serial driver overhead is Amdahl fraction at N->4N; keep it
            # visible so regressions show up in metrics, not just wall clock
            metrics["finalize_seconds"] = {
                "lineage": round(time.monotonic() - t_fin, 3)}
            with open(os.path.join(self.work_dir, "metrics.json"), "w") as f:
                json.dump(metrics, f, indent=2, default=str)
        return result

