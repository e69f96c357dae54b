"""Benchmark entry point: one run of one workload, one JSON result line.

    python3 perfbench/run.py --workload batch_templated --seed 1 --seconds 10 --trace 0

Run from the repository root. The run

  1. generates (or reuses from ``.perfbench/cache``) the workload's inputs
     for ``--seed``; generation is not part of any timing;
  2. sets up ``SETUP_ROUNDS`` times -- start a Spark session (the first
     round also launches the JVM), then the workload's set-up work: an
     untimed run of the batch job, or the corpus checkpoint
     build of ``ingest_delta`` and one warm-up admission -- and reports the
     median round as ``setup_s``;
  3. runs jobs back to back for ``--seconds`` seconds, always at least
     ``MIN_JOBS`` (a closed loop: one client submits the next job when the
     previous one has returned) and checks every job's outputs against the
     workload's truth tables;
  4. prints, as its last stdout line, {"correct", "attempted", "failed",
     "metrics"}: the end-to-end metrics with ``--trace 0``, the per-layer
     metrics with ``--trace 1``. With ``--trace 0`` the line before it
     names the percentile and sample count behind ``admit_tail_s``.

With ``--trace 1`` the timed loop instead alternates an untraced job with a
traced one that drives each layer's public function itself, wrapping every
call in a span (written to ``.perfbench/out/<run>/spans.json``).

Pinned settings: local[2], SPARK_GRAFT_CPUS=2, driver heap 2g
(also its initial size), C1-only JIT (JVM_OPTS), PYTHONHASHSEED=0, SPARK_LOCAL_DIRS and TMPDIR
inside ``.perfbench``; every other SPARK_GRAFT_* variable is cleared so the
measured configuration never moves; the engine runs with
``workloads.config()``.
"""

from __future__ import annotations

import argparse
import contextlib
import hashlib
import json
import os
import shutil
import sys
import threading
import time
import traceback

# A run is budgeted at about a minute, of which the JVM launch and the cold
# first job take ~27 s. A batch set-up round and a batch job then cost ~8 s
# each; an ingest set-up round also rebuilds the corpus index and warms the
# admission path (~35 s), and an admission costs ~10 s. So a batch run sets
# up twice, an ingest run once, and each times at least MIN_JOBS jobs.
SETUP_ROUNDS = {"batch": 2, "ingest": 1}
MIN_JOBS = 2
JOB_TIMEOUT_S = 60.0
# a job that would start after this process age is recorded as failed
# instead, so a run that has gone wrong still ends within 180 s
DEADLINE_S = 150.0
# Spark runs two task threads on the 4-core box, which leaves cores to the
# JVM's compiler and GC threads and to the Python UDF workers: a job keeps
# ~1.7 cores busy
CPUS = 2
DRIVER_MEM = "2g"
# The driver JVM compiles with C1 only. Under the default tiered JIT, C2
# keeps compiling Spark's planner for minutes, on a third core, so a job's
# time fell by ~30% over the first ten jobs and depended on how far
# compilation had got. C1 code is ready after the warm-up job, and a job
# then uses ~40% less CPU. C1 alone fills the default 48 MB code cache
# (compilation then stops), hence the larger cache.
JVM_OPTS = "-XX:TieredStopAtLevel=1 -XX:ReservedCodeCacheSize=256m"


def log(*parts) -> None:
    print("[perfbench]", *parts, file=sys.stderr, flush=True)


def engine_digest(root: str) -> str:
    """Digest of the engine's sources, so recorded fingerprints are only
    compared between runs of the same code."""
    h = hashlib.sha256()
    pkg = os.path.join(root, "pcompress_spark")
    for dp, dirs, files in os.walk(pkg):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                path = os.path.join(dp, f)
                h.update(os.path.relpath(path, root).encode() + b"\0")
                with open(path, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:16]


def pin_environment(root: str, state: str) -> None:
    """Pin every knob the engine reads from the environment."""
    for k in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
        del os.environ[k]
    os.environ["SPARK_GRAFT_CPUS"] = str(CPUS)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    for sub in ("spark-local", "tmp"):
        os.makedirs(os.path.join(state, sub), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(state, "spark-local")
    os.environ["TMPDIR"] = os.path.join(state, "tmp")
    os.environ["PYTHONHASHSEED"] = "0"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    # Python workers import the engine from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p)


class Bench:
    """State of one benchmark run: session, inputs, truth, probes, results."""

    def __init__(self, args, root: str) -> None:
        import pandas as pd

        from perfbench import probes, workloads

        self.args = args
        self.root = root
        self.state = os.path.join(root, ".perfbench")
        self.run_id = f"{args.workload}-s{args.seed}-t{args.trace}"
        self.work = os.path.join(self.state, "work", self.run_id)
        self.out = os.path.join(self.state, "out", self.run_id)
        shutil.rmtree(self.work, ignore_errors=True)
        os.makedirs(self.work)
        os.makedirs(self.out, exist_ok=True)
        t0 = time.monotonic()
        self.data = workloads.materialize(
            args.workload, args.seed, os.path.join(self.state, "cache"))
        self.gen_s = time.monotonic() - t0
        with open(os.path.join(self.data, "meta.json")) as f:
            self.meta = json.load(f)
        self.truth = pd.read_parquet(os.path.join(self.data, "truth_pairs.parquet"))
        self.families = pd.read_parquet(os.path.join(self.data, "families.parquet"))
        self.ingest = args.workload == "ingest_delta"
        if self.ingest:
            self.input_path = os.path.join(self.data, "corpus.parquet")
            ddir = os.path.join(self.data, "deltas")
            self.delta_paths = [os.path.join(ddir, f) for f in sorted(os.listdir(ddir))]
            self.delta_ids = [set(pd.read_parquet(p, columns=["conv_id"])["conv_id"])
                              for p in self.delta_paths]
            self.corpus_ids = set(pd.read_parquet(
                self.input_path, columns=["conv_id"])["conv_id"])
            # the corpus checkpoint can only recover pairs inside the corpus
            t = self.truth
            self.batch_truth = t[t["conv_id_a"].isin(self.corpus_ids)
                                 & t["conv_id_b"].isin(self.corpus_ids)]
        else:
            self.input_path = os.path.join(self.data, "transcripts.parquet")
            self.batch_truth = self.truth
        self.cfg = workloads.config()
        self.spark = None
        self.tracer = None
        self.step_walls: dict[str, float] = {}
        self.sampler = probes.TreeSampler().start()
        self.engine = engine_digest(root)
        self.fp_path = os.path.join(self.state, "fingerprints.json")
        try:
            with open(self.fp_path) as f:
                self.fingerprints = json.load(f)
        except (OSError, ValueError):
            self.fingerprints = {}
        self.report: dict = {"run": self.run_id, "gen_s": self.gen_s,
                             "meta": self.meta, "jobs": [], "failures": []}

    # ---- session -----------------------------------------------------
    def start_session(self) -> float:
        from pcompress_spark.session import get_spark

        t0 = time.monotonic()
        self.spark = get_spark(
            app_name="perfbench", master=f"local[{CPUS}]",
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.driver.extraJavaOptions":
                    f"-Djava.io.tmpdir={os.environ['TMPDIR']}"
                    f" -Xms{DRIVER_MEM} {JVM_OPTS}",
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        if self.tracer is not None:
            self.tracer.sc = self.spark.sparkContext
        return time.monotonic() - t0

    def release(self) -> None:
        """Drop cached frames between jobs (harness housekeeping, untimed)."""
        from pcompress_spark import cache

        cache.release_persisted()
        self.spark.catalog.clearCache()

    def shutdown(self) -> None:
        """Stop Spark, end the JVM and wait for every child process."""
        from pyspark import SparkContext

        from perfbench import probes

        self.sampler.close()
        gw = SparkContext._gateway
        if self.spark is not None:
            with contextlib.suppress(Exception):
                self.spark.stop()
        proc = getattr(gw, "proc", None) if gw is not None else None
        if gw is not None:
            with contextlib.suppress(Exception):
                gw.shutdown()
        if proc is not None:
            # the gateway JVM exits when its stdin closes
            with contextlib.suppress(Exception):
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait(timeout=10)
        SparkContext._gateway = None
        SparkContext._jvm = None
        me = os.getpid()
        deadline = time.monotonic() + 20
        while time.monotonic() < deadline:
            left = probes.process_tree(me) - {me}
            if not left:
                return
            time.sleep(0.2)
        for pid in probes.process_tree(me) - {me}:
            with contextlib.suppress(OSError):
                os.kill(pid, 9)

    def span(self, name: str, trace_id: str, **labels):
        """A tracer span; untraced (no tracer, or an empty ``trace_id``: the
        untraced half of a traced run) only the step's wall time is kept,
        in ``step_walls``, for report.json."""
        if self.tracer is None or not trace_id:
            return self._step_wall(name)
        return self.tracer.span(name, trace_id, **labels)

    @contextlib.contextmanager
    def _step_wall(self, name: str):
        t0 = time.perf_counter()
        try:
            yield {}
        finally:
            self.step_walls[name] = round(time.perf_counter() - t0, 3)

    def guarded(self, fn, *a, **kw):
        """Run ``fn`` under a watchdog that cancels all Spark jobs after
        JOB_TIMEOUT_S; a cancelled job raises, so the caller counts it."""
        timer = threading.Timer(JOB_TIMEOUT_S, self.spark.sparkContext.cancelAllJobs)
        timer.daemon = True
        timer.start()
        try:
            return fn(*a, **kw)
        finally:
            timer.cancel()

    # ---- engine calls --------------------------------------------------
    def pipeline_job(self, wd: str, path: str | None = None):
        """One complete batch job: DedupPipeline.run on a fresh work_dir."""
        from pcompress_spark.pipeline import DedupPipeline

        tdf = self.spark.read.parquet(path or self.input_path)
        return DedupPipeline(self.spark, self.cfg, work_dir=wd).run(tdf)

    def drive_layers(self, out: str, trace_id: str) -> dict:
        """The batch job driven layer by layer from outside, each output
        written to parquet and read back the way the pipeline checkpoints
        it. Returns outside-in counts per layer."""
        from pcompress_spark.operators.assemble import assemble
        from pcompress_spark.operators.candidates import candidate_pairs
        from pcompress_spark.operators.cluster import connected_components
        from pcompress_spark.operators.signatures import compute_signatures
        from pcompress_spark.operators.substring import substring_pairs
        from pcompress_spark.operators.verify import verify_pairs
        from perfbench.probes import dir_bytes, parquet_rows

        spark, cfg = self.spark, self.cfg
        counts: dict = {}

        def write(df, name):
            path = os.path.join(out, name)
            df.write.mode("overwrite").parquet(path)
            counts[name] = {"rows": parquet_rows(path), "bytes": dir_bytes(path)}
            return spark.read.schema(df.schema).parquet(path)

        tdf = spark.read.parquet(self.input_path)
        par = spark.sparkContext.defaultParallelism * 2
        with self.span("signatures", trace_id):
            sig = write(compute_signatures(assemble(tdf, parallelism=par), cfg),
                        "signatures")
        with self.span("candidates", trace_id):
            cand_df, bucket_stats = candidate_pairs(sig, cfg)
            cand = write(cand_df, "candidates")
            counts["lsh_buckets"] = bucket_stats.collect()[0].asDict()
        with self.span("verify", trace_id):
            pairs = write(verify_pairs(sig, cand, cfg,
                                       cand_rows=counts["candidates"]["rows"]),
                          "pairs")
        cc: dict = {}
        with self.span("cluster", trace_id) as rec:
            write(connected_components(sig.select("conv_id", "id_hash"), pairs,
                                       cfg, stats=cc), "clusters")
            rec.setdefault("labels", {})["path"] = cc.get("path")
        counts["connected_components"] = cc
        with self.span("substring", trace_id):
            write(substring_pairs(sig, pairs, cfg), "substring_pairs")
        return counts

    def admit_delta(self, i: int, out: str, trace_id: str) -> None:
        """Admit delta ``i`` against the corpus checkpoint: delta
        signatures, evidence pairs, admission verdicts and merged cluster
        labels, each written under ``out``."""
        from pcompress_spark import cache

        spark = self.spark

        def written(df, name):
            path = os.path.join(out, name)
            df.write.mode("overwrite").parquet(path)
            return spark.read.parquet(path)

        corpus = os.path.join(self.work, "corpus")
        csig = spark.read.parquet(os.path.join(corpus, "signatures"))
        clab = spark.read.parquet(os.path.join(corpus, "clusters"))
        empty = spark.createDataFrame([], "conv_id string, turn_idx int, text string")
        with self.span("admit", trace_id):
            self._admit_steps(i, out, trace_id, csig, clab, empty, written)
        cache.release_persisted()

    def _admit_steps(self, i, out, trace_id, csig, clab, empty, written) -> None:
        from pcompress_spark.functions import incremental as inc
        from pcompress_spark.operators.assemble import assemble
        from pcompress_spark.operators.signatures import compute_signatures

        spark, cfg = self.spark, self.cfg
        with self.span("signatures.delta", trace_id):
            delta = spark.read.parquet(self.delta_paths[i])
            dsig = written(compute_signatures(assemble(delta), cfg), "delta_sig")
        with self.span("incremental.pairs", trace_id):
            pairs = written(inc.incremental_transcript_pairs(
                empty, empty, cfg, corpus_sig=csig, delta_sig=dsig), "pairs")
        with self.span("incremental.admission", trace_id):
            written(inc.incremental_transcript_admission(
                dsig.select("conv_id"), pairs), "admission")
        with self.span("incremental.clusters", trace_id):
            written(inc.incremental_transcript_clusters(
                empty, empty, cfg, corpus_labels=clab, corpus_sig=csig,
                delta_sig=dsig, pairs=pairs), "labels")

    # ---- correctness gate ----------------------------------------------
    def same_fingerprint(self, key: str, fp: str) -> bool:
        """Outputs of one seed must be identical across all runs of the same
        engine code: the first fingerprint seen for a key is kept, later
        ones must match it. A change to the engine starts a fresh key, so
        a later version that clusters differently is judged by recall and
        precision alone."""
        full = (f"{self.args.workload}/s{self.args.seed}/v{self.meta['version']}"
                f"/e{self.engine}/{key}")
        return self.fingerprints.setdefault(full, fp) == fp

    def check_batch(self, wd: str) -> dict:
        import pandas as pd

        from perfbench import gate
        from perfbench.probes import dir_bytes

        clusters = pd.read_parquet(os.path.join(wd, "clusters"))
        pairs = pd.read_parquet(os.path.join(wd, "pairs"), columns=["conv_id_a", "conv_id_b"])
        sub = pd.read_parquet(os.path.join(wd, "substring_pairs"),
                              columns=["conv_id_a", "conv_id_b"])
        rec = gate.pair_hits(clusters, self.batch_truth)
        prec = gate.precision_hits(pairs, self.families, self.truth)
        subh = gate.substring_hits(sub, self.batch_truth)
        fp = gate.fingerprint(clusters)
        with open(os.path.join(wd, "metrics.json")) as f:
            stages = {s["stage"]: s["seconds"] for s in json.load(f).get("stages", [])}
        problems = []
        if gate.ratio(*rec) < gate.MIN_RECALL:
            problems.append(f"dup_pair_recall {gate.ratio(*rec):.4f} < {gate.MIN_RECALL}")
        if clusters["conv_id"].nunique() != len(clusters) or len(clusters) != self.meta["convs"]:
            problems.append("clusters do not cover every conversation exactly once")
        if not self.same_fingerprint("clusters", fp):
            problems.append("cluster fingerprint differs from an earlier run of this seed")
        return {"recall": rec, "precision": prec, "substring": subh,
                "fingerprint": fp, "bytes": dir_bytes(wd), "stages": stages,
                "problems": problems}

    def check_delta(self, i: int, out: str) -> dict:
        import pandas as pd

        from perfbench import gate, workloads
        from perfbench.probes import dir_bytes

        labels = pd.read_parquet(os.path.join(out, "labels"))
        pairs = pd.read_parquet(os.path.join(out, "pairs"), columns=["conv_id_a", "conv_id_b"])
        adm = pd.read_parquet(os.path.join(out, "admission"))
        truth = workloads.delta_truth_pairs(self.truth, self.corpus_ids, self.delta_ids[i])
        rec = gate.pair_hits(labels, truth)
        prec = gate.precision_hits(pairs, self.families, self.truth)
        fp = gate.fingerprint(labels)
        problems = []
        if gate.ratio(*rec) < gate.MIN_RECALL:
            problems.append(f"delta {i} recall {gate.ratio(*rec):.4f} < {gate.MIN_RECALL}")
        if set(adm["conv_id"]) != self.delta_ids[i] or len(adm) != len(self.delta_ids[i]):
            problems.append(f"delta {i} admission does not cover the delta exactly once")
        if (labels["conv_id"].nunique() != len(labels)
                or set(labels["conv_id"]) != self.corpus_ids | self.delta_ids[i]):
            problems.append(f"delta {i} labels do not cover corpus and delta exactly once")
        if not self.same_fingerprint(f"delta{i:03d}", fp):
            problems.append(f"delta {i} label fingerprint differs from an earlier run")
        return {"recall": rec, "precision": prec, "fingerprint": fp,
                "pairs_rows": len(pairs), "bytes": dir_bytes(out),
                "problems": problems}

    # ---- set-up ----------------------------------------------------------
    def build_corpus(self) -> dict:
        """Checkpoint the corpus with DedupPipeline (the stored index every
        delta is admitted against) and gate its outputs."""
        wd = os.path.join(self.work, "corpus")
        shutil.rmtree(wd, ignore_errors=True)
        t0 = time.monotonic()
        self.guarded(self.pipeline_job, wd)
        wall = time.monotonic() - t0
        chk = self.check_batch(wd)
        if chk["problems"]:
            raise RuntimeError("corpus checkpoint failed the gate: " + "; ".join(chk["problems"]))
        chk["wall"] = wall
        return chk

    def warm_delta(self) -> None:
        """Untimed admission of delta 0, so the first timed admission does
        not pay for compiling the incremental path."""
        out = os.path.join(self.work, "warmup-delta")
        self.guarded(self.admit_delta, 0, out, "")
        shutil.rmtree(out, ignore_errors=True)

    def setup(self) -> list[dict]:
        """SETUP_ROUNDS set-ups, each a Spark session start (round 1 also
        launches the JVM; later rounds restart the session, which also
        restarts the Python workers) plus the workload's set-up work: an
        untimed warm-up run of the batch job, or the corpus checkpoint
        build of ``ingest_delta`` and a warm-up admission. Round
        1 is timed from process start, less input generation."""
        from perfbench import probes

        rounds = []
        for r in range(SETUP_ROUNDS["ingest" if self.ingest else "batch"]):
            t0 = time.monotonic()
            if self.spark is not None:
                self.release()
                self.spark.stop()
            start_s = self.start_session()
            t1 = time.monotonic()
            if self.ingest:
                self.corpus = self.build_corpus()
                self.warm_delta()
            else:
                wd = os.path.join(self.work, "warmup")
                shutil.rmtree(wd, ignore_errors=True)
                self.guarded(self.pipeline_job, wd)
                shutil.rmtree(wd, ignore_errors=True)
            self.release()
            t2 = time.monotonic()
            total = probes.process_start_age() - self.gen_s if r == 0 else t2 - t0
            rounds.append({"total_s": total, "start_s": start_s, "warmup_s": t2 - t1})
            log(f"setup round {r + 1}: {total:.2f} s")
        self.report["setup_rounds"] = rounds
        return rounds

    # ---- timed loops -------------------------------------------------------
    def loop(self, step, min_steps: int = MIN_JOBS) -> None:
        """Closed loop: ``step(k)`` back to back until --seconds have passed
        and at least ``min_steps`` steps have run. A step due after
        DEADLINE_S of process age is recorded as a failure and ends the
        loop."""
        from perfbench import probes

        self.sampler.measuring(True)
        cpu0 = probes.cpu_times()
        t0 = time.monotonic()
        k = 0
        while k < min_steps or time.monotonic() - t0 < self.args.seconds:
            if probes.process_start_age() > DEADLINE_S:
                self.record({"k": k, "problems": [
                    f"job {k} not started: the run passed its {DEADLINE_S:.0f} s deadline"]})
                break
            step(k)
            k += 1
        self.sampler.measuring(False)
        steal = probes.steal_share(cpu0, probes.cpu_times())
        self.report["host_steal"] = steal
        log(f"host CPU steal during timed jobs: {steal:.1%}")

    def record(self, job: dict) -> None:
        self.report["jobs"].append(job)
        if job.get("problems"):
            self.report["failures"].append(job["problems"])
            log("FAILED:", "; ".join(job["problems"]))

    def timed(self, job: dict, fn, *a) -> None:
        """Run ``fn`` under the watchdog; record its wall time, the CPU time
        of the process tree and the host's steal share in ``job``."""
        from perfbench import probes

        cpu0, host0 = probes.tree_cpu_s(), probes.cpu_times()
        t0 = time.perf_counter()
        self.guarded(fn, *a)
        job["wall"] = time.perf_counter() - t0
        job["cpu_s"] = probes.tree_cpu_s() - cpu0
        job["steal"] = probes.steal_share(host0, probes.cpu_times())

    def run_batch_job(self, k: int) -> None:
        wd = os.path.join(self.work, f"job{k}")
        job = {"k": k}
        try:
            self.timed(job, self.pipeline_job, wd)
            job.update(self.check_batch(wd))
        except Exception as e:  # a failed job is counted, never hidden
            job["problems"] = [f"job raised {type(e).__name__}: {e}"[:500]]
            traceback.print_exc(file=sys.stderr)
        shutil.rmtree(wd, ignore_errors=True)
        self.release()
        self.record(job)

    def run_delta(self, i: int, trace_id: str = "") -> dict:
        out = os.path.join(self.work, f"delta{i:03d}-{time.monotonic_ns()}")
        job = {"delta": i, "turns": self.meta["delta_turns"][i]}
        try:
            self.step_walls.clear()
            self.timed(job, self.admit_delta, i, out, trace_id)
            job["steps"] = dict(self.step_walls)
            job.update(self.check_delta(i, out))
        except Exception as e:
            job["problems"] = [f"delta {i} raised {type(e).__name__}: {e}"[:500]]
            traceback.print_exc(file=sys.stderr)
        shutil.rmtree(out, ignore_errors=True)
        self.release()
        self.record(job)
        return job

    # ---- results ------------------------------------------------------------
    def end_to_end(self, rounds: list[dict]) -> dict:
        from perfbench import gate

        jobs = self.report["jobs"]
        done = [j for j in jobs if "wall" in j]
        walls = [j["wall"] for j in done] or [float("nan")]
        turns = ([j["turns"] for j in done] if self.ingest
                 else [self.meta["turns"]] * len(done))
        tail, pct, n = gate.tail_percentile(walls)
        self.report["admit_tail"] = {"percentile": pct, "samples": n}

        def agg(key):
            return gate.ratio(sum(j[key][0] for j in done if key in j),
                              sum(j[key][1] for j in done if key in j))

        if self.ingest:
            # the stored index: corpus checkpoint bytes per corpus turn
            sub = self.corpus["substring"]
            bytes_per_turn = [self.corpus["bytes"] / self.meta["turns"]]
        else:
            sub = (sum(j["substring"][0] for j in done if "substring" in j),
                   sum(j["substring"][1] for j in done if "substring" in j))
            bytes_per_turn = [j["bytes"] / self.meta["turns"] for j in done if "bytes" in j]
        failed = sum(1 for j in jobs if j.get("problems"))
        m = {
            "setup_s": (gate.median([r["total_s"] for r in rounds]), "s"),
            "turns_per_s": (gate.median([t / w for t, w in zip(turns, walls)]), "1/s"),
            "admit_p50_s": (gate.median(walls), "s"),
            "admit_tail_s": (tail, "s"),
            "dup_pair_recall": (agg("recall"), "ratio"),
            "pair_precision": (agg("precision"), "ratio"),
            "substring_recall": (gate.ratio(*sub), "ratio"),
            "peak_rss_mb": (self.sampler.peak_mb, "MB"),
            "ckpt_bytes_per_turn": (gate.median(bytes_per_turn or [float("nan")]), "B"),
            "ok_frac": ((len(jobs) - failed) / len(jobs), "ratio"),
        }
        return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}

    def finish(self, metrics: dict) -> dict:
        jobs = self.report["jobs"]
        failed = sum(1 for j in jobs if j.get("problems"))
        foreign = sorted(self.sampler.foreign | set(self.report.get("foreign_at_start", [])))
        if foreign:
            log(f"INTERFERENCE: {len(foreign)} foreign Spark/pytest processes were live;"
                " timings of this run are suspect")
        self.report["foreign_procs"] = foreign
        self.report["peak_rss"] = self.sampler.peak_detail
        self.report["metrics"] = metrics
        with open(os.path.join(self.out, "report.json"), "w") as f:
            json.dump(self.report, f, indent=1, default=str)
        if self.tracer is not None:
            self.tracer.dump(os.path.join(self.out, "spans.json"))
        with open(self.fp_path, "w") as f:
            json.dump(self.fingerprints, f, indent=1, sort_keys=True)
        return {"correct": failed == 0, "attempted": len(jobs), "failed": failed,
                "metrics": metrics}


def run(args, root: str) -> dict:
    from perfbench import probes

    b = Bench(args, root)
    b.report["foreign_at_start"] = probes.foreign_procs()
    try:
        if args.trace:
            from perfbench import traced

            return b.finish(traced.run(b)), None
        rounds = b.setup()
        if b.ingest:
            b.loop(lambda k: b.run_delta(k % len(b.delta_paths)))
        else:
            b.loop(b.run_batch_job)
        return b.finish(b.end_to_end(rounds)), b.report["admit_tail"]
    finally:
        b.shutdown()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True,
                    help="length of the timed loop (BENCHMARK.json run_seconds)")
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    args = ap.parse_args(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "pcompress_spark", "__init__.py")):
        log(f"no pcompress_spark package under {root}: run from the repository root")
        return 2
    sys.path.insert(0, root)
    from perfbench import workloads

    if args.workload not in workloads.WORKLOADS:
        log(f"unknown workload {args.workload!r}; known: {', '.join(workloads.WORKLOADS)}")
        return 2
    pin_environment(root, os.path.join(root, ".perfbench"))
    result, tail = run(args, root)
    if tail:
        print(f"admit_tail_s is the p{tail['percentile']:g} latency"
              f" of {tail['samples']} samples", flush=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
