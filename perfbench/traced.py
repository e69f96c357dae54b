"""The traced run (``--trace 1``): per-layer metrics from outside-in spans.

Batch workloads, per iteration of the closed loop:
  1. the untraced job (DedupPipeline.run, fresh work_dir) -- its wall time
     is the base the tracing overhead and the pipeline's own overhead are
     measured against; its metrics.json is kept as a cross-check;
  2. a resume of that job on its completed work_dir (``pipeline.resume_s``);
  3. the same job driven layer by layer, one span per layer call.
The traced outputs must match the untraced ones (cluster fingerprint, and
row counts, bucket stats and the connected-components path in
metrics.json); a mismatch fails the iteration.

``ingest_delta`` runs that iteration once on the corpus (the index build),
then alternates an untraced and a traced admission per delta. Layers a
workload never calls report 0.
"""

from __future__ import annotations

import json
import os
import shutil
import time

import pandas as pd

from perfbench import gate
from perfbench.probes import Tracer

INCREMENTAL = ("incremental.pairs", "incremental.admission", "incremental.clusters")
KERNEL_SAMPLE_DOCS = 256


def kernel_rate(b) -> float:
    """Single-process docs/s of the shared signature kernel on a fixed
    sample (the first KERNEL_SAMPLE_DOCS assembled docs by conv_id)."""
    from pcompress_spark import oracle
    from pcompress_spark.kernels import signatures_for_texts

    docs = oracle.assemble(pd.read_parquet(b.input_path))["doc_text"]
    docs = docs.head(KERNEL_SAMPLE_DOCS).reset_index(drop=True)
    signatures_for_texts(docs, b.cfg)  # warm allocator and caches
    rates = []
    t_end = time.perf_counter() + 1.5
    while len(rates) < 3 or time.perf_counter() < t_end:
        t0 = time.perf_counter()
        signatures_for_texts(docs, b.cfg)
        rates.append(len(docs) / (time.perf_counter() - t0))
    return gate.median(rates)


def _one(tracer: Tracer, name: str, tid: str) -> dict:
    found = [s for s in tracer.spans if s["name"] == name and s["trace_id"] == tid]
    if len(found) != 1:
        raise RuntimeError(f"expected one {name!r} span in {tid}, got {len(found)}")
    return found[0]


def cross_check(counts: dict, mj: dict) -> list[str]:
    """Traced counts against the untraced job's metrics.json."""
    stage_rows = {s["stage"]: s["rows"] for s in mj.get("stages", [])}
    problems = []
    for name in ("signatures", "candidates", "pairs", "clusters", "substring_pairs"):
        if stage_rows.get(name) != counts[name]["rows"]:
            problems.append(f"{name} rows: traced {counts[name]['rows']}"
                            f" vs metrics.json {stage_rows.get(name)}")
    lsh = {k: int(v) for k, v in mj.get("lsh_buckets", {}).items()}
    if lsh != {k: int(v) for k, v in counts["lsh_buckets"].items()}:
        problems.append(f"lsh_buckets: traced {counts['lsh_buckets']} vs metrics.json {lsh}")
    cc, mcc = counts["connected_components"], mj.get("connected_components", {})
    if (cc.get("path"), cc.get("n_edges")) != (mcc.get("path"), mcc.get("n_edges")):
        problems.append(f"connected_components: traced {cc} vs metrics.json {mcc}")
    return problems


def batch_iteration(b, tid: str) -> dict:
    """Untraced job, resume, traced layer drive; returns layer numbers."""
    wd_u = os.path.join(b.work, f"{tid}-untraced")
    wd_t = os.path.join(b.work, f"{tid}-traced")
    job: dict = {"trace_id": tid}
    layer: dict = {}
    try:
        with b.tracer.span("pipeline", tid) as ru:
            b.guarded(b.pipeline_job, wd_u)
        chk = b.check_batch(wd_u)
        job["problems"] = list(chk["problems"])
        with open(os.path.join(wd_u, "metrics.json")) as f:
            mj = json.load(f)
        with b.tracer.span("pipeline.resume", tid) as rr:
            b.guarded(b.pipeline_job, wd_u)
        b.release()
        with b.tracer.span("job", tid) as rt:
            counts = b.guarded(b.drive_layers, wd_t, tid)
        traced_clusters = pd.read_parquet(os.path.join(wd_t, "clusters"))
        if gate.fingerprint(traced_clusters) != chk["fingerprint"]:
            job["problems"].append("traced clusters differ from the untraced job")
        job["problems"] += cross_check(counts, mj)
        job["wall"] = ru["dur"]
        spans = {n: _one(b.tracer, n, tid) for n in ("signatures", "candidates",
                                                     "verify", "cluster", "substring")}
        lsh = counts["lsh_buckets"]
        cand_rows = counts["candidates"]["rows"]
        layer = {
            "signatures.s": spans["signatures"]["dur"],
            "signatures.rows_out": counts["signatures"]["rows"],
            "signatures.bytes_out": counts["signatures"]["bytes"],
            "signatures.jobs": spans["signatures"]["jobs"],
            "signatures.tasks": spans["signatures"]["tasks"],
            "candidates.s": spans["candidates"]["dur"],
            "candidates.rows_out": cand_rows,
            "candidates.n_buckets": lsh["n_buckets"],
            "candidates.n_hot_buckets": lsh["n_hot_buckets"],
            "candidates.hot_member_rows": lsh["hot_member_rows"],
            "candidates.max_bucket_size": lsh["max_bucket_size"],
            "candidates.jobs": spans["candidates"]["jobs"],
            "verify.s": spans["verify"]["dur"],
            "verify.rows_out": counts["pairs"]["rows"],
            "verify.yield": gate.ratio(counts["pairs"]["rows"], cand_rows),
            "verify.jobs": spans["verify"]["jobs"],
            "cluster.s": spans["cluster"]["dur"],
            "cluster.n_edges": counts["connected_components"].get("n_edges", 0),
            "cluster.n_clusters": int(traced_clusters["cluster_id"].nunique()),
            "cluster.jobs": spans["cluster"]["jobs"],
            "substring.s": spans["substring"]["dur"],
            "substring.rows_out": counts["substring_pairs"]["rows"],
            "substring.jobs": spans["substring"]["jobs"],
            "pipeline.overhead_s": ru["dur"] - sum(s["dur"] for s in spans.values()),
            "pipeline.jobs": ru["jobs"],
            "pipeline.ckpt_bytes": chk["bytes"],
            "pipeline.resume_s": rr["dur"],
            "trace.overhead_s": rt["dur"] - ru["dur"],
        }
        job["cluster_path"] = counts["connected_components"].get("path")
    except Exception as e:  # counted as a failed iteration, never hidden
        job.setdefault("problems", []).append(f"{tid} raised {type(e).__name__}: {e}"[:500])
    shutil.rmtree(wd_u, ignore_errors=True)
    shutil.rmtree(wd_t, ignore_errors=True)
    b.release()
    b.record(job)
    return layer


def delta_pair(b, i: int, tid: str) -> dict:
    """Untraced then traced admission of delta ``i``."""
    ju = b.run_delta(i)
    jt = b.run_delta(i, trace_id=tid)
    if "wall" not in ju or "wall" not in jt:
        return {}
    inc = [_one(b.tracer, n, tid) for n in INCREMENTAL]
    return {
        "incremental.pairs_s": inc[0]["dur"],
        "incremental.admission_s": inc[1]["dur"],
        "incremental.clusters_s": inc[2]["dur"],
        "incremental.pairs_out": jt["pairs_rows"],
        "incremental.jobs": sum(s["jobs"] for s in inc),
        "incremental.tasks": sum(s["tasks"] for s in inc),
        "trace.overhead_s": jt["wall"] - ju["wall"],
    }


def run(b) -> dict:
    """Set up (untraced), then the traced loop; -> per-layer metrics."""
    rounds = b.setup()
    b.tracer = Tracer(b.spark.sparkContext)
    values: dict[str, float] = {
        "session.start_s": gate.median([r["start_s"] for r in rounds]),
        "session.warmup_s": gate.median([r["warmup_s"] for r in rounds]),
        "kernels.docs_per_s": kernel_rate(b),
    }
    iters: list[dict] = []
    deltas: list[dict] = []
    if b.ingest:
        iters.append(batch_iteration(b, "index"))
        b.loop(lambda k: deltas.append(
            delta_pair(b, k % len(b.delta_paths), f"delta{k}")), min_steps=1)
    else:
        b.loop(lambda k: iters.append(batch_iteration(b, f"job{k}")), min_steps=1)
    for group in (iters, deltas):
        group = [g for g in group if g]
        for key in (group[0] if group else {}):
            values[key] = gate.median([g[key] for g in group])
    if b.ingest:
        # the index build's overhead is not the admission's
        values["trace.overhead_s"] = gate.median(
            [d["trace.overhead_s"] for d in deltas if d] or [float("nan")])
    values["spark.tasks_failed"] = sum(s["tasks_failed"] for s in b.tracer.spans)
    values["guard.foreign_procs"] = len(b.sampler.foreign)
    metrics = {}
    for name, unit in PER_LAYER:
        metrics[name] = {"value": values.get(name, 0), "unit": unit}
    return metrics


PER_LAYER = [
    ("session.start_s", "s"), ("session.warmup_s", "s"),
    ("kernels.docs_per_s", "1/s"),
    ("signatures.s", "s"), ("signatures.rows_out", "count"),
    ("signatures.bytes_out", "B"), ("signatures.jobs", "count"),
    ("signatures.tasks", "count"),
    ("candidates.s", "s"), ("candidates.rows_out", "count"),
    ("candidates.n_buckets", "count"), ("candidates.n_hot_buckets", "count"),
    ("candidates.hot_member_rows", "count"),
    ("candidates.max_bucket_size", "count"), ("candidates.jobs", "count"),
    ("verify.s", "s"), ("verify.rows_out", "count"), ("verify.yield", "ratio"),
    ("verify.jobs", "count"),
    ("cluster.s", "s"), ("cluster.n_edges", "count"),
    ("cluster.n_clusters", "count"), ("cluster.jobs", "count"),
    ("substring.s", "s"), ("substring.rows_out", "count"),
    ("substring.jobs", "count"),
    ("pipeline.overhead_s", "s"), ("pipeline.jobs", "count"),
    ("pipeline.ckpt_bytes", "B"), ("pipeline.resume_s", "s"),
    ("incremental.pairs_s", "s"), ("incremental.admission_s", "s"),
    ("incremental.clusters_s", "s"), ("incremental.pairs_out", "count"),
    ("incremental.jobs", "count"), ("incremental.tasks", "count"),
    ("spark.tasks_failed", "count"),
    ("trace.overhead_s", "s"),
    ("guard.foreign_procs", "count"),
]
