"""Pipeline orchestration: checkpoints, resume idempotency, metrics, lineage."""

import json
import os
import shutil

import pandas as pd
import pytest

from pcompress_spark.config import DedupConfig
from pcompress_spark.pipeline import DedupPipeline

CFG = DedupConfig()


def _clusters_dict(res):
    pdf = res.tables["clusters"].toPandas()
    return dict(zip(pdf["conv_id"], pdf["cluster_id"]))


def test_pipeline_end_to_end(spark, smoke_transcripts, tmp_path):
    wd = str(tmp_path / "run1")
    os.makedirs(wd)
    res = DedupPipeline(spark, CFG, work_dir=wd).run(smoke_transcripts)
    assert set(res.tables) == {"signatures", "candidates", "pairs", "clusters", "substring_pairs"}
    assert all(not s.resumed for s in res.stages)
    # stage outputs + manifests + metrics + lineage on disk
    for st in ("signatures", "candidates", "pairs", "clusters", "substring_pairs"):
        assert os.path.exists(os.path.join(wd, st, "_SUCCESS")), st
        assert os.path.exists(os.path.join(wd, f"{st}.manifest.json")), st
    with open(os.path.join(wd, "metrics.json")) as f:
        metrics = json.load(f)
    assert metrics["config_hash"] == CFG.config_hash()
    assert {s["stage"] for s in metrics["stages"]} >= {"signatures", "clusters"}
    assert "n_buckets" in metrics["lsh_buckets"]
    lineage = spark.read.parquet(os.path.join(wd, "lineage")).toPandas()
    assert set(lineage["stage"]) == {"signatures", "clusters"}
    assert lineage["rows"].sum() > 0

    # full resume: every stage skipped, identical clusters, and every stage
    # record read back from its manifest
    res2 = DedupPipeline(spark, CFG, work_dir=wd).run(smoke_transcripts)
    assert all(s.resumed for s in res2.stages), res2.metrics_rows()
    assert _clusters_dict(res) == _clusters_dict(res2)
    with open(os.path.join(wd, "metrics.json")) as f:
        resumed = json.load(f)
    for key in ("lsh_buckets", "pairs", "connected_components",
                "substring_buckets"):
        assert resumed[key] == metrics[key], key


def test_pipeline_tiers_stage(spark, smoke_transcripts, tmp_path):
    """with_tiers=True materializes the per-conversation tier table; one
    row per conversation, per-tier counts logged to metrics.json, and the
    attribution is consistent with the clusters table (every cluster
    non-representative is exact- or near-attributed; every substring row
    is a representative)."""
    wd = str(tmp_path / "run_tiers")
    os.makedirs(wd)
    res = DedupPipeline(spark, CFG, work_dir=wd).run(
        smoke_transcripts, with_tiers=True
    )
    assert "tiers" in res.tables
    tiers = res.tables["tiers"].toPandas()
    clusters = res.tables["clusters"].toPandas()
    assert len(tiers) == len(clusters)  # one row per conversation
    with open(os.path.join(wd, "metrics.json")) as f:
        metrics = json.load(f)
    assert sum(metrics["tiers"].values()) == len(tiers)
    assert set(metrics["tiers"]) <= {"exact", "near", "substring", "kept"}
    lab = dict(zip(clusters["conv_id"], clusters["cluster_id"]))
    by_tier = dict(zip(tiers["conv_id"], tiers["tier"]))
    for conv, cid in lab.items():
        if conv != cid:
            assert by_tier[conv] in ("exact", "near"), conv
        else:
            assert by_tier[conv] in ("substring", "kept"), conv
    # kept/substring reps reference themselves / another representative
    rb = dict(zip(tiers["conv_id"], tiers["removed_by"]))
    for conv, t in by_tier.items():
        if t == "kept":
            assert rb[conv] == conv
        elif t == "substring":
            assert lab[rb[conv]] == rb[conv]  # winner is itself a rep


def test_pipeline_partial_resume(spark, smoke_transcripts, tmp_path):
    """Kill-between-stages: later stage outputs missing -> recomputed; earlier
    kept; final output identical to an uninterrupted run."""
    wd = str(tmp_path / "run2")
    os.makedirs(wd)
    full = DedupPipeline(spark, CFG, work_dir=wd).run(smoke_transcripts)
    want = _clusters_dict(full)
    # simulate crash after signatures: drop everything downstream
    for st in ("candidates", "pairs", "clusters", "substring_pairs"):
        shutil.rmtree(os.path.join(wd, st))
        os.remove(os.path.join(wd, f"{st}.manifest.json"))
    res = DedupPipeline(spark, CFG, work_dir=wd).run(smoke_transcripts)
    flags = {s.name: s.resumed for s in res.stages}
    assert flags["signatures"] is True
    assert flags["clusters"] is False
    assert _clusters_dict(res) == want


def test_pipeline_partial_write_not_resumed(spark, smoke_transcripts, tmp_path):
    """A stage dir without _SUCCESS (crash mid-write) must be recomputed."""
    wd = str(tmp_path / "run2b")
    os.makedirs(wd)
    full = DedupPipeline(spark, CFG, work_dir=wd).run(smoke_transcripts)
    want = _clusters_dict(full)
    os.remove(os.path.join(wd, "pairs", "_SUCCESS"))  # simulate torn write
    res = DedupPipeline(spark, CFG, work_dir=wd).run(smoke_transcripts)
    flags = {s.name: s.resumed for s in res.stages}
    assert flags["pairs"] is False
    assert flags["signatures"] is True
    assert _clusters_dict(res) == want


def test_pipeline_config_change_invalidates(spark, smoke_transcripts, tmp_path):
    wd = str(tmp_path / "run3")
    os.makedirs(wd)
    DedupPipeline(spark, CFG, work_dir=wd).run(smoke_transcripts)
    other = DedupConfig(shingle_k=3)
    res = DedupPipeline(spark, other, work_dir=wd).run(smoke_transcripts)
    assert all(not s.resumed for s in res.stages)


def test_input_rewritten_in_place_invalidates_resume(spark, smoke_data, tmp_path):
    """An input file rewritten in place under the same path (here with
    twice the conversations) must not resume the earlier run's stages."""
    tr = smoke_data.transcripts
    ids = sorted(tr["conv_id"].unique())
    path = str(tmp_path / "in.parquet")
    wd = str(tmp_path / "wd")
    for n in (30, 60):
        tr[tr["conv_id"].isin(ids[:n])].to_parquet(path, index=False)
        res = DedupPipeline(spark, CFG, work_dir=wd).run(
            spark.read.parquet(path), with_substring=False)
    assert not any(s.resumed for s in res.stages)
    assert res.tables["signatures"].count() == 60


def test_kill_before_manifest_and_truncated_manifest_recompute(
    spark, smoke_data, tmp_path, monkeypatch
):
    """Two ways a stage's manifest can disagree with its output directory;
    both must recompute the stage, never resume it.

    (1) A run on input B is killed after its signatures write (``_SUCCESS``
    on disk) but before that stage's manifest is written. A later run on
    input A must not find A's manifest from the first run sitting next to
    B's output and resume it. (2) A manifest cut off mid-write."""
    from pyspark.sql import Observation

    tr = smoke_data.transcripts
    ids = sorted(tr["conv_id"].unique())
    inputs = {}
    for name, n in (("a", 30), ("b", 60)):
        inputs[name] = str(tmp_path / f"{name}.parquet")
        tr[tr["conv_id"].isin(ids[:n])].to_parquet(inputs[name], index=False)
    wd = str(tmp_path / "wd")

    def run(name):
        return DedupPipeline(spark, CFG, work_dir=wd).run(
            spark.read.parquet(inputs[name]), with_substring=False)

    run("a")

    class Killed(Exception):
        pass

    def kill(_obs):
        raise Killed   # first step after the stage write returns

    monkeypatch.setattr(Observation, "get", property(kill))
    with pytest.raises(Killed):
        run("b")
    monkeypatch.undo()
    assert os.path.exists(os.path.join(wd, "signatures", "_SUCCESS"))

    res = run("a")
    assert not res.stages[0].resumed
    assert res.tables["signatures"].count() == 30
    assert res.tables["clusters"].count() == 30

    mp = os.path.join(wd, "signatures.manifest.json")
    with open(mp) as f:
        text = f.read()
    with open(mp, "w") as f:
        f.write(text[: len(text) // 2])
    res = run("a")
    assert [s.name for s in res.stages if not s.resumed] == ["signatures"]
    assert res.tables["signatures"].count() == 30


@pytest.mark.parametrize("kill_at", [3, 5], ids=["in_pairs", "after_clusters"])
def test_resumed_stage_stats_come_from_its_own_manifest(
    spark, smoke_data, tmp_path, monkeypatch, kill_at
):
    """A run on input B killed partway, after a completed run on input A in
    the same work_dir, then rerun on B: the resumed stages' stats must be
    B's, read from B's manifests, never A's from A's metrics.json. The
    kill is the ``kill_at``-th stage write's row count: in the pairs stage
    (signatures and candidates resume), or in substring_pairs (every stage
    up to clusters resumes). 30 conversations have no duplicate edges and
    200 do, so lsh_buckets, pairs and connected_components all differ
    between A and B."""
    from pyspark.sql import Observation

    tr = smoke_data.transcripts
    ids = sorted(tr["conv_id"].unique())
    inputs = {}
    for name, n in (("a", 30), ("b", len(ids))):
        inputs[name] = str(tmp_path / f"{name}.parquet")
        tr[tr["conv_id"].isin(ids[:n])].to_parquet(inputs[name], index=False)

    def metrics(name, wd):
        DedupPipeline(spark, CFG, work_dir=wd).run(spark.read.parquet(inputs[name]))
        with open(os.path.join(wd, "metrics.json")) as f:
            return json.load(f)

    keys = ("lsh_buckets", "pairs", "connected_components")
    fresh = metrics("b", str(tmp_path / "fresh"))
    wd = str(tmp_path / "wd")
    first = metrics("a", wd)
    assert all(first[k] != fresh[k] for k in keys), (first, fresh)

    class Killed(Exception):
        pass

    get, calls = Observation.get, []

    def kill(obs):
        calls.append(obs)
        if len(calls) == kill_at:
            raise Killed
        return get.fget(obs)

    monkeypatch.setattr(Observation, "get", property(kill))
    with pytest.raises(Killed):
        metrics("b", wd)
    monkeypatch.undo()

    rerun = metrics("b", wd)
    resumed = [s["stage"] for s in rerun["stages"] if s["resumed"]]
    assert resumed == ["signatures", "candidates", "pairs", "clusters"][:kill_at - 1]
    assert {k: rerun[k] for k in keys} == {k: fresh[k] for k in keys}


def test_pipeline_no_workdir(spark, smoke_transcripts):
    res = DedupPipeline(spark, CFG, work_dir=None).run(smoke_transcripts, with_substring=False)
    assert res.tables["clusters"].count() > 0


def test_nonfile_fingerprint_cached_across_runs(
    spark, smoke_transcripts, tmp_path, monkeypatch
):
    """The non-file-input fingerprint count runs ONCE: a second run over
    the same in-memory input resumes from the cached (plan-hash-keyed)
    fingerprint with zero count jobs — and a DIFFERENT input still
    invalidates the cache (fresh plan hash -> fresh count)."""
    from pyspark.sql import DataFrame as _DF
    from pyspark.sql import functions as F

    from pcompress_spark.config import DedupConfig
    from pcompress_spark.pipeline import DedupPipeline

    wd = str(tmp_path / "wd")
    cfg = DedupConfig()
    r1 = DedupPipeline(spark, cfg, work_dir=wd).run(smoke_transcripts)
    assert os.path.exists(os.path.join(wd, "input_fingerprint.json"))
    clusters1 = sorted(
        (r.conv_id, r.cluster_id) for r in r1.tables["clusters"].collect())

    # second run: every stage must resume AND no DataFrame.count may run
    def _no_count(self_df):
        raise AssertionError("count job ran during a fully-resumed run")

    monkeypatch.setattr(_DF, "count", _no_count)
    r2 = DedupPipeline(spark, cfg, work_dir=wd).run(smoke_transcripts)
    monkeypatch.undo()
    assert all(s.resumed for s in r2.stages), [
        (s.name, s.resumed) for s in r2.stages]
    clusters2 = sorted(
        (r.conv_id, r.cluster_id) for r in r2.tables["clusters"].collect())
    assert clusters2 == clusters1

    # different in-memory input -> different plan hash -> stages rebuild
    # (the cache must not blind resume to an input change)
    smaller = smoke_transcripts.where(
        F.xxhash64("conv_id") % 2 == 0)
    r3 = DedupPipeline(spark, cfg, work_dir=wd).run(smaller)
    assert not any(s.resumed for s in r3.stages)


def _stage_tables(spark, wd):
    """Every stage table of a run as sorted pandas (array cells as tuples),
    with its Spark column types."""
    out = {}
    for st in ("signatures", "candidates", "pairs", "clusters", "substring_pairs"):
        df = spark.read.parquet(os.path.join(wd, st))
        pdf = df.toPandas()
        for c in pdf.columns:
            if pdf[c].dtype == object and len(pdf) and not isinstance(
                    pdf[c].iloc[0], str):
                pdf[c] = pdf[c].map(tuple)
        cols = list(pdf.columns)
        out[st] = (df.dtypes, pdf.sort_values(cols).reset_index(drop=True))
    return out


def test_driver_and_distributed_batch_paths_bit_identical(
        spark, smoke_transcripts, tmp_path):
    """The pair and cluster stages run as one delta admitted against an
    empty index: on the driver under the default budget, as
    candidate_pairs/verify_pairs/connected_components under
    cc_local_edges=0. Every stage table, the LSH bucket stats and the
    edge count are bit-identical, with bucket_cap low enough that hot
    buckets are salted on both paths."""
    import dataclasses

    cfg = DedupConfig(bucket_cap=2)
    got = {}
    for name, c in (("driver", cfg),
                    ("distributed", dataclasses.replace(cfg, cc_local_edges=0))):
        wd = str(tmp_path / name)
        DedupPipeline(spark, c, work_dir=wd).run(smoke_transcripts)
        with open(os.path.join(wd, "metrics.json")) as f:
            got[name] = (json.load(f), _stage_tables(spark, wd))
    (m_drv, t_drv), (m_dist, t_dist) = got["driver"], got["distributed"]
    assert (m_drv["pairs"]["path"], m_dist["pairs"]["path"]) == (
        "driver", "distributed")
    assert (m_drv["connected_components"]["path"],
            m_dist["connected_components"]["path"]) == (
        "local_union_find", "distributed_star")
    assert m_drv["lsh_buckets"] == m_dist["lsh_buckets"]
    assert m_drv["lsh_buckets"]["hot_member_rows"] > 0   # salting fired
    assert (m_drv["connected_components"]["n_edges"]
            == m_dist["connected_components"]["n_edges"] > 0)
    for st, (types, pdf) in t_drv.items():
        assert types == t_dist[st][0], st
        pd.testing.assert_frame_equal(pdf, t_dist[st][1], check_exact=True)
    assert len(t_drv["candidates"][1]) > 0
    assert set(t_drv["pairs"][1]["match_kind"]) == {"exact", "near"}


# Spark jobs of one DedupPipeline.run on the smoke fixture with a fresh
# work_dir (input fingerprint count, signatures, the batch admission's
# fetches and stage writes, substring, stats, lineage): 23-25 here. Computing
# candidates, pairs and clusters through their own Spark plans took 40.
PIPELINE_JOBS = 30


def test_pipeline_spark_job_count(spark, smoke_transcripts, tmp_path):
    """The pipeline's Spark jobs, counted by job group through the status
    tracker, stay within PIPELINE_JOBS, and metrics.json records which
    path the pair stage took and why."""
    sc = spark.sparkContext
    sc.setJobGroup("pipeline_jobs", "one DedupPipeline.run")
    try:
        DedupPipeline(spark, CFG, work_dir=str(tmp_path / "wd")).run(
            smoke_transcripts)
        n_jobs = len(sc.statusTracker().getJobIdsForGroup("pipeline_jobs"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert n_jobs <= PIPELINE_JOBS, n_jobs
    with open(tmp_path / "wd" / "metrics.json") as f:
        pair_path = json.load(f)["pairs"]
    assert pair_path["path"] == "driver" and pair_path["why"]
