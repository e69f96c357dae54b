"""spark-submit packaging: the --py-files zip is self-contained and the
cluster driver script runs the pipeline end-to-end (north_rule launch path).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_pyfiles_zip_self_contained(tmp_path):
    """Engine imports and computes signatures with ONLY the zip on sys.path
    (what executors see when spark-submit ships --py-files)."""
    from tools.make_pyfiles import build

    zip_path = build(str(tmp_path))
    probe = (
        "import sys; sys.path = [sys.argv[1]] + "
        "[p for p in sys.path if 'site-packages' in p or 'python3' in p];\n"
        "import pandas as pd\n"
        "from pcompress_spark.config import DedupConfig\n"
        "from pcompress_spark.kernels import signatures_for_texts\n"
        "sig = signatures_for_texts(pd.Series(['hello world one two three']), DedupConfig())\n"
        "assert sig.loc[0, 'n_tokens'] == 5, sig\n"
        "print('OK')\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", probe, zip_path],
        capture_output=True, text=True, timeout=120,
        cwd=str(tmp_path),  # NOT the repo — the zip must stand alone
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert "OK" in out.stdout


def test_pyfiles_zip_reproducible(tmp_path):
    from tools.make_pyfiles import build

    a = build(str(tmp_path / "a"))
    b = build(str(tmp_path / "b"))
    with open(a, "rb") as fa, open(b, "rb") as fb:
        assert fa.read() == fb.read()


def test_run_pipeline_script_end_to_end(tmp_path, smoke_data):
    """tools/run_pipeline.py (the spark-submit entry) runs the full pipeline
    from the CLI — including the --tiers table — and reports cluster rows."""
    inp = str(tmp_path / "transcripts.parquet")
    smoke_data.transcripts.to_parquet(inp, index=False)
    env = dict(os.environ, SPARK_GRAFT_CPUS="4", SPARK_GRAFT_DRIVER_MEM="4g")
    out = subprocess.run(
        [sys.executable, os.path.join(REPO, "tools", "run_pipeline.py"),
         "--input", inp, "--work-dir", str(tmp_path / "wd"),
         "--output", str(tmp_path / "out"), "--master", "local[4]",
         "--shuffle-partitions", "4", "--tiers"],
        capture_output=True, text=True, timeout=600, cwd=REPO, env=env,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    res = json.loads(out.stdout.strip().splitlines()[-1])
    assert res["clusters_rows"] > 0
    assert os.path.exists(tmp_path / "out" / "clusters")
    assert os.path.exists(tmp_path / "out" / "tiers")
    with open(tmp_path / "wd" / "metrics.json") as f:
        tiers = json.load(f)["tiers"]
    assert sum(tiers.values()) == res["clusters_rows"]


def test_get_spark_inherit_honors_launcher_master(tmp_path):
    """master='inherit' must leave spark.master to the launcher. Simulate a
    spark-submit-style launch by passing --master through the gateway args
    (exactly how the launcher hands it to the JVM) and assert the inherited
    value survives instead of being overridden to local[SPARK_GRAFT_CPUS]."""
    probe = (
        "import sys; sys.path.insert(0, sys.argv[1])\n"
        "from pcompress_spark.session import get_spark\n"
        "s = get_spark(master='inherit')\n"
        "m = s.sparkContext.master\n"
        "assert m == 'local[3]', f'launcher master overridden: {m}'\n"
        "print('INHERIT_OK')\n"
    )
    env = dict(os.environ,
               PYSPARK_SUBMIT_ARGS="--master local[3] pyspark-shell",
               SPARK_GRAFT_CPUS="2", SPARK_GRAFT_DRIVER_MEM="2g")
    out = subprocess.run(
        [sys.executable, "-c", probe, REPO],
        capture_output=True, text=True, timeout=180, cwd=str(tmp_path), env=env,
    )
    assert out.returncode == 0, (out.stdout[-500:], out.stderr[-2000:])
    assert "INHERIT_OK" in out.stdout


def test_run_incremental_script_loop(spark, tmp_path):
    """tools/run_incremental.py (the daily-ingest spark-submit entry):
    bootstrap corpus state, admit a day-1 delta, then admit a day-2 delta
    whose exact copy of a day-1 ADMITTED doc must be dropped against the
    UPDATED state — the loop genuinely folds admitted docs into the corpus."""
    import pandas as pd

    from pcompress_spark import store

    docs = pd.read_parquet("/root/testdata/sf0.001/documents.parquet")[
        ["doc_id", "text"]]
    corpus = docs[docs["doc_id"] % 4 != 0]
    delta1 = docs[docs["doc_id"] % 8 == 0]
    cpath = str(tmp_path / "corpus.parquet")
    d1path = str(tmp_path / "delta1.parquet")
    corpus.to_parquet(cpath, index=False)
    delta1.to_parquet(d1path, index=False)
    state = str(tmp_path / "state")
    env = dict(os.environ, SPARK_GRAFT_CPUS="4", SPARK_GRAFT_DRIVER_MEM="4g")
    script = os.path.join(REPO, "tools", "run_incremental.py")
    common = ["--state-dir", state, "--master", "local[4]",
              "--shuffle-partitions", "4"]

    boot = subprocess.run(
        [sys.executable, script, "--bootstrap", "--corpus", cpath] + common,
        capture_output=True, text=True, timeout=600, cwd=REPO, env=env)
    assert boot.returncode == 0, boot.stderr[-3000:]
    assert json.loads(boot.stdout.strip().splitlines()[-1])["docs"] == len(corpus)

    out1 = subprocess.run(
        [sys.executable, script, "--delta", d1path,
         "--out", str(tmp_path / "out1"), "--run-tag", "day1"] + common,
        capture_output=True, text=True, timeout=600, cwd=REPO, env=env)
    assert out1.returncode == 0, out1.stderr[-3000:]
    res1 = json.loads(out1.stdout.strip().splitlines()[-1])
    assert res1["delta_docs"] == len(delta1)
    assert res1["admitted"] + res1["dropped_exact"] + res1["dropped_near"] == len(delta1)
    adm1 = pd.read_parquet(str(tmp_path / "out1" / "admission"))
    kept = adm1[adm1["keep"] == 1]["doc_id"]
    assert len(kept) == res1["admitted"] > 0

    # day-2 delta: an exact copy of a day-1 ADMITTED doc + one fresh doc
    d = int(kept.iloc[0])
    d_text = delta1.set_index("doc_id").at[d, "text"]
    delta2 = pd.DataFrame({
        "doc_id": [900001, 900002],
        "text": [d_text, "a genuinely fresh day two document about nothing "
                         "resembling the corpus fixtures at all"],
    })
    d2path = str(tmp_path / "delta2.parquet")
    delta2.to_parquet(d2path, index=False)
    out2 = subprocess.run(
        [sys.executable, script, "--delta", d2path,
         "--out", str(tmp_path / "out2"), "--run-tag", "day2"] + common,
        capture_output=True, text=True, timeout=600, cwd=REPO, env=env)
    assert out2.returncode == 0, out2.stderr[-3000:]
    adm2 = pd.read_parquet(str(tmp_path / "out2" / "admission")).set_index("doc_id")
    assert adm2.at[900001, "keep"] == 0
    assert adm2.at[900001, "dup_kind"] == "exact"
    assert adm2.at[900001, "dup_of"] == d  # the day-1 admitted doc, via state
    assert adm2.at[900002, "keep"] == 1

    # merged labels cover corpus + both deltas; the copy joined d's cluster
    def read_labels():
        return store.read_labels(spark, os.path.join(state, "labels"), "run",
                                 "doc_id").toPandas()

    labels = read_labels().set_index("doc_id")
    assert set(labels.index) >= set(corpus["doc_id"]) | set(delta1["doc_id"]) | {
        900001, 900002}
    assert labels.at[900001, "cluster_id"] == labels.at[d, "cluster_id"]
    assert labels.at[900002, "cluster_id"] == 900002

    # RE-RUN idempotence (crash-recovery protocol): replaying day-2 with the
    # same tag must first drop its own prior run=day2 appends, so state row
    # counts and labels are unchanged — no duplicate signature/md5 rows that
    # would poison future hot-bucket capping or pair outputs
    sig_rows = len(pd.read_parquet(os.path.join(state, "sig")))
    label_rows = len(pd.read_parquet(os.path.join(state, "labels")))
    out2b = subprocess.run(
        [sys.executable, script, "--delta", d2path,
         "--out", str(tmp_path / "out2"), "--run-tag", "day2"] + common,
        capture_output=True, text=True, timeout=600, cwd=REPO, env=env)
    assert out2b.returncode == 0, out2b.stderr[-3000:]
    assert len(pd.read_parquet(os.path.join(state, "sig"))) == sig_rows
    # the raw label rows are unchanged, and the reader still gives exactly
    # ONE row per doc (set_index would mask dup rows)
    assert len(pd.read_parquet(os.path.join(state, "labels"))) == label_rows
    labels2_read = read_labels()
    assert len(labels2_read) == len(labels)
    assert labels2_read["doc_id"].is_unique
    labels2 = labels2_read.set_index("doc_id")
    assert labels2["cluster_id"].to_dict() == labels["cluster_id"].to_dict()

    # reused-tag guard: running a DIFFERENT delta under day2's tag must be
    # refused instead of silently deleting day2's committed state appends
    out2c = subprocess.run(
        [sys.executable, script, "--delta", d1path,
         "--out", str(tmp_path / "out2c"), "--run-tag", "day2"] + common,
        capture_output=True, text=True, timeout=600, cwd=REPO, env=env)
    assert out2c.returncode != 0
    assert "DIFFERENT delta" in (out2c.stderr + out2c.stdout)
    assert len(pd.read_parquet(os.path.join(state, "sig"))) == sig_rows

    # doc_id collision guard: a delta reusing a corpus doc_id must be
    # rejected before any state mutation
    clash = pd.DataFrame({"doc_id": [int(corpus["doc_id"].iloc[0])],
                          "text": ["collides with the corpus id space"]})
    cpath3 = str(tmp_path / "delta3.parquet")
    clash.to_parquet(cpath3, index=False)
    out3 = subprocess.run(
        [sys.executable, script, "--delta", cpath3,
         "--out", str(tmp_path / "out3")] + common,
        capture_output=True, text=True, timeout=600, cwd=REPO, env=env)
    assert out3.returncode != 0
    assert "collide" in (out3.stderr + out3.stdout)


def test_run_incremental_transcripts_mode(spark, tmp_path):
    """--mode transcripts: conversation-granular daily ingest — bootstrap
    signature/label state from a corpus of transcripts, then admit a delta
    whose planted exact copy of a corpus conversation must be dropped with
    the corpus conversation as its partner, and the merged labels must put
    the copy in that conversation's cluster."""
    import pandas as pd

    from pcompress_spark import store
    from pcompress_spark.sources.tables import transcripts_path

    tr = pd.read_parquet(transcripts_path("/root/testdata/sf0.001"))
    suffix = tr["conv_id"].str[5:].astype(int)
    corpus = tr[suffix % 4 != 0]
    delta = tr[suffix % 4 == 0].copy()
    src_conv = corpus["conv_id"].iloc[0]
    planted = corpus[corpus["conv_id"] == src_conv].copy()
    planted["conv_id"] = "zdup-0000001"
    delta = pd.concat([delta, planted], ignore_index=True)
    cpath = str(tmp_path / "corpus_tr.parquet")
    dpath = str(tmp_path / "delta_tr.parquet")
    corpus.to_parquet(cpath, index=False)
    delta.to_parquet(dpath, index=False)
    state = str(tmp_path / "trstate")
    env = dict(os.environ, SPARK_GRAFT_CPUS="4", SPARK_GRAFT_DRIVER_MEM="4g")
    script = os.path.join(REPO, "tools", "run_incremental.py")
    common = ["--mode", "transcripts", "--state-dir", state,
              "--master", "local[4]", "--shuffle-partitions", "4"]

    boot = subprocess.run(
        [sys.executable, script, "--bootstrap", "--corpus", cpath] + common,
        capture_output=True, text=True, timeout=600, cwd=REPO, env=env)
    assert boot.returncode == 0, boot.stderr[-3000:]
    n_corpus = corpus["conv_id"].nunique()
    assert json.loads(boot.stdout.strip().splitlines()[-1])["convs"] == n_corpus

    out1 = subprocess.run(
        [sys.executable, script, "--delta", dpath,
         "--out", str(tmp_path / "trout")] + common,
        capture_output=True, text=True, timeout=600, cwd=REPO, env=env)
    assert out1.returncode == 0, out1.stderr[-3000:]
    res = json.loads(out1.stdout.strip().splitlines()[-1])
    n_delta = delta["conv_id"].nunique()
    assert res["delta_convs"] == n_delta
    assert res["admitted"] + res["dropped_exact"] + res["dropped_near"] == n_delta

    adm = pd.read_parquet(str(tmp_path / "trout" / "admission")).set_index("conv_id")
    assert adm.at["zdup-0000001", "keep"] == 0
    assert adm.at["zdup-0000001", "dup_kind"] == "exact"
    assert adm.at["zdup-0000001", "dup_of"] == src_conv  # corpus priority

    labels = store.read_labels(
        spark, os.path.join(state, "labels"), "run").toPandas()
    assert labels["conv_id"].is_unique
    assert set(labels["conv_id"]) >= set(corpus["conv_id"]) | set(delta["conv_id"])
    lab = labels.set_index("conv_id")["cluster_id"]
    assert lab["zdup-0000001"] == lab[src_conv]
    # only admitted conversations folded into the signature state
    sig = pd.read_parquet(os.path.join(state, "sig"))
    assert len(sig) == n_corpus + res["admitted"]


def test_run_curation_script_end_to_end(tmp_path):
    """tools/run_curation.py runs the composed cascade from the CLI and
    writes the verdict table plus the shard-partitioned kept output."""
    env = dict(os.environ, SPARK_GRAFT_CPUS="4", SPARK_GRAFT_DRIVER_MEM="4g")
    out_dir = tmp_path / "curated"
    out = subprocess.run(
        [sys.executable, os.path.join(REPO, "tools", "run_curation.py"),
         "--input", "/root/testdata/sf0.001/documents.parquet",
         "--output", str(out_dir), "--master", "local[4]",
         "--shuffle-partitions", "4"],
        capture_output=True, text=True, timeout=600, cwd=REPO, env=env,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    res = json.loads(out.stdout.strip().splitlines()[-1])
    assert res["kept_rows"] > 0
    import duckdb

    n_in = duckdb.sql(
        "SELECT count(*) FROM read_parquet("
        "'/root/testdata/sf0.001/documents.parquet')").fetchone()[0]
    assert sum(res["verdicts"].values()) == n_in
    # kept/ is shard-partitioned and its rows carry text + pack ids
    shards = [d for d in os.listdir(out_dir / "kept") if d.startswith("shard=")]
    assert shards
    kept = duckdb.sql(
        f"SELECT * FROM read_parquet('{out_dir}/kept/*/*.parquet')").df()
    assert len(kept) == res["kept_rows"]
    assert {"doc_id", "pack_id", "n_tokens", "text"} <= set(kept.columns)


def test_run_decontam_script_all_modes(tmp_path):
    """tools/run_decontam.py gates a corpus against an eval suite from
    the CLI in each mode; bloom over-flags never under-flags exact."""
    import duckdb

    env = dict(os.environ, SPARK_GRAFT_CPUS="4", SPARK_GRAFT_DRIVER_MEM="4g")
    src = "/root/testdata/sf0.001/documents.parquet"
    bench_pq = tmp_path / "bench.parquet"
    corpus_pq = tmp_path / "corpus.parquet"
    duckdb.sql(f"COPY (SELECT doc_id, text FROM read_parquet('{src}') "
               f"WHERE doc_id % 19 = 0) TO '{bench_pq}' (FORMAT PARQUET)")
    duckdb.sql(f"COPY (SELECT doc_id, text FROM read_parquet('{src}') "
               f"WHERE doc_id % 19 != 0) TO '{corpus_pq}' (FORMAT PARQUET)")

    results = {}
    for mode in ["exact", "bloom", "near"]:
        out_dir = tmp_path / f"rep_{mode}"
        out = subprocess.run(
            [sys.executable, os.path.join(REPO, "tools", "run_decontam.py"),
             "--input", str(corpus_pq), "--benchmark", str(bench_pq),
             "--output", str(out_dir), "--mode", mode,
             "--master", "local[4]", "--shuffle-partitions", "4"],
            capture_output=True, text=True, timeout=600, cwd=REPO, env=env,
        )
        assert out.returncode == 0, out.stderr[-3000:]
        results[mode] = json.loads(out.stdout.strip().splitlines()[-1])
    n_corpus = duckdb.sql(
        f"SELECT count(*) FROM read_parquet('{corpus_pq}')").fetchone()[0]
    assert results["exact"]["rows"] == n_corpus
    assert results["bloom"]["rows"] == n_corpus
    assert results["bloom"]["contaminated"] >= results["exact"]["contaminated"]
    assert results["near"]["rows"] == results["near"]["contaminated"]


def test_run_curation_script_semantic_stage(tmp_path):
    """--embeddings enables the SemDeDup stage: semantic_dup verdicts
    appear and the verdict partition still covers every input doc."""
    env = dict(os.environ, SPARK_GRAFT_CPUS="4", SPARK_GRAFT_DRIVER_MEM="4g")
    out_dir = tmp_path / "curated_sem"
    out = subprocess.run(
        [sys.executable, os.path.join(REPO, "tools", "run_curation.py"),
         "--input", "/root/testdata/sf0.001/documents.parquet",
         "--embeddings", "/root/testdata/sf0.001/embeddings.parquet",
         "--output", str(out_dir), "--master", "local[4]",
         "--shuffle-partitions", "4"],
        capture_output=True, text=True, timeout=600, cwd=REPO, env=env,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    res = json.loads(out.stdout.strip().splitlines()[-1])
    assert res["verdicts"].get("semantic_dup", 0) > 0
    import duckdb

    n_in = duckdb.sql(
        "SELECT count(*) FROM read_parquet("
        "'/root/testdata/sf0.001/documents.parquet')").fetchone()[0]
    assert sum(res["verdicts"].values()) == n_in


def test_run_pipeline_catalog_table_path(spark, smoke_transcripts, tmp_path):
    """--format table/iceberg both read via spark.read.table(name); this
    gate-test drives that catalog path end-to-end against a REAL catalog
    table (saveAsTable into the session catalog). An actual Iceberg
    catalog additionally needs the iceberg-spark-runtime jar + catalog
    conf (not shipped in this sandbox — README documents the launch
    confs); the engine-side code path is identical."""
    import sys as _sys

    _sys.path.insert(0, os.path.join(REPO, "tools"))
    import run_pipeline as rp

    tbl = "tr_catalog_gate_test"
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    (smoke_transcripts.write.mode("overwrite")
     .option("path", str(tmp_path / "tbl")).saveAsTable(tbl))
    try:
        wd = str(tmp_path / "wd")
        rc = rp.main(["--input", tbl, "--format", "table",
                      "--work-dir", wd, "--master", "inherit"])
        assert rc == 0
        clusters = spark.read.parquet(os.path.join(wd, "clusters"))
        assert clusters.count() == smoke_transcripts.select(
            "conv_id").distinct().count()
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
