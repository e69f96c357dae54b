"""Dump physical plans for the engine's key operators to .cache/PLANS.md
(untracked; each run rewrites it) and check plan-quality invariants (scan
pruning, broadcast placement, no Python in relational stages). Prints the
checks and exits 1 if any fails. Run: python tools/dump_plans.py"""

from __future__ import annotations

import dataclasses
import re
import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from pcompress_spark.session import get_spark
from pcompress_spark.config import DedupConfig
from pcompress_spark.operators.assemble import assemble
from pcompress_spark.operators.signatures import compute_signatures
from pcompress_spark.operators.candidates import candidate_pairs
from pcompress_spark.operators.verify import verify_pairs
from pcompress_spark.operators.cluster import _large_star
from pcompress_spark.operators.substring import substring_candidates
from pcompress_spark.functions import doc_dedup, incremental
from pcompress_spark.queries import relational
from pcompress_spark.sources.tables import load_table, load_transcripts

SF = "/root/testdata/sf0.01"
# Spark jobs of tr_incremental_pairs' driver path at sf0.01, as measured in
# this script (its corpus and delta signatures are computed, then bounded
# fetches decide the path)
TR_INC_DRIVER_JOBS = 7


def plan_of(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def main() -> None:
    spark = get_spark(master="local[4]", shuffle_partitions=8,
                      extra_conf={"spark.sql.maxPlanStringLength":
                                  str((1 << 31) - 16)})
    spark.sparkContext.setLogLevel("ERROR")
    cfg = DedupConfig()

    tdf = load_transcripts(spark, SF)
    sig = compute_signatures(assemble(tdf, parallelism=8), cfg)
    cand, _ = candidate_pairs(sig, cfg)
    pairs = verify_pairs(sig, cand, cfg)
    docs = load_table(spark, SF, "documents")

    # tier attribution over the real (checkpoint-resumed) pipeline tables —
    # the same construction the driver query uses
    import __spark_entry__ as entry

    tier_df = entry.queries()["tr_tier_attribution"](spark, SF)
    doc_sub_df = entry.queries()["doc_substring_pairs"](spark, SF)
    inc_pairs_df = entry.queries()["doc_incremental_pairs"](spark, SF)
    # the distributed plans of the doc label merge and tr_incremental_pairs
    # (at sf0.01 the default budget takes the driver path, whose result is
    # a local relation)
    doc_delta = (F.col("doc_id") % 4) == 0
    inc_cc_df = incremental.incremental_clusters(
        docs.where(~doc_delta), docs.where(doc_delta),
        DedupConfig(shingle_k=3, substring_enabled=False,
                    jaccard_threshold=0.3, cc_local_edges=0), threshold=0.3)
    entry_cfg = entry.CFG
    entry.CFG = dataclasses.replace(entry_cfg, cc_local_edges=0)
    tr_inc_pairs_df = entry.queries()["tr_incremental_pairs"](spark, SF)
    entry.CFG = entry_cfg
    tr_inc_cc_df = entry.queries()["tr_incremental_clusters"](spark, SF)
    turn_idx_df = entry.queries()["tr_turn_dedup_index"](spark, SF)
    ann_recall_df = entry.queries()["ann_recall_report"](spark, SF)
    emb_lsh_df = entry.queries()["doc_embedding_lsh_pairs"](spark, SF)
    sample_df = entry.queries()["doc_stratified_sample"](spark, SF)
    deco_df = entry.queries()["doc_decontamination"](spark, SF)
    tr_recall_df = entry.queries()["tr_recall_report"](spark, SF)
    pack_df = entry.queries()["doc_pack_assignments"](spark, SF)
    boiler_df = entry.queries()["tr_boilerplate_turns"](spark, SF)
    pii_df = entry.queries()["doc_pii_redact"](spark, SF)
    rep_df = entry.queries()["doc_repetition_report"](spark, SF)
    budget_df = entry.queries()["doc_budget_selection"](spark, SF)
    kmv_doc_df = entry.queries()["doc_kmv_near_pairs"](spark, SF)
    kmv_tr_df = entry.queries()["tr_kmv_near_pairs"](spark, SF)
    minhash_df = entry.queries()["doc_minhash_lsh_pairs"](spark, SF)
    tr_cur_df = entry.queries()["tr_curation"](spark, SF)
    tr_deco_df = entry.queries()["tr_decontamination"](spark, SF)
    kmeans_df = entry.queries()["emb_kmeans"](spark, SF)
    semdedup_df = entry.queries()["emb_semdedup"](spark, SF)
    nd_deco_df = entry.queries()["doc_neardup_decontam"](spark, SF)
    tool_ng_df = entry.queries()["tr_tool_ngrams"](spark, SF)
    hardneg_df = entry.queries()["ann_hard_negatives"](spark, SF)
    rm_boiler_df = entry.queries()["tr_remove_boilerplate"](spark, SF)
    bench_probe_df = entry.queries()["tr_bench_probe"](spark, SF)
    budget_mix_df = entry.queries()["doc_budget_mix"](spark, SF)
    multiprobe_df = entry.queries()["ann_topk_multiprobe"](spark, SF)
    hardneg_lsh_df = entry.queries()["ann_hard_negatives_lsh"](spark, SF)

    # the pipeline's pair stage under cc_local_edges=0 (the distributed
    # fallback of the empty-index admission)
    batch_st: dict = {}
    batch = incremental.batch_pairs(
        sig, dataclasses.replace(cfg, cc_local_edges=0), batch_st)
    batch_pairs_df = batch.pairs(batch.candidates())

    sections = {
        "assemble + signatures (1 text shuffle, pinned-width UDF stage)": sig,
        "LSH candidates (band shuffle, broadcast hot-bucket salt, JVM pair explosion)": cand,
        "verify (AQE-broadcastable pair joins, JVM Jaccard)": pairs,
        "pipeline pair stage at cc_local_edges=0 (empty-index admission, distributed fallback)":
            batch_pairs_df,
        "connected-components large-star half-round (agg+join, no collect_set)": _large_star(
            pairs.selectExpr("ih_a as u", "ih_b as v")
        ),
        "substring candidates (shared salted bucket path: broadcast salt before the window reducer)":
            substring_candidates(sig, cfg, persist_sizes=False)[0],
        "q1 pricing summary (pushdown + partial agg)": relational.q1_pricing_summary(spark, SF),
        "q3 top orders (broadcast dim join)": relational.q3_top_orders(spark, SF),
        "q14 promo revenue (date pushdown + broadcast part dim + conditional agg)":
            relational.q14_promo_revenue(spark, SF),
        "doc exact dedup (hash agg, first-occurrence-wins)": doc_dedup.dedup_keep_first(docs),
        "SimHash multi-index pairs (16-bit segment-pair buckets, no quadratic stage)":
            doc_dedup.simhash_pairs(docs),
        "routed LSH pairs (exact_only classes pruned before the signature UDF)":
            doc_dedup.routed_lsh_pairs(docs),
        "tier attribution (exact/near/substring cascade over pipeline tables)":
            tier_df,
        "doc containment pairs (salted window buckets, no quadratic stage)":
            doc_sub_df,
        "incremental delta-vs-corpus pairs (broadcast touched-bucket semi-join)":
            inc_pairs_df,
        "incremental cluster maintenance (untouched labels pass through an anti-join; CC only on touched members + delta)":
            inc_cc_df,
        "transcript incremental pairs (corpus bands from precomputed band_hashes behind a broadcast touched-key semi-join)":
            tr_inc_pairs_df,
        "transcript incremental clusters (persisted labels + delta evidence; untouched anti-join passthrough)":
            tr_inc_cc_df,
        "turn-level dedup index (single hash shuffle, JVM-only, no UDF)":
            turn_idx_df,
        "ANN recall report (brute truth persisted, count-only method joins)":
            ann_recall_df,
        "embedding LSH pairs (hyperplane buckets -> shared salted cap -> exact rescore)":
            emb_lsh_df,
        "stratified sample (map-only hash-threshold decision, no shuffle, no UDF)":
            sample_df,
        "decontamination (broadcast eval-gram set, hit counts via one groupBy)":
            deco_df,
        "transcript recall report (shingle-row equi-join truth, no all-pairs stage)":
            tr_recall_df,
        "PII redaction (map-only JVM regex projection, no shuffle)": pii_df,
        "repetition report (map-only ratios + (doc_id,gram)-keyed mode agg)":
            rep_df,
        "budget selection (bucketed distributed prefix sum, broadcast offsets)":
            budget_df,
        "KMV near-dup pairs, documents (pure JVM: md5-60bit shingles, bottom-K sketch, shared salted buckets — zero Python workers)":
            kmv_doc_df,
        "KMV near-dup pairs, transcripts (assemble + KMV, whole chain JVM)":
            kmv_tr_df,
        "transcript curation cascade (md5_60-keyed doc cascade + id map-back joins)":
            tr_cur_df,
        "transcript decontamination (broadcast eval grams over assembled convs)":
            tr_deco_df,
        "spherical k-means final assignment (map-only against closure centroids)":
            kmeans_df,
        "SemDeDup (k-means cells -> shared salted intra-cell pairs -> CC -> keep arg-min)":
            semdedup_df,
        "near-dup decontamination (benchmark as delta: broadcast touched-bucket semi-join)":
            nd_deco_df,
        "tool-chain census (one conv exchange -> lead window -> count-distinct agg, JVM only)":
            tool_ng_df,
        "hard-negative mining (labels ride the pair builder, broadcast query side)":
            hardneg_df,
        "boilerplate removal (bare-hash anti-join rewrite, text never shuffled)":
            rm_boiler_df,
        "benchmark probe gate (static bench-capped index broadcast, double-broadcast verify)":
            bench_probe_df,
        "budget mix (per-source bucketed prefix sum, broadcast budgets/offsets)":
            budget_mix_df,
        "multi-probe LSH top-k (probe set broadcast, id-triple bucket join)":
            multiprobe_df,
    }

    checks: list[str] = []
    out = ["# PLANS — physical plans of the key operators",
           "",
           "Regenerate with `python tools/dump_plans.py`. Checks asserted at the bottom.",
           ""]
    # Keep the document readable: the ad-hoc incremental-cluster surfaces
    # recompute their persisted-at-scale inputs inline, so their explain()
    # trees run to tens of thousands of lines. The CHECKS below always run
    # on the full plan string; the dump keeps the head of oversized plans.
    MAX_PLAN_LINES = 600
    for title, df in sections.items():
        plan = plan_of(df)
        lines = plan.splitlines()
        if len(lines) > MAX_PLAN_LINES:
            plan = "\n".join(lines[:MAX_PLAN_LINES]) + (
                f"\n... [truncated: {len(lines) - MAX_PLAN_LINES} more lines;"
                " plan-quality checks below ran on the full plan]"
            )
        out.append(f"## {title}\n\n```\n{plan}\n```\n")

    q1_plan = plan_of(relational.q1_pricing_summary(spark, SF))
    if "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in q1_plan:
        checks.append("OK q1: shipdate filter pushed to parquet scan")
    else:
        checks.append("FAIL q1: filter NOT pushed down")
    if "ReadSchema" in q1_plan and "l_comment" not in q1_plan:
        checks.append("OK q1: column pruning (no unused columns in ReadSchema)")
    q3_plan = plan_of(relational.q3_top_orders(spark, SF))
    checks.append(
        "OK q3: customer dim broadcast" if "BroadcastHashJoin" in q3_plan
        else "FAIL q3: no broadcast join"
    )
    q14_plan = plan_of(relational.q14_promo_revenue(spark, SF))
    checks.append(
        "OK q14: shipdate filter pushed + part dim broadcast"
        if "PushedFilters: [IsNotNull(l_shipdate), GreaterThanOrEqual(l_shipdate" in q14_plan
        and "BroadcastHashJoin" in q14_plan
        else "FAIL q14: missing pushdown or broadcast"
    )
    sig_plan = plan_of(sig)
    n_exch = sig_plan.count("Arguments: hashpartitioning")
    checks.append(f"{'OK' if n_exch == 1 else 'FAIL'} signatures: {n_exch} shuffle exchange(s) (text shuffled once)")
    cand_plan = plan_of(cand)
    checks.append(
        "OK candidates: hot buckets joined via broadcast"
        if "BroadcastHashJoin" in cand_plan or "broadcast" in cand_plan.lower()
        else "FAIL candidates: hot-bucket join not broadcast"
    )
    sub_plan = plan_of(substring_candidates(sig, cfg, persist_sizes=False)[0])
    checks.append(
        "OK substring: hot-window salt joined via broadcast before the reducer"
        if "BroadcastHashJoin" in sub_plan or "broadcast" in sub_plan.lower()
        else "FAIL substring: hot-window salt join not broadcast"
    )
    def simple_plan(df) -> str:
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain(mode="simple")
        return buf.getvalue()

    for df_name, df in (("q1", relational.q1_pricing_summary(spark, SF)), ("verify", pairs)):
        # simple mode marks whole-stage-codegen spans with "*(n)"; with AQE
        # the final plan only exists after execution, so run the query first
        df.collect()
        executed = df._jdf.queryExecution().executedPlan().toString()
        checks.append(
            f"OK {df_name}: whole-stage codegen spans present"
            if ("*(" in executed or "*(" in simple_plan(df))
            else f"WARN {df_name}: no WholeStageCodegen span"
        )

    # verify stage shape: the bare pair list must be BROADCAST to both probe
    # joins (no corpus-keyed exchange of the array-heavy signature table);
    # the only allowed merge join is on the composite (ih_a, ih_b) pair key.
    vp_plan = plan_of(pairs)
    n_pair_bcast = vp_plan.count("BroadcastHashJoin")
    # a corpus-keyed exchange hash-partitions on ONE pair-end key
    # (hashpartitioning(ih_b#NNNL, P)); the composite pair exchange carries
    # both keys and is pair-bound, so it is allowed
    bad_corpus_exchange = re.search(r"hashpartitioning\(ih_[ab]#\d+L, \d+\)", vp_plan)
    checks.append(
        "OK verify: pair list broadcast to both probes; no corpus-keyed array exchange"
        if n_pair_bcast >= 2 and not bad_corpus_exchange
        else "FAIL verify: signature table exchanged on a single pair-end key"
    )

    # the pipeline's pair stage under cc_local_edges=0: the empty-index
    # admission falls back to the distributed plan, which must be
    # verify_pairs' own shape (pair list broadcast to both probes, no
    # corpus-keyed exchange) with no delta-endpoint semi-join
    batch_plan = plan_of(batch_pairs_df)
    ok = (batch_st.get("path") == "distributed"
          and batch_plan.count("BroadcastHashJoin") >= 2
          and "LeftSemi" not in batch_plan
          and not re.search(r"hashpartitioning\(ih_[ab]#\d+L, \d+\)", batch_plan))
    checks.append(
        f"{'OK' if ok else 'FAIL'} pipeline pair stage, cc_local_edges=0: path "
        f"{batch_st.get('path')}; pair list broadcast to both probes, no "
        "delta-endpoint semi-join, no corpus-keyed array exchange")

    inc_plan = plan_of(inc_pairs_df)
    n_semi_bcast = inc_plan.count("BroadcastHashJoin")
    bad_inc_exchange = re.search(
        r"hashpartitioning\(doc_id_[ab]#\d+L, \d+\)", inc_plan)
    checks.append(
        f"OK incremental: {n_semi_bcast} broadcast joins (touched-bucket "
        "semi-join + delta-endpoint filters + pair-list probes all "
        "broadcast; no corpus-keyed array exchange)"
        if "LeftSemi" in inc_plan and n_semi_bcast >= 3
        and not bad_inc_exchange
        else "FAIL incremental: semi-joins not broadcast or shingle table "
        "exchanged on a single pair-end key"
    )

    tr_inc_plan = plan_of(tr_inc_pairs_df)
    bad_tr_exchange = re.search(
        r"hashpartitioning\(ih_[ab]#\d+L, \d+\)", tr_inc_plan)
    checks.append(
        "OK tr incremental pairs: touched-bucket/endpoint joins broadcast; "
        "no corpus-keyed array exchange"
        if "LeftSemi" in tr_inc_plan
        and tr_inc_plan.count("BroadcastHashJoin") >= 3
        and not bad_tr_exchange
        else "FAIL tr incremental pairs: semi-joins not broadcast or "
        "signature table exchanged on a single pair-end key"
    )
    # its driver path, at the default budget: the same query must run on
    # the driver in a bounded number of Spark jobs (signatures, bounded
    # fetches, endpoint rows)
    sc = spark.sparkContext
    sc.setJobGroup("tr_inc_driver", "tr incremental pairs, driver path")
    st: dict = {}
    t = load_transcripts(spark, SF)
    is_delta = F.expr("CAST(substring(conv_id, 6) AS BIGINT) % 4 = 0")
    incremental.incremental_transcript_pairs(
        t.where(~is_delta), t.where(is_delta), entry.CFG, stats=st).collect()
    n_jobs = len(sc.statusTracker().getJobIdsForGroup("tr_inc_driver"))
    sc.setLocalProperty("spark.jobGroup.id", None)
    ok = st.get("path") == "driver" and n_jobs <= TR_INC_DRIVER_JOBS
    checks.append(
        f"{'OK' if ok else 'FAIL'} tr incremental pairs driver path: path "
        f"{st.get('path')} ({st.get('why')}), {n_jobs} Spark jobs (bound "
        f"{TR_INC_DRIVER_JOBS})")
    tr_cc_plan = plan_of(tr_inc_cc_df)
    checks.append(
        "OK tr incremental clusters: untouched labels pass through a "
        "broadcast anti-join"
        if "LeftAnti" in tr_cc_plan and "BroadcastHashJoin" in tr_cc_plan
        else "FAIL tr incremental clusters: anti-join passthrough missing "
        "or not broadcast"
    )
    inc_cc_plan = plan_of(inc_cc_df)
    checks.append(
        "OK incremental_clusters: label scans filtered by broadcast "
        "semi/anti joins (touched pull + untouched passthrough), no "
        "cartesian stage"
        if "LeftSemi" in inc_cc_plan and "LeftAnti" in inc_cc_plan
        and inc_cc_plan.count("BroadcastHashJoin") >= 2
        and "CartesianProduct" not in inc_cc_plan
        else "FAIL incremental_clusters: label joins not broadcast or "
        "quadratic stage"
    )
    for name, df in (("simhash_pairs", doc_dedup.simhash_pairs(docs)),
                     ("routed_lsh_pairs", doc_dedup.routed_lsh_pairs(docs)),
                     ("tier_attribution", tier_df),
                     ("doc_substring_pairs", doc_sub_df),
                     ("incremental_pairs", inc_pairs_df)):
        p = plan_of(df)
        checks.append(
            f"OK {name}: no cartesian/nested-loop stage"
            if "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
            else f"FAIL {name}: quadratic join stage in plan"
        )

    turn_plan = plan_of(turn_idx_df)
    n_turn_exch = turn_plan.count("Arguments: hashpartitioning")
    checks.append(
        f"OK turn_dedup_index: JVM-only ({n_turn_exch} hash exchange, no Python UDF)"
        if "MapInPandas" not in turn_plan and "BatchEvalPython" not in turn_plan
        and n_turn_exch <= 1
        else "FAIL turn_dedup_index: Python UDF or extra shuffles in plan"
    )
    ann_plan = plan_of(ann_recall_df)
    checks.append(
        "OK ann_recall_report: query side broadcast, no cartesian stage"
        if "BroadcastHashJoin" in ann_plan and "CartesianProduct" not in ann_plan
        else "FAIL ann_recall_report: missing broadcast or quadratic stage"
    )
    # the bucketed hard-negative channel must never regress to the brute
    # query x corpus cross join it replaces (VERDICT r3 finding #1):
    # candidates ride the multiprobe bucket join + id-keyed label joins
    hardneg_lsh_plan = plan_of(hardneg_lsh_df)
    checks.append(
        "OK ann_hard_negatives_lsh: bucket-join candidates, no query x corpus cross join"
        if "BroadcastHashJoin" in hardneg_lsh_plan
        and "CartesianProduct" not in hardneg_lsh_plan
        and "BroadcastNestedLoopJoin" not in hardneg_lsh_plan
        else "FAIL ann_hard_negatives_lsh: quadratic join stage in plan"
    )
    emb_lsh_plan = plan_of(emb_lsh_df)
    checks.append(
        "OK doc_embedding_lsh_pairs: hot-bucket salt broadcast, no cartesian stage"
        if "BroadcastHashJoin" in emb_lsh_plan
        and "CartesianProduct" not in emb_lsh_plan
        and "BroadcastNestedLoopJoin" not in emb_lsh_plan
        else "FAIL doc_embedding_lsh_pairs: missing broadcast salt or quadratic stage"
    )

    sample_plan = plan_of(sample_df)
    checks.append(
        "OK doc_stratified_sample: map-only (no exchange, no Python UDF)"
        if "Exchange" not in sample_plan and "MapInPandas" not in sample_plan
        and "BatchEvalPython" not in sample_plan
        else "FAIL doc_stratified_sample: shuffle or Python UDF in a map-only op"
    )
    deco_plan = plan_of(deco_df)
    checks.append(
        "OK doc_decontamination: eval-gram set broadcast, no cartesian stage"
        if "BroadcastHashJoin" in deco_plan
        and "CartesianProduct" not in deco_plan
        and "BroadcastNestedLoopJoin" not in deco_plan
        else "FAIL doc_decontamination: benchmark grams not broadcast"
    )
    tr_deco_plan = plan_of(tr_deco_df)
    checks.append(
        "OK tr_decontamination: eval-gram set broadcast, no cartesian stage"
        if "BroadcastHashJoin" in tr_deco_plan
        and "CartesianProduct" not in tr_deco_plan
        and "BroadcastNestedLoopJoin" not in tr_deco_plan
        else "FAIL tr_decontamination: benchmark grams not broadcast"
    )
    tr_cur_plan = plan_of(tr_cur_df)
    checks.append(
        "OK tr_curation: no cartesian/nested-loop stage; hot-bucket salt "
        "broadcast inside the near-dup stage"
        if "CartesianProduct" not in tr_cur_plan
        and "BroadcastNestedLoopJoin" not in tr_cur_plan
        and "BroadcastHashJoin" in tr_cur_plan
        else "FAIL tr_curation: quadratic stage or missing broadcast salt"
    )
    kmeans_plan = plan_of(kmeans_df)
    checks.append(
        "OK emb_kmeans: final assignment is map-only over the persisted "
        "prep (no exchange; centroids are closure floats, not plan "
        "literals)"
        if "Exchange" not in kmeans_plan
        and "CartesianProduct" not in kmeans_plan
        and "InMemoryTableScan" in kmeans_plan
        else "FAIL emb_kmeans: assignment stage shuffles or lost the cache"
    )

    tr_recall_plan = plan_of(tr_recall_df)
    # the ONLY nested-loop allowed is the 1-row x 1-row Cross combining the
    # two count aggregates into the report row; the truth computation itself
    # must be equi-joins (shingle-row BroadcastHashJoin/SortMergeJoin)
    # tree lines only ("+- BroadcastNestedLoopJoin Cross ..."); the node
    # detail section re-prints the name without the join type
    bnlj_lines = [
        ln for ln in tr_recall_plan.splitlines()
        if "BroadcastNestedLoopJoin" in ln and "+-" in ln
    ]
    checks.append(
        "OK tr_recall_report: truth via shingle-row equi-join; only the "
        "1-row report Cross is nested-loop"
        if "CartesianProduct" not in tr_recall_plan
        and all("Cross" in ln for ln in bnlj_lines)
        and len(set(bnlj_lines)) <= 2  # plan tree + AQE re-print
        else "FAIL tr_recall_report: quadratic join stage in truth computation"
    )

    pack_plan = plan_of(pack_df)
    n_pack_exch = pack_plan.count("Arguments: hashpartitioning")
    checks.append(
        f"OK doc_pack_assignments: one shard exchange ({n_pack_exch}), "
        "JVM windows only"
        if n_pack_exch <= 1 and "MapInPandas" not in pack_plan
        and "BatchEvalPython" not in pack_plan
        and "CartesianProduct" not in pack_plan
        else "FAIL doc_pack_assignments: extra shuffles or Python UDF"
    )
    boiler_plan = plan_of(boiler_df)
    checks.append(
        "OK tr_boilerplate_turns: hash-keyed df agg + equi-join, no "
        "cartesian, no Python UDF"
        if "CartesianProduct" not in boiler_plan
        and "BroadcastNestedLoopJoin" not in boiler_plan
        and "MapInPandas" not in boiler_plan
        and "BatchEvalPython" not in boiler_plan
        else "FAIL tr_boilerplate_turns: quadratic stage or Python UDF"
    )

    pii_plan = plan_of(pii_df)
    checks.append(
        "OK doc_pii_redact: map-only (no exchange, no Python UDF)"
        if "Exchange" not in pii_plan and "MapInPandas" not in pii_plan
        and "BatchEvalPython" not in pii_plan
        else "FAIL doc_pii_redact: shuffle or Python UDF in a map-only op"
    )
    rep_plan = plan_of(rep_df)
    checks.append(
        "OK doc_repetition_report: (doc_id,gram)-keyed agg, no cartesian, "
        "no Python UDF"
        if "CartesianProduct" not in rep_plan
        and "BroadcastNestedLoopJoin" not in rep_plan
        and "MapInPandas" not in rep_plan and "BatchEvalPython" not in rep_plan
        else "FAIL doc_repetition_report: quadratic stage or Python UDF"
    )
    budget_plan = plan_of(budget_df)
    checks.append(
        "OK doc_budget_selection: bucketed prefix sum (no single-partition "
        "window), offsets broadcast"
        if "SinglePartition" not in budget_plan
        and "BroadcastHashJoin" in budget_plan
        and "MapInPandas" not in budget_plan
        else "FAIL doc_budget_selection: single-partition window or missing "
        "broadcast"
    )

    # the KMV channel's headline property: the ENTIRE near-dup path is
    # JVM whole-stage codegen — not one Python-worker node in the plan.
    # doc_minhash_lsh_pairs shares the KMV verify (verify.jaccard_pairs)
    # but signs with the Arrow kernels, so only the verify shape is
    # checked for it
    PY_NODES = ("MapInPandas", "BatchEvalPython", "ArrowEvalPython",
                "FlatMapGroupsInPandas", "PythonUDF")
    for name, df, jvm_only in (("doc_kmv_near_pairs", kmv_doc_df, True),
                               ("tr_kmv_near_pairs", kmv_tr_df, True),
                               ("doc_minhash_lsh_pairs", minhash_df, False)):
        p = plan_of(df)
        py_hits = [n for n in PY_NODES if n in p] if jvm_only else []
        # verify tail must ride the double-broadcast shape: pair list
        # broadcast to BOTH shingle probes (+ the hot-bucket salt
        # broadcast = >= 3), and the shingle-array table never exchanged
        # on a single pair-end key (the composite (a, b) exchange carries
        # both keys, so this single-key pattern cannot match it; long ids
        # render as doc_id_a#NNNL)
        bad_kmv_exchange = re.search(
            r"hashpartitioning\((doc_id|conv_id)_[ab]#\d+L?, \d+\)", p)
        checks.append(
            f"OK {name}: {'zero Python nodes in plan; ' if jvm_only else ''}"
            "pair list broadcast to both probes; no corpus-keyed array "
            "exchange; no cartesian stage"
            if not py_hits and p.count("BroadcastHashJoin") >= 3
            and not bad_kmv_exchange
            and "CartesianProduct" not in p
            and "BroadcastNestedLoopJoin" not in p
            else f"FAIL {name}: Python nodes {py_hits} or shingle table "
            "exchanged on a single pair-end key / missing broadcast / "
            "quadratic stage"
        )

    semdedup_plan = plan_of(semdedup_df)
    checks.append(
        "OK emb_semdedup: intra-cell pairs via broadcast salted buckets, "
        "no cartesian/nested-loop stage"
        if "BroadcastHashJoin" in semdedup_plan
        and "CartesianProduct" not in semdedup_plan
        and "BroadcastNestedLoopJoin" not in semdedup_plan
        else "FAIL emb_semdedup: quadratic stage or missing broadcast salt"
    )
    nd_deco_plan = plan_of(nd_deco_df)
    bad_nd_exchange = re.search(
        r"hashpartitioning\(doc_id_[ab]#\d+L, \d+\)", nd_deco_plan)
    checks.append(
        "OK doc_neardup_decontam: touched-bucket/endpoint/orientation joins "
        "broadcast; no corpus-keyed array exchange; no cartesian stage"
        if "LeftSemi" in nd_deco_plan
        and nd_deco_plan.count("BroadcastHashJoin") >= 3
        and not bad_nd_exchange
        and "CartesianProduct" not in nd_deco_plan
        else "FAIL doc_neardup_decontam: semi-joins not broadcast or "
        "corpus-keyed exchange / quadratic stage"
    )

    tool_ng_plan = plan_of(tool_ng_df)
    n_tool_exch = tool_ng_plan.count("Arguments: hashpartitioning")
    checks.append(
        f"OK tr_tool_ngrams: JVM-only ({n_tool_exch} hash exchanges: conv "
        "window + gram agg), no Python UDF"
        if "MapInPandas" not in tool_ng_plan
        and "BatchEvalPython" not in tool_ng_plan
        and n_tool_exch <= 2
        else "FAIL tr_tool_ngrams: Python UDF or extra shuffles"
    )
    hardneg_plan = plan_of(hardneg_df)
    checks.append(
        "OK ann_hard_negatives: query side broadcast, labels joined "
        "id-to-id, no cartesian stage"
        if "BroadcastHashJoin" in hardneg_plan or "BroadcastNestedLoopJoin" in hardneg_plan
        else "FAIL ann_hard_negatives: missing broadcast"
    )
    rm_plan = plan_of(rm_boiler_df)
    checks.append(
        "OK tr_remove_boilerplate: hot-hash anti-join, no Python UDF, no "
        "cartesian stage"
        if "LeftAnti" in rm_plan and "MapInPandas" not in rm_plan
        and "CartesianProduct" not in rm_plan
        else "FAIL tr_remove_boilerplate: missing anti-join or Python UDF"
    )

    bp_plan = plan_of(bench_probe_df)
    bad_bp_exchange = re.search(r"hashpartitioning\(ih_[cb]#\d+L, \d+\)",
                                bp_plan)
    checks.append(
        "OK tr_bench_probe: bench index broadcast; signature tables never "
        "exchanged on a pair-end key; no cartesian stage"
        if bp_plan.count("BroadcastHashJoin") >= 2 and not bad_bp_exchange
        and "CartesianProduct" not in bp_plan
        else "FAIL tr_bench_probe: index not broadcast or corpus-keyed "
        "exchange / quadratic stage"
    )
    bm_plan = plan_of(budget_mix_df)
    checks.append(
        "OK doc_budget_mix: (source, qbucket) windows (no single-partition "
        "window), budgets/offsets broadcast, no Python UDF"
        if "SinglePartition" not in bm_plan
        and "BroadcastHashJoin" in bm_plan
        and "MapInPandas" not in bm_plan
        else "FAIL doc_budget_mix: single-partition window or missing "
        "broadcast"
    )
    mp_plan = plan_of(multiprobe_df)
    checks.append(
        "OK ann_topk_multiprobe: probe set broadcast, no cartesian stage"
        if "BroadcastHashJoin" in mp_plan
        and "CartesianProduct" not in mp_plan
        else "FAIL ann_topk_multiprobe: probes not broadcast or quadratic "
        "stage"
    )

    out.append("## Plan-quality checks\n")
    out.extend(f"- {c}" for c in checks)
    out.append("")
    dump = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                        ".cache", "PLANS.md")
    os.makedirs(os.path.dirname(dump), exist_ok=True)
    with open(dump, "w") as f:
        f.write("\n".join(out))
    print("\n".join(checks))
    bad = [c for c in checks if c.startswith("FAIL")]
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
