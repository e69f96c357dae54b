"""Seeded workload generator for the benchmark.

Every workload is built on ``pcompress_spark.datagen`` and is a pure
function of (workload, seed): the same seed gives byte-identical inputs.
Inputs are written as parquet under a per-(workload, seed, generator
digest) cache directory inside the checkout, so a second run with the same
seed skips generation.
The engine only ever sees the transcript tables; the truth tables are read
by the correctness gate alone.

Workloads:

``batch_templated``
    The default datagen mix (exact / near / substring / hot-preamble / tiny
    families, ~30% of conversations in 2-3-member duplicate families) plus a
    block of agent-template clones: one template conversation cloned
    CLONES_PER_TEMPLATE times with light token edits. The clones share most
    LSH bands, so band buckets grow past ``bucket_cap`` (pinned to
    BUCKET_CAP) and the salting path runs;
    candidates, verify and cluster carry most of the work.
``batch_sparse``
    The default datagen mix alone (buckets stay tiny, salting idles).
``ingest_delta``
    The default mix split by a hash of conv_id into a corpus (~80%) and
    small disjoint deltas of DELTA_TURNS to DELTA_TURNS + DELTA_SLACK turns
    each, so planted
    families straddle corpus and deltas.
    Each delta is admitted against the corpus checkpoint on its own.

Truth tables written next to the inputs:
  truth_pairs.parquet  conv_id_a < conv_id_b, family (datagen's planted pairs)
  families.parquet     conv_id -> family id: the datagen truth cluster of a
                       clone family, or ``tmpl-<t>`` for a template family;
                       a conversation with no planted duplicate is its own id
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

import numpy as np
import pandas as pd


# Sizes are chosen so that set-up and a few timed jobs fit in about a minute
# on a 4-core box; the engine's fixed cost per job (~7 s for a batch job,
# ~10 s for a delta admission) dominates at this size.
N_CONV = {"batch_templated": 300, "batch_sparse": 1500, "ingest_delta": 400}
# The datagen mix is cut to this many turns (about 10% under the smallest
# mix seeds 0-39 give), so that turns per second moves with the engine, not
# with how many turns the seed drew. None leaves the mix as drawn.
MIX_TURNS = {"batch_templated": 5600, "batch_sparse": None, "ingest_delta": 7600}
# The benchmark pins bucket_cap below its default (256) so that a template
# family of ~120 clones is enough to make hot buckets: at the default cap a
# family needs ~400 clones, and verifying its candidates doubles the job
# time, which leaves room for fewer timed jobs per run.
BUCKET_CAP = 64
# A clone differs from its template in 1-2 tokens of one turn, so it keeps
# ~80% of the template's LSH band values and each band bucket of the family
# holds ~0.8 x CLONES_PER_TEMPLATE members (~100). That is well above
# BUCKET_CAP and below twice it, so every such bucket is salted into two
# groups on every seed and the candidate count is steady across seeds. With
# a family near the cap, buckets straddle it: those just under it stay
# unsalted and verify pays for all C(m, 2) of their pairs.
N_TEMPLATES = 1
CLONES_PER_TEMPLATE = 120
# fixed template shape: verify's cost per candidate pair grows with the
# document, so a template of random length would make job time a matter of
# the seed
TEMPLATE_TURNS = 8
TEMPLATE_TOKENS = 60     # words per template turn (datagen draws 5-119)
DELTA_SHARE = 5          # one conversation in DELTA_SHARE goes to the deltas
DELTA_TURNS = 300        # turns per delta (~15 conversations)
# A delta holds DELTA_TURNS to DELTA_TURNS + DELTA_SLACK turns. Admission cost
# is mostly fixed per call, so deltas of equal size keep delta turns per
# second a property of the engine, not of how the seed cut the deltas.
DELTA_SLACK = 4


def config():
    """The engine configuration every workload runs with."""
    from pcompress_spark.config import DedupConfig

    return DedupConfig(bucket_cap=BUCKET_CAP)


WORKLOADS = tuple(N_CONV)


def generator_version() -> str:
    """Digest of this module and of ``pcompress_spark.datagen``: any change
    to a generator gives a fresh cache key, so stale inputs are never
    reused."""
    from pcompress_spark import datagen

    h = hashlib.sha256()
    for path in (__file__, datagen.__file__):
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:12]


def conv_bucket(conv_id: str, n: int) -> int:
    """Stable hash bucket of a conv_id (never Python ``hash()``)."""
    return int(hashlib.sha1(conv_id.encode()).hexdigest()[:8], 16) % n


def _families(truth_clusters: pd.DataFrame) -> pd.DataFrame:
    return truth_clusters.rename(columns={"cluster_id": "family"})[
        ["conv_id", "family"]]


def template_turns(rng, vocab, turns: int = TEMPLATE_TURNS,
                   tokens: int = TEMPLATE_TOKENS) -> list[dict]:
    """A datagen-style agent conversation of ``turns`` turns with exactly
    ``tokens`` vocabulary words per turn (after any tool-call prefix)."""
    from pcompress_spark import datagen

    out = datagen._make_turns(rng, vocab, turns)
    for turn in out:
        words = " ".join(rng.choice(vocab, tokens))
        turn["text"] = f"call {turn['tool']} args {words}" if turn["tool"] else words
    return out


def trim_mix(gen, max_turns: int | None) -> tuple[pd.DataFrame, pd.DataFrame]:
    """-> (transcripts, families) of a ``datagen.GenResult`` cut to at most
    ``max_turns`` turns by dropping conversations that belong to no planted
    family and no truth pair, in hash order. Truth pairs and families keep
    every member, so the truth tables stay valid."""
    tr = gen.transcripts
    families = _families(gen.truth_clusters)
    if max_turns is None or len(tr) <= max_turns:
        return tr, families
    tp = gen.truth_pairs
    sizes = families.groupby("family")["conv_id"].transform("size")
    planted = (set(families.loc[sizes > 1, "conv_id"])
               | set(tp["conv_id_a"]) | set(tp["conv_id_b"]))
    turns = tr.groupby("conv_id").size()
    loose = sorted((c for c in turns.index if c not in planted),
                   key=lambda c: (hashlib.sha1(c.encode()).hexdigest(), c))
    excess, drop = len(tr) - max_turns, set()
    for c in loose:
        if excess <= 0:
            break
        drop.add(c)
        excess -= int(turns[c])
    return (tr[~tr["conv_id"].isin(drop)].reset_index(drop=True),
            families[~families["conv_id"].isin(drop)].reset_index(drop=True))


def add_templates(transcripts: pd.DataFrame, families: pd.DataFrame, seed: int,
                  n_templates: int = N_TEMPLATES, clones: int = CLONES_PER_TEMPLATE):
    """-> (transcripts, families) with ``n_templates`` template families
    appended. Each template is an agent-style
    conversation (``template_turns``); its clones edit 2-6% of the turns
    (at least one) with 1-2 token swaps (the near_high edit model), so
    clones stay near-duplicates of each other and of the template."""
    from pcompress_spark import datagen

    rng = np.random.Generator(np.random.PCG64(seed + 7919))
    vocab = datagen._vocab(rng)
    rows = []
    fam = []
    for t in range(n_templates):
        base = template_turns(rng, vocab)
        for i in range(clones + 1):
            cid = f"tmpl-{t:02d}-{i:05d}"
            conv = base if i == 0 else datagen._edit_turns(
                rng, vocab, base, float(rng.uniform(0.02, 0.06)))
            rows.extend({"conv_id": cid, **turn} for turn in conv)
            fam.append((cid, f"tmpl-{t:02d}"))
    extra = pd.DataFrame(rows)
    extra["ts"] = (datagen._EPOCH + pd.to_timedelta(
        rng.integers(0, 10**7, size=len(extra)), unit="s"
    )).astype("datetime64[us]")
    tr = pd.concat([transcripts, extra.astype(transcripts.dtypes.to_dict())],
                   ignore_index=True)
    tr = tr.iloc[rng.permutation(len(tr))].reset_index(drop=True)
    families = pd.concat(
        [families, pd.DataFrame(fam, columns=["conv_id", "family"])],
        ignore_index=True,
    )
    return tr, families


def split_deltas(conv_turns: pd.Series, share: int = DELTA_SHARE,
                 delta_turns: int = DELTA_TURNS,
                 slack: int = DELTA_SLACK) -> tuple[list[str], list[list[str]]]:
    """-> (corpus conv_ids, [delta conv_id lists]) from per-conversation
    turn counts (index conv_id). A conversation is a delta candidate when
    its hash bucket is 0. Each delta takes, longest first (ties in hash
    order), every remaining candidate that still fits under ``delta_turns +
    slack`` turns, until it holds ``delta_turns``: the short conversations
    then fill its last few turns. Candidates left when no further delta can
    be filled stay in the corpus. Deltas are disjoint, independent of input
    order, and carry near-equal work."""
    ids = sorted(conv_turns.index)
    corpus = [c for c in ids if conv_bucket(c, share) != 0]
    pool = sorted((c for c in ids if conv_bucket(c, share) == 0),
                  key=lambda c: (-int(conv_turns[c]),
                                 hashlib.sha1(c.encode()).hexdigest(), c))
    deltas = []
    while True:
        cur, turns = [], 0
        for c in pool:
            n = int(conv_turns[c])
            if turns + n <= delta_turns + slack:
                cur.append(c)
                turns += n
                if turns >= delta_turns:
                    break
        if turns < delta_turns:
            return sorted(corpus + pool), deltas
        deltas.append(sorted(cur))
        taken = set(cur)
        pool = [c for c in pool if c not in taken]


def delta_truth_pairs(truth_pairs: pd.DataFrame, corpus: set[str],
                      delta: set[str]) -> pd.DataFrame:
    """Truth pairs one delta can recover when admitted alone against the
    corpus: at least one endpoint in the delta, the other in the corpus or
    the same delta. Pairs that span two deltas are left out, because each
    delta is admitted independently."""
    a, b = truth_pairs["conv_id_a"], truth_pairs["conv_id_b"]
    in_d_a, in_d_b = a.isin(delta), b.isin(delta)
    ok = (in_d_a & (b.isin(corpus) | in_d_b)) | (in_d_b & a.isin(corpus))
    return truth_pairs[ok].reset_index(drop=True)


def generate(workload: str, seed: int) -> dict:
    """In-memory workload: {"transcripts" | "corpus"+"deltas", truth tables}."""
    from pcompress_spark import datagen

    if workload not in N_CONV:
        raise ValueError(f"unknown workload {workload!r}; known: {WORKLOADS}")
    gen = datagen.generate(seed=seed, n_conv=N_CONV[workload])
    out = {"truth_pairs": gen.truth_pairs}
    out["transcripts"], out["families"] = trim_mix(gen, MIX_TURNS[workload])
    if workload == "batch_templated":
        out["transcripts"], out["families"] = add_templates(
            out["transcripts"], out["families"], seed)
    if workload == "ingest_delta":
        tr = out.pop("transcripts")
        corpus, deltas = split_deltas(tr.groupby("conv_id").size())
        out["corpus"] = tr[tr["conv_id"].isin(set(corpus))].reset_index(drop=True)
        out["deltas"] = [tr[tr["conv_id"].isin(set(d))].reset_index(drop=True)
                         for d in deltas]
    return out


def materialize(workload: str, seed: int, cache_root: str) -> str:
    """Write the workload under ``cache_root`` unless already there; returns
    its directory. Layout: transcripts.parquet for a batch workload, or
    corpus.parquet +
    deltas/dNNN.parquet (ingest), truth_pairs.parquet, families.parquet,
    meta.json (written last: its presence marks a complete cache entry)."""
    version = generator_version()
    d = os.path.join(cache_root, f"{workload}-s{seed}-v{version}")
    if os.path.exists(os.path.join(d, "meta.json")):
        return d
    tmp = d + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    data = generate(workload, seed)
    meta = {"workload": workload, "seed": seed, "version": version}
    if "transcripts" in data:
        tr = data["transcripts"]
        tr.to_parquet(os.path.join(tmp, "transcripts.parquet"), index=False)
        meta["turns"] = len(data["transcripts"])
        meta["convs"] = int(data["transcripts"]["conv_id"].nunique())
    else:
        data["corpus"].to_parquet(os.path.join(tmp, "corpus.parquet"), index=False)
        os.makedirs(os.path.join(tmp, "deltas"))
        for i, df in enumerate(data["deltas"]):
            df.to_parquet(os.path.join(tmp, "deltas", f"d{i:03d}.parquet"), index=False)
        meta["turns"] = len(data["corpus"])
        meta["convs"] = int(data["corpus"]["conv_id"].nunique())
        meta["delta_turns"] = [len(df) for df in data["deltas"]]
    data["truth_pairs"].to_parquet(os.path.join(tmp, "truth_pairs.parquet"), index=False)
    data["families"].to_parquet(os.path.join(tmp, "families.parquet"), index=False)
    with open(os.path.join(tmp, "meta.json"), "w") as f:
        json.dump(meta, f)
    shutil.rmtree(d, ignore_errors=True)
    os.rename(tmp, d)
    return d
