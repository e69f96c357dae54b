"""DuckDB-SQL twins of the 64-bit integer kernels (kernels.py).

The driver's correctness gate runs each Spark query side-by-side with an
ANSI-SQL oracle in DuckDB. Round 1 left every hash-bearing query
(`tr_near_pairs`, `doc_minhash_lsh_pairs`, ...) unverified because MinHash /
SimHash / rolling-hash math "wasn't SQL". It is: every kernel is pure
mod-2**64 integer arithmetic (splitmix64, FNV-1a, Horner shingles, OPH
binning — kernels.py:97-344), so this module re-expresses each one as
DuckDB macros + composable CTE fragments over HUGEINT (128-bit) values kept
in [0, 2**64).

Design rules (learned from profiling DuckDB 1.0 macro expansion):
  - DuckDB macros substitute *expression trees* without common-subexpression
    elimination, so a macro argument is re-evaluated at every textual use.
    Macros here therefore take only cheap arguments (column refs, lambda
    variables); every multi-step hash (splitmix64's three rounds) is staged
    through CTE projection columns — one evaluation per row per stage.
  - All 64-bit values are HUGEINT in [0, 2**64). Signed Spark LongType
    outputs convert at the boundary via tobig()/unsig().
  - Heavy per-token / per-shingle work runs over UNNESTed rows (DuckDB
    vectorizes and parallelizes row pipelines), then re-assembles lists
    with list(x ORDER BY pos).

Python-side constants (powers, seed mixes) are computed here with plain
int arithmetic — same numbers as numpy's uint64 wraparound.
"""

from __future__ import annotations

M64 = 1 << 64
GOLD = 0x9E3779B97F4A7C15           # splitmix64 increment / Horner multiplier
SM_K1 = 0xBF58476D1CE4E5B9
SM_K2 = 0x94D049BB133111EB
FNV_OFFSET = 14695981039346656037
FNV_PRIME = 1099511628211
INV_GOLD = pow(GOLD, -1, M64)       # GOLD is odd => invertible mod 2**64

# XXH64 primes (public domain; Spark's xxhash64 for LongType = XXH64 of the
# 8-byte little-endian value, seed 42)
XXP1 = 11400714785074694791
XXP2 = 14029467366897019727
XXP3 = 1609587929392839161
XXP4 = 9650029242287828579
XXP5 = 2870177450012600261


def splitmix64_int(x: int) -> int:
    """Pure-python splitmix64 (for deriving constants; mirrors kernels)."""
    z = (x + GOLD) % M64
    z = ((z ^ (z >> 30)) * SM_K1) % M64
    z = ((z ^ (z >> 27)) * SM_K2) % M64
    return z ^ (z >> 31)


EMPTY_SENTINEL = splitmix64_int(0xE0F1)

_H = "::HUGEINT"
_M = f"18446744073709551616{_H}"   # 2**64

PRELUDE = f"""
CREATE OR REPLACE TEMP MACRO u64(x) AS (x) % {_M};
CREATE OR REPLACE TEMP MACRO xor64(a, b) AS xor((a){_H}, (b){_H});
CREATE OR REPLACE TEMP MACRO rsh64(a, n) AS (a) // (1{_H} << (n));
CREATE OR REPLACE TEMP MACRO tobig(x) AS CASE WHEN (x) >= 9223372036854775808{_H}
    THEN ((x) - {_M})::BIGINT ELSE (x)::BIGINT END;
CREATE OR REPLACE TEMP MACRO unsig(x) AS CASE WHEN (x) < 0
    THEN (x){_H} + {_M} ELSE (x){_H} END;
CREATE OR REPLACE TEMP MACRO pymod(a, n) AS (((a) % (n)) + (n)) % (n);
CREATE OR REPLACE TEMP MACRO mulmod(a, b) AS (
    ((a) % 4294967296) * ((b) % 4294967296)
    + ((((a) // 4294967296) * ((b) % 4294967296)
        + ((a) % 4294967296) * ((b) // 4294967296)) % 4294967296) * 4294967296
) % {_M};
CREATE OR REPLACE TEMP MACRO submod(a, b) AS ((a) - (b) + {_M}) % {_M};
-- splitmix64 stages: sm0 adds the increment, sm1/sm2/sm3 are the rounds.
-- Compose by STAGING through columns (see module docstring), or use smix()
-- only on scalar one-offs / tiny tables.
CREATE OR REPLACE TEMP MACRO sm0(x) AS ((x){_H} + {GOLD}{_H}) % {_M};
CREATE OR REPLACE TEMP MACRO sm1(z) AS mulmod(xor64(z, rsh64(z, 30)), {SM_K1}{_H});
CREATE OR REPLACE TEMP MACRO sm2(z) AS mulmod(xor64(z, rsh64(z, 27)), {SM_K2}{_H});
CREATE OR REPLACE TEMP MACRO sm3(z) AS xor64(z, rsh64(z, 31));
CREATE OR REPLACE TEMP MACRO smix(x) AS sm3(sm2(sm1(sm0(x))));
-- FNV-1a over codepoints+1 (kernels.hash_tokens semantics, pre-avalanche);
-- FNV_PRIME < 2**41, so a single HUGEINT multiply never overflows 128 bits.
CREATE OR REPLACE TEMP MACRO fnv_raw(t) AS list_reduce(
    list_prepend({FNV_OFFSET}{_H},
                 list_transform(range(1, length(t) + 1),
                                i -> unicode(substr(t, i, 1)){_H})),
    (h, c) -> (xor64(h, c + 1) * {FNV_PRIME}{_H}) % {_M});
CREATE OR REPLACE TEMP MACRO norm_words(t) AS list_filter(
    string_split_regex(trim(regexp_replace(lower(t), '[^a-z0-9]+', ' ', 'g')), '\\s+'),
    w -> w != '');
-- Horner combine of a hash list with the odd GOLD multiplier (pre-avalanche
-- shingle/window hash, kernels.shingle_hashes / window_hashes_flat).
CREATE OR REPLACE TEMP MACRO horner64(l) AS list_reduce(
    l, (a, x) -> (mulmod(a, {GOLD}{_H}) + x) % {_M});
-- XXH64 of one 8-byte little-endian long, staged variant below; rotl is
-- safe as + because the shifted halves never overlap.
CREATE OR REPLACE TEMP MACRO rotl64(x, r) AS
    (((x) << (r)) % {_M}) + rsh64(x, 64 - (r));
-- 60-bit md5 prefix hash (twin of functions/kmv.md5_60: Spark
-- conv(substr(md5(s), 1, 15), 16, 10) cast long). md5 hex is lowercase
-- in both engines; 15 hex chars = 60 bits, always positive in BIGINT.
CREATE OR REPLACE TEMP MACRO hexv(c) AS
    CASE WHEN c BETWEEN '0' AND '9' THEN ascii(c) - 48 ELSE ascii(c) - 87 END;
CREATE OR REPLACE TEMP MACRO md5_60(s) AS list_reduce(
    list_transform(range(1, 16), i -> hexv(substr(md5(s), i, 1))::BIGINT),
    (a, x) -> a * 16 + x);
"""


# ---------------------------------------------------------------------------
# statement builders (TEMP TABLE staging)
#
# DuckDB parallelizes pipelines over base-table row groups; a CTE chain
# rooted at a 1000-row source (docs exploding to millions of token rows)
# runs near single-threaded, and plain CTEs are re-evaluated per reference.
# Each heavy stage therefore lands in a TEMP TABLE (CREATE OR REPLACE =
# idempotent re-runs); the oracle strings are multi-statement scripts —
# macro prelude, staging statements, one final SELECT.
# ---------------------------------------------------------------------------

def smix_chain(carry: list[str], expr: str, out: str, src: str) -> str:
    """Inline WITH chain applying splitmix64 one stage per projection;
    usable as the body of a CREATE TEMP TABLE ... AS."""
    cols = ", ".join(carry)
    return f"""WITH z0_ AS (SELECT {cols}, sm0({expr}) AS z0 FROM {src}),
z1_ AS (SELECT {cols}, sm1(z0) AS z1 FROM z0_),
z2_ AS (SELECT {cols}, sm2(z1) AS z2 FROM z1_)
SELECT {cols}, sm3(z2) AS {out} FROM z2_"""


def token_stmts(p: str, src_sql: str, sid_expr: str, text_expr: str,
                max_token_chars: int = 64) -> str:
    """TEMP TABLEs: ``{p}wl`` (sid, ws word list — all docs), ``{p}tok``
    (sid, pos, th token-hash rows — docs with >= 1 token). Token hashes are
    computed once per DISTINCT token text, then joined back (training-data
    corpora repeat tokens heavily). Mirrors kernels.normalize_texts +
    hash_tokens exactly."""
    return f"""
CREATE OR REPLACE TEMP TABLE {p}wl AS
SELECT {sid_expr} AS sid, norm_words({text_expr}) AS ws FROM {src_sql};
CREATE OR REPLACE TEMP TABLE {p}tokw AS
SELECT sid, unnest(range(1, len(ws) + 1)) AS pos, unnest(ws) AS w
FROM {p}wl WHERE len(ws) > 0;
CREATE OR REPLACE TEMP TABLE {p}dtok AS
{smix_chain(['w'], f'fnv_raw(left(w, {max_token_chars}))', 'th',
            f'(SELECT DISTINCT w FROM {p}tokw)')};
CREATE OR REPLACE TEMP TABLE {p}tok AS
SELECT t.sid, t.pos, d.th FROM {p}tokw t JOIN {p}dtok d USING (w);
"""


def _horner_lead_stmts(p: str, src_table: str, val_col: str, step: int,
                       n_terms: int, out_table: str, out_col: str) -> str:
    """Per-LEVEL TEMP TABLE statements computing, for every position, the
    splitmix64-avalanched Horner combine of ``n_terms`` values spaced
    ``step`` positions apart (kernels.shingle_hashes / window_hashes_flat).

    One temp table per Horner level: DuckDB inlines single-use CTE chains
    into ONE fused projection whose expression tree re-expands macro
    arguments at every use — a k-level mulmod chain explodes ~4^k and a
    6-level chain simply hangs. Table boundaries keep every level a flat,
    vectorized, parallel pass (macro args are then plain column refs)."""
    leads = ", ".join(
        f"lead({val_col}, {j * step}) OVER {p}win AS t{j}" for j in range(1, n_terms)
    )
    lead_sel = f", {leads}" if leads else ""  # n_terms == 1: no lead terms
    stmts = [f"""
CREATE OR REPLACE TEMP TABLE {p}l0 AS
SELECT sid, pos, {val_col} AS h0{lead_sel} FROM {src_table}
WINDOW {p}win AS (PARTITION BY sid ORDER BY pos);"""]
    for j in range(1, n_terms):
        rest = ", ".join(f"t{i}" for i in range(j + 1, n_terms))
        rest = (", " + rest) if rest else ""
        guard = f" WHERE t{n_terms - 1} IS NOT NULL" if j == 1 else ""
        stmts.append(f"""
CREATE OR REPLACE TEMP TABLE {p}l{j} AS
SELECT sid, pos, (mulmod(h{j - 1}, {GOLD}{_H}) + t{j}) % {_M} AS h{j}{rest}
FROM {p}l{j - 1}{guard};""")
    stmts.append(f"""
CREATE OR REPLACE TEMP TABLE {out_table} AS
SELECT sid, pos, smix(h{n_terms - 1}) AS {out_col} FROM {p}l{n_terms - 1};""")
    return "\n".join(stmts)


def shingle_stmts(p: str, tok_table: str, k: int) -> str:
    """TEMP TABLEs: ``{p}shr`` (sid, pos, sh positional shingle rows) and
    ``{p}shd`` (sid, sh DISTINCT shingle rows). k-gram Horner combine via
    lead() windows — no per-shingle list slicing, fully vectorized."""
    return f"""
{_horner_lead_stmts(p + "sg", tok_table, "th", 1, k, p + "shr", "sh")}
CREATE OR REPLACE TEMP TABLE {p}shd AS
SELECT DISTINCT sid, sh FROM {p}shr;
"""


def minhash_stmts(p: str, shd_table: str, num_perm: int = 128,
                  seed: int = 42) -> str:
    """TEMP TABLE ``{p}mh`` (sid, mh list of num_perm HUGEINTs) — OPH with
    rotation densification (kernels.minhash_oph_flat) over the distinct
    shingle rows ``shd_table`` (sid, sh).

    Densification closed form: two sequential circular left-fill passes
    equal "each empty bin takes the value of the nearest non-empty bin to
    its left, circularly" — expressed as a forward window fill plus a
    wraparound fill from the partition's last non-empty bin."""
    if num_perm & (num_perm - 1):
        raise ValueError("oph requires power-of-two num_perm")
    shift = 64 - num_perm.bit_length() + 1
    c_route = (seed * 0xD1B54A32D192ED03) % M64
    c_val = (seed * 0x9E3779B1) % M64
    return f"""
CREATE OR REPLACE TEMP TABLE {p}rt AS
{smix_chain(['sid', 's'], f'xor64(s, {c_route}{_H})', 'routed',
            f'(SELECT sid, sh AS s FROM {shd_table})')};
CREATE OR REPLACE TEMP TABLE {p}bm AS
WITH v_ AS ({smix_chain(['sid', 'routed'], f'(s + {c_val}{_H}) % {_M}', 'val',
                        f'(SELECT sid, routed, s FROM {p}rt)')})
SELECT sid, rsh64(routed, {shift})::INT AS bin, min(val) AS mval
FROM v_ GROUP BY sid, bin;
CREATE OR REPLACE TEMP TABLE {p}mh AS
WITH grid_ AS (
    SELECT d.sid, g.bin, b.mval
    FROM (SELECT DISTINCT sid FROM {p}bm) d
    CROSS JOIN (SELECT unnest(range(0, {num_perm}))::INT AS bin) g
    LEFT JOIN {p}bm b ON b.sid = d.sid AND b.bin = g.bin),
fill_ AS (
    SELECT sid, bin, coalesce(
        mval,
        last_value(mval IGNORE NULLS) OVER (
            PARTITION BY sid ORDER BY bin
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        last_value(mval IGNORE NULLS) OVER (
            PARTITION BY sid ORDER BY bin
            ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    ) AS v
    FROM grid_)
SELECT sid, list(v ORDER BY bin) AS mh FROM fill_ GROUP BY sid;
"""


def simhash_stmts(p: str, shd_table: str, sample_cap: int = 512) -> str:
    """TEMP TABLE ``{p}simh`` (sid, simh) — per-bit majority vote over the
    bottom-``sample_cap`` distinct shingles, ties vote 1 (kernels
    .simhash_flat). Docs with no shingles are absent (caller coalesces the
    sentinel)."""
    return f"""
CREATE OR REPLACE TEMP TABLE {p}simh AS
WITH capd_ AS (
    SELECT sid, sh FROM (
        SELECT sid, sh, row_number() OVER (PARTITION BY sid ORDER BY sh) AS rk
        FROM {shd_table})
    WHERE rk <= {sample_cap}),
n_ AS (SELECT sid, count(*) AS n FROM capd_ GROUP BY sid),
bits_ AS (
    SELECT c.sid, b.b, sum((rsh64(c.sh, b.b) % 2)::BIGINT) AS cnt
    FROM capd_ c CROSS JOIN (SELECT unnest(range(0, 64))::INT AS b) b
    GROUP BY c.sid, b.b)
SELECT t.sid,
       sum(CASE WHEN 2 * t.cnt >= n_.n THEN 1{_H} << t.b ELSE 0{_H} END)
       % {_M} AS simh
FROM bits_ t JOIN n_ USING (sid) GROUP BY t.sid;
"""


def window_stmts(p: str, shr_table: str, k: int, window: int,
                 stride: int) -> str:
    """TEMP TABLE ``{p}win`` (sid, wh) — DISTINCT selected substring window
    fingerprints (kernels.window_hashes_flat + stride selection), via
    lead(sh, j*k) windows over positional shingle rows."""
    if window % k:
        raise ValueError("window must be a multiple of shingle_k")
    nsub = window // k
    return f"""
{_horner_lead_stmts(p + "wg", shr_table, "sh", k, nsub, p + "winr", "wh")}
CREATE OR REPLACE TEMP TABLE {p}win AS
SELECT DISTINCT sid, wh FROM {p}winr WHERE wh % {stride} = 0;
"""


def prefix_stmts(p: str, tok_table: str) -> str:
    """TEMP TABLEs: ``{p}pw`` (i, pp = GOLD^i, ip = GOLD^-i) and ``{p}pref``
    (sid, n, pref list; pref[1] = 0) — kernels._prefix_hashes twin via the
    inverse-power running-sum trick."""
    return f"""
CREATE OR REPLACE TEMP TABLE {p}pw AS
WITH {p}irange AS (SELECT unnest(range(0,
        (SELECT coalesce(max(n), 0) + 1
         FROM (SELECT count(*) AS n FROM {tok_table} GROUP BY sid)))) AS i),
{_pow_stage_ctes(p, p + "irange")}
SELECT i, pp, ip FROM {p}pw;
CREATE OR REPLACE TEMP TABLE {p}pref AS
WITH wrow_ AS (SELECT t.sid, t.pos, mulmod(t.th, w.ip) AS wv
               FROM {tok_table} t JOIN {p}pw w ON w.i = t.pos),
srow_ AS (SELECT sid, pos,
                 sum(wv) OVER (PARTITION BY sid ORDER BY pos
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 % {_M} AS sv
          FROM wrow_),
prow_ AS (SELECT s.sid, s.pos, mulmod(w.pp, s.sv) AS pv
          FROM srow_ s JOIN {p}pw w ON w.i = s.pos)
SELECT sid, count(*) AS n, list_prepend(0{_H}, list(pv ORDER BY pos)) AS pref
FROM prow_ GROUP BY sid;
"""


def _pow_stage_ctes(p: str, src: str, n_stages: int = 40) -> str:
    """Powers table (i -> GOLD^i, GOLD^-i mod 2**64) over the row set
    ``{src}`` (must provide column i), via binary decomposition of the
    exponent staged one bit per projection — fully vectorized, no recursion
    (a recursive CTE re-evaluates its bound subquery per iteration).
    Covers i < 2**n_stages (default 2**40 ~ 1.1e12 — beyond any single
    document's token count); exponents past the bound RAISE via error()
    in the final CTE instead of silently truncating bits (the repo's
    no-silent-caps rule). Final CTE: ``{p}pw`` (i, pp, ip)."""
    ctes = [f"{p}pwa0 AS (SELECT i, "
            f"CASE WHEN i % 2 = 1 THEN {GOLD}{_H} ELSE 1{_H} END AS pp, "
            f"CASE WHEN i % 2 = 1 THEN {INV_GOLD}{_H} ELSE 1{_H} END AS ip "
            f"FROM {src})"]
    gp, gi = GOLD, INV_GOLD
    for b in range(1, n_stages):
        gp, gi = (gp * gp) % M64, (gi * gi) % M64
        ctes.append(
            f"{p}pwa{b} AS (SELECT i, "
            f"mulmod(pp, CASE WHEN (i // {1 << b}) % 2 = 1 THEN {gp}{_H} ELSE 1{_H} END) AS pp, "
            f"mulmod(ip, CASE WHEN (i // {1 << b}) % 2 = 1 THEN {gi}{_H} ELSE 1{_H} END) AS ip "
            f"FROM {p}pwa{b - 1})")
    bound = 1 << n_stages
    ctes.append(
        f"{p}pw AS (SELECT i, "
        f"CASE WHEN i >= {bound} THEN CAST(error('pow stage overflow: "
        f"exponent >= 2^{n_stages}') AS HUGEINT) ELSE pp END AS pp, "
        f"CASE WHEN i >= {bound} THEN CAST(error('pow stage overflow: "
        f"exponent >= 2^{n_stages}') AS HUGEINT) ELSE ip END AS ip "
        f"FROM {p}pwa{n_stages - 1})")
    return ",\n    ".join(ctes)


def xxh64_long_ctes(p: str, src: str, carry: list[str], expr: str, out: str,
                    seed: int = 42) -> str:
    """Spark-compatible xxhash64 of one signed BIGINT column (XXH64 of the
    8-byte little-endian value). Output ``{out}`` is HUGEINT in [0, 2**64);
    wrap in tobig() to compare with Spark's signed result."""
    acc0 = (seed + XXP5 + 8) % M64
    cols = ", ".join(carry)
    return f"""
    {p}x0 AS (SELECT {cols}, mulmod(unsig({expr}), {XXP2}{_H}) AS k1 FROM {src}),
    {p}x1 AS (SELECT {cols}, mulmod(rotl64(k1, 31), {XXP1}{_H}) AS k2 FROM {p}x0),
    {p}x2 AS (SELECT {cols},
                     (mulmod(rotl64(xor64({acc0}{_H}, k2), 27), {XXP1}{_H})
                      + {XXP4}{_H}) % {_M} AS h0 FROM {p}x1),
    {p}x3 AS (SELECT {cols}, mulmod(xor64(h0, rsh64(h0, 33)), {XXP2}{_H}) AS h1 FROM {p}x2),
    {p}x4 AS (SELECT {cols}, mulmod(xor64(h1, rsh64(h1, 29)), {XXP3}{_H}) AS h2 FROM {p}x3),
    {p}x5 AS (SELECT {cols}, xor64(h2, rsh64(h2, 32)) AS {out} FROM {p}x4)"""
