"""Shared vectorized signature kernels (numpy, no Spark imports).

These functions are the *single* implementation of normalization, shingling,
MinHash, SimHash, content hashing, and substring window fingerprints. The
Spark engine calls them from Arrow-batched ``mapInPandas`` UDFs; the pure
pandas oracle (oracle.py) calls the very same functions. That makes "judged
against the reference implementation at the same shingle/signature config"
literal — engine and oracle can only differ in orchestration, never in hash
values.

Reference parity map:
  - normalize + tokenize  -> the type-routed canonicalization filters
    (/root/reference/pcompress.c:205-401 preproc dispatch; DictFilter etc.)
  - shingle_hashes        -> rabin content-defined chunking: position-
    independent content granules (/root/reference/rabin/rabin_dedup.c:622-757)
  - minhash               -> K-min-values segment sketch ("K min values
    sketch where K == 20", /root/reference/rabin/rabin_dedup.c:975-994)
  - simhash               -> per-block similarity_hash
    (/root/reference/rabin/rabin_dedup.c:684-706)
  - content_hash          -> per-block SHA-256 crypto hash
    (/root/reference/rabin/rabin_dedup.c:790-797)
  - window_fingerprints   -> bsdiff long-match detection granule
    (/root/reference/bsdiff/bsdiff.c:221-254)

All integer hashing is 64-bit with natural (mod 2**64) wraparound — numpy
uint64 arithmetic — and every derived constant comes from ``seed`` via
splitmix64, so results are identical on every partition of every run.
"""

from __future__ import annotations

import hashlib
import re

import numpy as np
import pandas as pd

# glibc munmaps every allocation above M_MMAP_THRESHOLD (128 KB default), so
# each large numpy temp is a fresh mmap + page-zeroing fault storm — with 32
# worker processes the kernel zone-lock contention collapses throughput
# (measured: 8 procs 4.7k docs/s, 32 procs 2.7k). Raising the threshold lets
# malloc reuse arena memory across batches. (-3 = M_MMAP_THRESHOLD,
# -1 = M_TRIM_THRESHOLD; no-op on non-glibc platforms.)
try:  # pragma: no cover - platform-dependent
    import ctypes

    _libc = ctypes.CDLL("libc.so.6", use_errno=True)
    # 192 MB: big enough that the per-batch working buffers are reused from
    # the arena, small enough that 32 workers don't hoard tens of GB of RSS
    _libc.mallopt(-3, 192 << 20)  # M_MMAP_THRESHOLD
    _libc.mallopt(-1, 192 << 20)  # M_TRIM_THRESHOLD
except Exception:
    _libc = None


def trim_memory() -> None:
    """Return freed arena memory to the OS (malloc_trim).

    The raised trim threshold above is right DURING a UDF's batch loop
    (arena reuse), but it also makes idle reused Python workers sit on
    hundreds of MB of RSS after their stage ends; with 32 workers that
    starves the NEXT (JVM-heavy shuffle) stage of page cache — measured
    4-6x slowdown of the candidates stage at local[32]. Heavy UDFs call
    this once per finished partition: reuse while hot, release when done.
    """
    try:  # pragma: no cover - platform-dependent
        if _libc is not None:
            _libc.malloc_trim(0)
    except Exception:
        pass


def trim_after(udf_gen):
    """Wrap a mapInPandas batch-iterator function so the worker trims its
    malloc arena once the partition is exhausted (see trim_memory)."""

    def wrapper(batches):
        try:
            yield from udf_gen(batches)
        finally:
            trim_memory()

    return wrapper

# FNV-1a 64-bit constants (public domain), used for token-level hashing.
_FNV_OFFSET = np.uint64(14695981039346656037)
_FNV_PRIME = np.uint64(1099511628211)
# Odd multiplier for combining token hashes into shingle hashes (golden ratio).
_SHINGLE_MULT = np.uint64(0x9E3779B97F4A7C15)

_NORM_RE = re.compile(r"[^a-z0-9]+")

_U64 = np.uint64
_MASK64 = np.uint64(0xFFFFFFFFFFFFFFFF)


def splitmix64(x: np.ndarray | int) -> np.ndarray:
    """Deterministic 64-bit mixer (public splitmix64). Vectorized."""
    with np.errstate(over="ignore"):
        z = np.asarray(x, dtype=np.uint64) + np.uint64(0x9E3779B97F4A7C15)
        z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        return z ^ (z >> np.uint64(31))


def splitmix64_inplace(z: np.ndarray) -> np.ndarray:
    """splitmix64 mutating ``z`` (owned uint64 array) with one scratch
    buffer — identical values, ~1/4 the allocation traffic of the pure
    version for the large flat shingle/window arrays (this VM is
    memory-bandwidth-bound from ~8 cores, so every avoided temp counts)."""
    tmp = np.empty_like(z)
    with np.errstate(over="ignore"):
        z += np.uint64(0x9E3779B97F4A7C15)
        np.right_shift(z, np.uint64(30), out=tmp)
        np.bitwise_xor(z, tmp, out=z)
        np.multiply(z, np.uint64(0xBF58476D1CE4E5B9), out=z)
        np.right_shift(z, np.uint64(27), out=tmp)
        np.bitwise_xor(z, tmp, out=z)
        np.multiply(z, np.uint64(0x94D049BB133111EB), out=z)
        np.right_shift(z, np.uint64(31), out=tmp)
        np.bitwise_xor(z, tmp, out=z)
    return z


def perm_params(num_perm: int, seed: int) -> tuple[np.ndarray, np.ndarray]:
    """MinHash permutation parameters: num_perm (odd a, b) pairs derived
    purely from the seed. h_i(x) = a_i * x + b_i  (mod 2**64)."""
    idx = np.arange(num_perm, dtype=np.uint64)
    a = splitmix64(idx + np.uint64(seed) * np.uint64(0x51ED2701)) | _U64(1)
    b = splitmix64(idx + np.uint64(seed) * np.uint64(0x2545F491) + np.uint64(0xABCD))
    return a, b


# Sentinel shingle for empty documents: all empty docs get identical
# signatures (they ARE identical after normalization).
_EMPTY_SENTINEL = splitmix64(np.uint64(0xE0F1))


# ASCII fast path for normalization: translate every char outside [a-z0-9]
# to a space (C-speed table lookup), then split/join collapses runs and
# strips — byte-identical to the regex for ASCII input, ~5x faster (the
# regex sub was ~40% of normalize-heavy batches). Non-ASCII falls back to
# the exact regex, so outputs never differ.
_NORM_TBL = str.maketrans(
    {c: " " for c in map(chr, range(128)) if not ("a" <= c <= "z" or "0" <= c <= "9")}
)


def normalize_one(text: str | None) -> str:
    """Canonicalize text before any hashing: lowercase, collapse every run of
    non-[a-z0-9] to a single space, strip. Used verbatim by engine UDFs and
    oracle. Idempotent."""
    if text is None:
        return ""
    if text.isascii():
        return " ".join(text.lower().translate(_NORM_TBL).split())
    return _NORM_RE.sub(" ", text.lower()).strip()


def normalize_texts(texts: pd.Series) -> pd.Series:
    """Vectorized twin of normalize_one (same table/regex)."""
    s = texts.fillna("").astype(str)
    return pd.Series([normalize_one(t) for t in s], index=s.index, dtype=object)


def hash_tokens(tokens: np.ndarray, max_token_chars: int | None = 64) -> np.ndarray:
    """FNV-1a-style 64-bit hash of each token, vectorized across the batch.

    Tokens are loaded into a fixed-width UCS4 matrix (numpy '<U' dtype) and
    hashed column-by-column with a mask — O(max_len) vector ops total, no
    per-token Python loop. Tokens are truncated to ``max_token_chars`` first
    (shared semantics with the oracle). Pass ``None`` to hash the FULL
    string — required for IDENTIFIER hashing (conv_id -> id_hash), where
    truncation would deterministically collide ids sharing a long prefix
    and silently merge distinct conversations.
    """
    n = len(tokens)
    if n == 0:
        return np.empty(0, dtype=np.uint64)
    arr = np.asarray(tokens, dtype=np.str_)
    itemsize = arr.dtype.itemsize
    if itemsize == 0:  # all-empty tokens
        return np.full(n, splitmix64(_FNV_OFFSET), dtype=np.uint64)
    width = itemsize // 4
    if max_token_chars is not None and width > max_token_chars:
        arr = arr.astype(f"<U{max_token_chars}")
        width = max_token_chars
    # transpose once so each per-character pass streams a contiguous row —
    # column-strided access would re-touch the whole matrix every pass
    # (width x total traffic, memory-bandwidth-bound at high core counts).
    # All per-column scratch is preallocated and reused (no temps in the
    # loop: large-alloc churn contends on kernel page zeroing at 32 procs).
    codes = np.ascontiguousarray(arr.view(np.uint32).reshape(n, width).T)
    h = np.full(n, _FNV_OFFSET, dtype=np.uint64)
    c64 = np.empty(n, dtype=np.uint64)
    hj = np.empty(n, dtype=np.uint64)
    live = np.empty(n, dtype=bool)
    with np.errstate(over="ignore"):
        for j in range(width):
            col = codes[j]
            np.not_equal(col, 0, out=live)
            if not live.any():
                break
            # FNV-1a step; dead lanes keep their value (trailing \0 padding).
            np.add(col, 1, out=c64, casting="unsafe", dtype=np.uint64)
            np.bitwise_xor(h, c64, out=hj)
            np.multiply(hj, _FNV_PRIME, out=hj)
            np.copyto(h, hj, where=live)
    return splitmix64(h)  # final avalanche


# Batch-fast-path table: folds case AND non-alnum in ONE translate pass
# (A-Z -> a-z, [a-z0-9] kept, everything else -> space) — equivalent to
# lower()+translate(_NORM_TBL) for ASCII, one fewer full-string copy.
# NUL is preserved: the batch path joins docs with '\x00' separators (docs
# containing a literal NUL fall back to the per-doc path, so a NUL in the
# joined string is always a doc boundary).
_NORM_TBL_BATCH = {
    **{k: v for k, v in _NORM_TBL.items() if k != 0},
    **{ord(c): c.lower() for c in "ABCDEFGHIJKLMNOPQRSTUVWXYZ"},
}


def _fnv_tokens_gather(
    a: np.ndarray, tok_starts: np.ndarray, w: np.ndarray
) -> np.ndarray:
    """FNV-1a of each token directly from the flat uint8 char array.

    Tokens are grouped by LENGTH CLASS (one radix-pass stable sort on the
    uint8 length key) and each class runs the FNV column loop over exactly
    its own lanes — total inner-loop traffic is sum(len) lanes, no padded
    matrix, no live masks, no dead lanes. Within a class the stable sort
    preserves natural (ascending-address) order, so every per-column
    gather from ``a`` walks the char array monotonically — consecutive
    lanes usually hit the SAME cache line (~6 tokens per 64 B line at
    web-text token lengths). The previous longest-first prefix scheme had
    the same lane count but interleaved all length classes per column,
    making every gather a scattered walk of the whole array; the class
    layout measured 1.4x faster single-proc and, because the gather is
    the kernel's main DRAM traffic, it is also what the 8->32 aggregate
    scales on. Values are bit-identical to hash_tokens (byte == UCS4 code
    point on the [a-z0-9] alphabet); parity is pinned by tests."""
    n_tok = len(tok_starts)
    if n_tok == 0:
        return np.empty(0, dtype=np.uint64)
    # ascending-length stable order; uint8 key makes the stable sort a
    # single radix pass (w <= max_token_chars, virtually always <= 255)
    if int(w.max()) <= 255:
        order = np.argsort(w.astype(np.uint8), kind="stable")
    else:  # pragma: no cover - max_token_chars > 255 config
        order = np.argsort(w, kind="stable")
    ts_s = tok_starts[order]
    w_s = w[order]
    width = int(w_s[-1])
    # class bounds: tokens of length L live in ts_s[bounds[L]:bounds[L+1]]
    bounds = np.searchsorted(w_s, np.arange(width + 2))
    h_all = np.empty(n_tok, dtype=np.uint64)
    c64 = np.empty(n_tok, dtype=np.uint64)
    with np.errstate(over="ignore"):
        for length in range(1, width + 1):
            lo, hi = int(bounds[length]), int(bounds[length + 1])
            if hi == lo:
                continue
            n = hi - lo
            ts = ts_s[lo:hi]
            h = h_all[lo:hi]
            h[:] = _FNV_OFFSET
            cc = c64[:n]
            for j in range(length):
                np.add(a[ts + j], 1, out=cc, casting="unsafe",
                       dtype=np.uint64)
                np.bitwise_xor(h, cc, out=h)
                np.multiply(h, _FNV_PRIME, out=h)
    out = np.empty(n_tok, dtype=np.uint64)
    # zero-length tokens (only possible via w caps) hash the empty string
    if int(bounds[1]) > 0:
        h_all[: int(bounds[1])] = _FNV_OFFSET
    out[order] = splitmix64_inplace(h_all)
    return out


def _tokenize_hash_ascii(docs: list[str], max_token_chars: int,
                         want_hashes: bool = True):
    """ASCII batch fast path: normalize + tokenize + token-hash a whole
    batch with flat uint8 numpy arrays — no per-token Python strings, no
    UCS4 padding (4 B/char -> 1 B/char of matrix traffic). Caller
    guarantees every doc .isascii() and contains no NUL.

    Returns (norm_bytes list[bytes], th_flat uint64, starts int64[n+1]).
    norm_bytes[i] is doc i's normalized text (the sha256 content-hash
    input); th_flat/starts are the concatenated per-doc token hashes.
    ``want_hashes=False`` skips the FNV token-hash pass (th_flat comes back
    empty) for callers that only need the normalized bytes.

    Exactness: lower()+translate() on the joined string is byte-identical
    to normalize_one's fast path (ASCII lower/translate are
    length-preserving, so doc offsets stay valid), token runs are maximal
    [a-z0-9]+ spans exactly like str.split() after the fold, and the FNV
    column loop consumes the same code points hash_tokens would."""
    n_docs = len(docs)
    lens = np.fromiter((len(d) for d in docs), dtype=np.int64, count=n_docs)
    big = "\x00".join(docs).translate(_NORM_TBL_BATCH)
    a = np.frombuffer(big.encode("ascii"), dtype=np.uint8)
    doc_starts_c = np.zeros(n_docs + 1, dtype=np.int64)
    np.cumsum(lens + 1, out=doc_starts_c[1:])  # +1 for each NUL separator

    # token runs: token chars are [a-z0-9] (all > 32); space=32, NUL=0
    ns = a > 32
    if not ns.any():
        return [b""] * n_docs, np.empty(0, dtype=np.uint64), np.zeros(
            n_docs + 1, dtype=np.int64
        )
    starts_mask = ns.copy()
    starts_mask[1:] &= ~ns[:-1]
    tok_starts = np.flatnonzero(starts_mask)
    ends_mask = ns.copy()
    ends_mask[:-1] &= ~ns[1:]
    tok_lens = np.flatnonzero(ends_mask) + 1 - tok_starts
    n_tok = len(tok_starts)
    # tokens per doc: search the SMALL side (n_docs+1 probes, not n_tok)
    first_tok = np.searchsorted(tok_starts, doc_starts_c[:-1], side="left")
    starts = np.empty(n_docs + 1, dtype=np.int64)
    starts[:-1] = first_tok
    starts[-1] = n_tok
    nt_doc = np.diff(starts)

    if want_hashes:
        w = np.minimum(tok_lens, max_token_chars)
        th_flat = _fnv_tokens_gather(a, tok_starts, w)
    else:
        th_flat = np.empty(0, dtype=np.uint64)

    # normalized doc bytes: full-length tokens joined by single spaces
    # (exactly " ".join(split())). One boolean mask does the run-collapse:
    # keep every token char, plus the single space immediately BEFORE each
    # non-first token of its doc (inside a doc, the char before a token
    # start is always ' ' after the fold). Compacting a[keep] then yields
    # all docs' normalized texts back-to-back with no inter-doc separator;
    # per-doc lengths recover the slices.
    first_mask = np.zeros(n_tok + 1, dtype=bool)
    first_mask[first_tok] = True  # first_tok may contain n_tok (token-less tail docs)
    keep = ns.copy()
    keep[tok_starts[~first_mask[:n_tok]] - 1] = True
    out = a[keep]
    cl = np.zeros(n_tok + 1, dtype=np.int64)
    np.cumsum(tok_lens, out=cl[1:])
    norm_lens = cl[starts[1:]] - cl[starts[:-1]] + np.maximum(nt_doc - 1, 0)
    out_starts = np.zeros(n_docs + 1, dtype=np.int64)
    np.cumsum(norm_lens, out=out_starts[1:])
    norm_bytes = [
        out[out_starts[i] : out_starts[i + 1]].tobytes() for i in range(n_docs)
    ]
    return norm_bytes, th_flat, starts


def tokenize_hash_batch(
    texts: pd.Series, max_token_chars: int = 64
) -> tuple[list[bytes], np.ndarray, np.ndarray]:
    """Batch normalize + tokenize + token-hash: the signature front end.

    Returns (norm_bytes per doc, flat token hashes, per-doc starts). ASCII
    docs (the overwhelming majority after web-corpus normalization) ride
    the flat-numpy fast path; non-ASCII / NUL-bearing docs fall back to the
    per-doc normalize_one + hash_tokens path with identical outputs, and
    the two streams are stitched back in input order."""
    s = texts.fillna("").astype(str)
    lst = s.tolist()
    n_docs = len(lst)
    slow_idx = [
        i for i, t in enumerate(lst) if not t.isascii() or "\x00" in t
    ]
    if not slow_idx:
        return _tokenize_hash_ascii(lst, max_token_chars)
    slow_set = set(slow_idx)
    fast_idx = [i for i in range(n_docs) if i not in slow_set]
    f_norm, f_th, f_starts = _tokenize_hash_ascii(
        [lst[i] for i in fast_idx], max_token_chars
    )
    s_norm: list[bytes] = []
    s_tok_lists: list[np.ndarray] = []
    for i in slow_idx:
        norm = normalize_one(lst[i])
        s_norm.append(norm.encode("utf-8"))
        toks = norm.split()
        s_tok_lists.append(
            hash_tokens(np.asarray(toks, dtype=np.str_), max_token_chars)
            if toks
            else np.empty(0, dtype=np.uint64)
        )
    norm_bytes: list[bytes] = [b""] * n_docs
    per_doc: list[np.ndarray] = [None] * n_docs  # type: ignore[list-item]
    for pos, i in enumerate(fast_idx):
        norm_bytes[i] = f_norm[pos]
        per_doc[i] = f_th[f_starts[pos] : f_starts[pos + 1]]
    for pos, i in enumerate(slow_idx):
        norm_bytes[i] = s_norm[pos]
        per_doc[i] = s_tok_lists[pos]
    lens = np.fromiter((len(x) for x in per_doc), dtype=np.int64, count=n_docs)
    starts = np.zeros(n_docs + 1, dtype=np.int64)
    np.cumsum(lens, out=starts[1:])
    th_flat = (
        np.concatenate(per_doc) if starts[-1] > 0 else np.empty(0, dtype=np.uint64)
    )
    return norm_bytes, th_flat, starts


def normalize_bytes_batch(texts: pd.Series) -> tuple[list[bytes], np.ndarray]:
    """Batch normalize WITHOUT token hashing: returns (norm_bytes per doc,
    char lengths int64). The ASCII majority rides the flat-numpy batch path
    of _tokenize_hash_ascii with the FNV pass skipped (want_hashes=False);
    non-ASCII / NUL docs fall back to normalize_one. Char length equals byte
    length on the ASCII path and len(norm_str) on the fallback, matching
    DuckDB length() (code points) in the oracle twins."""
    s = texts.fillna("").astype(str)
    lst = s.tolist()
    n_docs = len(lst)
    slow_idx = [i for i, t in enumerate(lst) if not t.isascii() or "\x00" in t]
    if not slow_idx:
        norm_bytes, _, _ = _tokenize_hash_ascii(lst, 1, want_hashes=False)
        lens = np.fromiter(
            (len(b) for b in norm_bytes), dtype=np.int64, count=n_docs
        )
        return norm_bytes, lens
    slow_set = set(slow_idx)
    fast_idx = [i for i in range(n_docs) if i not in slow_set]
    f_norm, _, _ = _tokenize_hash_ascii(
        [lst[i] for i in fast_idx], 1, want_hashes=False
    )
    norm_bytes: list[bytes] = [b""] * n_docs
    lens = np.zeros(n_docs, dtype=np.int64)
    for pos, i in enumerate(fast_idx):
        norm_bytes[i] = f_norm[pos]
        lens[i] = len(f_norm[pos])
    for i in slow_idx:
        norm = normalize_one(lst[i])
        norm_bytes[i] = norm.encode("utf-8")
        lens[i] = len(norm)
    return norm_bytes, lens


def hash_bytes_rows(payloads) -> np.ndarray:
    """FNV-1a-style 64-bit CONTENT hash of each byte payload, vectorized
    across the batch with the same masked-column scheme as hash_tokens
    (step value = byte + 1 so trailing-pad lanes are maskable; dead lanes
    keep their value). None/empty payloads hash to splitmix64(FNV_OFFSET).

    Reference analog: the per-block crypto hash over raw bytes
    (/root/reference/rabin/rabin_dedup.c:790-797) — the exact-dup key for
    opaque media. Unlike a length hash, equal-length payloads with
    different bytes always differ (modulo 64-bit collisions).

    Memory note: the batch is padded to the longest payload; for heavy-
    tailed payload sizes, size-bucket upstream (multimodal.extract_features
    exposes this as size_bucket_partitions — a repartitionByRange on
    payload length — off by default because it adds a shuffle)."""
    n = len(payloads)
    if n == 0:
        return np.empty(0, dtype=np.uint64)
    lens = np.fromiter(
        ((len(p) if p is not None else 0) for p in payloads), dtype=np.int64, count=n
    )
    width = int(lens.max())
    if width == 0:
        return np.full(n, splitmix64(_FNV_OFFSET), dtype=np.uint64)
    mat = np.zeros((n, width), dtype=np.uint8)
    for r, p in enumerate(payloads):
        if p:
            mat[r, : len(p)] = np.frombuffer(p, dtype=np.uint8)
    cols = np.ascontiguousarray(mat.T)
    h = np.full(n, _FNV_OFFSET, dtype=np.uint64)
    c64 = np.empty(n, dtype=np.uint64)
    hj = np.empty(n, dtype=np.uint64)
    with np.errstate(over="ignore"):
        for j in range(width):
            live = lens > j
            if not live.any():
                break
            np.add(cols[j], 1, out=c64, casting="unsafe", dtype=np.uint64)
            np.bitwise_xor(h, c64, out=hj)
            np.multiply(hj, _FNV_PRIME, out=hj)
            np.copyto(h, hj, where=live)
    return splitmix64(h)


def shingle_hashes(token_hashes: np.ndarray, k: int) -> np.ndarray:
    """k-gram shingle hashes over a single doc's token-hash sequence.
    Returns array of length max(0, n-k+1). Horner combine with an odd
    multiplier (mod 2**64)."""
    n = len(token_hashes)
    if n < k:
        return np.empty(0, dtype=np.uint64)
    th = token_hashes.astype(np.uint64, copy=False)
    out = th[: n - k + 1].copy()
    for j in range(1, k):
        out = out * _SHINGLE_MULT + th[j : n - k + 1 + j]
    return splitmix64(out)


def shingle_hashes_flat(
    token_hashes: np.ndarray, doc_starts: np.ndarray, k: int
) -> tuple[np.ndarray, np.ndarray]:
    """Batch version: token_hashes is the concatenation of all docs' token
    hashes; doc_starts[i] is doc i's start offset (len = n_docs+1, last =
    total). Returns (flat shingle hashes, shingle doc_starts). Fully
    vectorized — shingles straddling doc boundaries are masked out."""
    total = len(token_hashes)
    n_docs = len(doc_starts) - 1
    if total == 0 or total < k:
        return np.empty(0, dtype=np.uint64), np.zeros(n_docs + 1, dtype=np.int64)
    th = token_hashes.astype(np.uint64, copy=False)
    m = total - k + 1
    out = th[:m].copy()
    with np.errstate(over="ignore"):
        for j in range(1, k):
            np.multiply(out, _SHINGLE_MULT, out=out)
            np.add(out, th[j : m + j], out=out)
    out = splitmix64_inplace(out)
    doc_lens = np.diff(doc_starts)
    sh_lens = np.maximum(doc_lens - (k - 1), 0)
    sh_starts = np.zeros(n_docs + 1, dtype=np.int64)
    np.cumsum(sh_lens, out=sh_starts[1:])
    # gather valid positions: for doc i, positions doc_starts[i] .. doc_starts[i]+sh_lens[i]-1
    idx = np.repeat(doc_starts[:-1], sh_lens) + (
        np.arange(sh_starts[-1]) - np.repeat(sh_starts[:-1], sh_lens)
    )
    return out[idx], sh_starts


def distinct_sorted_per_doc(
    flat: np.ndarray, starts: np.ndarray
) -> tuple[list[np.ndarray], np.ndarray, np.ndarray]:
    """Per-doc distinct+sorted shingle sets. Returns (list of arrays, flat
    concat, new starts; the list entries are views into the concat).

    One batch copy, then an IN-PLACE ndarray.sort() per contiguous segment
    (the only real work — each sorts a cache-resident slice), then ONE
    vectorized adjacent-dedup + compaction across the whole batch. This
    beats per-segment np.unique ~3x: unique pays flatten/copy/slice
    dispatch per doc (~90% of its time at Arrow batch sizes was numpy
    call overhead, not sorting), and beats a global (doc, value) lexsort
    ~5x (two full stable argsorts + gathers over the batch)."""
    n_docs = len(starts) - 1
    total = len(flat)
    if total == 0:
        cat = np.empty(0, dtype=np.uint64)
        return [cat[:0]] * n_docs, cat, np.zeros(n_docs + 1, dtype=np.int64)
    # copy: callers reuse `flat` in input order (window hashes)
    f = flat.astype(np.uint64, copy=True)
    for i in range(n_docs):
        s, e = starts[i], starts[i + 1]
        if e - s > 1:
            f[s:e].sort()
    keep = np.empty(total, dtype=bool)
    keep[0] = True
    np.not_equal(f[1:], f[:-1], out=keep[1:])
    # segment firsts always survive (a value equal to the previous doc's
    # last is not a within-doc duplicate); empty segments mark the next
    # doc's first — also a first, so harmless
    seg_firsts = starts[:-1][starts[:-1] < total]
    keep[seg_firsts] = True
    cat = f[keep]
    kept_cum = np.zeros(total + 1, dtype=np.int64)
    np.cumsum(keep, out=kept_cum[1:])
    new_starts = kept_cum[starts]
    outs = [cat[new_starts[i] : new_starts[i + 1]] for i in range(n_docs)]
    return outs, cat, new_starts


def minhash_flat(
    flat: np.ndarray,
    starts: np.ndarray,
    num_perm: int,
    seed: int,
    perm_chunk: int = 16,
    scheme: str = "oph",
) -> np.ndarray:
    """MinHash signatures for all docs in a batch (dispatch on scheme)."""
    if scheme == "oph":
        return minhash_oph_flat(flat, starts, num_perm, seed)
    return minhash_perm_flat(flat, starts, num_perm, seed, perm_chunk)


def minhash_perm_flat(
    flat: np.ndarray,
    starts: np.ndarray,
    num_perm: int,
    seed: int,
    perm_chunk: int = 16,
) -> np.ndarray:
    """Textbook MinHash: num_perm independent (a*x+b mod 2^64) permutations.

    O(set_size * num_perm) work. Vectorized with ``np.minimum.reduceat``
    across docs; permutations processed in chunks of ``perm_chunk`` to bound
    the working set (batch_shingles x chunk x 8B). Empty docs get the
    sentinel signature.
    """
    a, b = perm_params(num_perm, seed)
    n_docs = len(starts) - 1
    sig = np.empty((n_docs, num_perm), dtype=np.uint64)
    lens = np.diff(starts)
    nonempty = lens > 0
    with np.errstate(over="ignore"):
        if (~nonempty).any():
            sig[~nonempty] = _EMPTY_SENTINEL * a + b
        if nonempty.any():
            ne_starts = starts[:-1][nonempty]
            for c0 in range(0, num_perm, perm_chunk):
                c1 = min(c0 + perm_chunk, num_perm)
                m = flat[:, None] * a[c0:c1][None, :] + b[c0:c1][None, :]
                sig[nonempty, c0:c1] = np.minimum.reduceat(m, ne_starts, axis=0)
    return sig


def minhash_oph_flat(
    flat: np.ndarray, starts: np.ndarray, num_perm: int, seed: int
) -> np.ndarray:
    """One-permutation hashing with rotation densification (Shrivastava &
    Li): ONE hash per shingle routed to bin = top bits, min per bin, empty
    bins filled from the nearest non-empty bin to the left (circular).

    O(set_size) work total — 128x cheaper than the perm scheme and the
    faithful analog of the reference's one-hash K-min-values segment sketch
    ("K min values sketch where K == 20",
    /root/reference/rabin/rabin_dedup.c:975-994). This is the only MinHash
    affordable at the 10^12-turn design point.

    num_perm must be a power of two (bin routing by top bits).
    """
    if num_perm & (num_perm - 1):
        raise ValueError("oph requires power-of-two num_perm")
    bin_shift = np.uint64(64 - int(num_perm).bit_length() + 1)
    n_docs = len(starts) - 1
    sentinel = _MASK64
    sig = np.full((n_docs, num_perm), sentinel, dtype=np.uint64)
    lens = np.diff(starts)
    if len(flat):
        # route by a FRESH mix of the shingle (never trust input-bit
        # uniformity), and decorrelate the stored value from the routing
        with np.errstate(over="ignore"):
            routed = splitmix64(flat ^ np.uint64(seed) * np.uint64(0xD1B54A32D192ED03))
            vals = splitmix64(flat + np.uint64(seed) * np.uint64(0x9E3779B1))
        bins = (routed >> bin_shift).astype(np.int64)
        doc_idx = np.repeat(np.arange(n_docs, dtype=np.int64), lens)
        keys = doc_idx * num_perm + bins
        np.minimum.at(sig.reshape(-1), keys, vals)
    # rotation densification, vectorized: every empty bin takes the value
    # of the nearest non-empty bin to its LEFT (circular) — exactly what
    # two circular left-to-right copy passes converge to. One
    # maximum.accumulate forward-fills last-valid column indices; leading
    # empties wrap to the row's last valid index; one take_along_axis
    # gathers. Only rows that HAVE an empty bin pay anything (dense docs
    # skip), and the index matrix is int16 (num_perm <= 2^15).
    invalid = sig == sentinel
    rows = np.flatnonzero(invalid.any(axis=1))
    if len(rows):
        sub = sig[rows]
        cols = np.arange(num_perm, dtype=np.int16)
        idx = np.where(invalid[rows], np.int16(-1), cols[None, :])
        np.maximum.accumulate(idx, axis=1, out=idx)
        np.copyto(idx, idx[:, -1:], where=(idx < 0))
        all_empty = idx[:, -1] < 0
        if all_empty.any():
            idx[all_empty] = 0  # placeholder; rows reset to sentinel below
        filled = np.take_along_axis(sub, idx.astype(np.intp), axis=1)
        if all_empty.any():
            filled[all_empty] = sentinel
        sig[rows] = filled
    # all-empty docs: deterministic sentinel signature (identical for all)
    still = sig[:, 0] == sentinel
    if still.any():
        filler = splitmix64(
            _EMPTY_SENTINEL + np.arange(num_perm, dtype=np.uint64)
            + np.uint64(seed) * np.uint64(0x51ED2701)
        )
        sig[still] = filler
    return sig


def simhash_flat(
    flat: np.ndarray, starts: np.ndarray, bits: int = 64, sample_cap: int = 512
) -> np.ndarray:
    """SimHash fingerprint per doc from its (distinct) shingle hashes:
    majority vote per bit. Returns (n_docs,) uint64. Empty docs -> simhash of
    the sentinel shingle. Only ``bits == 64`` is implemented (the nibble-lane
    kernel, the uint64 output, and the oracle twin are all 64-wide); any
    other value raises rather than silently emitting a 64-bit fingerprint
    under a differently-configured banding geometry.

    Vectorization: nibble-lane vertical counting. The hashes are scattered
    into doc-aligned chunks of 15 rows (zero-padded — a zero row adds
    nothing to any bit count, so padding is exact), then each chunk's 64
    per-bit counts come from four shifted masked sums: lane l of
    ``sum((x >> s) & 0x1111...1)`` holds the count of bit ``4*l + s``
    across the chunk's <= 15 rows (4-bit lanes can hold counts up to 15
    without carry). Per-doc totals are one ``add.reduceat`` over chunk
    counts. DRAM traffic is ~6x lower than the previous per-bit expansion
    to an (S, 64) byte matrix — this kernel is the saturated-regime
    bandwidth hog, so traffic IS the cost (integer addition is
    associative; regrouping is exact, and the parity tests pin
    bit-identical outputs).

    Docs larger than ``sample_cap`` shingles vote with their ``sample_cap``
    SMALLEST shingles only (input is sorted-distinct, so the prefix IS the
    bottom-k — a content-stable deterministic sample, the same KMV idea as
    the reference's sketch). Caps memory traffic per doc; 512 samples give
    a per-bit majority standard error of ~2%."""
    if bits != 64:
        raise ValueError(f"simhash_flat implements bits=64 only, got {bits}")
    n_docs = len(starts) - 1
    lens = np.diff(starts)
    if sample_cap and (lens > sample_cap).any():
        capped = np.minimum(lens, sample_cap)
        new_starts = np.zeros(n_docs + 1, dtype=np.int64)
        np.cumsum(capped, out=new_starts[1:])
        idx = np.repeat(starts[:-1], capped) + (
            np.arange(new_starts[-1]) - np.repeat(new_starts[:-1], capped)
        )
        flat, starts, lens = flat[idx], new_starts, capped
    out = np.zeros(n_docs, dtype=np.uint64)
    nonempty = lens > 0
    if (~nonempty).any():
        out[~nonempty] = _EMPTY_SENTINEL  # majority of the single sentinel = itself
    if nonempty.any() and len(flat):
        # Nonempty doc ranges tile [0, S) (empty docs contribute zero rows).
        ne_starts = starts[:-1][nonempty]
        ne_lens = lens[nonempty]
        n_ne = len(ne_starts)
        S = len(flat)
        CH = 15  # rows per chunk: 4-bit lanes hold counts <= 15
        nch = (ne_lens + (CH - 1)) // CH
        chunk_base = np.zeros(n_ne + 1, dtype=np.int64)
        np.cumsum(nch, out=chunk_base[1:])
        total_ch = int(chunk_base[-1])
        row_doc = np.repeat(np.arange(n_ne), ne_lens)
        row_off = np.arange(S, dtype=np.int64) - np.repeat(ne_starts, ne_lens)
        padded = np.zeros(total_ch * CH, dtype=np.uint64)
        padded[chunk_base[row_doc] * CH + row_off] = flat
        x = padded.reshape(total_ch, CH)
        lane_mask = np.uint64(0x1111111111111111)
        # uint8 per-chunk counts (max 15 fits): 1/8 the matrix traffic of
        # int64 — this kernel is bandwidth-bound, so the narrower store
        # measured ~1.9x (bit-identical; reduceat accumulates in int64,
        # so per-doc totals up to sample_cap never wrap)
        counts = np.empty((total_ch, 64), dtype=np.uint8)
        lane_shifts = (4 * np.arange(16, dtype=np.uint64))[None, :]
        for s in range(4):
            a = ((x >> np.uint64(s)) & lane_mask).sum(axis=1)
            # lane l of a holds the count of bit 4*l + s
            counts[:, s::4] = (a[:, None] >> lane_shifts) & np.uint64(0xF)
        sums = np.add.reduceat(counts, chunk_base[:-1], axis=0,
                               dtype=np.int64)
        # counts column b is VALUE bit b, so the majority bits compose the
        # simhash directly (a single-shingle doc's simhash IS that shingle
        # value, consistent with the empty-doc sentinel fill).
        maj = (2 * sums) >= ne_lens[:, None]
        weights = np.left_shift(np.uint64(1), np.arange(64, dtype=np.uint64))
        out[nonempty] = (maj.astype(np.uint64) * weights).sum(
            axis=1, dtype=np.uint64
        )
    return out


def window_hashes_flat(
    shingle_flat: np.ndarray, shingle_starts: np.ndarray, k: int, window: int
) -> tuple[np.ndarray, np.ndarray]:
    """Hash of every ``window``-token window for a whole batch, composed
    from the already-computed k-gram shingle hashes: window hash at token
    position i = Horner combine of shingle hashes at i, i+k, ..., i+window-k
    (``window`` must be a multiple of ``k``). This reuses the shingle pass
    instead of re-streaming the token hashes ``window`` times —
    window/k passes over the flat array instead of ``window``.

    Returns (flat window hashes, per-doc starts); doc i owns
    max(0, n_shingles_i - window + k) positions."""
    if window % k:
        raise ValueError("window must be a multiple of shingle_k")
    n_sub = window // k
    n_docs = len(shingle_starts) - 1
    total = len(shingle_flat)
    span = (n_sub - 1) * k  # index distance from first to last sub-shingle
    if total == 0 or total <= span:
        return np.empty(0, dtype=np.uint64), np.zeros(n_docs + 1, dtype=np.int64)
    m = total - span
    out = shingle_flat[:m].copy()
    with np.errstate(over="ignore"):
        for j in range(1, n_sub):
            np.multiply(out, _SHINGLE_MULT, out=out)
            np.add(out, shingle_flat[j * k : m + j * k], out=out)
        out = splitmix64_inplace(out)
    sh_lens = np.diff(shingle_starts)
    w_lens = np.maximum(sh_lens - span, 0)
    w_starts = np.zeros(n_docs + 1, dtype=np.int64)
    np.cumsum(w_lens, out=w_starts[1:])
    idx = np.repeat(shingle_starts[:-1], w_lens) + (
        np.arange(w_starts[-1]) - np.repeat(w_starts[:-1], w_lens)
    )
    return out[idx], w_starts


def window_fingerprints(
    token_hashes: np.ndarray, window: int, stride: int, k: int = 5
) -> tuple[np.ndarray, np.ndarray]:
    """Content-defined substring fingerprints for one doc.

    Computes the hash of every ``window``-token window (via k-gram shingle
    composition, see window_hashes_flat), then keeps only the
    *content-selected* positions where ``hash % stride == 0`` (expected 1 in
    ``stride`` windows). Selection depends on content alone — never on the
    window's absolute position — so an exact token run shared by two docs
    yields identical selected fingerprints in both, regardless of where the
    run sits. This is precisely the rabin content-defined-boundary trick
    (break when ``(fp & avg_mask) == break_patt``,
    /root/reference/rabin/rabin_dedup.c:664-666) applied to token streams;
    the downstream use (find long exact matches across docs) is the bsdiff
    long-match analog (/root/reference/bsdiff/bsdiff.c:221-254).

    An exact shared run of L tokens carries ~(L - window)/stride expected
    shared fingerprints; P(none) ≈ exp(-(L-window)/stride).
    """
    n = len(token_hashes)
    if n < window:
        return np.empty(0, dtype=np.uint64), np.empty(0, dtype=np.int64)
    sh = shingle_hashes(token_hashes, k)
    starts = np.array([0, len(sh)], dtype=np.int64)
    wh, _ = window_hashes_flat(sh, starts, k, window)
    sel = (wh % np.uint64(stride)) == 0
    pos = np.flatnonzero(sel).astype(np.int64)
    return wh[pos], pos


def _prefix_hashes(th: np.ndarray) -> np.ndarray:
    """Polynomial prefix hashes (mod 2**64): prefix[i] = h(th[0:i])."""
    n = len(th)
    out = np.empty(n + 1, dtype=np.uint64)
    out[0] = 0
    with np.errstate(over="ignore"):
        acc = np.uint64(0)
        # Horner accumulation is inherently sequential; do it in C via cumsum
        # trick: not expressible — loop, but this runs only on verify pairs.
        for i in range(n):
            acc = acc * _SHINGLE_MULT + th[i]
            out[i + 1] = acc
    return out


def _window_hash_all(th: np.ndarray, L: int, powL: np.uint64,
                     prefix: np.ndarray) -> np.ndarray:
    """Hashes of every L-window from prefix hashes:
    h[i..i+L) = prefix[i+L] - prefix[i] * MULT^L (mod 2**64). O(n)."""
    with np.errstate(over="ignore"):
        return prefix[L:] - prefix[:-L] * powL


def longest_common_run(th_a: np.ndarray, th_b: np.ndarray) -> int:
    """Exact length (in tokens) of the longest common contiguous token run
    between two token-hash sequences — the bsdiff longest-match search
    (/root/reference/bsdiff/bsdiff.c:221-254) without the suffix array:
    binary search on run length with O(n) rolling-hash probes, O(n log n)
    total. Hash-equality based (64-bit; both compared docs use the same
    function, so engine and oracle agree exactly)."""
    na, nb = len(th_a), len(th_b)
    hi = min(na, nb)
    if hi == 0:
        return 0
    th_a = th_a.astype(np.uint64, copy=False)
    th_b = th_b.astype(np.uint64, copy=False)
    pa, pb = _prefix_hashes(th_a), _prefix_hashes(th_b)

    def has_common(L: int) -> bool:
        with np.errstate(over="ignore"):
            powL = np.uint64(pow(int(_SHINGLE_MULT), L, 1 << 64))
        ha = _window_hash_all(th_a, L, powL, pa)
        hb = _window_hash_all(th_b, L, powL, pb)
        return bool(len(np.intersect1d(ha, hb)) > 0)

    lo, hi2 = 0, hi  # invariant: common run of length lo exists (0 always)
    while lo < hi2:
        mid = (lo + hi2 + 1) // 2
        if has_common(mid):
            lo = mid
        else:
            hi2 = mid - 1
    return lo


def _suffix_array_doubling(
    s: np.ndarray,
) -> tuple[np.ndarray, list[tuple[int, np.ndarray]]]:
    """Suffix array of an int64 rank sequence via prefix doubling
    (Manber–Myers — the same structure bsdiff builds with qsufsort,
    /root/reference/bsdiff/bsdiff.c:142-209, re-expressed as numpy sorts).
    Returns (sa, levels) where levels[t] = (L, rank_L) and rank_L[i] is
    the dense rank of the length-L prefix of suffix i, padded past the
    end with a -1 sentinel. Because real ranks are >= 0, rank_L[x] ==
    rank_L[y] for x != y implies BOTH suffixes have >= L real tokens and
    their first L tokens are equal (two distinct suffixes of one string
    can only pad at the same relative offset if they are the same
    suffix). O(n log n): one lexsort + one vectorized re-rank per
    doubling."""
    n = len(s)
    order = np.argsort(s, kind="stable")
    rank = np.empty(n, dtype=np.int64)
    vals = s[order]
    inc = np.zeros(n, dtype=np.int64)
    inc[1:] = vals[1:] != vals[:-1]
    rank[order] = np.cumsum(inc)
    levels = [(1, rank)]
    L = 1
    while rank[order[-1]] != n - 1:
        key2 = np.full(n, -1, dtype=np.int64)
        key2[: n - L] = rank[L:]
        order = np.lexsort((key2, rank))
        prev, cur = order[:-1], order[1:]
        new = np.empty(n, dtype=np.int64)
        new[order[0]] = 0
        diff = ((rank[cur] != rank[prev])
                | (key2[cur] != key2[prev])).astype(np.int64)
        new[cur] = np.cumsum(diff)
        rank = new
        L *= 2
        levels.append((L, rank))
    return order, levels


def lcs_suffix_array(th_a: np.ndarray, th_b: np.ndarray) -> int:
    """Exact length of the longest common contiguous token run via a
    LITERAL suffix array + LCP — the search structure the reference's
    bsdiff long-match uses (qsufsort build + longest-match walk,
    /root/reference/bsdiff/bsdiff.c:142-254), where longest_common_run
    replaces it with a rolling-hash binary search. Same contract and
    (collision-free, so always) the same answer; the two schemes are
    parity-tested identical and dispatched by
    DedupConfig.substring_verify.

    Method: dense-rank the union token alphabet starting at 1 and join
    the docs with a unique separator rank 0 (no common run can cross it,
    and no cross-doc suffix pair can be fully identical). Build the
    prefix-doubling rank tables once, then take the max LCP over
    SA-adjacent suffix pairs drawn from different docs — any cross-doc
    pair brackets an adjacent cross-doc pair with at least its LCP, so
    the adjacent scan is exhaustive. The LCP walk is vectorized over all
    adjacent cross pairs at once: one masked rank comparison per
    doubling level, high to low (binary decomposition of each LCP)."""
    na, nb = len(th_a), len(th_b)
    if na == 0 or nb == 0:
        return 0
    a = th_a.astype(np.uint64, copy=False)
    b = th_b.astype(np.uint64, copy=False)
    uniq = np.unique(np.concatenate([a, b]))
    s = np.empty(na + nb + 1, dtype=np.int64)
    s[:na] = np.searchsorted(uniq, a) + 1
    s[na] = 0
    s[na + 1:] = np.searchsorted(uniq, b) + 1
    sa, levels = _suffix_array_doubling(s)
    n = len(s)
    i, j = sa[:-1].astype(np.int64), sa[1:].astype(np.int64)
    side_i = np.sign(i - na)  # -1 = doc a, 0 = separator, 1 = doc b
    side_j = np.sign(j - na)
    cross = side_i * side_j == -1
    X = i[cross].copy()
    Y = j[cross].copy()
    if not len(X):
        return 0
    lcp = np.zeros(len(X), dtype=np.int64)
    for L, rk in reversed(levels):
        ok = np.flatnonzero((X < n) & (Y < n))
        if not len(ok):
            continue
        eq = ok[rk[X[ok]] == rk[Y[ok]]]
        if len(eq):
            X[eq] += L
            Y[eq] += L
            lcp[eq] += L
    return int(lcp.max())


def lcs_kernel(scheme: str):
    """Substring-verify scheme dispatch (DedupConfig.substring_verify):
    'rolling' -> longest_common_run (vectorized hash probes, the default
    and the shape the DuckDB oracle twin reproduces), 'suffix_array' ->
    lcs_suffix_array (the reference-literal structure). Parity-tested
    bit-identical outputs."""
    if scheme == "suffix_array":
        return lcs_suffix_array
    if scheme != "rolling":
        raise ValueError(f"unknown substring_verify scheme {scheme!r}")
    return longest_common_run


def tokens_to_hashes(text: str, max_token_chars: int = 64) -> np.ndarray:
    """Single-doc convenience: normalized token hashes for one raw text."""
    toks = normalize_one(text).split()
    if not toks:
        return np.empty(0, dtype=np.uint64)
    return hash_tokens(np.asarray(toks, dtype=np.str_), max_token_chars)




def signatures_flat_for_texts(texts: pd.Series, cfg) -> dict:
    """THE shared signature kernel in FLAT (values + offsets) form: one
    batch of raw doc texts -> a dict of flat numpy arrays

      n_tokens     int64[n]
      norm_bytes   list[bytes] (sha256 input per doc)
      sh_values    uint64[sum sh]   sh_offsets int64[n+1]
      mh           uint64[n, num_perm]
      simhash      uint64[n]
      wh_values    uint64[sum w]    wp_values uint64[sum w]
      w_offsets    int64[n+1]       (empty/zeros when substring disabled)

    This is the representation the Arrow-native signature UDFs consume:
    a pyarrow ListArray is exactly (values buffer, offsets buffer), so
    the flat form crosses the JVM boundary with ZERO per-row Python
    objects — the per-row list wrapping of the pandas form measured ~6 s
    of the 160k-conv signature stage (37%). signatures_for_texts below
    wraps this into the historical per-row pandas frame for the oracle
    and tests; values are identical by construction."""
    sub = getattr(cfg, "substring_enabled", False)
    norm_bytes, th_flat, starts = tokenize_hash_batch(texts, cfg.max_token_chars)
    lens = np.diff(starts)
    sh_flat, sh_starts = shingle_hashes_flat(th_flat, starts, cfg.shingle_k)
    _sets, sh_cat, sh_cat_starts = distinct_sorted_per_doc(sh_flat, sh_starts)
    mh = minhash_flat(
        sh_cat, sh_cat_starts, cfg.num_perm, cfg.seed,
        scheme=getattr(cfg, "minhash_scheme", "oph"),
    )
    simh = simhash_flat(
        sh_cat, sh_cat_starts, cfg.simhash_bits,
        sample_cap=getattr(cfg, "simhash_sample", 512),
    )
    out = {
        "n_tokens": lens,
        "norm_bytes": norm_bytes,
        "sh_values": sh_cat,
        "sh_offsets": sh_cat_starts,
        "mh": mh,
        "simhash": simh,
    }
    if sub:
        wh_flat, wh_starts = window_hashes_flat(
            sh_flat, sh_starts, cfg.shingle_k, cfg.substring_window
        )
        # one global flatnonzero + gather instead of a per-doc loop
        sel_idx = np.flatnonzero((wh_flat % np.uint64(cfg.substring_stride)) == 0)
        bounds = np.searchsorted(sel_idx, wh_starts)
        out["wh_values"] = wh_flat[sel_idx]
        out["wp_values"] = (
            sel_idx - np.repeat(wh_starts[:-1], np.diff(bounds))
        ).astype(np.uint64)
        out["w_offsets"] = bounds.astype(np.int64)
    else:
        n_docs = len(lens)
        out["wh_values"] = np.empty(0, dtype=np.uint64)
        out["wp_values"] = np.empty(0, dtype=np.uint64)
        out["w_offsets"] = np.zeros(n_docs + 1, dtype=np.int64)
    return out


def signatures_for_texts(texts: pd.Series, cfg) -> pd.DataFrame:
    """THE shared signature kernel: raw doc texts -> one row per doc with
    n_tokens, content_hash, shingles (sorted distinct int64 list), minhash
    (int64 list, len num_perm), simhash (int64), win_hashes/win_positions
    (int64 lists) when cfg.substring_enabled.

    uint64 values are reinterpreted as int64 (bit-preserving) for Spark
    LongType / Arrow compatibility. Per-row wrapper over
    signatures_flat_for_texts (one shared computation path)."""
    n_docs = len(texts)
    flat = signatures_flat_for_texts(texts, cfg)
    so = flat["sh_offsets"]
    sh_cat = flat["sh_values"].view(np.int64)
    out = pd.DataFrame(
        {
            "n_tokens": flat["n_tokens"],
            "content_hash": [
                hashlib.sha256(b).hexdigest() for b in flat["norm_bytes"]
            ],
            "shingles": [sh_cat[so[i]: so[i + 1]] for i in range(n_docs)],
            "minhash": list(flat["mh"].view(np.int64)),
            "simhash": flat["simhash"].view(np.int64),
        }
    )
    if getattr(cfg, "substring_enabled", False):
        wo = flat["w_offsets"]
        wh = flat["wh_values"].view(np.int64)
        wp = flat["wp_values"].view(np.int64)
        out["win_hashes"] = [wh[wo[i]: wo[i + 1]] for i in range(n_docs)]
        out["win_positions"] = [wp[wo[i]: wo[i + 1]] for i in range(n_docs)]
    return out


def arrow_list_array(values: np.ndarray, offsets: np.ndarray):
    """pyarrow list<int64> column from flat (values, offsets) — the
    zero-per-row-object bridge the Arrow signature UDFs use. Offsets are
    int32 per Arrow's list spec: fine for UDF batches
    (spark.sql.execution.arrow.maxRecordsPerBatch rows — far under 2^31
    values), NOT for whole-corpus arrays."""
    import pyarrow as pa

    return pa.ListArray.from_arrays(
        pa.array(offsets, type=pa.int32()),
        pa.array(values.view(np.int64), type=pa.int64()),
    )


def jaccard_sorted(a: np.ndarray, b: np.ndarray) -> float:
    """Exact Jaccard of two sorted-distinct arrays."""
    if len(a) == 0 and len(b) == 0:
        return 1.0
    if len(a) == 0 or len(b) == 0:
        return 0.0
    inter = len(np.intersect1d(a, b, assume_unique=True))
    return inter / (len(a) + len(b) - inter)


def minhash_est(sig_a: np.ndarray, sig_b: np.ndarray) -> float:
    """Estimated Jaccard = fraction of agreeing MinHash positions."""
    return float(np.mean(sig_a == sig_b))


def hamming64(a: int, b: int) -> int:
    return bin((int(a) & 0xFFFFFFFFFFFFFFFF) ^ (int(b) & 0xFFFFFFFFFFFFFFFF)).count("1")


def fold_dot(A: np.ndarray, B: np.ndarray) -> np.ndarray:
    """Left-fold float64 dot product, vectorized across rows.

    Accumulates ``acc = (acc + A[:, d] * B[d])`` for d = 0..dim-1 — the
    exact IEEE-754 operation sequence of the Catalyst
    ``aggregate(zip_with(a, b, *), 0.0, acc + x)`` fold and the DuckDB
    oracle's ``list_reduce(list_prepend(0.0, ...), (a, x) -> a + x)``
    (oracle_queries._FOLD_SUM), so results are bit-identical to the
    JVM-expression path it replaces, not merely close. B may be one vector
    (dim,) or a per-row matrix with A's shape.
    """
    n, dim = A.shape
    acc = np.zeros(n, dtype=np.float64)
    if B.ndim == 1:
        for d in range(dim):
            acc = acc + A[:, d] * B[d]
    else:
        for d in range(dim):
            acc = acc + A[:, d] * B[:, d]
    return acc


def fold_norm(A: np.ndarray) -> np.ndarray:
    """sqrt of the left-fold sum of squares — bit-exact twin of the
    ``sqrt(aggregate(transform(v, x*x), 0.0, acc + x))`` norm expression."""
    return np.sqrt(fold_dot(A, A))


def lsh_bucket_matrix(V: np.ndarray, planes: np.ndarray) -> np.ndarray:
    """Hyperplane-LSH buckets: (n, n_tables) int64 where bucket bit p of
    table t is ``fold_dot(V, planes[t, p]) >= 0`` — sign decisions use the
    same fold order as the JVM/DuckDB expressions (see fold_dot), so bucket
    assignments match the SQL oracle exactly."""
    n = V.shape[0]
    n_tables, n_planes, _ = planes.shape
    out = np.zeros((n, n_tables), dtype=np.int64)
    for t in range(n_tables):
        for p in range(n_planes):
            out[:, t] += (fold_dot(V, planes[t, p]) >= 0).astype(np.int64) << p
    return out


def lsh_bucket_alt_matrix(
    V: np.ndarray, planes: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """(buckets, alt_buckets) for multi-probe LSH: alt[t] flips the bucket
    bit of the LEAST-CONFIDENT plane — argmin |fold_dot| over the table's
    planes, first occurrence on ties (== the oracle's (abs(dot) ASC, p
    ASC) rank-1 rule). Same fold order as lsh_bucket_matrix, so both
    matrices match the SQL twin exactly."""
    n = V.shape[0]
    n_tables, n_planes, _ = planes.shape
    buckets = np.zeros((n, n_tables), dtype=np.int64)
    alts = np.zeros((n, n_tables), dtype=np.int64)
    dots = np.empty((n, n_planes), dtype=np.float64)
    for t in range(n_tables):
        for p in range(n_planes):
            dots[:, p] = fold_dot(V, planes[t, p])
            buckets[:, t] += (dots[:, p] >= 0).astype(np.int64) << p
        flip = np.argmin(np.abs(dots), axis=1)
        alts[:, t] = buckets[:, t] ^ (np.int64(1) << flip)
    return buckets, alts
