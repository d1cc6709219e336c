"""Deterministic hash families shared by the Spark pipeline (vectorized,
numpy, inside Arrow-batched pandas UDFs) and the pure-Python oracle.

MinHash: h_i(x) = (a_i * x + b_i) mod P with P = 2^31 - 1 (Mersenne),
token base hash = crc32(token) mod P.  a_i * x <= 2^62 so the whole
computation stays inside int64 — safe for numpy vectorization.

Fixed seed ⇒ the Spark path and the oracle produce *identical* signatures,
bands, and candidate pairs (SURVEY.md §5.1 parity-by-construction).
"""

from __future__ import annotations

import zlib
from typing import Dict, Iterable, List, Sequence

import numpy as np

MERSENNE_P = 2_147_483_647  # 2^31 - 1
NUM_HASHES = 24
LSH_BANDS = 12
LSH_ROWS = NUM_HASHES // LSH_BANDS  # 2 rows per band: high recall at τ≈0.5
BAND_CAP = 1_000  # K3: max distinct norms per band key before the band is dropped
_SEED = 42

_rng = np.random.default_rng(_SEED)
HASH_A = _rng.integers(1, MERSENNE_P, size=NUM_HASHES, dtype=np.int64)
HASH_B = _rng.integers(0, MERSENNE_P, size=NUM_HASHES, dtype=np.int64)


def token_hash(token: str) -> int:
    """Stable 31-bit base hash of a shingle token."""
    return zlib.crc32(token.encode("utf-8")) % MERSENNE_P


def minhash_signature(tokens: Iterable[str]) -> List[int]:
    """Pure-Python MinHash signature of a token set (oracle path)."""
    xs = np.fromiter((token_hash(t) for t in tokens), dtype=np.int64)
    if xs.size == 0:
        return [int(MERSENNE_P)] * NUM_HASHES
    sig = ((HASH_A[:, None] * xs[None, :] + HASH_B[:, None]) % MERSENNE_P).min(axis=1)
    return [int(v) for v in sig]


def minhash_signatures_batch(token_sets: Sequence[Iterable[str]]) -> np.ndarray:
    """Vectorized batch MinHash (Spark pandas-UDF path).

    One flattened hash matrix + ``minimum.reduceat`` per batch instead of a
    Python loop per row — this is what keeps the UDF Arrow-batch-shaped.
    Returns an (n, NUM_HASHES) int64 array; empty token sets get MERSENNE_P.
    """
    if len(token_sets) == 0:
        return np.empty((0, NUM_HASHES), dtype=np.int64)
    flat: List[int] = []
    offsets: List[int] = []
    empties: List[int] = []
    for i, toks in enumerate(token_sets):
        offsets.append(len(flat))
        n0 = len(flat)
        flat.extend(token_hash(t) for t in toks)
        if len(flat) == n0:
            empties.append(i)
            flat.append(0)  # placeholder; overwritten below
    xs = np.asarray(flat, dtype=np.int64)
    h = (HASH_A[:, None] * xs[None, :] + HASH_B[:, None]) % MERSENNE_P  # (k, M)
    sig = np.minimum.reduceat(h, np.asarray(offsets, dtype=np.int64), axis=1).T
    if empties:
        sig[np.asarray(empties)] = MERSENNE_P
    return sig


def band_keys(sig: Sequence[int]) -> List[str]:
    """LSH band keys of a signature: one string key per band.

    String keys (not re-hashed ints) so band grouping is collision-free and
    bit-identical between the Spark path and the oracle.
    """
    return [
        f"{b}:" + ":".join(str(int(v)) for v in sig[b * LSH_ROWS : (b + 1) * LSH_ROWS])
        for b in range(LSH_BANDS)
    ]


# ---------------------------------------------------------------------------
# SimHash (near-dup detection over documents)
# ---------------------------------------------------------------------------
SIMHASH_BITS = 64
# crc32 of each token, memoized for simhash_batch
_RAW_CRC_MEMO: Dict[str, int] = {}
# per-Python-worker cap: bounds memo memory even on unbounded-vocabulary
# corpora (the memo is an accelerator, not a correctness dependency —
# misses just recompute the crc)
_MEMO_CAP = 1_000_000


def simhash(tokens: Iterable[str]) -> int:
    """64-bit SimHash over a token multiset (crc32-seeded splitmix64 bits)."""
    acc = np.zeros(SIMHASH_BITS, dtype=np.int64)
    n = 0
    for t in tokens:
        n += 1
        h = _splitmix64(zlib.crc32(t.encode("utf-8")))
        bits = (h >> np.arange(SIMHASH_BITS, dtype=np.uint64)) & np.uint64(1)
        acc += np.where(bits.astype(np.int64) == 1, 1, -1)
    if n == 0:
        return 0
    out = 0
    for i in range(SIMHASH_BITS):
        if acc[i] > 0:
            out |= 1 << i
    return out


def simhash_batch(token_lists: Sequence[Sequence[str]]) -> np.ndarray:
    """Vectorized batch :func:`simhash` (Spark pandas-UDF path): one
    flattened (M, 64) bit matrix + ``add.reduceat`` per batch instead of
    per-token numpy calls.  Token multisets (duplicates count), crc32
    memoized; returns int64 two's-complement values, bit-identical to
    the scalar spec (property-tested)."""
    n = len(token_lists)
    out = np.zeros(n, dtype=np.int64)
    if n == 0:
        return out
    flat: List[int] = []
    offsets = np.empty(n, dtype=np.int64)
    empties = []
    crc = zlib.crc32
    local = _RAW_CRC_MEMO
    total = 0
    for i, toks in enumerate(token_lists):
        offsets[i] = total
        cnt = 0
        for t in toks:
            h = local.get(t)
            if h is None:
                h = crc(t.encode("utf-8"))
                if len(local) < _MEMO_CAP:
                    local[t] = h
            flat.append(h)
            cnt += 1
        if cnt == 0:
            empties.append(i)
            flat.append(0)  # placeholder row; zeroed below
            cnt = 1
        total += cnt
    with np.errstate(over="ignore"):
        z = np.asarray(flat, dtype=np.uint64) + np.uint64(0x9E3779B97F4A7C15)
        z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        h64 = z ^ (z >> np.uint64(31))
    bits = (
        (h64[:, None] >> np.arange(SIMHASH_BITS, dtype=np.uint64)) & np.uint64(1)
    ).astype(np.int64)
    signs = 2 * bits - 1  # (M, 64) of ±1
    acc = np.add.reduceat(signs, offsets, axis=0)  # (n, 64)
    pos = acc > 0
    if empties:
        pos[np.asarray(empties)] = False  # spec: empty token list -> 0
    weights = (np.uint64(1) << np.arange(SIMHASH_BITS, dtype=np.uint64))
    packed = (pos.astype(np.uint64) * weights).sum(axis=1, dtype=np.uint64)
    return packed.astype(np.int64)  # two's-complement int64 per value


def simhash_block_plan(max_hamming: int = 3):
    """Manku-style t-of-b blocking plan for SimHash hamming search
    ("Detecting Near-Duplicates for Web Crawling", WWW 2007 — the
    published fix for chunk-banding's tiny key space).

    Split the 64 bits into ``b`` nearly-equal blocks and key each
    blocking table on a COMBINATION of ``m`` whole blocks.  If
    ham(x, y) <= k, the differing bits touch at most k blocks, leaving
    >= b - k blocks identical — so with b = k + m, at least one
    m-block combination is bit-identical between the two hashes
    (pigeonhole), and every qualifying pair shares at least one of the
    C(b, m) composite keys.  Completeness is structural; no pair is
    missed (before the hot-bucket cap).

    Key-space math (the round-3 scale defect this replaces): 4x16-bit
    chunk keys have <= 4 * 2^16 = 262,144 distinct values TOTAL, so at
    10^10 docs the AVERAGE bucket holds ~38k docs and the bucket
    self-join is quadratic by construction.  Here k=3 gives b=6 blocks
    of 10-11 bits; each of the C(6,3)=20 tables is keyed on ~32 bits of
    hash (≈4.3e9 distinct values per table) — uniform SimHash bits put
    ~n/2^32 docs in an average bucket, linear join work at any corpus
    size, with the K3 cap+audit backstopping adversarial skew.

    For k > 6 the combo count C(k+3, 3) gets large, so fall back to the
    classic single-block pigeonhole (b = k+1 tables keyed on one block
    each) — correct but small-keyed; the design-scale guarantee is for
    the published k <= 6 regime.

    Returns (widths, offsets, combos): per-block bit widths/offsets and
    the list of block-index tuples, one blocking table per combo."""
    from itertools import combinations

    m = 3 if max_hamming <= 6 else 1
    b = max_hamming + m
    widths = [(SIMHASH_BITS // b) + (1 if i < (SIMHASH_BITS % b) else 0)
              for i in range(b)]
    offsets = [sum(widths[:i]) for i in range(b)]
    return widths, offsets, list(combinations(range(b), m))


def simhash_block_keys(h_u64: int, max_hamming: int = 3) -> List[int]:
    """Pure-Python spec of the composite block keys for one unsigned
    64-bit SimHash: key_ci = ci*2^48 + sum(block_value[lane]*2^(16*lane)).
    Lanes never overlap (block width <= 16 for every b >= 4) and
    ci < C(b, m) < 2^15, so each key is a non-negative int64.  The Spark
    column mirror is operators.dedup.simhash_block_keys_col (equality
    property-tested)."""
    widths, offsets, combos = simhash_block_plan(max_hamming)
    keys = []
    for ci, combo in enumerate(combos):
        v = ci << 48
        for lane, bi in enumerate(combo):
            blk = (h_u64 >> offsets[bi]) & ((1 << widths[bi]) - 1)
            v += blk << (16 * lane)
        keys.append(v)
    return keys


def _splitmix64(x: int) -> np.uint64:
    # mod-2^64 wraparound is the definition of splitmix64, not an error
    with np.errstate(over="ignore"):
        z = np.uint64(x) + np.uint64(0x9E3779B97F4A7C15)
        z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        return z ^ (z >> np.uint64(31))


# ---------------------------------------------------------------------------
# rolling-hash document fingerprint (winnowing-lite)
# ---------------------------------------------------------------------------
FP_WINDOW = 8
FP_BASE = 257
FP_MOD = MERSENNE_P


_FP_POWS = np.array(
    [pow(FP_BASE, FP_WINDOW - 1 - j, FP_MOD) for j in range(FP_WINDOW)],
    dtype=np.int64,
)


def rolling_fingerprints_batch(texts) -> np.ndarray:
    """Vectorized batch of :func:`rolling_fingerprint` (Spark pandas-UDF
    path): each FP_WINDOW-gram hash is a dot product of the byte window
    with precomputed (mod-P) base powers, so the per-document work is
    FP_WINDOW shifted multiply-adds over a numpy array instead of a
    Python loop per character.  Bit-identical to the scalar spec
    (terms stay < 2^42, far inside int64; property-tested equal)."""
    out = np.empty(len(texts), dtype=np.int64)
    for k, t in enumerate(texts):
        data = np.frombuffer(
            (t or "").encode("utf-8", "ignore"), dtype=np.uint8
        ).astype(np.int64)
        n = data.size
        if n == 0:
            out[k] = 0
        elif n <= FP_WINDOW:
            h = 0
            for c in data:
                h = (h * FP_BASE + int(c)) % FP_MOD
            out[k] = h
        else:
            m = n - FP_WINDOW + 1
            acc = np.zeros(m, dtype=np.int64)
            for j in range(FP_WINDOW):
                acc += data[j : m + j] * _FP_POWS[j]
            out[k] = int((acc % FP_MOD).min())
    return out


def rolling_fingerprint(text: str) -> int:
    """Deterministic polynomial rolling-hash fingerprint of a document:
    min hash over all FP_WINDOW-char windows (robust to local edits)."""
    if not text:
        return 0
    data = text.encode("utf-8", "ignore")
    if len(data) <= FP_WINDOW:
        h = 0
        for c in data:
            h = (h * FP_BASE + c) % FP_MOD
        return h
    best = FP_MOD
    h = 0
    power = pow(FP_BASE, FP_WINDOW - 1, FP_MOD)
    for i, c in enumerate(data):
        if i >= FP_WINDOW:
            h = (h - data[i - FP_WINDOW] * power) % FP_MOD
        h = (h * FP_BASE + c) % FP_MOD
        if i >= FP_WINDOW - 1 and h < best:
            best = h
    return best


# ---------------------------------------------------------------------------
# per-window token-gram fingerprints (exact substring dedup)
# ---------------------------------------------------------------------------
# polynomial base for combining per-token hashes into a window
# fingerprint; deliberately distinct from FP_BASE (char-level rolling
# hash) so token-gram and char-window fingerprints never alias
TOKEN_FP_BASE = 1_000_003


def token_window_fps_batch(texts, k: int):
    """For each text: the int64 fingerprint of EVERY k-token window
    (index j = window starting at 0-based token j; texts with < k
    tokens get an empty list).

    fp(j) = sum_{l<k} token_hash(tok[j+l]) * TOKEN_FP_BASE^(k-1-l)
            mod MERSENNE_P

    — a pure CANDIDATE key for the substring-dedup group-by (exact
    string verify downstream kills fp collisions), computed with k
    shifted multiply-adds over one numpy array per document (the
    rolling_fingerprints_batch vectorization, kept O(n*k/simd) instead
    of a per-window Python loop).  token_hash calls are memoized per
    batch — natural text repeats tokens constantly."""
    pows = [pow(TOKEN_FP_BASE, k - 1 - j, MERSENNE_P) for j in range(k)]
    memo: dict = {}
    out = []
    for t in texts:
        toks = (t or "").split()
        n = len(toks)
        if n < k:
            out.append([])
            continue
        hs = np.empty(n, dtype=np.int64)
        for i, tok in enumerate(toks):
            h = memo.get(tok)
            if h is None:
                h = memo[tok] = token_hash(tok)
            hs[i] = h
        m = n - k + 1
        acc = np.zeros(m, dtype=np.int64)
        # each term < 2^31 * 2^31 = 2^62 and acc < P before the add, so
        # the running sum stays far inside int64; mod after every step
        for j in range(k):
            acc = (acc + hs[j : m + j] * pows[j]) % MERSENNE_P
        out.append([int(v) for v in acc])
    return out
