"""Pure-Python reference outputs for the document-curation operators
(operators.dedup/text, plans.curation).

Those operators are deterministic but not sanely SQL-expressible
(MinHash-LSH clustering, SimHash).  For each, the
*specification implementation* — simple pure-Python loops sharing
``functions.hashing`` with nothing Spark about them (the same
parity-by-construction approach as ``mongo2neo_spark.oracle``) —
computes the expected rows driver-side, and the operator's tests compare
the Spark result to them row for row.

No Spark imports here.  Inputs are the sf0.01 testdata parquet (override
with $SPARK_GRAFT_ORACLE_SF_DIR) or a test's own parquet directory.
"""

from __future__ import annotations

import os
from collections import defaultdict
from typing import List, Tuple

from .functions import hashing

ORACLE_SF_DIR = os.environ.get(
    "SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01"
)


def _read_docs(sf_dir: str | None = None) -> Tuple[List[int], List[str]]:
    import pyarrow.parquet as pq

    t = pq.read_table(
        f"{sf_dir or ORACLE_SF_DIR}/documents.parquet",
        columns=["doc_id", "text"],
    )
    return t["doc_id"].to_pylist(), t["text"].to_pylist()



def _word_shingles(text: str, n: int = 3) -> frozenset:
    # mirrors operators.dedup._word_shingles (no Spark import allowed here)
    toks = (text or "").split()
    if len(toks) < n:
        return frozenset((" ".join(toks),)) if toks else frozenset()
    return frozenset(" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1))



def _jaccard(a: frozenset, b: frozenset) -> float:
    u = len(a | b)
    return len(a & b) / u if u else 1.0



def minhash_cluster_rows(
    threshold: float = 0.5,
    band_cap: int = hashing.BAND_CAP,
    sf_dir: str | None = None,
    docs: tuple | None = None,
) -> List[tuple]:
    """Expected (id, component) rows of
    operators.dedup.minhash_dedup_components on the documents table:
    word-3-shingle MinHash -> LSH bands (capped) -> candidate pairs ->
    hashed-shingle-set jaccard verify -> min-id union-find.

    The verify runs on the DISTINCT crc32%P hash set of each document's
    shingles — exactly what the Spark paths compute (dedup
    .shingle_hash_col / _shingle_jaccard_udf), so parity holds
    bit-for-bit, crc collisions included.

    ``docs`` = (ids, texts) overrides the table read (used by the
    curation-pipeline oracle, which runs this on the exact-dedup
    survivors only)."""
    ids, texts = docs if docs is not None else _read_docs(sf_dir)
    shingles = {int(i): _word_shingles(t) for i, t in zip(ids, texts)}
    hsets = {
        i: frozenset(hashing.token_hash(s) for s in sh)
        for i, sh in shingles.items()
    }
    buckets: dict = defaultdict(list)
    for i in sorted(shingles):
        sig = hashing.minhash_signature(shingles[i])
        for bk in hashing.band_keys(sig):
            buckets[bk].append(i)
    parent = {i: i for i in shingles}

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    pairs = set()
    for bk, members in buckets.items():
        if len(members) > band_cap:
            continue  # K3 hot-band drop, same rule as the Spark path
        for ai in range(len(members)):
            for bi in range(ai + 1, len(members)):
                pairs.add((members[ai], members[bi]))
    for a, b in sorted(pairs):
        if _jaccard(hsets[a], hsets[b]) >= threshold:
            ra, rb = find(a), find(b)
            if ra != rb:
                lo, hi = (ra, rb) if ra < rb else (rb, ra)
                parent[hi] = lo
    return [(i, find(i)) for i in sorted(shingles)]



def simhash_cluster_rows(
    max_hamming: int = 3,
    bucket_cap: int = hashing.BAND_CAP,
    sf_dir: str | None = None,
) -> List[tuple]:
    """Expected (id, component) rows of
    operators.dedup.simhash_dedup_components: per-doc SimHash ->
    Manku t-of-b composite block keys (hashing.simhash_block_keys, the
    shared spec the Spark column expression mirrors) -> K3 bucket-cap
    drop -> exact hamming<=k verify -> min-id union-find.  The cap is
    replicated exactly, so parity holds on any input, drops included."""
    ids, texts = _read_docs(sf_dir)
    hs = {int(i): hashing.simhash((t or "").split()) for i, t in zip(ids, texts)}
    buckets: dict = defaultdict(list)
    for i in sorted(hs):
        for bk in hashing.simhash_block_keys(hs[i], max_hamming):
            buckets[bk].append(i)
    parent = {i: i for i in hs}

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    pairs = set()
    for members in buckets.values():
        if len(members) > bucket_cap:
            continue  # K3, same rule as the Spark path
        for ai in range(len(members)):
            for bi in range(ai + 1, len(members)):
                pairs.add((members[ai], members[bi]))
    for a, b in sorted(pairs):
        if bin(hs[a] ^ hs[b]).count("1") <= max_hamming:
            ra, rb = find(a), find(b)
            if ra != rb:
                lo, hi = (ra, rb) if ra < rb else (rb, ra)
                parent[hi] = lo
    return [(i, find(i)) for i in sorted(hs)]



def curation_survivor_rows(
    threshold: float = 0.5,
    band_cap: int = hashing.BAND_CAP,
    sf_dir: str | None = None,
) -> List[int]:
    """doc_ids surviving the curation pipeline's dedup stages (exact ->
    minhash near-dup), BEFORE the quality/lang filter — the filter is
    SQL-expressible and applied in the rendered oracle query, reusing
    the exact quality/lang SQL the green per-operator entries already
    validate.

    Exact: min doc_id per identical text.  Near-dup: min id per minhash
    cluster over the exact survivors (same replica as
    :func:`minhash_cluster_rows`)."""
    ids, texts = _read_docs(sf_dir)
    first: dict = {}
    for i, t in sorted(zip(ids, texts)):
        first.setdefault(t, int(i))
    exact_ids = sorted(first.values())
    by_id = dict(zip((int(i) for i in ids), texts))
    comp = minhash_cluster_rows(
        threshold, band_cap, docs=(exact_ids, [by_id[i] for i in exact_ids])
    )
    survivors: dict = {}
    for i, c in comp:
        survivors[c] = min(survivors.get(c, i), i)
    return sorted(survivors.values())



def _oracle_token_count(text) -> int:
    """Replica of operators.text.token_count — the SAME explicit ASCII
    non-space class (Python's Unicode `\\S` would over-split on NBSP
    etc. relative to Java's ASCII `\\s`, see ASCII_NONSPACE_PATTERN)."""
    import re

    return len(re.findall("[^ \t\n\x0B\f\r]+", text or ""))
