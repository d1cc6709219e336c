"""Pure-Python reference outputs for the document operators
(operators.dedup and operators.text).

Those operators are deterministic but not sanely SQL-expressible
(SimHash clustering, token counting).  For each, the *specification
implementation* — simple pure-Python loops sharing ``functions.hashing``
with nothing Spark about them (the same parity-by-construction approach
as ``mongo2neo_spark.oracle``) — computes the expected rows driver-side,
and the operator's tests compare the Spark result to them row for row.

No Spark imports here.  Inputs are a test's own parquet directory.
"""

from __future__ import annotations

from collections import defaultdict
from typing import List

from .functions import hashing


def simhash_cluster_rows(
    sf_dir: str,
    max_hamming: int = 3,
    bucket_cap: int = hashing.BAND_CAP,
) -> List[tuple]:
    """Expected (id, component) rows of
    operators.dedup.simhash_dedup_components on
    ``{sf_dir}/documents.parquet`` (doc_id, text): per-doc SimHash ->
    Manku t-of-b composite block keys (hashing.simhash_block_keys, the
    shared spec the Spark column expression mirrors) -> K3 bucket-cap
    drop -> exact hamming<=k verify -> min-id union-find.  The cap is
    replicated exactly, so parity holds on any input, drops included."""
    import pyarrow.parquet as pq

    t = pq.read_table(f"{sf_dir}/documents.parquet", columns=["doc_id", "text"])
    ids, texts = t["doc_id"].to_pylist(), t["text"].to_pylist()
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


def _oracle_token_count(text) -> int:
    """Replica of operators.text.token_count — the SAME explicit ASCII
    non-space class (Python's Unicode `\\S` would over-split on NBSP
    etc. relative to Java's ASCII `\\s`, see ASCII_NONSPACE_PATTERN)."""
    import re

    return len(re.findall("[^ \t\n\x0B\f\r]+", text or ""))
