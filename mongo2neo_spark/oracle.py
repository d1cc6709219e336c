"""Pure-Python specification oracle (SURVEY.md §5.1).

This is "the reference's emitted triple set" for P/R scoring: a simple,
loop-based implementation of the exact same pipeline semantics —
dedup → mention/triple extraction → MinHash-LSH linking →
connected-components canonicalization → canonical-name election →
distinct (subj, pred, obj) set, node rows and weighted edge rows.

It shares ``rules`` and ``functions.hashing`` with the Spark pipeline, so
parity is by construction; the tests then *verify* it (never assume).
No Spark imports here — this must run standalone.
"""

from __future__ import annotations

from collections import Counter, defaultdict
from typing import Dict, Iterable, List, Sequence, Set, Tuple

from . import rules
from .functions import hashing


def _dedup_key(row) -> tuple:
    # deterministic survivor election: same total order the Spark side uses
    # (min over struct(role, text, tool, ts) — asc, nulls first)
    return tuple((v is not None, v) for v in (row.role, row.text, row.tool, row.ts))


def dedup_turns(rows: Sequence) -> List:
    """Exactly one row per (conv_id, turn_idx): the min row under the
    deterministic survivor order, among the rows that pass ingest's
    validity filter (mirrors operators/ingest.py)."""
    best: Dict[Tuple[str, int], object] = {}
    for r in rows:
        if r.conv_id is None or r.turn_idx is None or not r.text:
            continue
        k = (r.conv_id, r.turn_idx)
        if k not in best or _dedup_key(r) < _dedup_key(best[k]):
            best[k] = r
    return [best[k] for k in sorted(best)]


def extract(rows: Sequence) -> Tuple[List[dict], List[dict]]:
    """Per-turn mention + raw-triple extraction via the shared rules."""
    mentions: List[dict] = []
    raw_triples: List[dict] = []
    for r in rows:
        ms = rules.extract_mentions(r.text or "")
        for m in ms:
            mentions.append(
                dict(conv_id=r.conv_id, turn_idx=r.turn_idx,
                     span_start=m.span_start, span_end=m.span_end,
                     surface=m.surface, norm=m.norm, kind=m.kind)
            )
        for t in rules.extract_triples(r.text or "", ms):
            raw_triples.append(
                dict(conv_id=r.conv_id, turn_idx=r.turn_idx,
                     subj_norm=ms[t.subj_idx].norm, pred=t.pred,
                     obj_norm=ms[t.obj_idx].norm)
            )
    return mentions, raw_triples


def lsh_buckets(norms: Iterable[str]) -> Dict[str, List[str]]:
    """MinHash-LSH band key -> the *distinct* norms (sorted) that have it,
    with the same signatures and band keys the Spark path uses."""
    buckets: Dict[str, List[str]] = defaultdict(list)
    for n in sorted(set(norms)):
        sig = hashing.minhash_signature(rules.char_ngrams(n))
        for bk in hashing.band_keys(sig):
            buckets[bk].append(n)
    return buckets


def candidate_pairs(norms: Iterable[str],
                    band_cap: int = hashing.BAND_CAP) -> Set[Tuple[str, str]]:
    """Every pair of norms that shares a band of at most ``band_cap``
    norms (the Spark path's band-size cap)."""
    pairs: Set[Tuple[str, str]] = set()
    for members in lsh_buckets(norms).values():
        if len(members) > band_cap:
            continue  # K3 hot-band drop (same rule as Spark side)
        for i in range(len(members)):
            for j in range(i + 1, len(members)):
                pairs.add((members[i], members[j]))
    return pairs


def link_components(norms: Iterable[str]) -> Dict[str, str]:
    """norm -> component representative (lexicographic min norm), via
    union-find over scored candidate pairs."""
    norms = sorted(set(norms))
    parent: Dict[str, str] = {n: n for n in norms}

    def find(x: str) -> str:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in sorted(candidate_pairs(norms)):
        if rules.pair_score(a, b) >= rules.LINK_THRESHOLD:
            ra, rb = find(a), find(b)
            if ra != rb:
                lo, hi = (ra, rb) if ra < rb else (rb, ra)
                parent[hi] = lo
    return {n: find(n) for n in norms}


def canonical_names(mentions: Sequence[dict],
                    comp: Dict[str, str]) -> Dict[str, str]:
    """Component representative -> canonical name: the most frequent norm
    (by mention count) in the component, ties broken lexicographically."""
    counts: Dict[str, Counter] = defaultdict(Counter)
    for m in mentions:
        counts[comp[m["norm"]]][m["norm"]] += 1
    out: Dict[str, str] = {}
    for rep, ctr in counts.items():
        best = min(ctr.items(), key=lambda kv: (-kv[1], kv[0]))
        out[rep] = best[0]
    return out


def _resolved(rows: Sequence):
    """Deduplicated rows, their mentions and raw triples, and norm ->
    canonical entity."""
    rows = dedup_turns(rows)
    mentions, raw = extract(rows)
    comp = link_components([m["norm"] for m in mentions])
    canon = canonical_names(mentions, comp)
    return rows, mentions, raw, {n: canon[c] for n, c in comp.items()}


def pipeline_triples(rows: Sequence) -> Set[Tuple[str, str, str]]:
    """End-to-end: transcript rows -> distinct canonical (subj, pred, obj)."""
    return {e[:3] for e in edges(rows, max_provenance=0)}


def edges(rows: Sequence, max_provenance: int) -> List[tuple]:
    """End-to-end: transcript rows -> sorted edge rows (subj, pred, obj,
    weight, provenance), one per canonical triple.  The weight counts its
    raw triple occurrences; the provenance is the first
    ``max_provenance`` of their sorted (conv_id, turn_idx), repeats kept."""
    _, _, raw, entity = _resolved(rows)
    occurrences: Dict[tuple, list] = defaultdict(list)
    for t in raw:
        key = (entity[t["subj_norm"]], t["pred"], entity[t["obj_norm"]])
        occurrences[key].append((t["conv_id"], t["turn_idx"]))
    return sorted((*key, len(occ), sorted(occ)[:max_provenance])
                  for key, occ in occurrences.items())


def nodes(rows: Sequence) -> List[tuple]:
    """End-to-end: transcript rows -> sorted node rows (entity, kind,
    n_mentions, first_ts, last_ts), one per canonical entity.  The kind is
    the one with the most mentions, ties to the smaller kind; first/last
    are the min/max timestamp of the mentioning turns, skipping nulls."""
    rows, mentions, _, entity = _resolved(rows)
    ts = {(r.conv_id, r.turn_idx): r.ts for r in rows}
    by_entity: Dict[str, list] = defaultdict(list)
    for m in mentions:
        by_entity[entity[m["norm"]]].append(
            (m["kind"], ts[(m["conv_id"], m["turn_idx"])]))
    out = []
    for entity_name, ms in by_entity.items():
        kinds = Counter(k for k, _ in ms)
        stamps = [t for _, t in ms if t is not None]
        out.append((entity_name, min(kinds, key=lambda k: (-kinds[k], k)),
                    len(ms), min(stamps, default=None), max(stamps, default=None)))
    return sorted(out)


def precision_recall(ours: Set[tuple], ref: Set[tuple]) -> Tuple[float, float]:
    if not ours or not ref:
        return (0.0, 0.0)
    tp = len(ours & ref)
    return (tp / len(ours), tp / len(ref))
