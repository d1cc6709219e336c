"""Shared extraction rules — the single specification imported by BOTH the
Spark pipeline (inside Arrow-batched pandas UDFs) and the pure-Python
reference oracle (``mongo2neo_spark.oracle``), so triple-set parity is by
construction and then *verified* by test (SURVEY.md §5.1).

The reference (DongGYFSu/mongo2neo; empty checkout — BASELINE.json is the
binding spec) maps documents to nodes and membership arrays to typed edges;
here the analogous rules map a conversation turn's text to entity mentions
and (subj, pred, obj) triples.

Everything in this module is deterministic pure Python / stdlib — no Spark,
no numpy — so it can run inside executors and in the oracle identically.
"""

from __future__ import annotations

import re
from typing import List, NamedTuple, Tuple

# ---------------------------------------------------------------------------
# mention detection (U1 spec)
# ---------------------------------------------------------------------------
# A mention is a maximal run of Capitalized tokens (letters/digits, first
# char uppercase), e.g. "Alice Smith", "Acme Corp", "Berlin".
MENTION_RE = re.compile(r"(?:\b[A-Z][A-Za-z0-9]*)(?:[ ][A-Z][A-Za-z0-9]*)*")

# predicates recognized between two adjacent mentions (U2 spec);
# matched on the *normalized* inter-mention gap text.
PREDICATES: Tuple[str, ...] = (
    "works at",
    "lives in",
    "uses",
    "created",
    "acquired",
    "met with",
    "reports to",
    "collaborates with",
    "depends on",
    "located in",
)
PREDICATE_SET = frozenset(PREDICATES)

# pairwise link-score threshold on char-3-gram jaccard (U4 spec)
LINK_THRESHOLD = 0.5

# kind heuristic suffix tables (shared with the fixture generator)
ORG_SUFFIXES = ("corp", "inc", "labs", "gmbh", "ltd")
PLACE_NAMES = frozenset(
    {
        "berlin",
        "paris",
        "tokyo",
        "austin",
        "oslo",
        "lima",
        "cairo",
        "delhi",
        "quito",
        "seoul",
    }
)
TOOL_PREFIX = "tool"


class Mention(NamedTuple):
    span_start: int
    span_end: int
    surface: str
    norm: str
    kind: str


class RawTriple(NamedTuple):
    subj_idx: int
    pred: str
    obj_idx: int


def normalize(surface: str) -> str:
    """Canonical norm of a surface form: lowercase, collapsed whitespace."""
    return " ".join(surface.lower().split())


def infer_kind(norm: str) -> str:
    toks = norm.split()
    if toks and toks[-1] in ORG_SUFFIXES:
        return "org"
    if len(toks) == 1 and toks[0] in PLACE_NAMES:
        return "place"
    if len(toks) == 1 and toks[0].startswith(TOOL_PREFIX):
        return "tool"
    if len(toks) == 2:
        return "person"
    return "artifact"


def extract_mentions(text: str) -> List[Mention]:
    """All maximal capitalized-run mentions in a turn's text, in order."""
    out: List[Mention] = []
    if not text:
        return out
    for m in MENTION_RE.finditer(text):
        surface = m.group(0)
        norm = normalize(surface)
        out.append(Mention(m.start(), m.end(), surface, norm, infer_kind(norm)))
    return out


def extract_triples(text: str, mentions: List[Mention]) -> List[RawTriple]:
    """(subj, pred, obj) triples: adjacent mention pairs whose normalized
    gap text is exactly a known predicate."""
    out: List[RawTriple] = []
    for i in range(len(mentions) - 1):
        a, b = mentions[i], mentions[i + 1]
        gap = normalize(text[a.span_end : b.span_start].strip(" .,;:!?"))
        if gap in PREDICATE_SET:
            out.append(RawTriple(i, gap, i + 1))
    return out


# ---------------------------------------------------------------------------
# pairwise link scoring (U4 spec)
# ---------------------------------------------------------------------------
def char_ngrams(norm: str, n: int = 3) -> frozenset:
    """Char n-gram shingle set of a norm, padded so short strings work."""
    padded = f"^{norm}$"
    if len(padded) <= n:
        return frozenset((padded,))
    return frozenset(padded[i : i + n] for i in range(len(padded) - n + 1))


def pair_score(norm_a: str, norm_b: str) -> float:
    """Exact jaccard similarity on char-3-gram sets (0.0 .. 1.0)."""
    return jaccard(char_ngrams(norm_a), char_ngrams(norm_b))


def jaccard(a: frozenset, b: frozenset) -> float:
    """:func:`pair_score` over precomputed :func:`char_ngrams` sets."""
    if not a or not b:
        return 0.0
    inter = len(a & b)
    return inter / (len(a) + len(b) - inter)
