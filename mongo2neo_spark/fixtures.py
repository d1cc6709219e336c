"""Deterministic synthetic transcript generator (FIXTURES.md §A).

Produces the contract input table (conv_id, turn_idx, role, text, tool, ts)
with Zipf-hot conversation sizes (so skew handling is actually
exercised), entity surface forms with alias/misspelling variants (so the
MinHash/LSH linking stage has real work to do), and predicate sentences
drawn from the shared rule module.

Everything derives from ``random.Random(seed)`` — same seed, same bytes.
No external data (driver contract: synthesize deterministically).
"""

from __future__ import annotations

import datetime as dt
import random
from typing import List, NamedTuple, Optional, Tuple

from . import rules

_SYLLABLES = [
    "ka", "ve", "lo", "ri", "ta", "mu", "zen", "bar", "nis", "or",
    "pel", "dra", "quo", "fim", "sul", "gar", "hex", "jor", "wyn", "ced",
]
_ORG_SUFFIX_SURFACES = ["Corp", "Inc", "Labs", "Gmbh", "Ltd"]
_PLACE_SURFACES = [p.capitalize() for p in sorted(rules.PLACE_NAMES)]
_FILLERS = [
    "the result looks fine so far .",
    "ok let me check the logs again .",
    "that query returned nothing useful .",
    "we should retry with a larger batch .",
    "sounds good , moving on to the next step .",
    "hmm , the numbers do not add up yet .",
]
_TOOLS = ["search", "code", "browse"]

KINDS = ("person", "org", "tool", "place", "artifact")


class Entity(NamedTuple):
    entity_id: str
    kind: str
    surfaces: Tuple[str, ...]  # surfaces[0] is canonical


class Turn(NamedTuple):
    conv_id: str
    turn_idx: int
    role: str
    text: str
    tool: Optional[str]
    ts: dt.datetime


def _name_token(rng: random.Random, n_syll: int = 3) -> str:
    s = "".join(rng.choice(_SYLLABLES) for _ in range(n_syll))
    return s.capitalize()


def _perturb(rng: random.Random, token: str) -> str:
    """Edit-distance-≤2 misspelling that keeps the Capitalized-token shape."""
    if len(token) < 4:
        return token + token[-1]
    i = rng.randrange(1, len(token) - 1)
    op = rng.randrange(3)
    if op == 0:  # double a letter
        return token[: i + 1] + token[i] + token[i + 1 :]
    if op == 1:  # drop a letter
        return token[:i] + token[i + 1 :]
    # swap adjacent (avoid producing the same token)
    if token[i] == token[i + 1] if i + 1 < len(token) else True:
        return token[: i + 1] + token[i] + token[i + 1 :]
    return token[:i] + token[i + 1] + token[i] + token[i + 2 :]


def make_entity_pool(n_entities: int, seed: int = 42) -> List[Entity]:
    rng = random.Random(seed)
    pool: List[Entity] = []
    seen: set = set()
    k = 0
    while len(pool) < n_entities:
        kind = KINDS[len(pool) % len(KINDS)]
        if kind == "place" and all(
            rules.normalize(p) in seen for p in _PLACE_SURFACES
        ):
            kind = "artifact"  # only 10 place surfaces exist; don't livelock
        if kind == "person":
            canonical = f"{_name_token(rng, 2)} {_name_token(rng, 2)}"
        elif kind == "org":
            canonical = f"{_name_token(rng, 2)} {rng.choice(_ORG_SUFFIX_SURFACES)}"
        elif kind == "tool":
            canonical = "Tool" + _name_token(rng, 2).lower()
        elif kind == "place":
            canonical = _PLACE_SURFACES[len(pool) // len(KINDS) % len(_PLACE_SURFACES)]
        else:
            canonical = _name_token(rng, 3)
        norm = rules.normalize(canonical)
        if norm in seen or rules.infer_kind(norm) != kind:
            # regenerate deterministically on collision/kind-mismatch
            k += 1
            if k > 100 * n_entities:
                raise RuntimeError("entity pool generation stuck")
            continue
        seen.add(norm)
        n_alias = rng.randrange(0, 3)
        aliases: List[str] = []
        for _ in range(n_alias):
            toks = canonical.split()
            j = rng.randrange(len(toks))
            toks[j] = _perturb(rng, toks[j])
            alias = " ".join(toks)
            anorm = rules.normalize(alias)
            if anorm != norm and anorm not in seen:
                seen.add(anorm)
                aliases.append(alias)
        pool.append(Entity(f"ent-{len(pool):05d}", kind, (canonical, *aliases)))
    return pool


def _zipf_sizes(rng: random.Random, n: int, a: float = 1.2,
                lo: int = 2, hi: int = 2000) -> List[int]:
    # inverse-CDF Zipf via rejection-free power draw, clipped
    out = []
    for _ in range(n):
        u = rng.random()
        size = int((u ** (-1.0 / (a - 1.0 + 1e-9))))
        out.append(max(lo, min(hi, size)))
    return out


def generate_transcripts(
    n_convs: int = 20,
    seed: int = 42,
    n_entities: int = 25,
    alias_rate: float = 0.15,
    distractor_rate: float = 0.30,
    max_turns: int = 2000,
) -> List[Turn]:
    """The primary fixture: a list of Turn rows, fully deterministic."""
    rng = random.Random(seed)
    pool = make_entity_pool(n_entities, seed)
    sizes = _zipf_sizes(rng, n_convs, hi=max_turns)
    base_ts = dt.datetime(2026, 1, 1, 0, 0, 0)
    rows: List[Turn] = []
    for ci in range(n_convs):
        conv_id = f"conv-{ci:08d}"
        ts = base_ts + dt.timedelta(seconds=ci * 7919)
        for ti in range(sizes[ci]):
            ts = ts + dt.timedelta(seconds=rng.randrange(10, 300))
            if rng.random() < 0.2:
                role, tool = "tool", rng.choice(_TOOLS)
            else:
                role, tool = ("user", None) if ti % 2 == 0 else ("assistant", None)
            if rng.random() < distractor_rate:
                text = rng.choice(_FILLERS)
            else:
                subj = rng.choice(pool)
                obj = rng.choice(pool)
                pred = rng.choice(rules.PREDICATES)
                s_surf = _pick_surface(rng, subj, alias_rate)
                o_surf = _pick_surface(rng, obj, alias_rate)
                text = f"{s_surf} {pred} {o_surf} ."
                if rng.random() < 0.25:
                    text = rng.choice(_FILLERS) + " " + text
            rows.append(Turn(conv_id, ti, role, text, tool, ts))
    return rows


def _pick_surface(rng: random.Random, ent: Entity, alias_rate: float) -> str:
    if len(ent.surfaces) > 1 and rng.random() < alias_rate:
        return rng.choice(ent.surfaces[1:])
    return ent.surfaces[0]


def turns_to_pandas(rows: List[Turn]):
    """Turn rows -> pandas DataFrame with contract dtypes (for createDataFrame
    and for the pure-Python oracle alike)."""
    import pandas as pd

    return pd.DataFrame(
        {
            "conv_id": [r.conv_id for r in rows],
            "turn_idx": pd.array([r.turn_idx for r in rows], dtype="int32"),
            "role": [r.role for r in rows],
            "text": [r.text for r in rows],
            "tool": [r.tool for r in rows],
            "ts": [r.ts for r in rows],
        }
    )


def generate_transcripts_distributed(
    spark,
    n_convs: int,
    seed: int = 42,
    n_entities: int = 200,
    alias_rate: float = 0.15,
    distractor_rate: float = 0.30,
    max_turns: int = 2000,
    partitions: int = 64,
):
    """Cluster-scale fixture generation: one deterministic RNG stream per
    conversation (seeded by (seed, conv_idx)), generated in parallel via
    mapInPandas.  Same statistical shape as ``generate_transcripts`` (Zipf
    sizes, alias variants, hot conversations) but embarrassingly parallel —
    this is how the 10^12-turn input would be synthesized on a real
    cluster.  Returns a DataFrame with the contract schema.
    """
    import pandas as pd

    pool = make_entity_pool(n_entities, seed)

    def gen(batches):
        for pdf in batches:
            out = {k: [] for k in
                   ("conv_id", "turn_idx", "role", "text", "tool", "ts")}
            for ci in pdf["id"]:
                ci = int(ci)
                rng = random.Random((seed << 32) ^ ci)
                size = _zipf_sizes(rng, 1, hi=max_turns)[0]
                conv_id = f"conv-{ci:08d}"
                ts = dt.datetime(2026, 1, 1) + dt.timedelta(seconds=ci * 7919)
                for ti in range(size):
                    ts = ts + dt.timedelta(seconds=rng.randrange(10, 300))
                    if rng.random() < 0.2:
                        role, tool = "tool", rng.choice(_TOOLS)
                    else:
                        role, tool = ("user", None) if ti % 2 == 0 else ("assistant", None)
                    if rng.random() < distractor_rate:
                        text = rng.choice(_FILLERS)
                    else:
                        subj, obj = rng.choice(pool), rng.choice(pool)
                        pred = rng.choice(rules.PREDICATES)
                        text = (f"{_pick_surface(rng, subj, alias_rate)} {pred} "
                                f"{_pick_surface(rng, obj, alias_rate)} .")
                        if rng.random() < 0.25:
                            text = rng.choice(_FILLERS) + " " + text
                    out["conv_id"].append(conv_id)
                    out["turn_idx"].append(ti)
                    out["role"].append(role)
                    out["text"].append(text)
                    out["tool"].append(tool)
                    out["ts"].append(ts)
            pdf_out = pd.DataFrame(out)
            pdf_out["turn_idx"] = pdf_out["turn_idx"].astype("int32")
            yield pdf_out

    ids = spark.range(0, n_convs).repartition(partitions)
    schema = ("conv_id string, turn_idx int, role string, text string, "
              "tool string, ts timestamp")
    return ids.mapInPandas(gen, schema)


def with_duplicates_and_shuffle(rows: List[Turn], seed: int = 7,
                                dup_rate: float = 0.05) -> List[Turn]:
    """Exercise P3 dedup + permutation invariance: duplicate some rows
    verbatim and shuffle the whole list (deterministically)."""
    rng = random.Random(seed)
    dups = [r for r in rows if rng.random() < dup_rate]
    out = rows + dups
    rng.shuffle(out)
    return out
