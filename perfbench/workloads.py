"""Seeded transcript workloads for the KG pipeline benchmark.

Each generator returns the contract rows (conv_id, turn_idx, role, text,
tool, ts) as ``fixtures.Turn`` tuples; the same seed gives the same rows.
``prepare`` writes them to parquet once per (workload, seed) together with
the oracle's triple set, so neither generation nor the oracle is timed.
The pipeline only ever sees the parquet file.

- kg_chat:  the contract-shaped fixture (Zipf-hot conversations, short
            turns, ~50-norm vocabulary): ingest, extract and materialize
            do the work; linking takes the driver venue.
- kg_vocab: an open vocabulary of misspelled aliases, larger than the
            driver-link limit, so linking runs distributed (band UDF,
            band self-join, pair-score UDF, connected components).
- kg_agent: agent transcripts whose tool turns carry KB-scale log output,
            with 5% replayed duplicates and a shuffled row order, so the
            ``auto`` dedup picks the adaptive anti/semi-join strategy.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import os
import random
from typing import Callable, Dict, List

from mongo2neo_spark import fixtures, oracle, rules

# Fixed turn counts: the total input size must not depend on the seed, or
# seed-to-seed spread would swamp run-to-run spread.
CHAT_TURNS = 12_000
VOCAB_ENTITIES = 750
VOCAB_TURNS = 3_000
AGENT_TURNS = 8_000
AGENT_DUP_RATE = 0.05


def _truncated_fixture(seed: int, n_turns: int) -> List[fixtures.Turn]:
    """``fixtures.generate_transcripts`` cut to exactly ``n_turns`` rows
    (whole conversations first, the last one truncated)."""
    n_convs = 64
    while True:
        rows = fixtures.generate_transcripts(n_convs=n_convs, seed=seed)
        if len(rows) >= n_turns:
            return rows[:n_turns]
        n_convs *= 2


def kg_chat(seed: int) -> List[fixtures.Turn]:
    return _truncated_fixture(seed, CHAT_TURNS)


# --- kg_vocab ---------------------------------------------------------------
# A larger syllable set than the fixture's, so thousands of distinct
# names exist and misspellings stay rare collisions.
_SYLL = [
    "ka", "ve", "lo", "ri", "ta", "mu", "zen", "bar", "nis", "or", "pel",
    "dra", "quo", "fim", "sul", "gar", "hex", "jor", "wyn", "ced", "bel",
    "tor", "mi", "sha", "kul", "ven", "ost", "pra", "lum", "dex", "yor",
    "fen", "gil", "har", "ith", "jun", "kel", "mor", "nal", "pim",
]
_ORG = ["Corp", "Inc", "Labs", "Gmbh", "Ltd"]


def _token(rng: random.Random, n_syll: int) -> str:
    return "".join(rng.choice(_SYLL) for _ in range(n_syll)).capitalize()


def _misspell(rng: random.Random, tok: str) -> str:
    """Edit-distance-1 variant that keeps the Capitalized-token shape."""
    i = rng.randrange(1, len(tok) - 1)
    if rng.random() < 0.5:
        return tok[: i + 1] + tok[i] + tok[i + 1 :]  # double a letter
    return tok[:i] + tok[i + 1 :]  # drop a letter


def _vocab_pool(rng: random.Random, n: int) -> List[List[str]]:
    """n entities, each [canonical, *aliases] with distinct norms."""
    seen: set = set()
    pool: List[List[str]] = []
    while len(pool) < n:
        shape = rng.randrange(3)
        if shape == 0:
            name = f"{_token(rng, 2)} {_token(rng, 2)}"
        elif shape == 1:
            name = f"{_token(rng, 2)} {rng.choice(_ORG)}"
        else:
            name = _token(rng, 3)
        if rules.normalize(name) in seen:
            continue
        seen.add(rules.normalize(name))
        surfaces = [name]
        for _ in range(rng.randrange(3)):
            toks = name.split()
            j = rng.randrange(len(toks))
            toks[j] = _misspell(rng, toks[j])
            alias = " ".join(toks)
            if rules.normalize(alias) not in seen:
                seen.add(rules.normalize(alias))
                surfaces.append(alias)
        pool.append(surfaces)
    return pool


def kg_vocab(seed: int) -> List[fixtures.Turn]:
    rng = random.Random(seed)
    pool = _vocab_pool(rng, VOCAB_ENTITIES)
    # every surface appears at least once, the other mentions are uniform
    # draws: an open, flat vocabulary (no hot entity absorbs the mentions)
    surfaces = [s for ent in pool for s in ent]
    assert len(surfaces) <= 2 * VOCAB_TURNS, "more surfaces than mention slots"
    order = surfaces + [rng.choice(surfaces) for _ in range(2 * VOCAB_TURNS - len(surfaces))]
    rng.shuffle(order)
    base = dt.datetime(2026, 1, 1)
    rows = []
    for k in range(VOCAB_TURNS):
        subj, obj = order[2 * k], order[2 * k + 1]
        text = f"{subj} {rng.choice(rules.PREDICATES)} {obj} ."
        rows.append(fixtures.Turn(f"conv-{k // 20:08d}", k % 20, "user", text,
                                  None, base + dt.timedelta(seconds=k)))
    return rows


# --- kg_agent ---------------------------------------------------------------
_LOG_LEVELS = ["INFO", "INFO", "INFO", "DEBUG", "WARN"]


def _log_blob(rng: random.Random, ts: dt.datetime, n_lines: int) -> str:
    lines = []
    for i in range(n_lines):
        t = ts + dt.timedelta(milliseconds=37 * i)
        lines.append(
            f"{rng.choice(_LOG_LEVELS)} {t:%Y-%m-%dT%H:%M:%S.%f} "
            f"worker-{rng.randrange(32)} step={rng.randrange(10_000)} "
            f"status=ok rows={rng.randrange(1 << 20)} "
            f"latency_ms={rng.random() * 500:.3f} "
            f"path=/data/shard-{rng.randrange(4096):04d}.parquet"
        )
    return "\n".join(lines)


def kg_agent(seed: int) -> List[fixtures.Turn]:
    rng = random.Random(seed)
    tool, other = [], []
    for r in _truncated_fixture(seed, AGENT_TURNS):
        if r.role == "tool":
            # tool output: the turn's sentence followed by a log dump of
            # ~2-4 KB (KB-scale tool turns, ~10x the bytes per turn)
            tool.append(r._replace(
                text=r.text + "\n" + _log_blob(rng, r.ts, rng.randrange(14, 28))))
        else:
            other.append(r)
    # replay exactly AGENT_DUP_RATE of the wide and of the narrow turns, so
    # the duplicated bytes do not swing with the seed
    rows = tool + other
    for part in (tool, other):
        rows += rng.sample(part, round(AGENT_DUP_RATE * len(part)))
    rng.shuffle(rows)
    return rows


WORKLOADS: Dict[str, Callable[[int], List[fixtures.Turn]]] = {
    "kg_chat": kg_chat,
    "kg_vocab": kg_vocab,
    "kg_agent": kg_agent,
}


def _write_parquet(rows: List[fixtures.Turn], path: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    table = pa.table({
        "conv_id": pa.array([r.conv_id for r in rows], pa.string()),
        "turn_idx": pa.array([r.turn_idx for r in rows], pa.int32()),
        "role": pa.array([r.role for r in rows], pa.string()),
        "text": pa.array([r.text for r in rows], pa.string()),
        "tool": pa.array([r.tool for r in rows], pa.string()),
        "ts": pa.array([r.ts.replace(tzinfo=dt.timezone.utc) for r in rows],
                       pa.timestamp("us", tz="UTC")),
    })
    # several row groups so the scan splits across every core
    pq.write_table(table, path, row_group_size=max(1, len(rows) // 16))


def _source_tag() -> str:
    """Changes whenever this file changes, so a cached input is never
    reused after a generator edit."""
    with open(__file__, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()[:10]


def prepare(work_dir: str, workload: str, seed: int) -> dict:
    """Generate (or reuse) the parquet input and the oracle triples for
    (workload, seed). Returns {"input", "turns", "triples"}."""
    d = os.path.join(work_dir, "data", f"{workload}-{seed}-{_source_tag()}")
    meta_path = os.path.join(d, "oracle.json")
    if not os.path.exists(meta_path):
        os.makedirs(d, exist_ok=True)
        rows = WORKLOADS[workload](seed)
        _write_parquet(rows, os.path.join(d, "input.parquet"))
        triples = sorted(oracle.pipeline_triples(rows))
        tmp = meta_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump({"turns": len(rows), "triples": triples}, f)
        os.replace(tmp, meta_path)
    with open(meta_path) as f:
        meta = json.load(f)
    return {
        "input": os.path.join(d, "input.parquet"),
        "turns": meta["turns"],
        "triples": {tuple(t) for t in meta["triples"]},
    }
