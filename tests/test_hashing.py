"""MinHash / SimHash / fingerprint determinism and statistical properties."""

import random

import numpy as np
import pytest

from mongo2neo_spark import rules
from mongo2neo_spark.functions import hashing


def test_batch_matches_scalar_signatures():
    norms = ["alice smith", "acme corp", "x", "", "berlin tokyo oslo"]
    token_sets = [rules.char_ngrams(n) for n in norms]
    batch = hashing.minhash_signatures_batch(token_sets)
    for i, toks in enumerate(token_sets):
        assert list(batch[i]) == hashing.minhash_signature(toks), norms[i]


def test_empty_batch():
    assert hashing.minhash_signatures_batch([]).shape == (0, hashing.NUM_HASHES)


def test_minhash_estimates_jaccard():
    rng = random.Random(0)
    base = [f"tok{i}" for i in range(200)]
    errs = []
    for _ in range(30):
        a = set(rng.sample(base, 100))
        b = set(rng.sample(base, 100))
        true_j = len(a & b) / len(a | b)
        sa = np.array(hashing.minhash_signature(a))
        sb = np.array(hashing.minhash_signature(b))
        est = float((sa == sb).mean())
        errs.append(abs(est - true_j))
    # k=24 hashes -> stderr ~ sqrt(j(1-j)/24) ~ 0.10; mean error well below
    assert np.mean(errs) < 0.12


def test_band_keys_shape_and_determinism():
    sig = hashing.minhash_signature(rules.char_ngrams("alice smith"))
    keys = hashing.band_keys(sig)
    assert len(keys) == hashing.LSH_BANDS
    assert len(set(keys)) == len(keys)  # band index prefix keeps them distinct
    assert keys == hashing.band_keys(sig)


def test_identical_norms_always_collide():
    k1 = hashing.band_keys(hashing.minhash_signature(rules.char_ngrams("acme corp")))
    k2 = hashing.band_keys(hashing.minhash_signature(rules.char_ngrams("acme corp")))
    assert k1 == k2


def test_simhash_similar_texts_close():
    a = [f"w{i}" for i in range(100)]
    b = a[:95] + ["x1", "x2", "x3", "x4", "x5"]
    c = [f"z{i}" for i in range(100)]
    ha, hb, hc = hashing.simhash(a), hashing.simhash(b), hashing.simhash(c)
    d_ab = bin(ha ^ hb).count("1")
    d_ac = bin(ha ^ hc).count("1")
    assert d_ab < d_ac
    assert d_ab <= 12


def test_rolling_fingerprint_deterministic_and_edit_robust():
    t = "the quick brown fox jumps over the lazy dog " * 5
    assert hashing.rolling_fingerprint(t) == hashing.rolling_fingerprint(t)
    # a local edit far from the minimal window usually keeps the fingerprint
    assert hashing.rolling_fingerprint("") == 0
    assert hashing.rolling_fingerprint("ab") == hashing.rolling_fingerprint("ab")


def test_fingerprint_batch_matches_scalar():
    from mongo2neo_spark.functions.hashing import (
        rolling_fingerprint, rolling_fingerprints_batch,
    )

    texts = [
        "", "a", "12345678", "123456789", "the quick brown fox " * 30,
        "ümläut bytes 你好" * 5, "x" * 7, "x" * 8, "x" * 9,
    ]
    got = rolling_fingerprints_batch(texts)
    exp = [rolling_fingerprint(t) for t in texts]
    assert list(got) == exp


def test_simhash_batch_matches_scalar():
    import random
    import time

    from mongo2neo_spark.functions.hashing import simhash, simhash_batch

    rng = random.Random(31)
    words = [f"w{i}" for i in range(60)]
    lists = [
        [rng.choice(words) for _ in range(rng.randrange(0, 80))]
        for _ in range(400)
    ] + [[], ["one"], ["dup", "dup", "dup"]]
    t0 = time.perf_counter()
    got = list(simhash_batch(lists))
    t_batch = time.perf_counter() - t0
    t0 = time.perf_counter()
    exp = []
    for toks in lists:
        u = simhash(toks)
        exp.append(u - (1 << 64) if u >= (1 << 63) else u)
    t_scalar = time.perf_counter() - t0
    assert got == exp
    assert t_batch < t_scalar  # the batch path must actually be faster
