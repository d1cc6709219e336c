"""Dedup operators: SimHash near-dup and exact substring dedup."""

import pandas as pd
import pytest

from mongo2neo_spark.operators import dedup


def _docs(spark, texts):
    return spark.createDataFrame(
        pd.DataFrame({"doc_id": range(len(texts)), "text": texts})
    )


def test_simhash_components_cluster_hamming_close(spark):
    base = " ".join(f"w{i}" for i in range(200))
    near = " ".join(f"w{i}" for i in range(198)) + " q1 q2"
    far = " ".join(f"v{i}" for i in range(200))
    df = _docs(spark, [base, near, far])
    comp = {r.id: r.component for r in
            dedup.simhash_dedup_components(df, max_hamming=12).collect()}
    assert comp[0] == comp[1]
    assert comp[2] != comp[0]


def test_simhash_deterministic(spark):
    df = _docs(spark, ["hello world foo bar"])
    a = dedup.simhash_groups(df).collect()[0].simhash
    b = dedup.simhash_groups(df).collect()[0].simhash
    assert a == b


def _hash_df(spark, u64s):
    """(id, simhash) frame from unsigned 64-bit hash values."""
    to_i64 = lambda u: u - (1 << 64) if u >= (1 << 63) else u  # noqa: E731
    return spark.createDataFrame(
        pd.DataFrame({
            "id": pd.Series(range(len(u64s)), dtype="int64"),
            "simhash": pd.Series([to_i64(u) for u in u64s], dtype="int64"),
        })
    )


def test_simhash_block_keys_col_matches_python_spec(spark):
    """The JVM composite-key expression must equal the pure-Python spec
    (hashing.simhash_block_keys) bit-for-bit, including sign-critical
    hashes with the top bit set, for both plan regimes (m=3 and m=1)."""
    import random

    from pyspark.sql import functions as F

    from mongo2neo_spark.functions import hashing

    rng = random.Random(99)
    u64s = [0, (1 << 64) - 1, 1 << 63, 0xDEADBEEFCAFEBABE] + [
        rng.getrandbits(64) for _ in range(60)
    ]
    for k in (3, 12):
        df = _hash_df(spark, u64s).select(
            "id", dedup.simhash_block_keys_col(F.col("simhash"), k).alias("ks")
        )
        got = {r.id: list(r.ks) for r in df.collect()}
        for i, u in enumerate(u64s):
            assert got[i] == hashing.simhash_block_keys(u, k), (i, hex(u), k)


def test_simhash_blocking_is_complete_vs_brute_force(spark):
    """Pigeonhole completeness: every pair within hamming<=3 must be
    found by the t-of-b blocking (no-cap case).  Corpus engineered to
    contain planted close pairs plus random-hash background."""
    import random

    rng = random.Random(7)
    u64s = []
    for _ in range(40):
        base = rng.getrandbits(64)
        u64s.append(base)
        flip = base
        for bit in rng.sample(range(64), rng.randint(1, 3)):
            flip ^= 1 << bit
        u64s.append(flip)  # planted pair at hamming 1-3
    u64s += [rng.getrandbits(64) for _ in range(40)]
    expected = {
        (a, b)
        for a in range(len(u64s))
        for b in range(a + 1, len(u64s))
        if bin(u64s[a] ^ u64s[b]).count("1") <= 3
    }
    got = {
        (r.a_id, r.b_id)
        for r in dedup.simhash_candidate_pairs_from_hashes(
            _hash_df(spark, u64s), max_hamming=3
        ).collect()
    }
    assert got == expected
    assert len(expected) >= 40  # the planted pairs were actually close


def test_simhash_hot_bucket_cap_bounds_join_and_is_audited(spark):
    """K3 on a skewed corpus: 300 identical hashes would contribute
    C(300,2)*20 candidate rows without the cap; with cap=50 every bucket
    they touch is dropped AND audited, while an untouched disjoint pair
    in sparse buckets is still found."""
    hot = [0xABCDEF0123456789] * 300
    pair = [0x1111222233334444, 0x1111222233334445]  # hamming 1
    u64s = hot + pair
    sh = _hash_df(spark, u64s)
    pairs = {
        (r.a_id, r.b_id)
        for r in dedup.simhash_candidate_pairs_from_hashes(
            sh, max_hamming=3, bucket_cap=50
        ).collect()
    }
    assert pairs == {(300, 301)}  # hot mass dropped, sparse pair intact
    dropped = dedup.simhash_dropped_buckets(sh, 3, bucket_cap=50).collect()
    assert len(dropped) == 20  # every combo's hot bucket audited
    assert all(r.bs == 300 for r in dropped)


def test_simhash_clusters_match_pure_python_oracle(spark, tmp_path):
    """End-to-end parity of simhash_dedup_components vs the
    entry_oracle replica on a corpus with planted near-identical texts."""
    from mongo2neo_spark import entry_oracle

    texts = []
    for g in range(6):
        base = " ".join(f"g{g}tok{i}" for i in range(120))
        texts.append(base)
        texts.append(base + " tail")
    ids = list(range(len(texts)))
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(
        pa.table({"doc_id": ids, "text": texts}),
        str(tmp_path / "documents.parquet"),
    )
    expected = entry_oracle.simhash_cluster_rows(sf_dir=str(tmp_path))
    got = sorted(
        (r.id, r.component)
        for r in dedup.simhash_dedup_components(
            _docs(spark, texts)
        ).collect()
    )
    assert got == [tuple(r) for r in expected]


def test_simhash_dedup_keeps_min_id_per_cluster(spark):
    # exact duplicates are hamming-0 by construction; the default
    # max_hamming=3 merges them while the unrelated doc survives
    base = " ".join(f"s{i}" for i in range(150))
    far = " ".join(f"t{i}" for i in range(150))
    df = _docs(spark, [base, base, far, base])
    kept = sorted(r.doc_id for r in dedup.simhash_dedup(df).collect())
    assert kept == [0, 2]


# ---------------------------------------------------------------------------
# exact substring dedup
# ---------------------------------------------------------------------------
def _py_substring_windows(rows, k=8):
    """dict replica of duplicated_windows: gram -> [(id, pos)] for grams
    in >=2 distinct docs."""
    from collections import defaultdict

    occ = defaultdict(list)
    for i, t in rows:
        tk = (t or "").split()
        for j in range(len(tk) - k + 1):
            occ[" ".join(tk[j : j + k])].append((i, j))
    return {g: ps for g, ps in occ.items()
            if len({i for i, _ in ps}) >= 2}


def _py_substring_dedup(rows, k=8):
    """Pure-Python replica of substring_dedup's spec."""
    from collections import defaultdict

    dup = _py_substring_windows(rows, k)
    removed = defaultdict(set)
    for g, ps in dup.items():
        keep = min(i for i, _ in ps)
        for i, j in ps:
            if i != keep:
                removed[i].update(range(j, j + k))
    out = {}
    for i, t in rows:
        tk = (t or "").split()
        rm = removed.get(i, set())
        out[i] = (
            " ".join(tok for j, tok in enumerate(tk) if j not in rm),
            len(rm),
        )
    return out


def _const_fp_fn(k):
    """Degenerate fingerprint injection: every window of every doc gets
    fp=0 — the candidate stage collides maximally, so any false
    positive the exact-gram verify misses would show up instantly."""
    from pyspark.sql import functions as F

    def fn(col):
        t = F.trim(F.coalesce(col, F.lit("")))
        n = F.size(F.split(t, r"\s+")) - F.lit(k - 1)
        return (
            F.when(
                (F.length(t) == 0) | (n < 1), F.array().cast("array<long>")
            )
            .otherwise(
                F.transform(F.sequence(F.lit(1), n),
                            lambda i: F.lit(0).cast("long"))
            )
        )

    return fn


@pytest.fixture(scope="module")
def planted_docs(spark):
    import pandas as pd

    shared = ("zero one two three four five six seven eight nine "
              "ten eleven")  # 12 tokens -> 5 aligned 8-windows
    rows = [
        (0, "prefix alpha " + shared + " suffix omega"),
        (1, shared + " trailing words here"),
        (2, "a b c d e f " + shared),
        (3, "independent text that shares no long span with anything "
            "else in this corpus at all truly"),
        (4, ""),
    ]
    return (
        spark.createDataFrame(
            pd.DataFrame(rows, columns=["doc_id", "text"])
        ),
        rows,
    )


def test_duplicated_windows_planted_completeness(spark, planted_docs):
    """Every aligned k-window of a planted >=k-token shared span is
    flagged in every doc carrying it (the suffix-array recipe's
    guarantee), and nothing is flagged elsewhere."""
    df, rows = planted_docs
    got = {
        (r.id, r.pos, r.gram)
        for r in dedup.duplicated_windows(df, k=8).collect()
    }
    exp = {
        (i, j, g)
        for g, ps in _py_substring_windows(rows, 8).items()
        for (i, j) in ps
    }
    assert got == exp
    # the planted span contributes exactly 5 windows x 3 docs
    assert len([1 for (i, _, _) in got if i in (0, 1, 2)]) == 15
    assert not any(i in (3, 4) for (i, _, _) in got)


def test_duplicated_windows_fp_collisions_cannot_false_positive(
    spark, planted_docs
):
    """With EVERY window forced into one fingerprint bucket (fp=0), the
    exact-gram verify must still produce exactly the true result —
    proving fp is candidate pruning only."""
    df, _ = planted_docs
    real = sorted(
        tuple(r) for r in dedup.duplicated_windows(df, k=8).collect()
    )
    collided = sorted(
        tuple(r)
        for r in dedup.duplicated_windows(
            df, k=8, fp_fn=_const_fp_fn(8)
        ).collect()
    )
    assert collided == real and len(real) > 0


def test_duplicated_window_profile_counts(spark, planted_docs):
    df, rows = planted_docs
    prof = {r.id: r for r in dedup.duplicated_window_profile(df, k=8).collect()}
    assert set(prof) == {0, 1, 2, 3, 4}
    dup = _py_substring_windows(rows, 8)
    per_doc = {i: 0 for i, _ in rows}
    for g, ps in dup.items():
        for i, _ in ps:
            per_doc[i] += 1
    for i, t in rows:
        tk = t.split()
        nwin = max(len(tk) - 7, 0) if tk else 0
        assert prof[i].n_windows == nwin
        assert prof[i].n_dup_windows == per_doc[i]
        exp_ppm = (1_000_000 * per_doc[i]) // nwin if nwin else 0
        assert prof[i].dup_window_ppm == exp_ppm
    assert prof[4].n_windows == 0 and prof[4].dup_window_ppm == 0


def test_substring_dedup_keeper_rule_and_removal(spark, planted_docs):
    df, rows = planted_docs
    got = {
        r.id: (r.clean_text, r.n_removed_tokens)
        for r in dedup.substring_dedup(df, k=8).collect()
    }
    assert got == _py_substring_dedup(rows, 8)
    # keeper (min id) keeps the span verbatim; others lose >= 12 tokens
    assert "zero one two three four five six seven eight nine" in got[0][0]
    assert "zero" not in got[1][0] and got[1][1] >= 12
    assert "zero" not in got[2][0] and got[2][1] >= 12
    assert got[3] == (rows[3][1], 0)
    assert got[4] == ("", 0)


def test_substring_dedup_overlapping_spans_merge(spark):
    """Two duplicated grams overlapping in one doc: covered tokens are
    removed once (union of spans), and a doc can be keeper for one gram
    while losing another."""
    import pandas as pd

    s1 = "aa bb cc dd ee ff gg hh"          # 8 tokens
    s2 = "ee ff gg hh ii jj kk ll"          # overlaps s1 by 4 tokens
    rows = [
        (0, s1 + " ii jj kk ll"),            # contains s1 AND s2
        (1, "x " + s1 + " y"),
        (2, "z " + s2 + " w"),
    ]
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))
    got = {
        r.id: (r.clean_text, r.n_removed_tokens)
        for r in dedup.substring_dedup(df, k=8).collect()
    }
    assert got == _py_substring_dedup(rows, 8)
    # doc 0 is keeper of both grams (min id) -> untouched
    assert got[0] == (rows[0][1], 0)
    assert got[1][1] >= 8 and got[2][1] >= 8


def test_substring_dedup_max_occurrences_policy(spark):
    """Grams hotter than max_occurrences are ignored (boilerplate
    knob) — exact-count semantics an oracle can replicate."""
    import pandas as pd

    boiler = "this site uses cookies to improve your experience ok"
    rows = [(i, f"doc {i} body " + boiler) for i in range(5)]
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))
    n_all = dedup.duplicated_windows(df, k=8).count()
    assert n_all > 0
    n_cap = dedup.duplicated_windows(df, k=8, max_occurrences=3).count()
    assert n_cap == 0
