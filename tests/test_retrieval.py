"""BM25 retrieval: Spark expression vs an independent pure-Python
implementation (exact integer micro-unit equality), tie-break and edge
behaviors."""
import math

import pytest


def _py_bm25(docs, terms, k1=1.2, b=0.75):
    """Independent reference: dict-based BM25 over whitespace/nonalnum
    tokenization.  Float arithmetic mirrors the operator's association."""
    import re

    toks = {
        i: [t for t in re.split(r"[^a-z0-9]+", (txt or "").lower()) if t]
        for i, txt in docs
    }
    n = len(toks)
    sum_dl = sum(len(v) for v in toks.values())
    avgdl = sum_dl / n
    out = {}
    for i, tk in toks.items():
        dl = len(tk)
        score = 0.0
        matched = 0
        for t in sorted(set(terms)):
            tf = float(tk.count(t))
            df = sum(1 for v in toks.values() if t in v)
            idf = math.log(1.0 + (float(n) - df + 0.5) / (df + 0.5))
            score = score + idf * tf * (k1 + 1.0) / (
                tf + k1 * ((1.0 - b) + b * float(dl) / avgdl)
            )
            matched += 1 if tf > 0 else 0
        if matched:
            out[i] = (int(round(score * 1_000_000.0)), dl, matched)
    return out


DOCS = [
    (1, "spark joins the window table"),
    (2, "window window window spark"),
    (3, "a table of parts and orders"),
    (4, "spark spark spark spark spark"),
    (5, ""),
    (6, None),
    (7, "the spark window"),
]


class TestBM25:
    def test_matches_python_reference_exactly(self, spark):
        from mongo2neo_spark.operators.retrieval import bm25_topk

        df = spark.createDataFrame(DOCS, "doc_id bigint, text string")
        got = {
            r.doc_id: (r.score_micro, r.dl, r.n_matched)
            for r in bm25_topk(df, ["spark", "window"], k=10).collect()
        }
        assert got == _py_bm25(DOCS, ["spark", "window"])

    def test_topk_order_and_tiebreak(self, spark):
        from mongo2neo_spark.operators.retrieval import bm25_topk

        # identical docs => identical scores; the id tie-break must make
        # the LIMIT cut deterministic
        docs = [(i, "spark query") for i in range(6)] + [(100, "other")]
        df = spark.createDataFrame(docs, "doc_id bigint, text string")
        rows = bm25_topk(df, ["spark"], k=3).collect()
        assert [r.doc_id for r in rows] == [0, 1, 2]

    def test_unmatched_and_null_docs_excluded(self, spark):
        from mongo2neo_spark.operators.retrieval import bm25_topk

        df = spark.createDataFrame(DOCS, "doc_id bigint, text string")
        ids = {r.doc_id for r in bm25_topk(df, ["spark"], k=10).collect()}
        assert 3 not in ids and 5 not in ids and 6 not in ids

    def test_sql_mirror_agrees(self, spark):
        """The DuckDB-rendered SQL and the Spark plan agree on rows
        (the entry-level hash check runs this at sf0.01; here we pin it
        on a local frame via duckdb directly)."""
        duckdb = pytest.importorskip("duckdb")
        import pandas as pd

        from mongo2neo_spark.operators.retrieval import bm25_sql, bm25_topk

        pdf = pd.DataFrame(DOCS, columns=["doc_id", "text"])
        con = duckdb.connect()
        con.register("documents", pdf)
        want = {
            tuple(r)
            for r in con.sql(
                bm25_sql("documents", ["spark", "window"], k=10)
            ).fetchall()
        }
        df = spark.createDataFrame(DOCS, "doc_id bigint, text string")
        got = {
            tuple(r) for r in bm25_topk(df, ["spark", "window"], k=10).collect()
        }
        assert got == want


def _py_chunks(docs, window, stride):
    """Independent reference chunker."""
    import re

    out = []
    for i, txt in docs:
        tk = [t for t in re.split(r"[^a-z0-9]+", (txt or "").lower()) if t]
        for ci, start in enumerate(range(0, len(tk), stride)):
            piece = tk[start : start + window]
            out.append((i, ci, start, len(piece), " ".join(piece)))
    return set(out)


class TestChunking:
    def test_matches_python_reference(self, spark):
        from mongo2neo_spark.operators.retrieval import chunk_documents

        docs = [
            (1, " ".join(f"w{j}" for j in range(100))),  # 100 toks
            (2, "short doc"),                            # < window
            (3, " ".join(f"x{j}" for j in range(64))),   # exactly 2 strides
            (4, ""),                                     # no chunks
            (5, None),                                   # no chunks
            (6, " ".join("t" for _ in range(65))),       # boundary + 1
        ]
        df = spark.createDataFrame(docs, "doc_id bigint, text string")
        got = {
            (r.doc_id, r.chunk_idx, r.start_tok, r.n_chunk_tokens,
             r.chunk_text)
            for r in chunk_documents(df, window=32, stride=24).collect()
        }
        assert got == _py_chunks(docs, 32, 24)

    def test_overlap_reconstructs_document(self, spark):
        """Consecutive chunks overlap by window-stride tokens and their
        union in order reconstructs the token stream exactly."""
        from mongo2neo_spark.operators.retrieval import chunk_documents

        text = " ".join(f"w{j}" for j in range(100))
        df = spark.createDataFrame([(1, text)], "doc_id bigint, text string")
        rows = sorted(
            chunk_documents(df, window=32, stride=24).collect(),
            key=lambda r: r.chunk_idx,
        )
        toks = []
        for r in rows:
            ct = r.chunk_text.split(" ")
            toks.extend(ct if not toks else ct[32 - 24:])
        assert toks == text.split(" ")

    def test_zero_shuffle_plan(self, spark):
        """The chunker must be pure map-side: no Exchange in the
        physical plan (the 100 TB shape is scan -> project -> write)."""
        from mongo2neo_spark.operators.retrieval import chunk_documents

        df = spark.createDataFrame(
            [(1, "a b c")], "doc_id bigint, text string"
        )
        plan = (
            chunk_documents(df)._jdf.queryExecution().executedPlan().toString()
        )
        assert "Exchange" not in plan

    def test_sql_mirror_agrees(self, spark):
        duckdb = pytest.importorskip("duckdb")
        import pandas as pd

        from mongo2neo_spark.operators.retrieval import (
            chunk_documents,
            chunk_sql,
        )

        docs = [(1, "alpha beta gamma delta epsilon zeta eta theta"),
                (2, ""), (3, "one two")]
        con = duckdb.connect()
        con.register(
            "documents", pd.DataFrame(docs, columns=["doc_id", "text"])
        )
        want = {tuple(r) for r in con.sql(
            chunk_sql("documents", window=3, stride=2)
        ).fetchall()}
        df = spark.createDataFrame(docs, "doc_id bigint, text string")
        got = {
            tuple(r)
            for r in chunk_documents(df, window=3, stride=2).collect()
        }
        assert got == want


def _py_rrf(list_a, list_b, k_rrf=60, k=10):
    """Independent reference RRF: each input is [(id, rank)]."""
    ra = dict(list_a)
    rb = dict(list_b)
    out = []
    for i in sorted(set(ra) | set(rb)):
        s = 0
        if i in ra:
            s += int(round(1_000_000.0 / (k_rrf + ra[i])))
        if i in rb:
            s += int(round(1_000_000.0 / (k_rrf + rb[i])))
        out.append((i, s, ra.get(i), rb.get(i)))
    out.sort(key=lambda t: (-t[1], t[0]))
    return out[:k]


class TestRRF:
    def _fuse(self, spark, la, lb, **kw):
        from mongo2neo_spark.operators.retrieval import rrf_fuse

        a = spark.createDataFrame(la, "doc_id bigint, rank bigint")
        b = spark.createDataFrame(lb, "doc_id bigint, rank bigint")
        return [tuple(r) for r in rrf_fuse(a, b, **kw).collect()]

    def test_matches_python_reference(self, spark):
        la = [(10, 1), (20, 2), (30, 3), (40, 4)]
        lb = [(30, 1), (10, 2), (50, 3)]
        assert self._fuse(spark, la, lb) == _py_rrf(la, lb)

    def test_disjoint_lists_and_cut(self, spark):
        la = [(i, i) for i in range(1, 8)]
        lb = [(100 + i, i) for i in range(1, 8)]
        got = self._fuse(spark, la, lb, k=5)
        assert got == _py_rrf(la, lb, k=5)
        # rank-1 of each list tie on score; id tie-break decides
        assert [g[0] for g in got[:2]] == [1, 101]

    def test_doc_in_both_lists_outranks_singletons(self, spark):
        la = [(1, 1), (2, 2)]
        lb = [(2, 1), (3, 2)]
        got = self._fuse(spark, la, lb)
        assert got[0][0] == 2  # present in both lists

    def test_duplicate_ids_collapse_to_best_rank(self, spark):
        # a malformed ranker emitting id 1 twice must contribute ONCE,
        # at its best (min) rank — not multiply rows through the join
        la = [(1, 3), (1, 1), (2, 2)]
        lb = [(2, 1), (2, 5)]
        got = self._fuse(spark, la, lb)
        assert got == _py_rrf([(1, 1), (2, 2)], [(2, 1)])
        assert len(got) == len({g[0] for g in got})


class TestBM25TokenJoin:
    """Wide-query BM25 via the query-term-table join path."""

    WIDE = ["spark", "window", "table", "parts", "orders", "of"] + [
        f"absent{i}" for i in range(50)
    ]

    @staticmethod
    def _py_tokenjoin(docs, terms, k1=1.2, b=0.75):
        """Round-per-term-then-int-sum reference (differs from _py_bm25
        only in quantization order)."""
        import re

        toks = {
            i: [t for t in re.split(r"[^a-z0-9]+", (txt or "").lower()) if t]
            for i, txt in docs
        }
        n = len(toks)
        avgdl = sum(len(v) for v in toks.values()) / n
        out = {}
        for i, tk in toks.items():
            dl = len(tk)
            sm = 0
            matched = 0
            for t in sorted(set(terms)):
                tf = float(tk.count(t))
                if tf == 0:
                    continue
                df = sum(1 for v in toks.values() if t in v)
                idf = math.log(1.0 + (float(n) - df + 0.5) / (df + 0.5))
                part = idf * tf * (k1 + 1.0) / (
                    tf + k1 * ((1.0 - b) + b * float(dl) / avgdl)
                )
                # half-UP like Spark F.round / DuckDB round — Python's
                # round() is banker's and would diverge on exact .5
                sm += int(math.floor(part * 1_000_000.0 + 0.5))
                matched += 1
            if matched:
                out[i] = (sm, dl, matched)
        return out

    def test_matches_python_reference_exactly(self, spark):
        from mongo2neo_spark.operators.retrieval import bm25_topk_tokenjoin

        df = spark.createDataFrame(DOCS, "doc_id bigint, text string")
        got = {
            r.doc_id: (r.score_micro, r.dl, r.n_matched)
            for r in bm25_topk_tokenjoin(df, self.WIDE, k=10).collect()
        }
        assert got == self._py_tokenjoin(DOCS, self.WIDE)

    def test_sql_mirror_agrees(self, spark):
        duckdb = pytest.importorskip("duckdb")
        import pandas as pd

        from mongo2neo_spark.operators.retrieval import (
            bm25_tokenjoin_sql,
            bm25_topk_tokenjoin,
        )

        df = spark.createDataFrame(DOCS, "doc_id bigint, text string")
        got = sorted(
            tuple(r)
            for r in bm25_topk_tokenjoin(df, self.WIDE, k=10).collect()
        )
        con = duckdb.connect()
        con.register(
            "documents",
            pd.DataFrame(DOCS, columns=["doc_id", "text"]),
        )
        want = sorted(
            tuple(r)
            for r in con.sql(
                bm25_tokenjoin_sql("documents", self.WIDE, k=10)
            ).fetchall()
        )
        assert got == want

    def test_single_corpus_token_exchange(self, spark):
        # the plan audit VERDICT asked for: the exploded corpus token
        # stream must hit exactly ONE hash exchange (the (doc, term)
        # aggregation); the term filter is a broadcast join BEFORE it,
        # and everything downstream is matched/query-result-sized
        from mongo2neo_spark.operators.retrieval import bm25_topk_tokenjoin

        df = spark.createDataFrame(DOCS, "doc_id bigint, text string")
        plan = (
            bm25_topk_tokenjoin(df, self.WIDE, k=10)
            ._jdf.queryExecution().executedPlan().toString()
        )
        # term membership runs as broadcast join, never a shuffle join
        assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan
        assert "SortMergeJoin" not in plan
        # exactly one exchange partitions on the token/term column
        # together with the doc id (the matched-occurrence agg); the
        # df-per-term and per-doc aggs repartition matched rows only
        import re as _re

        # the exchange keys on the broadcast term table's dense int
        # index (_tidx), not the term string — round-7 narrowing of the
        # matched-stream shuffle bytes
        tok_ex = [
            ln
            for ln in plan.splitlines()
            if "Exchange hashpartitioning" in ln and "_tidx" in ln
            and "doc_id" in ln
        ]
        assert len(tok_ex) == 1, plan

    def test_narrow_and_wide_paths_agree_to_quantization(self, spark):
        # same ranking, scores within #terms/2 micro units
        from mongo2neo_spark.operators.retrieval import (
            bm25_topk,
            bm25_topk_tokenjoin,
        )

        df = spark.createDataFrame(DOCS, "doc_id bigint, text string")
        terms = ["spark", "window", "table"]
        narrow = {
            r.doc_id: r.score_micro
            for r in bm25_topk(df, terms, k=10).collect()
        }
        wide = {
            r.doc_id: r.score_micro
            for r in bm25_topk_tokenjoin(df, terms, k=10).collect()
        }
        assert set(narrow) == set(wide)
        for i in narrow:
            assert abs(narrow[i] - wide[i]) <= len(terms)


class TestTfidfKeywords:
    DOCS = [
        (1, "spark spark spark joins the window table"),
        (2, "the the the common words everywhere"),
        (3, "unique zebra quantum"),
        (4, ""),
        (5, None),
        (6, "the window"),
    ]

    @staticmethod
    def _py_tfidf(docs, k):
        import re
        from collections import Counter

        toks = {
            i: [t for t in re.split(r"[^a-z0-9]+", (txt or "").lower()) if t]
            for i, txt in docs
        }
        n = len(toks)
        df = Counter(t for v in toks.values() for t in set(v))
        out = []
        for i, tk in toks.items():
            scored = []
            for t, tf in Counter(tk).items():
                idf = math.log((n + 1.0) / (df[t] + 1.0)) + 1.0
                # half-up to match the engines' round (not banker's)
                scored.append(
                    (t, tf, int(math.floor(tf * idf * 1_000_000.0 + 0.5)))
                )
            scored.sort(key=lambda r: (-r[2], r[0]))
            for rank, (t, tf, sm) in enumerate(scored[:k], 1):
                out.append((i, t, tf, sm, rank))
        return sorted(out)

    def test_matches_python_reference_exactly(self, spark):
        from mongo2neo_spark.operators.retrieval import tfidf_topk_terms

        df = spark.createDataFrame(self.DOCS, "doc_id bigint, text string")
        got = sorted(
            (r.doc_id, r.term, r.tf, r.score_micro, r["rank"])
            for r in tfidf_topk_terms(df, k=3).collect()
        )
        assert got == self._py_tfidf(self.DOCS, 3)
        # rare terms outrank corpus-wide stopwords within a doc
        rank1 = [g for g in got if g[0] == 1 and g[4] == 1]
        assert rank1 and rank1[0][1] == "spark"

    def test_sql_mirror_agrees(self, spark):
        duckdb = pytest.importorskip("duckdb")
        import pandas as pd

        from mongo2neo_spark.operators.retrieval import (
            tfidf_topk_sql,
            tfidf_topk_terms,
        )

        df = spark.createDataFrame(self.DOCS, "doc_id bigint, text string")
        got = sorted(
            tuple(r) for r in tfidf_topk_terms(df, k=3).collect()
        )
        con = duckdb.connect()
        con.register(
            "documents", pd.DataFrame(self.DOCS, columns=["doc_id", "text"])
        )
        want = sorted(
            tuple(r)
            for r in con.sql(tfidf_topk_sql("documents", k=3)).fetchall()
        )
        assert got == want


class TestBM25QueryValidation:
    def _df(self, spark):
        return spark.createDataFrame(DOCS, "doc_id bigint, text string")

    def test_empty_query_raises(self, spark):
        from mongo2neo_spark.operators.retrieval import bm25_topk

        with pytest.raises(ValueError):
            bm25_topk(self._df(spark), [], k=5)

    def test_untokenizable_query_raises(self, spark):
        from mongo2neo_spark.operators.retrieval import bm25_sql, bm25_topk

        with pytest.raises(ValueError):
            bm25_topk(self._df(spark), ["!!!", "  ", "---"], k=5)
        with pytest.raises(ValueError):
            bm25_sql("documents", ["''"])

    def test_terms_normalized_like_corpus(self, spark):
        # uppercase / punctuated terms tokenize exactly like the corpus:
        # "Spark!" -> spark, "Window-Table" -> window + table
        from mongo2neo_spark.operators.retrieval import bm25_topk

        df = self._df(spark)
        raw = {
            r.doc_id: (r.score_micro, r.dl, r.n_matched)
            for r in bm25_topk(
                df, ["Spark!", "Window-Table"], k=10
            ).collect()
        }
        assert raw == _py_bm25(DOCS, ["spark", "window", "table"])

    def test_sql_mirror_normalizes_and_escapes(self):
        from mongo2neo_spark.operators.retrieval import bm25_sql

        sql = bm25_sql("documents", ["Spark's", "JOIN"])
        # normalized to [a-z0-9] tokens; the apostrophe can't survive
        assert "x = 'spark'" in sql and "x = 's'" in sql
        assert "x = 'join'" in sql
        assert "Spark" not in sql
