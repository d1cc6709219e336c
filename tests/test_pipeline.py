"""End-to-end pipeline: P/R vs oracle, permutation/bucket invariance,
idempotent resume, lineage contents."""

import dataclasses
import glob
import shutil
import time

import pyarrow.parquet as pq
import pytest

from mongo2neo_spark import fixtures, oracle, schemas
from mongo2neo_spark.operators import cc
from mongo2neo_spark.plans import lineage as lin
from mongo2neo_spark.plans import pipeline
from mongo2neo_spark.plans.pipeline import PipelineConfig, run_pipeline


@pytest.fixture(scope="module")
def pipeline_out(spark, small_rows, tmp_path_factory):
    tmp = tmp_path_factory.mktemp("pipe")
    messy = fixtures.with_duplicates_and_shuffle(small_rows)
    spark.createDataFrame(fixtures.turns_to_pandas(messy)).write.parquet(
        str(tmp / "in")
    )
    cfg = PipelineConfig(n_buckets=8, run_id="r1")
    paths = run_pipeline(spark, str(tmp / "in"), str(tmp / "out"), cfg)
    return tmp, paths


def _triples(spark, paths):
    return {tuple(r) for r in spark.read.parquet(paths["triples"]).collect()}


def test_precision_recall_vs_oracle(spark, small_rows, pipeline_out):
    _, paths = pipeline_out
    got = _triples(spark, paths)
    ref = oracle.pipeline_triples(small_rows)
    p, r = oracle.precision_recall(got, ref)
    assert (p, r) == (1.0, 1.0)  # contract floor is 0.95; shared rules give 1.0


def test_resume_is_noop(spark, pipeline_out):
    tmp, paths = pipeline_out
    before = _triples(spark, paths)
    lin_before = lin.read_lineage(spark, str(tmp / "out")).count()
    run_pipeline(
        spark, str(tmp / "in"), str(tmp / "out"),
        PipelineConfig(n_buckets=8, run_id="r2"),
    )
    assert _triples(spark, paths) == before
    # no new lineage rows: every partition was already recorded
    assert lin.read_lineage(spark, str(tmp / "out")).count() == lin_before


def test_lineage_shape(spark, pipeline_out):
    tmp, _ = pipeline_out
    lin_df = lin.read_lineage(spark, str(tmp / "out"))
    stages = {r.stage for r in lin_df.select("stage").distinct().collect()}
    assert stages == {"extract", "components", "materialize"}
    # extraction is bucket-granular
    assert lin_df.filter("stage = 'extract'").count() == 8


def test_bucket_invariance(spark, small_rows, tmp_path):
    """K1: the conversation bucket count changes only the layout of the
    extraction table, never the graph — n_buckets 8 and then 1, fresh
    runs into one out dir, give the oracle's triples, nodes and edges: the
    second run leaves none of the first run's buckets behind.  The
    provenance cap is 1, so that it binds: no edge of the fixture reaches
    the default cap.  The adaptive dedup is the only strategy there is."""
    with pytest.raises(ValueError, match="adaptive"):
        PipelineConfig(dedup_strategy="shuffle")
    inp = _write_input(spark, fixtures.with_duplicates_and_shuffle(small_rows),
                       str(tmp_path / "in"))
    want_triples = oracle.pipeline_triples(small_rows)
    want_nodes = oracle.nodes(small_rows)
    want_edges = oracle.edges(small_rows, max_provenance=1)
    assert any(e[3] > 1 for e in want_edges)
    for n in (8, 1):
        paths = run_pipeline(
            spark, inp, str(tmp_path / "out"),
            PipelineConfig(n_buckets=n, max_provenance=1, run_id=f"b{n}"),
            resume=False)
        assert set(_rows(spark, paths["triples"])) == want_triples
        assert _rows(spark, paths["nodes"]) == want_nodes
        assert _rows(spark, paths["edges"]) == want_edges


def test_nodes_and_edges_consistent(spark, pipeline_out):
    _, paths = pipeline_out
    nodes = spark.read.parquet(paths["nodes"])
    edges = spark.read.parquet(paths["edges"])
    node_names = {r.entity for r in nodes.collect()}
    for r in edges.collect():
        assert r.subj in node_names and r.obj in node_names
        assert r.weight >= 1 and len(r.provenance) >= 1


def _rows(spark, path):
    return sorted(map(tuple, spark.read.parquet(path).collect()))


def _schema(path):
    """Schema of a written table, Spark's row metadata included."""
    return pq.read_schema(next(glob.iglob(f"{path}/*.parquet")))


def _write_input(spark, rows, path):
    spark.createDataFrame(
        fixtures.turns_to_pandas(rows), schemas.TRANSCRIPTS
    ).write.parquet(path)
    return path


GRAPH_TABLES = ("components", "nodes", "edges", "triples")


def _run(spark, inp, tmp_path, name, link_max, check_resume=False):
    """Out dir and paths of a fresh run with ``driver_link_max=link_max``.
    With ``check_resume``, a resumed run follows it and must leave the
    graph tables as they are and add no lineage row."""
    out = str(tmp_path / name)
    cfg = PipelineConfig(n_buckets=4, run_id=name, driver_link_max=link_max)
    paths = run_pipeline(spark, inp, out, cfg, resume=False)
    if check_resume:
        before = {t: _rows(spark, paths[t]) for t in GRAPH_TABLES}
        n_lineage = lin.read_lineage(spark, out).count()
        run_pipeline(spark, inp, out,
                     dataclasses.replace(cfg, run_id=f"{name}-resumed"),
                     resume=True)
        for table in GRAPH_TABLES:
            assert _rows(spark, paths[table]) == before[table], (name, table)
        assert lin.read_lineage(spark, out).count() == n_lineage, name
    return out, paths


def _run_venues(spark, inp, tmp_path, monkeypatch, check_resume=False):
    """Out dirs and paths of fresh runs on the three venues: driver link,
    distributed LSH with the vocabulary on the driver, and fully
    distributed (the vocabulary over DRIVER_VOCAB_MAX, so
    canonicalization runs on Spark); ``check_resume`` as in
    :func:`_run`."""
    drv = _run(spark, inp, tmp_path, "drv", 100_000, check_resume)
    lsh = _run(spark, inp, tmp_path, "lsh", 0, check_resume)
    with monkeypatch.context() as m:
        m.setattr(pipeline, "DRIVER_VOCAB_MAX", 0)
        dist = _run(spark, inp, tmp_path, "dist", 0, check_resume)
    return drv, lsh, dist


def test_driver_link_venue_matches_distributed(spark, small_rows, tmp_path,
                                               monkeypatch):
    """The size-adaptive venues (linking, canonical names, nodes on the
    driver; LSH on Spark with the vocabulary on the driver; everything on
    Spark; and distributed LSH with more linked pairs than a driver
    union-find takes, which hands over to the all-Spark path and its
    distributed CC rounds) must produce the oracle's nodes (stats,
    timestamps, majority kind) and edges (weight, provenance), and
    identical components, triples, parquet schemas and lineage drop
    audits — same shared hashing/rules code, different venue only."""
    inp = _write_input(spark, small_rows, str(tmp_path / "in"))
    venues = list(_run_venues(spark, inp, tmp_path, monkeypatch))
    with monkeypatch.context() as m:
        m.setattr(cc, "DRIVER_CC_MAX_EDGES", 0)
        venues.append(_run(spark, inp, tmp_path, "dist_cc", 0))

    def dropped(out):
        return [
            r.input_rows
            for r in lin.read_lineage(spark, out)
            .filter("stage = 'components'").collect()
        ]

    want_nodes = oracle.nodes(small_rows)
    want_edges = oracle.edges(small_rows, PipelineConfig().max_provenance)
    first_out, first = venues[0]
    for table in GRAPH_TABLES:
        assert len(_rows(spark, first[table])) > 0, table
    assert len(dropped(first_out)) == 1
    for out, paths in venues:
        assert _rows(spark, paths["nodes"]) == want_nodes, out
        assert _rows(spark, paths["edges"]) == want_edges, out
        for table in GRAPH_TABLES:
            assert _rows(spark, first[table]) == _rows(spark, paths[table]), table
            assert _schema(first[table]).equals(
                _schema(paths[table]), check_metadata=True), table
        assert dropped(first_out) == dropped(out)


def test_driver_graph_tables_match_spark(spark):
    """The driver venue (driver_graph_tables) and the Spark runners
    (canonical_names -> norm_to_entity -> nodes) both give the
    hand-written canonical names and node rows: count ties to the
    smallest norm, kind ties to the smallest kind, and timestamps as
    min/max that skip nulls (one entity has none at all).  The Spark side
    runs with two rows per Arrow batch, so the three-norm entity reaches
    its partition's kernel call in several batches."""
    import datetime as dt

    import pandas as pd

    from mongo2neo_spark.operators import materialize as mat

    t = [dt.datetime(2026, 1, 1, h) for h in range(8)]
    stats_pdf = pd.DataFrame(
        [
            ("alpha", 3, None, t[6]),
            ("alpah", 6, t[0], None),
            ("alpa", 1, t[5], t[5]),
            ("toolbox", 2, None, None),
            ("gamma", 1, t[2], t[3]),
            ("gama", 1, t[4], t[4]),
            ("delta corp", 2, t[7], t[7]),
            ("delta co", 2, t[3], t[3]),
        ],
        columns=["norm", "cnt", "first_ts", "last_ts"],
    )
    comp_pdf = pd.DataFrame(
        [("alpha", 1), ("alpah", 1), ("alpa", 1), ("toolbox", 2), ("gamma", 3),
         ("gama", 3), ("delta corp", 4), ("delta co", 4)],
        columns=["norm", "entity_id"],
    )
    want_n2e = [
        ("alpa", "alpah"), ("alpah", "alpah"), ("alpha", "alpah"),
        ("delta co", "delta co"), ("delta corp", "delta co"),
        ("gama", "gama"), ("gamma", "gama"), ("toolbox", "toolbox"),
    ]
    # rules.infer_kind: "delta corp" is an org and "delta co" a person,
    # with equal counts; the other alpha/gamma norms are artifacts
    want_nodes = [
        ("alpah", "artifact", 10, t[0], t[6]),
        ("delta co", "org", 4, t[3], t[7]),
        ("gama", "artifact", 2, t[2], t[4]),
        ("toolbox", "tool", 2, None, None),
    ]

    def rows(pdf, schema):
        return sorted(map(tuple, spark.createDataFrame(pdf, schema).collect()))

    n2e_pdf, nodes_pdf = mat.driver_graph_tables(stats_pdf, comp_pdf)
    assert rows(n2e_pdf, schemas.NORM_TO_ENTITY) == want_n2e
    assert rows(nodes_pdf, schemas.NODE_ROWS) == want_nodes

    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(conf)
    spark.conf.set(conf, "2")
    try:
        stats = spark.createDataFrame(
            stats_pdf,
            "norm string, cnt long, first_ts timestamp, last_ts timestamp",
        )
        comp = spark.createDataFrame(comp_pdf, schemas.COMPONENT_ROWS)
        n2e = mat.norm_to_entity(
            comp, mat.canonical_names(components=comp, stats=stats))
        assert sorted(map(tuple, n2e.collect())) == want_n2e
        nodes = mat.nodes(stats=stats, n2e=n2e)
        assert sorted(map(tuple, nodes.collect())) == want_nodes
    finally:
        spark.conf.set(conf, old)


def _no_mention_rows(rows):
    return [r._replace(text=r.text.lower()) for r in rows]


@pytest.mark.parametrize("case", ["no_mentions", "all_duplicates"])
def test_degenerate_input_both_venues(spark, small_rows, tmp_path, case,
                                      monkeypatch):
    """Input without a single mention, and input where every turn comes
    twice, give the oracle's triples on every venue, and a resumed run
    changes nothing."""
    rows = (_no_mention_rows(small_rows) if case == "no_mentions"
            else small_rows + small_rows)
    inp = _write_input(spark, rows, str(tmp_path / "in"))
    want = oracle.pipeline_triples(rows)
    assert (len(want) == 0) == (case == "no_mentions")
    for _, paths in _run_venues(spark, inp, tmp_path, monkeypatch,
                                check_resume=True):
        assert set(_rows(spark, paths["triples"])) == want
        if case == "no_mentions":
            for table in ("components", "nodes", "edges"):
                assert _rows(spark, paths[table]) == [], table


def test_empty_input_both_venues(spark, tmp_path, monkeypatch):
    """A 0-row transcript table: extraction writes no data files, and
    every later table comes out empty instead of failing to read back,
    on every venue, fresh and resumed.  Every lineage row records 0 rows
    out and the checksum "0" (the observed sum over no rows is null)."""
    inp = _write_input(spark, [], str(tmp_path / "in"))
    for out, paths in _run_venues(spark, inp, tmp_path, monkeypatch,
                                  check_resume=True):
        for table in GRAPH_TABLES:
            assert _rows(spark, paths[table]) == [], table
        lineage = lin.read_lineage(spark, out).collect()
        assert len(lineage) == 4 + 2  # extract buckets, components, materialize
        for r in lineage:
            assert (r.output_rows, r.checksum) == (0, "0"), r


# Spark jobs of one fresh run on the small fixture, per venue: 13 on the
# driver link venue since canonical names and nodes are driver-built, the
# driver-built frames are Arrow local tables and the read-backs declare
# their schemas (34 before); 14 on the distributed-LSH venue since the
# driver groups the band keys and pair scoring is one job (26 before, 44
# before the vocabulary stayed on the driver); 53 on the all-Spark chain
# with distributed CC rounds (DRIVER_VOCAB_MAX and DRIVER_CC_MAX_EDGES
# patched to 0) since canonical names and nodes run their kernels once per
# hash partition (58 with the window functions).  Each venue made 4 more
# (17/18/57) while the dedup strategy was picked from a 2-job row sample
# and each of the three lineage records was a parquet append job
MAX_FRESH_RUN_JOBS = {"driver_link": 13, "distributed_lsh": 14,
                      "all_spark_cc": 53}


def _cached_rdds(sc):
    return {r.id() for r in sc._jsc.sc().getRDDStorageInfo()}


def _jobs_in_group(sc, group, fn):
    """Spark jobs that ``fn()`` starts, counted by job group."""
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("venue", list(MAX_FRESH_RUN_JOBS))
def test_fresh_run_job_count(spark, small_rows, tmp_path, monkeypatch, venue):
    """Fixed cost guard: a read-back or an inferring read that comes back
    shows up here as extra Spark jobs.  A run also leaves nothing it
    persisted cached (the all-Spark chain's CC rounds included), and a
    resumed run over its finished output starts no job at all: lineage
    is read and written by the driver."""
    if venue == "all_spark_cc":
        monkeypatch.setattr(pipeline, "DRIVER_VOCAB_MAX", 0)
        monkeypatch.setattr(cc, "DRIVER_CC_MAX_EDGES", 0)
    driver_link_max = 100_000 if venue == "driver_link" else 0
    inp = _write_input(spark, small_rows, str(tmp_path / "in"))
    out = str(tmp_path / "out")
    sc = spark.sparkContext
    cached_before = _cached_rdds(sc)

    def run(resume):
        run_pipeline(spark, inp, out,
                     PipelineConfig(n_buckets=4, run_id="jobs",
                                    driver_link_max=driver_link_max),
                     resume=resume)

    n_jobs = _jobs_in_group(sc, f"job-count-{tmp_path.name}",
                            lambda: run(False))
    assert 0 < n_jobs <= MAX_FRESH_RUN_JOBS[venue], n_jobs
    assert _jobs_in_group(sc, f"job-count-resumed-{tmp_path.name}",
                          lambda: run(True)) == 0
    # unpersist drops blocks asynchronously
    deadline = time.monotonic() + 10
    while _cached_rdds(sc) - cached_before and time.monotonic() < deadline:
        time.sleep(0.1)
    assert _cached_rdds(sc) <= cached_before


def test_cli_prints_triple_count_and_resumes_without_jobs(
        spark, small_rows, tmp_path, capsys):
    """The CLI's summary line counts the triples from the materialize
    lineage record; a second call over the same --out is a resumed no-op
    that prints the same count and starts no Spark job."""
    inp = _write_input(spark, small_rows, str(tmp_path / "in"))
    # the test session's own master and partitions: main's get_spark
    # reuses the session and sets these on it
    argv = ["--input", inp, "--out", str(tmp_path / "out"), "--buckets", "4",
            "--master", "local[4]", "--shuffle-partitions", "8"]
    want = (f"pipeline complete: {len(oracle.pipeline_triples(small_rows))} "
            f"distinct triples -> {tmp_path / 'out'}\n")
    pipeline.main(argv)
    assert capsys.readouterr().out == want
    sc = spark.sparkContext
    assert _jobs_in_group(sc, f"cli-resumed-{tmp_path.name}",
                          lambda: pipeline.main(argv)) == 0
    assert capsys.readouterr().out == want


def test_read_lineage_raises_on_corrupt_table(spark, tmp_path):
    """Only a missing lineage directory means "no lineage"; a damaged
    record, or a parquet part file of the lineage table older versions
    wrote, is an error that points at --no-resume, never an empty history
    that would redo (or skip) work.  A temp file left by a crash between
    a record's write and its rename is not a record, and is ignored."""
    out = str(tmp_path / "out")
    assert lin.read_lineage(spark, out) is None
    assert lin.completed_keys(spark, out, "extract") == []
    lin.record(spark, out, "extract", [("0", 0, 5, 7, 10), ("1", 0, 0, None, 10)],
               "r1")
    assert lin.completed_keys(spark, out, "extract") == ["0", "1"]
    lineage = tmp_path / "out" / "lineage"
    (good,) = [p for p in lineage.iterdir() if not p.name.startswith(".")]
    line = good.read_text().splitlines()[0]

    # crash between write and rename: the temp name is skipped
    (lineage / f"_{good.name}-crashed").write_text(line + "\n")
    assert lin.completed_keys(spark, out, "extract") == ["0", "1"]
    assert lin.read_lineage(spark, out).count() == 2

    bad = lineage / "99999999999999999999-extract-truncated.jsonl"
    bad.write_text(line[: len(line) // 2])
    with pytest.raises(ValueError, match="truncated.jsonl.*--no-resume"):
        lin.completed_keys(spark, out, "extract")
    bad.unlink()

    # an older version's parquet lineage table
    spark.createDataFrame([("extract", "0")], "stage string, k string") \
        .coalesce(1).write.parquet(str(lineage / "old"))
    (part,) = (lineage / "old").glob("part-*.parquet")
    part.rename(lineage / part.name)
    shutil.rmtree(lineage / "old")
    with pytest.raises(ValueError, match=r"part-.*\.parquet.*--no-resume"):
        lin.read_lineage(spark, out)
    # a fresh (--no-resume) run starts a new lineage
    inp = _write_input(spark, [], str(tmp_path / "in"))
    run_pipeline(spark, inp, out, PipelineConfig(n_buckets=2, run_id="new"),
                 resume=False)
    assert {r.run_id for r in lin.read_lineage(spark, out).collect()} == {"new"}
