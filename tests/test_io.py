"""sources.io — format-branch selection and writer-call construction.

The sandbox has no Iceberg runtime jar (SURVEY.md §0), so the iceberg
branch cannot execute end-to-end here; these tests pin everything up to
the jar boundary with recording fakes: which branch is selected for
path vs catalog-name targets, and the exact writeTo option/
overwritePartitions call sequence.  The only line left unverified is
the Spark-internal execution of those calls.
"""

import pytest

from mongo2neo_spark.sources import io as m2nio


class _RecordingWriter:
    def __init__(self, log):
        self.log = log

    def option(self, k, v):
        self.log.append(("option", k, v))
        return self

    def overwritePartitions(self):
        self.log.append(("overwritePartitions",))


class _FakeParquetWriter:
    def __init__(self, log):
        self.log = log

    def mode(self, m):
        self.log.append(("mode", m))
        return self

    def option(self, k, v):
        self.log.append(("option", k, v))
        return self

    def partitionBy(self, *cols):
        self.log.append(("partitionBy", cols))
        return self

    def parquet(self, path):
        self.log.append(("parquet", path))


class _FakeDF:
    def __init__(self):
        self.log = []

    def writeTo(self, target):
        self.log.append(("writeTo", target))
        return _RecordingWriter(self.log)

    @property
    def write(self):
        self.log.append(("write",))
        return _FakeParquetWriter(self.log)


@pytest.fixture()
def iceberg_format(monkeypatch):
    monkeypatch.setattr(m2nio, "TABLE_FORMAT", "iceberg")


def test_iceberg_overwrite_uses_overwrite_partitions(iceberg_format):
    df = _FakeDF()
    m2nio.write_table(df, "cat.db.nodes", options={"write.format": "parquet"})
    assert df.log == [
        ("writeTo", "cat.db.nodes"),
        ("option", "write.format", "parquet"),
        ("overwritePartitions",),
    ]


def test_iceberg_format_with_path_target_falls_back_to_parquet(iceberg_format):
    """A path target must use the parquet writer even when the session
    format is iceberg — stage code passes paths in the sandbox."""
    df = _FakeDF()
    m2nio.write_table(df, "/tmp/x/nodes", partition_by=["bucket"])
    assert df.log[0] == ("write",)
    assert ("partitionBy", ("bucket",)) in df.log
    assert df.log[-1] == ("parquet", "/tmp/x/nodes")


def test_parquet_format_ignores_writeto_entirely():
    df = _FakeDF()
    m2nio.write_table(df, "relative/path")
    assert all(step[0] != "writeTo" for step in df.log)
    assert ("mode", "overwrite") in df.log
    assert df.log[-1] == ("parquet", "relative/path")


def test_read_table_branch_selection(iceberg_format):
    class _FakeReader:
        def __init__(self, log):
            self.log = log

        def format(self, f):
            self.log.append(("format", f))
            return self

        def load(self, t):
            self.log.append(("load", t))

        def parquet(self, t):
            self.log.append(("parquet", t))

    class _FakeSpark:
        def __init__(self):
            self.log = []

        @property
        def read(self):
            return _FakeReader(self.log)

    sp = _FakeSpark()
    m2nio.read_transcripts(sp, "cat.db.turns")
    assert sp.log == [("format", "iceberg"), ("load", "cat.db.turns")]
    sp2 = _FakeSpark()
    m2nio.read_transcripts(sp2, "/data/turns.parquet")
    assert sp2.log == [("parquet", "/data/turns.parquet")]
