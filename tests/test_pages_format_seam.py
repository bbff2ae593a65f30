"""Table-format seam routing (sources/pages.py): the sandbox ships no
Iceberg jar, so pin the iceberg/parquet/warc routing + writer-API
selection with recording fakes — the branch logic must be exercised
even though only the parquet arm runs for real here (VERDICT r3 #3)."""

from __future__ import annotations

import pytest

from solrizer_spark.sources.pages import read_pages, write_table


class _Recorder:
    """Chainable fake for DataFrameReader/Writer: records every call
    as (method, args) and returns itself so fluent chains work."""

    def __init__(self, log):
        self.log = log

    def __getattr__(self, name):
        def call(*args, **kwargs):
            self.log.append((name, args, kwargs))
            return self
        return call


class _FakeSpark:
    def __init__(self):
        self.calls = []
        self.read = _Recorder(self.calls)


class _FakeDF:
    def __init__(self):
        self.calls = []
        self.write = _Recorder(self.calls)

    def writeTo(self, target):
        self.calls.append(("writeTo", (target,), {}))
        return _Recorder(self.calls)


def _methods(log):
    return [m for m, _, _ in log]


def test_read_routing_auto():
    # catalog-style name (dot, no slash) -> iceberg
    fake = _FakeSpark()
    read_pages(fake, "warehouse.pages")
    assert ("format", ("iceberg",), {}) in fake.calls
    assert ("load", ("warehouse.pages",), {}) in fake.calls

    # path -> parquet
    fake = _FakeSpark()
    read_pages(fake, "/data/pages")
    assert fake.calls == [("parquet", ("/data/pages",), {})]

    # explicit fmt overrides the auto heuristic
    fake = _FakeSpark()
    read_pages(fake, "/data/pages", fmt="iceberg")
    assert ("format", ("iceberg",), {}) in fake.calls


def test_read_routing_auto_warc(monkeypatch):
    import solrizer_spark.sources.warc as warcmod

    seen = {}
    monkeypatch.setattr(
        warcmod, "read_warc", lambda spark, src: seen.setdefault("src", src)
    )
    monkeypatch.setattr(
        warcmod, "warc_pages_projection", lambda records: records
    )
    out = read_pages(_FakeSpark(), "/crawl/seg-0.warc.gz")
    assert out == "/crawl/seg-0.warc.gz" and seen["src"] == out


def test_write_routing_iceberg_create_vs_append(spark):
    # needs the live session: partitionedBy builds F.col() Columns
    df = _FakeDF()
    write_table(df, "warehouse.docs", partition_by=["bucket"])
    assert _methods(df.calls) == ["writeTo", "partitionedBy", "createOrReplace"]
    assert df.calls[0] == ("writeTo", ("warehouse.docs",), {})

    df = _FakeDF()
    write_table(df, "warehouse.docs", mode="append")
    assert _methods(df.calls) == ["writeTo", "append"]


_SINK_OPTIONS = (
    "options", (), {"compression": "zstd", "parquet.statistics.truncate.length": "64"}
)


def test_write_routing_parquet_dynamic_overwrite():
    df = _FakeDF()
    write_table(df, "/out/docs", partition_by=["bucket"])
    assert ("mode", ("overwrite",), {}) in df.calls
    assert ("option", ("partitionOverwriteMode", "dynamic"), {}) in df.calls
    assert ("partitionBy", ("bucket",), {}) in df.calls
    assert _SINK_OPTIONS in df.calls
    assert df.calls[-1] == ("parquet", ("/out/docs",), {})

    # append mode must NOT set dynamic partition overwrite
    df = _FakeDF()
    write_table(df, "/out/docs", mode="append")
    assert ("option", ("partitionOverwriteMode", "dynamic"), {}) not in df.calls
    assert _SINK_OPTIONS in df.calls


@pytest.mark.parametrize(
    "source,expected",
    [
        ("db.tbl", "iceberg"),
        ("/a/b.parquet/x", "parquet"),   # slash wins over dot
        ("seg.warc", "warc"),
        ("seg.warc.gz", "warc"),
    ],
)
def test_auto_heuristic_table(source, expected, monkeypatch):
    fake = _FakeSpark()
    if expected == "warc":
        import solrizer_spark.sources.warc as warcmod

        monkeypatch.setattr(warcmod, "read_warc", lambda s, p: "warc-df")
        monkeypatch.setattr(warcmod, "warc_pages_projection", lambda r: r)
        assert read_pages(fake, source) == "warc-df"
    else:
        read_pages(fake, source)
        if expected == "iceberg":
            assert ("format", ("iceberg",), {}) in fake.calls
        else:
            assert fake.calls == [("parquet", (source,), {})]
