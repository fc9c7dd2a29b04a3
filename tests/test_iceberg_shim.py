"""Iceberg-or-Parquet shim (SURVEY §7.6): the sandbox has no Iceberg
jars, so the ``writeTo`` branch cannot run — these tests stub the
catalog probe and the DataFrameWriterV2 surface and assert the CALL
SHAPE (table identifier, partitionedBy columns, create-vs-append) that
a real catalog would receive. The Parquet branch is exercised by every
other test in the suite."""

from __future__ import annotations

from oculus_crawl_spark.sources import tables


class _FakeWriterV2:
    def __init__(self, table: str, log: dict):
        self.log = log
        log["table"] = table
        log["partitioned"] = None
        log["mode"] = None

    def partitionedBy(self, *cols):
        self.log["partitioned"] = [str(c) for c in cols]
        return self

    def createOrReplace(self):
        self.log["mode"] = "createOrReplace"

    def append(self):
        self.log["mode"] = "append"


def test_iceberg_catalog_probe(spark):
    # No iceberg catalog configured in the sandbox session.
    assert tables._iceberg_catalog(spark) is None


def test_write_table_iceberg_call_shape(spark, monkeypatch):
    log: dict = {}
    df = spark.range(3).withColumnRenamed("id", "term_bucket")
    monkeypatch.setattr(tables, "_iceberg_catalog", lambda s: "ice")
    # Patch the CONCRETE class (pyspark.sql.classic in Spark 4 overrides
    # the pyspark.sql.DataFrame base).
    monkeypatch.setattr(
        type(df), "writeTo", lambda self, t: _FakeWriterV2(t, log)
    )

    tables.write_table(df, "/idx/gen1/segments", partition_by=["term_bucket"])
    assert log["table"] == "ice.idx.gen1.segments"
    assert log["mode"] == "createOrReplace"
    assert log["partitioned"] and "term_bucket" in log["partitioned"][0]

    tables.write_table(df, "/idx/gen1/lineage_metrics", None, mode="append")
    assert log["table"] == "ice.idx.gen1.lineage_metrics"
    assert log["mode"] == "append"
    assert log["partitioned"] is None


def test_read_engine_table_iceberg_call_shape(spark, monkeypatch):
    """Catalog tables carry their own schema: the declared one must not
    reach ``spark.read.table`` (nor a ``.schema(...)`` before it)."""
    from oculus_crawl_spark import schemas

    log: dict = {}
    monkeypatch.setattr(tables, "_iceberg_catalog", lambda s: "ice")
    monkeypatch.setattr(
        type(spark.read),
        "table",
        lambda self, *args, **kwargs: log.update(args=args, kwargs=kwargs),
    )
    monkeypatch.setattr(
        type(spark.read),
        "schema",
        lambda self, *a, **k: log.setdefault("schema_called", True),
    )
    tables.read_engine_table(spark, "/idx/gen1/segments", schemas.SEGMENTS)
    assert log["args"] == ("ice.idx.gen1.segments",)
    assert log["kwargs"] == {}
    assert "schema_called" not in log


def test_merge_refuses_catalog_session(spark, monkeypatch):
    """A catalog-configured build writes Iceberg tables, but the merge
    reads and writes raw parquet: it would merge whatever stale parquet
    sits at the roots and serving would never see its output. Refused
    before anything is read or written."""
    import pytest

    from oculus_crawl_spark.operators import merge

    monkeypatch.setattr(merge, "_iceberg_catalog", lambda s: "ice")
    monkeypatch.setattr(
        merge, "read_engine_table",
        lambda *a, **k: pytest.fail("merge read a table on a catalog session"),
    )
    with pytest.raises(ValueError, match="catalog"):
        merge.merge_indexes(spark, ["/idx/gen0", "/idx/gen1"], "/idx/merged")


def test_iceberg_catalog_probe_ignores_subkeys():
    """Only the catalog-DEFINING key spark.sql.catalog.<name> names a
    catalog; sub-keys (…<name>.warehouse=/data/iceberg/wh) whose values
    also contain 'iceberg' must not win — getAll() order is arbitrary,
    and matching one yielded the identifier '<name>.warehouse'."""

    class _FakeConf:
        def __init__(self, pairs):
            self._p = pairs

        def getAll(self):
            return self._p

    class _FakeSpark:
        def __init__(self, pairs):
            conf = _FakeConf(pairs)
            self.sparkContext = type("SC", (), {"getConf": lambda s: conf})()

    # Sub-key listed FIRST (the order that broke the old parse).
    pairs = [
        ("spark.sql.catalog.local.warehouse", "/data/iceberg/wh"),
        ("spark.sql.catalog.local", "org.apache.iceberg.spark.SparkCatalog"),
        ("spark.sql.catalog.local.catalog-impl", "org.apache.iceberg.rest.RESTCatalog"),
    ]
    assert tables._iceberg_catalog(_FakeSpark(pairs)) == "local"
    # Sub-keys alone define no catalog.
    assert tables._iceberg_catalog(_FakeSpark(pairs[:1])) is None
