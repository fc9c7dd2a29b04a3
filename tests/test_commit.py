"""The storage seam and the one commit point: engine tables are read
with their declared schemas, and every build (empty corpora included)
and every merge finalizes through ``build.commit_index``, which writes
corpus_stats strictly last — the serving tier's staleness token is the
corpus_stats file listing (query._index_signature)."""

from __future__ import annotations

import os

import pytest

from oculus_crawl_spark import schemas
from oculus_crawl_spark.operators import build
from oculus_crawl_spark.operators.build import build_index
from oculus_crawl_spark.operators.merge import merge_indexes
from oculus_crawl_spark.sources.tables import read_engine_table, write_table

_DOCS = "doc_id long, text string"


def test_read_engine_table_reads_empty_partitioned_table(spark, tmp_path):
    """An empty partitioned write leaves a directory without data files;
    the declared-schema read returns 0 rows with the declared columns
    instead of failing schema inference."""
    path = str(tmp_path / "segments")
    write_table(
        spark.createDataFrame([], schemas.SEGMENTS), path, partition_by=["term_bucket"]
    )
    assert not [f for f in os.listdir(path) if f.endswith(".parquet")]
    df = read_engine_table(spark, path, schemas.SEGMENTS)
    assert df.collect() == []
    assert sorted(df.columns) == sorted(schemas.SEGMENTS.fieldNames())


@pytest.fixture()
def write_log(monkeypatch):
    """Record the start and end of every write_table call the build and
    commit routines make, by table name (the commit writes from several
    threads)."""
    log: list[tuple[str, str]] = []
    real = build.write_table

    def recording(df, path, *args, **kwargs):
        name = os.path.basename(path)
        log.append(("start", name))  # list.append is atomic under the GIL
        real(df, path, *args, **kwargs)
        log.append(("end", name))

    monkeypatch.setattr(build, "write_table", recording)
    return log


def _assert_stats_written_last(log, tables):
    # corpus_stats is written once, and it starts only after every other
    # write has ended.
    assert {name for _, name in log} == tables | {"corpus_stats"}
    assert [name for _, name in log].count("corpus_stats") == 2
    assert log[-2:] == [("start", "corpus_stats"), ("end", "corpus_stats")]


@pytest.mark.parametrize(
    "rows",
    [
        [(1, "alpha beta"), (2, "beta gamma")],
        [],
    ],
    ids=["corpus", "empty_corpus"],
)
def test_build_writes_corpus_stats_last(spark, tmp_path, write_log, rows):
    build_index(spark.createDataFrame(rows, _DOCS), str(tmp_path / "idx"))
    _assert_stats_written_last(
        write_log, {"segments", "dictionary", "doclen", "lineage_metrics"}
    )


def test_merge_writes_corpus_stats_last(spark, tmp_path, write_log):
    gens = [[(1, "alpha beta"), (2, "beta gamma")], [(2, "gamma delta")]]
    for epoch, rows in enumerate(gens):
        build_index(
            spark.createDataFrame(rows, _DOCS), str(tmp_path / f"g{epoch}"), epoch
        )
    write_log.clear()
    res = merge_indexes(
        spark, [str(tmp_path / "g0"), str(tmp_path / "g1")], str(tmp_path / "m")
    )
    assert res.n_docs == 2
    # The merge's waves write raw parquet; its finalize is commit_index.
    _assert_stats_written_last(write_log, {"dictionary", "doclen"})
