"""Source readers: explicit-schema CSV ingestion with
queryable corruption, and multi-file text isolation (reference
R1/R10)."""

from __future__ import annotations

from pyspark.sql import functions as F

from irio2024_mapreduce_spark.sources.tables import (
    read_csv_dir,
    read_text_dir,
)

DOC_SCHEMA = "doc_id long, lang string, text string"


def test_read_csv_dir_explicit_schema_and_corruption(spark, tmp_path):
    d = tmp_path / "csv_src"
    d.mkdir()
    (d / "a.csv").write_text(
        "doc_id,lang,text\n1,en,hello world\n2,de,hallo welt\n"
    )
    # file b: row 4 is malformed (too many columns for the schema)
    (d / "b.csv").write_text(
        "doc_id,lang,text\n3,fr,bonjour\nnot_a_long,xx,oops\n"
    )
    df = read_csv_dir(spark, str(d), DOC_SCHEMA)
    rows = df.collect()
    assert len(rows) == 4
    good = {
        r["doc_id"]: r["text"]
        for r in rows
        if r["_corrupt_record"] is None
    }
    assert good == {1: "hello world", 2: "hallo welt", 3: "bonjour"}
    # the malformed line is captured verbatim, queryable — not
    # silently dropped, not failing the job
    bad = [r for r in rows if r["_corrupt_record"] is not None]
    assert len(bad) == 1
    assert "not_a_long" in bad[0]["_corrupt_record"]
    assert bad[0]["doc_id"] is None


def test_corrupt_filter_runs_in_spark_and_schema_not_mutated(
    spark, tmp_path
):
    """The advertised corrupt-row query must work ENGINE-side (not
    just Python post-collect): Spark rejects a raw-scan query whose
    only referenced column is the internal corrupt column, so a data
    column must ride along. Also pins that the caller's StructType is
    never mutated by the corrupt-column append."""
    from pyspark.sql import types as T

    d = tmp_path / "csv_mut"
    d.mkdir()
    (d / "a.csv").write_text(
        "doc_id,lang,text\n1,en,ok\nnot_a_long,xx,oops\n"
    )
    caller_schema = T.StructType.fromDDL(DOC_SCHEMA)
    df = read_csv_dir(spark, str(d), caller_schema)
    # Spark-side filter on the corrupt column (with a data column
    # selected alongside — the documented pattern)
    bad = (
        df.select("doc_id", "_corrupt_record")
        .filter(F.col("_corrupt_record").isNotNull())
        .collect()
    )
    assert len(bad) == 1 and "not_a_long" in bad[0]["_corrupt_record"]
    # the schema object the caller passed in must be untouched
    assert caller_schema.fieldNames() == ["doc_id", "lang", "text"]


def test_read_text_dir_files_never_bleed(spark, tmp_path):
    """R1/R10: every line belongs to exactly one file; a file without
    a trailing newline must not merge with the next file's first
    line."""
    d = tmp_path / "text_src"
    d.mkdir()
    (d / "one.txt").write_text("alpha beta")  # no trailing newline
    (d / "two.txt").write_text("gamma\ndelta\n")
    lines = sorted(
        r["value"] for r in read_text_dir(spark, str(d)).collect()
    )
    assert lines == ["alpha beta", "delta", "gamma"]


def test_csv_reader_prunes_columns(spark, tmp_path):
    """Column pruning must reach the CSV scan: a projection of one
    column reads a one-column schema (ReadSchema in the plan)."""
    import contextlib
    import io

    d = tmp_path / "csv_prune"
    d.mkdir()
    (d / "a.csv").write_text("doc_id,lang,text\n1,en,hello\n")
    df = read_csv_dir(spark, str(d), DOC_SCHEMA).select("lang")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode="formatted")
    plan = buf.getvalue()
    read_schema = plan.split("ReadSchema:")[1].split("\n")[0]
    assert "lang" in read_schema and "text" not in read_schema


def test_table_rewrites_replace_their_memo_entries(
    spark, tmp_path, monkeypatch
):
    """A table rewritten in place three times, each time with an added
    column: load_table sees every new column, and the schema and size
    memos each hold one entry for the path, not one per rewrite."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from irio2024_mapreduce_spark.sources import tables as T

    monkeypatch.setattr(T, "_SCHEMA_CACHE", {})
    monkeypatch.setattr(T, "_SIZE_CACHE", {})
    path = tmp_path / "region.parquet"
    cols: dict[str, list[int]] = {}
    for i, col in enumerate("abc"):
        cols[col] = [1, 2, 3]
        pq.write_table(pa.table(cols), path)
        # distinct mtimes whatever the filesystem's timestamp granularity
        os.utime(path, ns=(10**18 + i * 10**9,) * 2)
        df = T.load_table(spark, str(tmp_path), "region")
        assert df.columns == list(cols)
        assert T.table_bytes(str(tmp_path), "region") == os.path.getsize(path)
    assert len(T._SCHEMA_CACHE) == 1
    assert len(T._SIZE_CACHE) == 1
