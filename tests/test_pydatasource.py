"""Record-delimited text reader (``format: record_text``): byte-range split
correctness against Hadoop's TextInputFormat with the same record
delimiter, at every tricky split size."""

from __future__ import annotations

import pytest

from platform_etl_backend_spark.engine.config import IOResourceConfig
from platform_etl_backend_spark.engine.io import read_single
from spark_helpers import session_scoped_conf


def _read(spark, path, split_bytes, delimiter="//\n"):
    """Read through the config-driven reader with files split every
    ``split_bytes`` bytes."""
    conf = IOResourceConfig(format="record_text", path=str(path),
                            options={"delimiter": delimiter})
    with session_scoped_conf(
        spark, {"spark.sql.files.maxPartitionBytes": str(split_bytes)}
    ):
        df = read_single(spark, conf)
        return df.rdd.getNumPartitions(), sorted(r.record for r in df.collect())


def _hadoop_records(spark, path, delimiter="//\n"):
    """The same file through Hadoop TextInputFormat with a custom record
    delimiter, dropping records of spaces only."""
    recs = spark.sparkContext.newAPIHadoopFile(
        str(path),
        "org.apache.hadoop.mapreduce.lib.input.TextInputFormat",
        "org.apache.hadoop.io.LongWritable",
        "org.apache.hadoop.io.Text",
        conf={"textinputformat.record.delimiter": delimiter},
    ).values().collect()
    return sorted(r for r in recs if r.strip(" "))


@pytest.mark.parametrize("split_bytes", [1, 7, 64, 1024, 10**7])
def test_matches_hadoop_reader_at_any_split(spark, tmp_path, split_bytes):
    """Records must be identical whatever the split size — including splits
    of 1 byte (every boundary case: mid-delimiter, at record start, at
    range end) — and identical to the Hadoop TextInputFormat reader."""
    p = tmp_path / "recs.txt"
    body = "".join(f"line{i}a\nline{i}b\n//\n" for i in range(25)) + "tail-no-delim\n"
    p.write_text(body)
    expected = _hadoop_records(spark, p)
    assert len(expected) == 26 and "tail-no-delim\n" in expected
    _, got = _read(spark, p, split_bytes)
    assert got == expected


def test_partition_count_scales_with_file_size(spark, tmp_path):
    p = tmp_path / "big.txt"
    p.write_text("".join(f"rec{i}\n//\n" for i in range(200)))
    n_parts, split = _read(spark, p, split_bytes=100)
    assert n_parts > 10  # genuinely split, not one task
    _, whole = _read(spark, p, split_bytes=10**7)
    assert split == whole and len(whole) == 200


def test_empty_file(spark, tmp_path):
    p = tmp_path / "empty.txt"
    p.write_text("")
    assert _read(spark, p, split_bytes=64)[1] == []


def test_flat_record_through_engine_io(spark, tmp_path):
    """A flat file of ``//``-delimited records reads through the
    config-driven reader as one row per record, in a ``record`` column."""
    p = tmp_path / "r.txt"
    p.write_text("a\n//\nb\n//\n")
    df = read_single(
        spark,
        IOResourceConfig(format="record_text", path=str(p),
                         options=(("delimiter", "//\n"),)),
    )
    assert df.columns == ["record"]
    assert sorted(r.record for r in df.collect()) == ["a\n", "b\n"]
