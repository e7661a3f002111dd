"""Record-aligned multiLine CSV reader (sources/csv.read_multiline_csv).

Spark parses a multiLine CSV file in ONE task. The reader cuts each file
at LFs outside quotes into header-prefixed chunks that Spark's own
parser reads one task each. The reference throughout is Spark's own
multiLine read of the unsplit input with the same options: every row
must keep exactly its value. Also pinned: the cut points equal a
byte-at-a-time reference scan at every block size, unsafe files fall
back to the one-task read, and ``release_pins`` deletes the chunks.
A split read takes its column names from the header record it cut, so
building the frame starts no Spark job, and headers Spark would rename
fall back to Spark's own inference.
"""

from __future__ import annotations

import importlib.util
import os
from pathlib import Path

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from airbnb_listings_reviews_data_engineering_spark.airbnb import etl
from airbnb_listings_reviews_data_engineering_spark.checkpoint import release, release_pins
from airbnb_listings_reviews_data_engineering_spark.sources import csv as csv_source
from airbnb_listings_reviews_data_engineering_spark.sources.csv import (
    header_names,
    read_multiline_csv,
    record_cuts,
    split_csv,
)
from airbnb_listings_reviews_data_engineering_spark.sources.staging import ROOT_CONF

N_ROWS = 20_000

SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("body", T.StringType()),
        T.StructField("tag", T.StringType()),
    ]
)


@pytest.fixture(autouse=True)
def stage_root(spark, tmp_path):
    """Chunks land under this test's own staging root."""
    root = tmp_path / "stage"
    spark.conf.set(ROOT_CONF, str(root))
    yield root
    spark.conf.unset(ROOT_CONF)


def _chunk_dirs(root: Path) -> list[str]:
    split = root / "csv_split"
    return sorted(os.listdir(split)) if split.is_dir() else []


def _reference(spark, path, encoding="UTF-8", schema=None):
    """Spark's own multiLine read of the unsplit input."""
    return (
        spark.read.option("header", True)
        .option("multiLine", True)
        .option("quote", '"')
        .option("escape", '"')
        .option("encoding", encoding)
        .csv(str(path), schema=schema)
    )


def _assert_same_rows(got, want):
    assert got.columns == want.columns
    key = lambda r: tuple((v is None, str(v)) for v in r)  # noqa: E731
    assert sorted(map(tuple, got.collect()), key=key) == sorted(
        map(tuple, want.collect()), key=key
    )


def _reference_cuts(data: bytes, targets: list[int]):
    """Byte-at-a-time version of record_cuts."""
    edge = {ord(","), ord("\r"), ord("\n"), ord('"')}
    quotes = [i for i, c in enumerate(data) if c == ord('"')]
    for k, i in enumerate(quotes):
        if k % 2 == 0 and i > 0 and data[i - 1] not in edge:
            return None  # an opening quote inside a field
        if k % 2 == 1 and i + 1 < len(data) and data[i + 1] not in edge:
            return None  # a closing quote followed by field text
    if len(quotes) % 2:
        return None
    ends, inside = [], False
    for i, c in enumerate(data):
        if c == ord('"'):
            inside = not inside
        elif c == ord("\n") and not inside:
            ends.append(i)
    if not ends:
        return None
    cuts = []
    for t in sorted(targets):
        after = [e + 1 for e in ends if e >= t]
        if after and after[0] not in cuts:
            cuts.append(after[0])
    return ends[0] + 1, [c for c in cuts if ends[0] + 1 < c < len(data)]


def _hand_built() -> tuple[bytes, int]:
    """CRLF records, a quoted header field holding a newline, doubled
    quotes, no trailing newline after the last record, and a quoted LF
    exactly at the first target cut offset (a quarter of the file).
    Returns the bytes and that offset."""
    header = b'id,"multi\r\nline head",tag\r\n'
    rows = [
        b'%d,"row %d says ""hi""\r\nand goes on, past a comma",t%d' % (i, i, i % 3)
        for i in range(40)
    ]
    for pad in range(400):
        # one row's field is a run of quoted LFs; grow the padding before
        # it until a quarter of the file lands inside that run
        long_row = b'99,"' + b"x" * pad + b"\n" * 50 + b'",long'
        data = header + b"\r\n".join(rows[:5] + [long_row] + rows[5:])
        t = len(data) // 4
        run = data.index(b"\n" * 50)
        if run < t < run + 50:
            return data, t
    raise AssertionError("no padding puts the target inside the quoted run")


@pytest.fixture(scope="module")
def one_file_csv(spark, tmp_path_factory):
    """One Spark-written 20k-row CSV file (beside ``_SUCCESS`` and
    ``.crc`` files) whose every `body` field holds embedded newlines and
    doubled-quote escapes."""
    src = str(tmp_path_factory.mktemp("split") / "src")
    df = spark.range(N_ROWS).select(
        F.col("id"),
        F.concat(
            F.lit('line one "q'),
            F.lit('"'),  # doubled in CSV by the writer's escape
            F.lit('uoted"\nline two of row '),
            F.col("id").cast("string"),
            F.lit("\nline three"),
        ).alias("body"),
        (F.col("id") % 7).cast("string").alias("tag"),
    )
    df.coalesce(1).write.mode("overwrite").option("header", True).option(
        "quote", '"'
    ).option("escape", '"').csv(src)
    return src, df


def test_one_file_reads_as_many_tasks(spark, one_file_csv):
    src, _df = one_file_csv
    # the caveat the reader removes: one multiLine file -> one task
    assert _reference(spark, src, schema=SCHEMA).rdd.getNumPartitions() == 1
    split = read_multiline_csv(spark, src, SCHEMA)
    assert split.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
    assert split.count() == N_ROWS


def test_split_content_fidelity(spark, one_file_csv):
    src, df = one_file_csv
    split = read_multiline_csv(spark, src, SCHEMA)
    got = {r["id"]: (r["body"], r["tag"]) for r in split.collect()}
    want = {r["id"]: (r["body"], r["tag"]) for r in df.collect()}
    assert got == want  # newlines and doubled quotes survive intact


@pytest.fixture(scope="module")
def gen_day1(tmp_path_factory) -> Path:
    """Day 1 of the benchmark generator's dump: UTF-8 listings with
    quoted multi-line text and amenity literals, ISO-8859-1 reviews with
    non-ASCII names."""
    spec = importlib.util.spec_from_file_location(
        "airbnb_gen", Path(__file__).resolve().parent.parent / "airbnb_bench" / "gen.py"
    )
    gen = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(gen)
    return Path(gen.generate(str(tmp_path_factory.mktemp("gen") / "data"), 5, 300)) / "day1"


def test_generated_dump_matches_spark_reader(spark, gen_day1):
    day1 = gen_day1
    reviews = (day1 / "Reviews.csv").read_bytes()
    assert any(b > 127 for b in reviews)
    for name, encoding in (("Listings.csv", "UTF-8"), ("Reviews.csv", "ISO-8859-1")):
        path = str(day1 / name)
        got = read_multiline_csv(spark, path, encoding=encoding)
        assert got.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
        _assert_same_rows(got, _reference(spark, path, encoding))


def test_generated_dump_reads_start_no_job(spark, gen_day1):
    """Both ETL scans take their header from the split scan: building
    either frame starts no Spark job (no schema inference)."""
    scheduler = spark.sparkContext._jsc.sc().dagScheduler()
    for read, name in (
        (etl.read_listings_csv, "Listings.csv"),
        (etl.read_reviews_csv, "Reviews.csv"),
    ):
        before = scheduler.nextJobId()
        df = read(spark, str(gen_day1 / name))
        assert scheduler.nextJobId() == before, name
        assert df.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
        release(df)


@pytest.mark.parametrize(
    "header",
    [
        b"id,ID,body",  # Spark suffixes names equal when case is ignored
        b"id,,body",  # and names an empty one _c1
        b"\xef\xbb\xbfid,tag,body",  # a UTF-8 byte-order mark
        b'id,"tag",body',  # a quoted name
    ],
)
def test_renamed_headers_match_spark_reader(spark, tmp_path, stage_root, header):
    rows = b"".join(b'%d,t%d,"line %d\nnext"\n' % (i, i % 3, i) for i in range(200))
    path = tmp_path / "head.csv"
    path.write_bytes(header + b"\n" + rows)
    got = read_multiline_csv(spark, str(path))
    assert len(_chunk_dirs(stage_root)) == 1  # the file was cut
    _assert_same_rows(got, _reference(spark, path))


def test_header_names_fall_back_where_spark_renames():
    assert header_names([b"a,b,c\n"]) == ["a", "b", "c"]
    assert header_names([b"a,b\r\n", b"a,b\r\n"]) == ["a", "b"]
    for first_lines in (
        [b"a,b\n", b"a,c\n"],  # the files' headers differ
        [b"a,b"],  # no LF: the header record's end is unknown
        [b'a,"b"\n'],
        [b"a,b\rc\n"],
        [b"\xef\xbb\xbfa,b\n"],
        [b"a,\xc3\xa9\n"],  # not ASCII
        [b"a,,b\n"],
        [b"a,b,A\n"],
    ):
        assert header_names(first_lines) is None, first_lines


def test_hand_built_edge_cases_match_spark_reader(spark, tmp_path, stage_root):
    data, target = _hand_built()
    path = tmp_path / "edge.csv"
    path.write_bytes(data)
    size = len(data)
    header_end, cuts = record_cuts(str(path), [size * j // 4 for j in range(1, 4)])
    assert data[:header_end] == b'id,"multi\r\nline head",tag\r\n'
    assert data[target] == ord("\n") and cuts[0] > target + 1  # not cut in quotes
    assert all(data[c - 2 : c] == b"\r\n" for c in cuts)
    got = read_multiline_csv(spark, str(path))
    _assert_same_rows(got, _reference(spark, path))
    (chunks,) = _chunk_dirs(stage_root)
    assert len(os.listdir(stage_root / "csv_split" / chunks)) == len(cuts) + 1
    assert got.filter(F.col("id") == 39).first()["tag"] == "t0"  # no trailing LF


def test_stray_quote_reads_as_one_chunk(spark, tmp_path, stage_root):
    path = tmp_path / "stray.csv"
    path.write_bytes(
        b'id,text\n1,"fine, quoted"\n2,ab"c\n3,"multi\nline"\n4,plain\n'
    )
    assert record_cuts(str(path), [10, 20, 30]) is None
    got = read_multiline_csv(spark, str(path))
    assert got.rdd.getNumPartitions() == 1
    assert _chunk_dirs(stage_root) == []  # nothing was copied
    _assert_same_rows(got, _reference(spark, path))


@pytest.mark.parametrize("block", [1, 2, 3, 7, 64, 1 << 20])
def test_record_cuts_match_byte_reference_at_every_block_size(
    tmp_path, monkeypatch, block
):
    monkeypatch.setattr(csv_source, "BLOCK_BYTES", block)
    edge, _ = _hand_built()
    cases = [
        edge,
        b'a,b\n"x""",y\n"",z\n',
        b'a,b\n1,"open\n2,3\n',  # ends inside quotes
        b'a,b\n1,ab"\n2,c\n',  # unquoted field ending in a quote
        b'a,"b"c\n1,2\n',  # text after a closing quote
        b'"a\nb",c',  # no LF outside quotes
        b'a,b\r\n"1",2\r\n3,"4"',
    ]
    for i, data in enumerate(cases):
        path = tmp_path / f"c{i}.csv"
        path.write_bytes(data)
        targets = [len(data) * j // 5 for j in range(1, 5)]
        assert record_cuts(str(path), targets) == _reference_cuts(data, targets), data


def test_unsplittable_encoding_and_uri_read_as_given(spark, tmp_path):
    path = tmp_path / "plain.csv"
    path.write_bytes(b"a,b\n1,2\n3,4\n5,6\n7,8\n")
    assert split_csv(spark, str(path), "UTF-16") is None
    assert split_csv(spark, "file://" + str(path), "UTF-8") is None
    assert split_csv(spark, str(path), "UTF-8")[1] == ["a", "b"]


def test_release_pins_deletes_chunks(spark, one_file_csv, stage_root):
    src, _df = one_file_csv
    read_multiline_csv(spark, src, SCHEMA).count()
    assert len(_chunk_dirs(stage_root)) == 1
    release_pins(spark)
    assert _chunk_dirs(stage_root) == []
