"""CSV source/sink.

Reference: pd.read_csv with inferred dtypes (Airbnb_Listings_ETL.py:23;
Latin-1 read at Airbnb_Review_ETL.py:22) and df.to_csv result sinks
(Airbnb_Analysis.py:65 etc.). Here: schema-checked reads (an inference
pass over 100 TB is a full extra scan).

``read_multiline_csv`` is the RFC-4180 multiLine reader both ETL DAGs
use. Spark cannot split a multiLine file (a record boundary is not
recognizable mid-stream without knowing the quote state), so it parses
each file in ONE task. The reader first cuts each local file into
record-aligned chunks on the driver: one streamed pass tracks quote
parity, and a cut lands only on an LF outside quotes (the split step of
Ge et al., "Speculative Distributed CSV Data Parsing", SIGMOD 2019,
done exactly instead of speculatively). Each chunk is the file's header
record plus a byte range, so Spark's own parser, with unchanged options,
reads the chunks one task each and every row keeps its value.

The cut also gives the column names. Without a schema Spark infers one
with a job that reads the first record; a split read instead parses
the header line each file starts with on the driver and hands Spark an
all-string schema of those names, so building the frame starts no job.
Spark's inference runs as before when the names cannot be told exactly
from the line (see :func:`header_names`): the files' header lines
differ, the line holds a quote or a stray CR (a quoted name may span
lines, which Spark normalizes) or a non-ASCII byte such as a byte-order
mark, or Spark would rename a column (an empty name, or names equal
when case is ignored). An input that is read as given, uncut, is
inferred by Spark too.
"""

from __future__ import annotations

import codecs
import math
import os
import shutil
import uuid

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from ..checkpoint import _track
from .staging import fs_delete, staging_dir

BLOCK_BYTES = 1 << 20  # scan window: memory stays flat as files grow
_QUOTE, _LF, _CR, _DELIM = 0x22, 0x0A, 0x0D, 0x2C
# bytes a quote that opens or closes a quoted field must touch
_FIELD_EDGE = np.zeros(256, dtype=bool)
_FIELD_EDGE[[_DELIM, _CR, _LF, _QUOTE]] = True
# Hadoop picks a decompressor by file extension; a byte range of a
# compressed file is not a CSV
_COMPRESSED = (".gz", ".bz2", ".deflate", ".lz4", ".snappy", ".zst", ".xz", ".br")


def read_multiline_csv(
    spark: SparkSession,
    path: str,
    schema: T.StructType | None = None,
    encoding: str = "UTF-8",
) -> DataFrame:
    """Read a header-first, RFC-4180 quoted CSV file or directory whose
    quoted fields may hold newlines, about ``defaultParallelism`` tasks
    wide however few files it has.

    ``escape='"'`` is RFC-4180 doubled-quote escaping: Spark's default
    backslash escape mis-parses ``"{TV,""Cable TV""}"``. Without a
    ``schema`` every column is a string named by the header.

    The chunk directory lives under the staging root and is tracked like
    a pin: ``checkpoint.release`` of the returned frame (or
    ``release_pins``) deletes it, after which the frame must not be
    recomputed. The path is read as given, one task per file, when it
    is a URI, when the encoding is not ASCII-compatible, or when some
    file cannot be cut safely (see :func:`record_cuts`).
    """
    reader = (
        spark.read.option("header", True)
        .option("multiLine", True)
        .option("quote", '"')
        .option("escape", '"')
        .option("encoding", encoding)
    )
    split = split_csv(spark, path, encoding)
    if split is None:
        return reader.csv(path, schema=schema)
    chunks, names = split
    if schema is None and names is not None:
        # the schema Spark would infer: every header name, as a string
        schema = T.StructType([T.StructField(n, T.StringType()) for n in names])
    try:
        df = reader.csv(chunks, schema=schema)
    except BaseException:
        fs_delete(chunks, spark)
        raise
    _track(spark, df, lambda: fs_delete(chunks, spark))
    return df


def split_csv(
    spark: SparkSession, path: str, encoding: str
) -> tuple[str, list[str] | None] | None:
    """Write record-aligned chunks of the CSV input at ``path`` into a
    fresh staging directory and return it with the column names of the
    files' header (see :func:`header_names`; None when Spark has to
    infer them), or return None when nothing was cut (nothing is copied
    then).

    A file of ``b`` bytes out of ``total`` gets ``ceil(n * b / total)``
    chunks for ``n = defaultParallelism``; a file with fewer records
    gets fewer. Every chunk after a file's first starts with a copy of
    that file's header record, because Spark drops the first record of
    each file it reads with ``header``."""
    out = staging_dir(f"csv_split/{uuid.uuid4().hex}", spark)
    # chunks are cut and written with local file calls
    if "://" in path or "://" in out or not _byte_splittable(encoding):
        return None
    files = _input_files(path)
    if not files:
        return None
    sizes = [os.path.getsize(f) for f in files]
    total = sum(sizes)
    n = spark.sparkContext.defaultParallelism
    plans = []  # per file: (header_end, cut offsets)
    for f, size in zip(files, sizes):
        k = math.ceil(n * size / total) if total else 1
        if k < 2:
            plans.append((0, []))
            continue
        found = record_cuts(f, [size * j // k for j in range(1, k)])
        if found is None:
            return None  # the file cannot be cut safely: read the input as given
        plans.append(found)
    if not any(cuts for _, cuts in plans):
        return None
    os.makedirs(out)
    first_lines = []
    try:
        for i, (f, size, (header_end, cuts)) in enumerate(zip(files, sizes, plans)):
            bounds = [0, *cuts, size]
            with open(f, "rb") as src:
                first_lines.append(src.readline())
                for j in range(len(bounds) - 1):
                    with open(os.path.join(out, f"part-{i:05d}-{j:05d}.csv"), "wb") as dst:
                        if j:
                            _copy_range(src, dst, 0, header_end)
                        _copy_range(src, dst, bounds[j], bounds[j + 1] - bounds[j])
    except BaseException:
        shutil.rmtree(out, ignore_errors=True)
        raise
    return out, header_names(first_lines)


def header_names(first_lines: list[bytes]) -> list[str] | None:
    """The column names Spark's ``header`` option gives input files whose
    first lines (LF included) are ``first_lines``, or None when this
    cannot tell them exactly and Spark must infer them with a job:

    - the files' first lines differ;
    - the line holds a quote, or a CR other than the one before its LF
      (a quoted header field can span lines, and Spark normalizes line
      breaks inside it), or has no LF;
    - the line is not ASCII, a byte-order mark included (Java and
      Python fold case differently outside ASCII);
    - Spark's ``makeSafeHeader`` would rename a column: an empty name,
      or names equal when case is ignored.

    Otherwise the names are the line's comma-separated fields, as read."""
    line = first_lines[0]
    if any(other != line for other in first_lines[1:]) or not line.endswith(b"\n"):
        return None
    line = line[:-2] if line.endswith(b"\r\n") else line[:-1]
    if not line.isascii() or b'"' in line or b"\r" in line:
        return None
    names = line.decode("ascii").split(",")
    if "" in names or len({n.lower() for n in names}) < len(names):
        return None
    return names


def record_cuts(path: str, targets: list[int]) -> tuple[int, list[int]] | None:
    """Stream the file once in ``BLOCK_BYTES`` blocks and return
    ``(header_end, cuts)``: the offset just past the header record, and
    for each target offset the offset just past the first LF at or after
    it that sits outside quotes (deduplicated; cuts inside the header or
    at the end of the file are dropped).

    Returns None when quote parity cannot be trusted to mark records:
    the file has no LF outside quotes, ends inside quotes, or has a
    stray quote. A quote that opens a quoted field must follow a
    delimiter, CR, LF, quote or the file start, and one that closes it
    must precede one of those or the file end; an unquoted ``ab"c`` (or
    ``ab",``) fails this, and would flip the parity for the rest of the
    file."""
    targets = sorted(targets)
    cuts: list[int] = []
    header_end = None
    parity = 0  # quotes seen before the block, mod 2
    prev = _LF  # byte before the block; the file start counts as an edge
    check_next = False  # the previous block ended on a closing quote
    offset = 0
    ti = 0
    with open(path, "rb") as f:
        while block := f.read(BLOCK_BYTES):
            b = np.frombuffer(block, dtype=np.uint8)
            if check_next and not _FIELD_EDGE[b[0]]:
                return None
            q = np.flatnonzero(b == _QUOTE)
            check_next = False
            if q.size:
                opening = (np.arange(q.size) + parity) % 2 == 0
                before = b[np.maximum(q - 1, 0)]
                after = b[np.minimum(q + 1, b.size - 1)]
                if q[0] == 0:
                    before[0] = prev
                if q[-1] == b.size - 1:  # its next byte is in the next block
                    check_next = not opening[-1]
                    after[-1] = _QUOTE
                if np.any(np.where(opening, ~_FIELD_EDGE[before], ~_FIELD_EDGE[after])):
                    return None
            lf = np.flatnonzero(b == _LF)
            # an LF is outside quotes when an even number of quotes precede it
            ends = lf[(np.searchsorted(q, lf) + parity) % 2 == 0] + offset
            if header_end is None and ends.size:
                header_end = int(ends[0]) + 1
            while ti < len(targets):
                k = int(np.searchsorted(ends, targets[ti]))
                if k == ends.size:
                    break  # this target's record ends in a later block
                cut = int(ends[k]) + 1
                if not cuts or cut != cuts[-1]:
                    cuts.append(cut)
                ti += 1
            parity = (parity + q.size) % 2
            prev = b[-1]
            offset += b.size
    if header_end is None or parity:
        return None
    return header_end, [c for c in cuts if header_end < c < offset]


def _byte_splittable(encoding: str) -> bool:
    """True when every quote, comma and LF byte in the encoded file is
    that character: UTF-8 and the single-byte ASCII supersets. (A
    stateful or multi-byte encoding can hold those bytes inside other
    characters.)"""
    try:
        name = codecs.lookup(encoding).name
    except LookupError:
        return False
    return name in ("utf-8", "ascii", "latin-1") or name.startswith(("iso8859-", "cp125"))


def _input_files(path: str) -> list[str] | None:
    """The files Spark would read at a local ``path``, sorted, or None
    when the layout is not a plain file or flat directory of
    uncompressed files (globs, partition directories). Names Spark
    hides (a leading ``_`` or ``.``: ``_SUCCESS``, ``.crc`` files) are
    skipped."""
    if os.path.isfile(path):
        files = [path]
    elif os.path.isdir(path):
        names = sorted(n for n in os.listdir(path) if not n.startswith(("_", ".")))
        files = [os.path.join(path, n) for n in names]
        if not all(os.path.isfile(f) for f in files):
            return None
    else:
        return None
    if any(f.lower().endswith(_COMPRESSED) for f in files):
        return None
    return files


def _copy_range(src, dst, start: int, count: int) -> None:
    """Append ``count`` bytes of ``src`` from ``start`` to ``dst`` in the
    kernel. A chunk's header goes through here too, so no buffered write
    can land after the body that follows it."""
    while count > 0:
        sent = os.sendfile(dst.fileno(), src.fileno(), start, count)
        if sent == 0:
            raise OSError(f"{src.name}: file shrank while it was being split")
        start += sent
        count -= sent
