"""Registry of driver-contract queries.

Each operator key from SURVEY.md §2 (plus the large-scale pipeline
extensions) registers a Spark query callable ``(spark, sf_dir) ->
DataFrame`` and, when SQL-expressible, an equivalent ANSI-SQL oracle that
DuckDB runs over the same parquet tables. The driver compares row count +
schema + order-insensitive value hash, sorting columns by name — so every
computed column is aliased identically on both sides.

Determinism rules used throughout (verified cross-engine, see tests):
- floats produced by arithmetic are ``round(x, 4)`` on both sides
  (Spark ROUND and DuckDB round are both half-up for positives);
- parquet-sourced doubles passed through untouched are compared exactly;
- md5-derived 60-bit integer hashes (`conv(substr(md5(s),1,15),16,10)` ==
  DuckDB `CAST('0x'||substr(md5(s),1,15) AS BIGINT)`) are bitwise equal;
- arrays are sorted (`sort_array` / `list_sort`) before comparison;
- timestamps are emitted as formatted strings (session TZ pinned UTC).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    key: str
    fn: QueryFn
    oracle: str | None  # ANSI SQL for DuckDB; None -> rows-only check
    # Spark side reads a scale knob from the parquet footers (SemDedup
    # k, FFD group count): such keys provide ``oracle_tmpl`` — a
    # callable rendering the oracle SQL with the SAME footer-derived
    # knob for a given sf_dir — so the local mirror hash-matches at
    # every scale. ``oracle`` stays the gate-scale (sf0.01) rendering,
    # which is what the correctness gate runs.
    oracle_tmpl: Callable[[str], str] | None = None

    def oracle_for(self, sf_dir: str) -> str | None:
        """Oracle SQL whose scale knobs match the Spark side at sf_dir."""
        if self.oracle_tmpl is not None:
            return self.oracle_tmpl(sf_dir)
        return self.oracle

    @property
    def doc(self) -> str:
        """The function's docstring, read LIVE (not captured at
        registration): several keys substitute constants into their
        docstring AFTER definition (``fn.__doc__ = fn.__doc__.format(...)``,
        the mm_pair_dedup pattern) — a snapshot taken inside ``register``
        stored the pre-substitution text, and two round-11 keys that
        chained ``.format()`` onto the literal (making it an expression,
        not a docstring) registered doc="" entirely (ADVICE r11)."""
        return self.fn.__doc__ or ""


REGISTRY: dict[str, QuerySpec] = {}


def register(
    key: str,
    oracle: str | None = None,
    oracle_tmpl: Callable[[str], str] | None = None,
) -> Callable[[QueryFn], QueryFn]:
    """Decorator: register a driver-contract query under ``key``."""

    def deco(fn: QueryFn) -> QueryFn:
        if key in REGISTRY:
            raise ValueError(f"duplicate query key: {key}")
        REGISTRY[key] = QuerySpec(
            key=key,
            fn=fn,
            oracle=oracle,
            oracle_tmpl=oracle_tmpl,
        )
        return fn

    return deco


# DuckDB types with no exact Spark analog. The driver's value hash
# normalizes them differently from the repo's fetchall()->Python-int
# mirror, so an oracle emitting one can pass locally yet fail the driver
# (round-4 postmortem: 14 integer-sum() oracles typed HUGEINT and 5 of
# them went red in `git show 237c644:CORRECTNESS_r04.json` with
# bitwise-identical values).
# Every oracle must CAST such expressions to a Spark-representable type
# (BIGINT, DOUBLE, DECIMAL, ...).
DUCKDB_TYPES_WITHOUT_SPARK_ANALOG = (
    "HUGEINT",
    "UHUGEINT",
    "UTINYINT",
    "USMALLINT",
    "UINTEGER",
    "UBIGINT",
)


def lint_oracle_types(columns, types, key: str) -> list[str]:
    """Return lint errors for DuckDB result types no Spark plan can emit.

    ``columns``/``types`` are a DuckDB relation's ``.columns`` and
    ``.types``. The one per-key compare (scripts/oracle_check.check)
    fails any oracle that trips this, so a value-equal-but-type-divergent
    oracle can never again pass locally while failing the gate's
    hasher.
    """
    errs = []
    for col, typ in zip(columns, types):
        tname = str(typ).upper()
        if any(bad in tname for bad in DUCKDB_TYPES_WITHOUT_SPARK_ANALOG):
            errs.append(
                f"{key}: oracle column {col!r} has DuckDB type {tname} "
                "with no exact Spark analog — CAST it (e.g. AS BIGINT)"
            )
    return errs


# Parquet-footer split counts, cached per path: the fan-out decision
# (below) needs "how many independently-readable units does this source
# physically offer", which is the ROW-GROUP count, not the planner's
# split count — a single-row-group file sliced into 32 byte-range splits
# still delivers every row to the one split holding the row-group
# midpoint, leaving 31 empty tasks (observed: every sf0.1 table is one
# row group, so every scan-fed map stage ran ~single-task). Only footer
# METADATA is cached — never rows or results.
_SPLIT_CACHE: dict[str, tuple[int, int]] = {}


def _source_splits(path: str, need: int) -> tuple[int, int]:
    """(row_groups, rows) of the parquet source, counting lazily up to
    ``need`` row groups — a 100 TB table answers after a handful of
    footers instead of listing thousands.

    Unknown sources return ``(-1, -1)`` (ADVICE r13): a URI path
    (hdfs://, s3a:// — pyarrow here only speaks the local FS), a
    nested/partitioned layout where the recursive walk finds nothing,
    or an unreadable footer must make ``fan_out`` a NO-OP — the old
    non-recursive listing returned (0, 0) for a partitioned directory,
    which fell through to ``repartition(1)`` and funneled the corpus
    into one partition, the exact opposite of fan_out's purpose. Only
    successful probes are cached: a path that is not yet written (or
    was briefly unreadable) is probed again on the next call."""
    cached = _SPLIT_CACHE.get(path)
    if cached is not None and cached[0] >= need:
        return cached
    try:
        import pyarrow.parquet as pq

        from ..sources.parquet import data_files

        files = data_files(path)  # recursive; local FS only
        if not files:
            raise FileNotFoundError(path)
        groups = rows = 0
        for f in files:
            md = pq.ParquetFile(f).metadata
            groups += md.num_row_groups
            rows += md.num_rows
            if groups >= need:
                break
    except Exception:  # noqa: BLE001 — unknown source => fan_out no-op
        return -1, -1
    _SPLIT_CACHE[path] = (groups, rows)
    return groups, rows


def fan_out(spark: SparkSession, df: DataFrame, path: str) -> DataFrame:
    """Round-robin repartition after an UNSPLITTABLE read (guide §2.5
    "input skew ... repartition immediately after the read").

    Use before compute-heavy map stages (per-shingle hashing, Arrow
    decode maps, gram explodes) fed directly by a scan. The repartition
    happens ONLY when the parquet source physically offers fewer row
    groups than the cluster's parallelism — at production scale a table
    has thousands of row groups and this is a zero-cost no-op; on the
    single-row-group harness files it spreads the heavy map across all
    cores instead of the one task that holds the lone row group.
    Round-robin is deterministic under retry (sort-before-repartition,
    SPARK-23207) and row-order-insensitive operators are unaffected.
    """
    par = spark.sparkContext.defaultParallelism
    groups, rows = _source_splits(path, par)
    if groups < 0 or groups >= par:
        # unknown source (URI / nested layout / unreadable footer) or
        # already-parallel source: strict no-op (ADVICE r13)
        return df
    # don't shatter tiny dimension tables into near-empty tasks
    n = min(par, max(1, rows // 32))
    if n <= groups:
        return df
    return df.repartition(n)


def load(spark: SparkSession, sf_dir: str, name: str, spread: bool = False) -> DataFrame:
    """Load one driver testdata table (parquet, explicit path).

    events.ts has shipped in two physical shapes across testdata
    generations: INT64 TIMESTAMP(NANOS) (Spark 4 rejects it by default,
    PARQUET_TYPE_ILLEGAL — read as nanos-long, floor-divide to micros,
    matching DuckDB's ns->us truncation) and plain TIMESTAMP(MICROS)
    without UTC adjustment (reads as TIMESTAMP_NTZ). Both normalize to a
    session-TZ TIMESTAMP so every downstream query sees one type; with
    the session pinned to UTC the wall-clock values are identical.
    """
    # The driver may hand us a session without UTC pinned; every
    # timestamp-formatting query depends on it for oracle parity.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    path = f"{sf_dir}/{name}.parquet"
    if spread:
        return fan_out(spark, load(spark, sf_dir, name), path)
    if name == "events":
        from pyspark.sql import functions as F

        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(path)
        ts_type = df.schema["ts"].dataType.typeName()
        if ts_type == "long":
            df = df.withColumn(
                "ts", F.timestamp_micros(F.expr("CAST(ts DIV 1000 AS BIGINT)"))
            )
        elif ts_type == "timestamp_ntz":
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        # A third physical generation (millis, string, ...) must fail
        # loudly here rather than flow downstream unnormalized.
        final = df.schema["ts"].dataType.typeName()
        if final != "timestamp":
            raise TypeError(
                f"unexpected events.ts physical type {ts_type!r} "
                f"(normalized to {final!r}, want 'timestamp'); "
                "add an explicit normalization branch for this generation"
            )
        return df
    return spark.read.parquet(path)


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every testdata table as a temp view (for spark.sql plans)."""
    for t in TABLES:
        load(spark, sf_dir, t).createOrReplaceTempView(t)
