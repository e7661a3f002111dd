"""Scale-guarded percentile: exact when safe, GK sketch when not.

Spark's exact ``percentile`` is an ObjectHashAggregate that buffers
EVERY group value in its aggregation buffer. Grouped by a low-cardinality
key at 100× scale that is hundreds of millions of doubles in a handful of
buffers — an executor OOM, not a slowdown. ``approx_percentile`` (the
Greenwald-Khanna sketch) bounds state at ~O(accuracy) per group and
merges map-side, but trades exactness for a rank error <= n/accuracy.

``guarded_percentile`` makes the switch automatic: a cheap probe asks
"does ANY group hold more than ``maxExactGroupRows`` values?" and picks
the exact aggregate only when the answer is no. The verdict comes from
TABLE STATISTICS first (``parquet_max_group_bound``: an interval-
stabbing sweep over per-row-group min/max footer stats — a pure
metadata read, no data scan, exactly what the guard of a 100 TB table
must cost); only when the footer bound is inconclusive does it fall
back to the scan probe — itself 100 TB-safe: a plain count aggregation
(map-side partial combine) followed by
``filter(n > threshold).limit(1).count()``, i.e. an existence check
that short-circuits; no value buffering, no collect. The chosen
aggregate is visible in the physical plan (``percentile`` vs
``approx_percentile`` in the Aggregate node), which is what
tests/test_plan_quality.py pins.

Threshold conf: ``spark.airbnb.percentile.maxExactGroupRows`` (default
10,000,000 — roughly the point where one group's buffered doubles start
to crowd a 4 GiB executor heap share; see plans/approx_ext.py for the
documented crossover rule).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

GUARD_CONF = "spark.airbnb.percentile.maxExactGroupRows"
DEFAULT_MAX_EXACT_GROUP_ROWS = 10_000_000
# the GK sketch's accuracy when the guard picks approx_percentile
APPROX_ACCURACY = 10_000

# (cache_key, threshold) -> probe verdict. When ``stats_path`` is given
# the key also carries the table's fingerprint (sources/parquet.py), so
# in-session regeneration of the data invalidates the memo instead of
# re-selecting exact percentile on now-oversized groups (ADVICE r3); a
# path without a fingerprint (URI, unreadable) is probed uncached.
# Path-less callers with mutable inputs simply omit cache_key and
# re-probe each time.
_PROBE_CACHE: dict[tuple, bool] = {}


def parquet_max_group_bound(path: str, group_col: str) -> int | None:
    """Upper bound on ANY single group's row count, from parquet FOOTER
    statistics only (no data scan): each row group contributes its row
    count over the [min, max] range of ``group_col``; the bound is the
    maximum interval-stabbing sum — the most rows any one value could
    possibly appear in. Tight when the table is sorted/partitioned by
    the group column (narrow per-row-group ranges); degrades to total
    row count on fully unsorted data, which correctly sends the guard to
    the scan probe. Returns None when stats are unavailable (missing
    min/max, URI path without local access, non-parquet)."""
    if "://" in path:
        return None
    try:
        import pyarrow.parquet as pq

        from ..sources.parquet import data_files

        events: list[tuple] = []
        for f in data_files(path):
            md = pq.ParquetFile(f).metadata
            names = [
                md.schema.column(i).path for i in range(md.num_columns)
            ]
            if group_col not in names:
                return None
            ci = names.index(group_col)
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(ci).statistics
                if st is None or not st.has_min_max:
                    return None
                n = md.row_group(rg).num_rows
                # starts (+n) sort before ends (-n) at equal values: a
                # value equal to both boundaries stabs both row groups
                events.append((st.min, 0, n))
                events.append((st.max, 1, -n))
        if not events:
            return None
        events.sort()
        best = cur = 0
        for _, _, delta in events:
            cur += delta
            best = max(best, cur)
        return best
    except (OSError, ImportError, TypeError, ValueError):
        return None


def exact_fits(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    threshold: int | None = None,
    cache_key: tuple | None = None,
    stats_path: str | None = None,
    stats_group_col: str | None = None,
) -> bool:
    """True iff every group's value count is within the exact-percentile
    buffer budget. With ``stats_path`` (the parquet file/dir behind
    ``df``), the verdict is first attempted from footer statistics alone
    (:func:`parquet_max_group_bound`) — zero scan; the count probe runs
    only when the footer bound is inconclusive (bound > threshold can
    still mean every actual group is small). ``stats_group_col`` is the
    PHYSICAL column name in the file when the frame groups by an alias.
    The probe itself never buffers values and never collects a result
    set. ``cache_key`` memoizes the verdict; with ``stats_path`` the key
    carries the table's fingerprint so regenerated data re-probes, and a
    path that has none is never memoized."""
    if threshold is None:
        threshold = int(
            df.sparkSession.conf.get(
                GUARD_CONF, str(DEFAULT_MAX_EXACT_GROUP_ROWS)
            )
        )
    if cache_key is not None and stats_path is not None:
        from ..sources.parquet import fingerprint

        fp = fingerprint(stats_path)
        cache_key = None if fp is None else (*cache_key, fp)
    memo = (cache_key, threshold) if cache_key is not None else None
    if memo is not None and memo in _PROBE_CACHE:
        return _PROBE_CACHE[memo]
    fits = None
    if stats_path is not None and len(group_cols) == 1:
        bound = parquet_max_group_bound(
            stats_path, stats_group_col or group_cols[0]
        )
        if bound is not None and bound <= threshold:
            fits = True  # stats-proven: no group can exceed the budget
    if fits is None:
        oversized = (
            df.groupBy(*group_cols)
            .agg(F.count(value_col).alias("n"))
            .filter(F.col("n") > threshold)
            .limit(1)
            .count()
        )
        fits = oversized == 0
    if memo is not None:
        _PROBE_CACHE[memo] = fits
    return fits


def percentile_expr(p: float, value_col: str, exact: bool) -> Column:
    """The percentile aggregate for one quantile, exact or sketched."""
    if exact:
        return F.expr(f"percentile({value_col}, {p!r})")
    return F.percentile_approx(value_col, p, APPROX_ACCURACY)


def guarded_percentile(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    quantiles: dict[str, float],
    exact: bool | None = None,
    cache_key: tuple | None = None,
    stats_path: str | None = None,
) -> tuple[DataFrame, bool]:
    """Grouped percentile(s) with the exact/approx choice made from the
    data. ``quantiles`` maps output alias -> quantile; each is rounded
    to 4 decimals. The guard's threshold is the ``GUARD_CONF`` session
    conf (:func:`exact_fits`). Returns (aggregated DataFrame,
    chose_exact). Pass ``exact`` to reuse an
    already-computed probe verdict (one probe can guard several
    aggregations over the same grouping); ``stats_path`` lets the
    verdict come from parquet footer statistics without any scan."""
    if exact is None:
        exact = exact_fits(
            df, group_cols, value_col, cache_key=cache_key, stats_path=stats_path
        )
    aggs = [
        F.round(percentile_expr(p, value_col, exact), 4).alias(a)
        for a, p in quantiles.items()
    ]
    return df.groupBy(*group_cols).agg(*aggs), exact
