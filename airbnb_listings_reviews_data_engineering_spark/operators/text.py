"""Text-analysis operators for training-data pipelines.

Language ID (stopword-ratio heuristic), quality scoring, token counting,
and document fingerprinting — all pure column expressions (whole-stage
codegen, zero shuffles, zero UDFs), so they run at scan speed on 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

EN_STOPWORDS = ("the", "a", "of", "and", "to")
# lang_id's cut: a doc is English when at least this share of its
# tokens are EN_STOPWORDS
EN_MIN_STOP_RATIO = 0.05


def lang_id(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """N-gram-free language ID heuristic: English stopword token ratio
    against ``EN_MIN_STOP_RATIO``.

    The token array is materialized in its own projection: a split
    inlined into every reference re-runs per access inside interpreted
    higher-order lambdas (no subexpression elimination there); as a
    multiply-referenced non-cheap alias, CollapseProject keeps the
    two-step form evaluating split once per row."""
    tokd = df.select(F.col(id_col), F.split(F.col(text_col), " ").alias("__tok"))
    n_stop = F.size(F.filter("__tok", lambda t: t.isin(*EN_STOPWORDS)))
    ratio = F.round(n_stop / F.size("__tok").cast("double"), 4)
    return tokd.select(
        F.col(id_col),
        ratio.alias("stop_ratio"),
        F.when(ratio >= EN_MIN_STOP_RATIO, "en").otherwise("unk").alias("lang_pred"),
    )


def quality_score(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Cheap quality heuristics: token count, lexical diversity, mean token
    length, and a blended score. All integer-derived arithmetic, so the
    values are exactly reproducible. Token array materialized once per
    row (two-step projection — see lang_id) instead of re-splitting at
    every one of the seven references."""
    tokd = df.select(
        F.col(id_col),
        F.length(text_col).alias("__len"),
        F.split(F.col(text_col), " ").alias("__tok"),
    )
    n_tok = F.size("__tok")
    n_uniq = F.size(F.array_distinct("__tok"))
    uniq_ratio = F.round(n_uniq / n_tok.cast("double"), 4)
    avg_len = F.round(
        (F.col("__len") - (n_tok - 1)) / n_tok.cast("double"), 4
    )
    score = F.round(
        0.5 * (n_uniq / n_tok.cast("double"))
        + 0.5 * F.least(F.lit(1.0), n_tok / F.lit(100.0)),
        4,
    )
    return tokd.select(
        F.col(id_col),
        n_tok.alias("n_tok"),
        uniq_ratio.alias("uniq_ratio"),
        avg_len.alias("avg_token_len"),
        score.alias("quality"),
    )


def token_counts(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Whitespace token count + BPE-ish alnum-run count (regex)."""
    return df.select(
        F.col(id_col),
        F.size(F.split(F.col(text_col), " ")).alias("n_ws_tokens"),
        F.size(F.expr(f"regexp_extract_all({text_col}, '[a-z0-9]+', 0)")).alias(
            "n_word_runs"
        ),
    )


def fingerprint(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Order-insensitive document fingerprint: md5 over the sorted distinct
    token set — the classic shingle-set fingerprint for exact near-dup
    grouping after token normalization."""
    tok = F.split(F.col(text_col), " ")
    return df.select(
        F.col(id_col),
        F.md5(F.array_join(F.array_sort(F.array_distinct(tok)), " ")).alias(
            "fingerprint"
        ),
    )


def repetition_stats(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Gopher-style repetition statistics per document.

    ``dup_frac`` = 1 - distinct_tokens / total_tokens (how much of the
    document is repeated material) and ``top_frac`` = share of the single
    most frequent token — the two cheapest of the repetition filters used
    to drop degenerate documents (keyboard mash, boilerplate loops, SEO
    keyword stuffing) from web-scale training corpora.

    Shape: explode to (doc, token) -> two partial-aggregating groupBys.
    Both shuffles are keyed by doc_id (then (doc_id, tok)), which is
    unique/near-unique — no hot keys regardless of corpus size, and the
    map-side combine collapses each document's token counts before the
    exchange, so shuffle volume is O(distinct tokens), not O(tokens).
    """
    counts = (
        df.select(F.col(id_col), F.explode(F.split(F.col(text_col), " ")).alias("tok"))
        .groupBy(id_col, "tok")
        .count()
    )
    stats = counts.groupBy(id_col).agg(
        F.sum("count").alias("n_tok"),
        F.count("*").alias("n_distinct"),
        F.max("count").alias("top_c"),
    )
    return stats.select(
        F.col(id_col),
        (F.round(1.0 - F.col("n_distinct") / F.col("n_tok").cast("double"), 4) + 0).alias(
            "dup_frac"
        ),
        (F.round(F.col("top_c") / F.col("n_tok").cast("double"), 4) + 0).alias(
            "top_frac"
        ),
    )


ROLLING_HASH_MOD = 1_000_000_007
ROLLING_HASH_BASE = 31
ROLLING_HASH_K = 8  # char-gram length of min_kgram_hash


def rolling_hash_fingerprint(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Rabin-Karp rolling-hash document fingerprints (pure column exprs).

    ``doc_hash`` folds the whole character stream through h = (h*B + c)
    mod M — the incremental polynomial hash that underlies rsync/Rabin
    fingerprinting. ``min_kgram_hash`` is the minimum over all k-char-gram
    polynomial hashes (winnowing-style: the min-hash of the k-gram set),
    which survives content insertion far from the minimizing gram — the
    building block for locality-preserving chunk fingerprints.

    Everything is a higher-order-function expression over the character
    sequence: whole-stage codegen, zero shuffles, zero Python — runs at
    scan speed. Work is O(len·k) per document, constant memory.
    """
    m, b, k = ROLLING_HASH_MOD, ROLLING_HASH_BASE, ROLLING_HASH_K
    doc_hash = (
        f"aggregate(transform(sequence(1, length({text_col})), "
        f"j -> ascii(substring({text_col}, j, 1))), 0L, (h, c) -> (h * {b} + c) % {m})"
    )
    min_kgram = (
        f"array_min(transform(sequence(1, greatest(length({text_col}) - {k - 1}, 1)), "
        f"i -> aggregate(transform(sequence(i, least(i + {k - 1}, length({text_col}))), "
        f"j -> ascii(substring({text_col}, j, 1))), 0L, (h, c) -> (h * {b} + c) % {m})))"
    )
    return df.select(
        F.col(id_col),
        F.expr(doc_hash).alias("doc_hash"),
        F.expr(min_kgram).alias("min_kgram_hash"),
    )


def chunk_tokens(
    df: DataFrame,
    id_col: str,
    text_col: str,
    chunk: int = 50,
    stride: int = 25,
) -> DataFrame:
    """Sliding-window document chunking — the step between corpus
    cleaning and tokenized training shards: long documents split into
    ``chunk``-token windows every ``stride`` tokens (overlap =
    chunk - stride preserves context across boundaries).

    Pure column expressions: sequence(1, n_tok, stride) explodes to the
    window starts, slice() cuts each window — map-side only, no shuffle,
    no Python; a 100 TB corpus chunks in one narrow pass. The final
    window may be shorter than ``chunk`` (never empty); chunk_idx is the
    1-based window ordinal.

    ``stride > chunk`` raises: windows would leave unseen token GAPS,
    silently contradicting the sliding-window coverage this operator
    promises (ADVICE r3). Gapped sampling is a different operation —
    compose a filter over the chunk_idx instead.

    Returns (id, chunk_idx, chunk_text, chunk_tok).
    """
    if stride > chunk:
        raise ValueError(
            f"stride ({stride}) > chunk ({chunk}) leaves token gaps; "
            "sliding-window chunking requires stride <= chunk"
        )
    if stride < 1 or chunk < 1:
        raise ValueError(f"chunk ({chunk}) and stride ({stride}) must be >= 1")
    tok = df.select(
        F.col(id_col), F.split(F.col(text_col), " ").alias("tok")
    ).withColumn("n", F.size("tok"))
    starts = tok.select(
        id_col,
        "tok",
        F.explode(F.sequence(F.lit(1), F.col("n"), F.lit(stride))).alias("start"),
    )
    return starts.select(
        F.col(id_col),
        ((F.col("start") - 1) / stride + 1).cast("int").alias("chunk_idx"),
        F.concat_ws(" ", F.slice("tok", F.col("start"), F.lit(chunk))).alias(
            "chunk_text"
        ),
        F.least(
            F.lit(chunk), F.size("tok") - F.col("start") + 1
        ).cast("int").alias("chunk_tok"),
    )


def minimizer_selected(
    df: DataFrame,
    part_col: str,
    pos_col: str,
    h_col: str,
    w: int,
) -> DataFrame:
    """Filter a per-document (position, hash) gram stream to its EXACT
    (w, k)-minimizer set: position p survives iff its hash is the
    minimum of SOME full w-gram window containing it — equivalently,
    its consecutive non-smaller predecessors plus consecutive
    non-smaller successors span a window (B + F >= w - 1; a missing
    neighbor at the document boundary blocks, so the certified window
    always holds w real grams). Expected density 2/(w+1).

    This is the selection rule that actually CARRIES the winnowing
    guarantee (Schleimer et al., SIGMOD'03): any shared run of >= w
    grams shares a selected fingerprint, because the run's leftmost
    minimum has only non-smaller neighbors inside the run and its two
    in-run neighbor runs sum to >= w - 1 wherever the run boundaries
    fall. The cheaper trailing-window-only rule ("h == min of the
    window ENDING at p") silently loses that guarantee when a smaller
    document-specific hash sits just before a shared region — it
    shadows the region minimum in one document only (measured: 5 of
    256 >= 9-token duplicated-span pairs missed at sf0.1).

    Plan shape: 2(w-1) lag/lead columns over ONE doc-partitioned
    bounded window — the same single exchange the min-over-frame
    formulation costs, pure comparisons after it."""
    from pyspark.sql import Window as W

    win = W.partitionBy(part_col).orderBy(pos_col)
    nbr = df.select(
        part_col,
        pos_col,
        h_col,
        *[F.lag(h_col, k).over(win).alias(f"b{k}") for k in range(1, w)],
        *[F.lead(h_col, k).over(win).alias(f"f{k}") for k in range(1, w)],
    )

    def run_len(prefix: str):
        expr = F.lit(w - 1)
        for k in range(w - 1, 0, -1):
            nb = F.col(f"{prefix}{k}")
            expr = F.when(nb.isNull() | (nb < F.col(h_col)), k - 1).otherwise(
                expr
            )
        return expr

    return nbr.filter(run_len("b") + run_len("f") >= w - 1).select(
        part_col, pos_col, h_col
    )


def minimizer_lag_cols_sql(w: int) -> str:
    """DuckDB twin of minimizer_selected's neighbor columns: lag/lead
    b1..b{w-1}, f1..f{w-1} over WINDOW w."""
    cols = [f"lag(h, {k}) OVER w AS b{k}" for k in range(1, w)]
    cols += [f"lead(h, {k}) OVER w AS f{k}" for k in range(1, w)]
    return ",\n         ".join(cols)


def _minimizer_case_sql(prefix: str, w: int) -> str:
    """Consecutive-non-smaller-neighbor run length on one side, capped
    at w-1; a missing neighbor (doc boundary) blocks — so the window
    the count certifies always holds w REAL grams."""
    branches = [
        f"WHEN {prefix}{k} IS NULL OR {prefix}{k} < h THEN {k - 1}"
        for k in range(1, w)
    ]
    return "(CASE " + " ".join(branches) + f" ELSE {w - 1} END)"


def minimizer_select_sql(w: int) -> str:
    """DuckDB twin of minimizer_selected's filter.

    EXACT (w, n)-minimizer membership: position p is selected iff it
    is the minimum of SOME full w-gram window containing it, i.e. its
    consecutive non-smaller predecessors plus consecutive non-smaller
    successors cover a window: B + F >= w - 1. This carries the
    winnowing guarantee (any shared run of >= w grams shares a selected
    fingerprint: the run's leftmost minimum has only non-smaller
    neighbors inside the run, and the two in-run runs sum to >= w - 1).
    The cheaper trailing-window-only rule ("h = min of the window
    ENDING at p") does NOT: a smaller doc-specific hash just before a
    shared run shadows the run minimum in one document — measured as 5
    missed >= 9-token pairs at sf0.1 before this fix."""
    return (
        _minimizer_case_sql("b", w)
        + " + "
        + _minimizer_case_sql("f", w)
        + f" >= {w - 1}"
    )
