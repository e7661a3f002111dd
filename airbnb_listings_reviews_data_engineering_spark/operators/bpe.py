"""Distributed byte-pair-encoding (BPE) merge training.

The industrial BPE trainer shape (Sennrich et al. 2016, "Neural Machine
Translation of Rare Words with Subword Units"): the corpus is touched
EXACTLY ONCE to build the word-frequency table (one shuffle on word);
every merge round after that operates on the vocabulary table only,
which is bounded by distinct-word count (Heaps' law: ~O(corpus^0.5)),
not corpus size. At 100 TB the rounds are cheap vocabulary-local work:

  pair-count — explode each word's symbol sequence into adjacent pairs
               weighted by word frequency (one vocab-sized shuffle);
  argmax     — TakeOrderedAndProject(1) with a deterministic tie-break
               (count desc, then left/right symbol ascending);
  merge      — the 1-row winner is broadcast and applied to every
               word's symbol string as a regex replace (map-side).

Merge-application semantics (the cross-engine determinism contract):
each word is held as a space-sentineled symbol string (`' a b c '`) and
a merge of (l, r) is the GLOBAL LEFT-TO-RIGHT NON-OVERLAPPING
replacement of `' l r '` with `' lr '`. Java regex (Spark) and RE2
(DuckDB) both resume scanning at the end of the previous match, so the
two engines agree exactly. This differs from canonical BPE only on
self-overlapping runs (`a a a a` merges to `aa a a` here vs `aa aa`
canonically, because the consumed trailing sentinel space blocks the
adjacent re-match; RE2 has no lookahead so the canonical form is not
portably expressible) — documented, deterministic, and identical on
both engines. Symbols stay `[a-z]+` (the word filter guarantees it), so
the built pattern is always regex-literal-safe.

Reference parity: the reference pipeline has no tokenizer trainer; this
is part of the large-scale training-data extension surface
(brief: "the operations a large-scale training-data pipeline would
need" — token counting's natural next step).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..checkpoint import pin

#: adjacent symbol pairs of the split symbol array `a`, as (l, r) structs
_PAIRS_EXPR = (
    "transform(slice(a, 1, size(a) - 1),"
    " (x, i) -> struct(x AS l, element_at(a, i + 2) AS r))"
)


def word_frequencies(df: DataFrame, text_col: str) -> DataFrame:
    """Corpus -> (word, freq): whitespace tokenize, keep pure `[a-z]+`
    tokens, count occurrences. The ONLY corpus-sized pass in the trainer
    (one shuffle on word, map-side partial counts)."""
    return (
        df.select(F.explode(F.split(F.col(text_col), " ")).alias("word"))
        .filter(F.col("word").rlike("^[a-z]+$"))
        .groupBy("word")
        .agg(F.count("*").alias("freq"))
    )


def with_symbols(words: DataFrame) -> DataFrame:
    """Add the space-sentineled char-level symbol string: 'abc' -> ' a b c '."""
    return words.withColumn(
        "sym", F.concat(F.lit(" "), F.regexp_replace("word", "(.)", "$1 "))
    )


def pair_counts(words_sym: DataFrame) -> DataFrame:
    """(word, freq, sym) -> (l, r, cnt): adjacent-symbol pair counts
    weighted by word frequency. Vocab-sized shuffle on (l, r)."""
    return (
        words_sym.select("freq", F.split(F.trim("sym"), " ").alias("a"))
        .select("freq", F.explode(F.expr(_PAIRS_EXPR)).alias("p"))
        .groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
        .agg(F.sum("freq").alias("cnt"))
    )


def bpe_train(words: DataFrame, merges: int) -> DataFrame:
    """Learn `merges` BPE merges from a (word, freq) table.

    Returns one row per merge: (rank, lhs, rhs, merged, cnt), rank 1 =
    first merge learned. The base symbol table is pinned once (that is
    the only corpus-derived input) and each round's 1-row winner is
    pinned so round r+1's argmax never re-runs rounds 1..r; the symbol
    chain itself stays lazy — it is a linear stack of vocab-local regex
    passes, recomputed in-wave per argmax at vocab cost, which buys one
    job per round instead of two (cf. operators/clustering.py, where
    the self-referencing centroid lineage DOES need per-round pins).
    """
    sym = pin(with_symbols(words), label="bpe_sym")
    winners = []
    for rank in range(1, merges + 1):
        best = pin(
            pair_counts(sym)
            .orderBy(F.desc("cnt"), "l", "r")
            .limit(1),
            label="bpe_best",
        )
        winners.append(
            best.select(
                F.lit(rank).alias("rank"),
                F.col("l").alias("lhs"),
                F.col("r").alias("rhs"),
                F.concat("l", "r").alias("merged"),
                "cnt",
            )
        )
        if rank < merges:
            # no per-round pin: the symbol lineage is a LINEAR chain of
            # vocab-local regex passes over the one pinned base table
            # (each round's 1-row winner IS pinned above, so nothing
            # corpus-sized ever recomputes) — one job per argmax instead
            # of two per round
            sym = sym.crossJoin(F.broadcast(best)).select(
                "word",
                "freq",
                F.expr(
                    "regexp_replace(sym,"
                    " concat(' ', l, ' ', r, ' '),"
                    " concat(' ', l, r, ' '))"
                ).alias("sym"),
            )
    out = winners[0]
    for w in winners[1:]:
        out = out.unionByName(w)
    return out


def bpe_segmented_vocab(words: DataFrame, merges: int) -> DataFrame:
    """Train `merges` merges AND return the segmented vocabulary:
    (word, freq, n_pieces, pieces) where `pieces` is the word's final
    symbol sequence — the tokenizer APPLY side over the training vocab.
    Reuses the training loop's final symbol table, so apply costs
    nothing beyond training."""
    sym = pin(with_symbols(words), label="bpe_sym")
    for _ in range(merges):
        best = pin(
            pair_counts(sym).orderBy(F.desc("cnt"), "l", "r").limit(1),
            label="bpe_best",
        )
        # linear chain, no per-round pin (see bpe_train)
        sym = sym.crossJoin(F.broadcast(best)).select(
            "word",
            "freq",
            F.expr(
                "regexp_replace(sym,"
                " concat(' ', l, ' ', r, ' '),"
                " concat(' ', l, r, ' '))"
            ).alias("sym"),
        )
    pieces = F.split(F.trim("sym"), " ")
    return sym.select(
        "word",
        "freq",
        F.size(pieces).alias("n_pieces"),
        pieces.alias("pieces"),
    )


# --- the DuckDB twin, for the oracles ----------------------------------------

#: merge rounds of the one tokenizer the BPE keys train (text_bpe_*,
#: text_tokenizer_fertility)
BPE_MERGES = 6

#: word_frequencies and with_symbols: the words table and its symbol
#: strings (sym0)
WORDS_CTE = """
words AS (
  SELECT w AS word, count(*)::BIGINT AS freq
  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents) t
  WHERE regexp_matches(w, '^[a-z]+$')
  GROUP BY w
),
sym0 AS (
  SELECT word, freq, ' ' || regexp_replace(word, '(.)', '\\1 ', 'g') AS sym
  FROM words
)"""


def bpe_round_cte(i: int) -> str:
    """One unrolled BPE round: pair counts over sym{i-1}, 1-row argmax
    with the (cnt desc, l, r) tie-break, regex merge -> sym{i}."""
    return f"""arr{i} AS (SELECT word, freq, string_split(trim(sym), ' ') AS a FROM sym{i - 1}),
pairs{i} AS (
  SELECT p[1] AS l, p[2] AS r, sum(freq)::BIGINT AS cnt
  FROM (SELECT freq, unnest(list_transform(generate_series(1, len(a) - 1),
                 i -> [a[i], a[i + 1]])) AS p
        FROM arr{i})
  GROUP BY p[1], p[2]
),
best{i} AS (SELECT l, r, cnt FROM pairs{i} ORDER BY cnt DESC, l, r LIMIT 1),
sym{i} AS (
  SELECT w.word, w.freq,
         regexp_replace(w.sym, ' ' || b.l || ' ' || b.r || ' ',
                        ' ' || b.l || b.r || ' ', 'g') AS sym
  FROM sym{i - 1} w, best{i} b
)"""


def bpe_rounds_sql(merges: int) -> str:
    """WITH words, sym0 and ``merges`` unrolled rounds, through
    sym{merges} (bpe_train's loop)."""
    rounds = ",\n".join(bpe_round_cte(i) for i in range(1, merges + 1))
    return f"WITH {WORDS_CTE},\n{rounds}"


def bpe_pieces_sql(merges: int) -> str:
    """bpe_rounds_sql plus ``vocab`` (word, n_pieces): the pieces
    bpe_segmented_vocab gives each word, for the keys that apply it."""
    return f"""{bpe_rounds_sql(merges)},
vocab AS (
  SELECT word, len(string_split(trim(sym), ' '))::BIGINT AS n_pieces
  FROM sym{merges}
)"""
