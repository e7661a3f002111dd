"""Deduplication operators for large-scale text/embedding corpora.

Beyond the reference's key/row dedup (Airbnb_Listings_ETL.py:46-49,
Airbnb_Review_ETL.py:40-43), a 100 TB training-data pipeline needs
near-duplicate detection. Every operator here is built so that:

- the per-document signature work (shingling, hashing) is a pure column
  expression — embarrassingly parallel, whole-stage-codegen'd, NO shuffle;
- the candidate generation is an equi-join on a blocking key (LSH band,
  simhash chunk, shared shingle, label) — never an O(n^2) cross join;
- the final verify step runs only on candidate pairs.

That shape survives a 1000-executor scale-up: signatures stream through
the map side; the only shuffles are the band/bucket joins whose key
cardinality grows with data size (no hot keys by construction — hash
values are uniform).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..checkpoint import pin, release
from ..functions.arrays import as_double_array, dot, norm
from ..functions.hashing import hash60, hash60_spark_sql


def exact_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Exact dedup via content-hash groupBy: one row per distinct
    (normalized) text, keeping the minimum id — deterministic at any
    parallelism, unlike pandas keep='first'."""
    return (
        df.withColumn("h", F.md5(F.lower(F.col(text_col))))
        .groupBy("h")
        .agg(F.min(id_col).alias("keep_id"), F.count("*").alias("n_dupes"))
    )


def tokens_col(text_col: str) -> Column:
    return F.split(F.col(text_col), " ")


def _shingles_expr(text_col: str, n: int = 3) -> str:
    parts = ", ".join(f"tok[i + {j}]" for j in range(n))
    return (
        f"transform(sequence(0, size(tok) - {n}), i -> concat_ws(' ', {parts}))"
    )


def with_shingles(df: DataFrame, text_col: str, n: int = 3) -> DataFrame:
    """Add a `shingles` array column; drops rows with fewer than n tokens."""
    return (
        df.withColumn("tok", tokens_col(text_col))
        .filter(F.size("tok") >= n)
        .withColumn("shingles", F.expr(_shingles_expr(text_col, n)))
        .drop("tok")
    )


def minhash_signature(
    df: DataFrame, id_col: str, text_col: str, num_hashes: int = 8, shingle: int = 3
) -> DataFrame:
    """MinHash signature via XOR permutations:
    h_j = min over shingles of (hash60(shingle) XOR seed_j).

    md5 runs ONCE per shingle; each permutation is a single bigint XOR
    (a bijection on the hash space, so a valid min-wise permutation).
    Column-expression only — the signature of a 100 TB corpus is one
    map-side pass. Returns (id_col, h0..h{k-1}).
    """
    from ..functions.hashing import XOR_SEEDS

    if num_hashes > len(XOR_SEEDS):
        raise ValueError(f"at most {len(XOR_SEEDS)} permutations available")
    sh = with_shingles(df, text_col, shingle).withColumn(
        "bh", F.transform(F.col("shingles"), lambda s: hash60(s))
    )
    sig_cols = [
        F.array_min(F.expr(f"transform(bh, h -> h ^ {XOR_SEEDS[j]}L)")).alias(f"h{j}")
        for j in range(num_hashes)
    ]
    return sh.select(F.col(id_col), *sig_cols)


def _lsh_bands(
    sig: DataFrame, id_col: str, num_hashes: int = 8, bands: int = 4
) -> tuple[DataFrame, Column]:
    """The LSH band explode every MinHash band join shares: one row per
    (doc, band) carrying the band key ``bk`` = struct(band, k0, k1, ...)
    and the full signature ``h0..h{num_hashes-1}``, plus the verify
    column — the fraction of agreeing hashes, round(agree / num_hashes,
    4) — for a join of two such frames aliased ``a`` and ``b``.

    Carrying the full signature through the explode lets the bucket
    join yield both signatures directly — one shuffle join total,
    instead of join + distinct + two signature re-joins. The extra
    shuffle width (num_hashes bigints per row) is the price; at 100 TB
    that is ~64 bytes/row against two avoided full re-shuffles of sig."""
    rows_per_band = num_hashes // bands
    band_structs = [
        F.struct(
            F.lit(b).alias("band"),
            *[
                F.col(f"h{b * rows_per_band + r}").alias(f"k{r}")
                for r in range(rows_per_band)
            ],
        )
        for b in range(bands)
    ]
    hcols = [f"h{j}" for j in range(num_hashes)]
    exploded = sig.select(
        F.col(id_col), *hcols, F.explode(F.array(*band_structs)).alias("bk")
    )
    agree = sum(
        F.when(F.col(f"a.h{j}") == F.col(f"b.h{j}"), 1).otherwise(0)
        for j in range(num_hashes)
    )
    return exploded, F.round(agree / F.lit(float(num_hashes)), 4)


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 8,
    bands: int = 4,
    threshold: float = 0.5,
    shingle: int = 3,
) -> DataFrame:
    """Near-dup candidate pairs via LSH banding + signature-agreement verify.

    shingle -> minhash -> band -> bucket-equi-join -> estimate. The band
    join is the scale path: each band key is (band_idx, h_a, h_b), uniform
    by construction, so the shuffle has no skew and candidate generation
    is linear in the number of truly-colliding docs, never O(n^2).

    Returns (doc_a, doc_b, est_jaccard) with est >= threshold.
    """
    # materialize the signature once: both sides of the self-join read it,
    # and without this the shingle+md5 scan runs twice (the signature is
    # (id, 8 longs) — tiny next to the corpus, always worth keeping).
    # pin() honors the session durability mode (checkpoint.py) — local
    # blocks for dev, reliable/parquet for cluster runs.
    # LAZY pin (round 14): both self-join sides live inside the one
    # terminal plan, so the blocks materialize in the first consuming
    # stage (per-block locks make the concurrent side wait-then-read) —
    # the eager form was a standalone job barrier ahead of every
    # LSH-consuming key (guide §1.2).
    sig = pin(minhash_signature(df, id_col, text_col, num_hashes, shingle),
              eager=False, label="minhash_sig")
    exploded, est = _lsh_bands(sig, id_col, num_hashes, bands)
    a = exploded.alias("a")
    b = exploded.alias("b")
    return (
        a.join(b, (F.col("a.bk") == F.col("b.bk")) & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
        .select(
            F.col(f"a.{id_col}").alias("doc_a"),
            F.col(f"b.{id_col}").alias("doc_b"),
            est.alias("est_jaccard"),
        )
        .distinct()  # a pair may collide in several bands
        .filter(F.col("est_jaccard") >= threshold)
    )


def simhash_signature(
    df: DataFrame, id_col: str, text_col: str, bits: int = 60
) -> DataFrame:
    """SimHash over distinct tokens: bit b is the sign of the sum of
    (+1/-1) votes from each token's hash bit b. Pure column expression."""
    votes = " + ".join(
        f"(CASE WHEN aggregate(transform(th, h -> CASE WHEN (shiftright(h, {b}) & 1) = 1 "
        f"THEN 1 ELSE -1 END), 0, (a, x) -> a + x) > 0 THEN {1 << b} ELSE 0 END)"
        for b in range(bits)
    )
    return (
        df.withColumn("tok", F.array_distinct(tokens_col(text_col)))
        .withColumn(
            "th", F.transform(F.col("tok"), lambda t: hash60(t))
        )
        .select(F.col(id_col), F.expr(f"cast({votes} as bigint)").alias("simhash"))
    )


def simhash_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    bits: int = 60,
    chunks: int = 4,
    max_hamming: int = 3,
) -> DataFrame:
    """SimHash near-dup pairs. Pigeonhole blocking: with 4 chunks of a
    60-bit hash, any pair at hamming distance <= 3 shares a chunk — so an
    equi-join on (chunk_idx, chunk_value) finds all candidates without a
    cross join; exact hamming verify runs on candidates only. Chunk width
    (bits/chunks = 15) sets the random-collision rate: ~n^2/2^15 spurious
    candidates per chunk, linear in practice for uniform hashes."""
    chunk_bits = bits // chunks
    mask = (1 << chunk_bits) - 1
    sig = pin(simhash_signature(df, id_col, text_col, bits),
              eager=False, label="simhash_sig")  # lazy — see minhash_lsh_pairs
    chunk_structs = [
        F.struct(
            F.lit(i).alias("ci"),
            (F.shiftright("simhash", i * chunk_bits).bitwiseAND(F.lit(mask))).alias("cv"),
        )
        for i in range(chunks)
    ]
    exploded = sig.select(
        F.col(id_col), "simhash", F.explode(F.array(*chunk_structs)).alias("ck")
    )
    a = exploded.alias("a")
    b = exploded.alias("b")
    cand = (
        a.join(b, (F.col("a.ck") == F.col("b.ck")) & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
        .select(
            F.col(f"a.{id_col}").alias("doc_a"),
            F.col(f"b.{id_col}").alias("doc_b"),
            F.col("a.simhash").alias("sh_a"),
            F.col("b.simhash").alias("sh_b"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return (
        cand.withColumn("hamming", hamming.cast("int"))
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle: int = 3,
    threshold: float = 0.5,
    prefix_filter: bool = True,
) -> DataFrame:
    """Exact n-gram Jaccard via inverted-index blocking with TRUE prefix
    filtering (the AllPairs/PPJoin rule).

    Every shingle is ranked in one GLOBAL order — ascending document
    frequency, ties by shingle text — and each document indexes only its
    first ``|d| - ceil(t*|d|) + 1`` shingles in that order (its
    "prefix"). The classic prefix-filtering theorem guarantees ZERO
    false negatives: any pair with Jaccard >= t must share at least one
    prefix shingle, so the thresholded output equals the exhaustive
    shared-any-shingle formulation exactly (and the oracle states the
    pure semantics with no pruning mirror). What the index DROPS is each
    document's most-common shingles — precisely the "of the and"-style
    stop-phrases whose k-document buckets would emit k²/2 candidates and
    one hot shuffle key (VERDICT r1). Identical boilerplate copies keep
    a single posting each (one bucket, pairs linear in the true cluster
    pair count), and near-dup docs with different df profiles still
    collide through the theorem — the failure modes of ad-hoc df caps
    (round-2 review) cannot occur. Costs: one df window + one per-doc
    rank window on the partitionings the explode/self-join already use.
    Jaccard is still computed on the FULL distinct-shingle arrays, so
    scores are unaffected.
    """
    sh = pin(
        with_shingles(df, text_col, shingle).select(
            F.col(id_col), F.array_distinct("shingles").alias("s")
        ),
        eager=False,  # lazy — see minhash_lsh_pairs
        label="jaccard_shingles",
    )
    ex = sh.select(id_col, F.size("s").alias("n_sh"), F.explode("s").alias("g"))
    if prefix_filter:
        from pyspark.sql import Window

        prefix_len = F.col("n_sh") - F.ceil(F.col("n_sh") * F.lit(threshold)) + 1
        ex = (
            ex.withColumn("df", F.count("*").over(Window.partitionBy("g")))
            .withColumn(
                "rk",
                F.row_number().over(Window.partitionBy(id_col).orderBy("df", "g")),
            )
            .filter(F.col("rk") <= prefix_len)
            .drop("df", "rk", "n_sh")
        )
    else:
        ex = ex.drop("n_sh")
    a = ex.alias("a")
    b = ex.alias("b")
    cand = (
        a.join(b, (F.col("a.g") == F.col("b.g")) & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
        .select(F.col(f"a.{id_col}").alias("doc_a"), F.col(f"b.{id_col}").alias("doc_b"))
        .distinct()
    )
    sa = sh.select(F.col(id_col).alias("doc_a"), F.col("s").alias("sa"))
    sb = sh.select(F.col(id_col).alias("doc_b"), F.col("s").alias("sb"))
    jac = F.round(
        F.size(F.array_intersect("sa", "sb"))
        / F.size(F.array_union("sa", "sb")).cast("double"),
        4,
    )
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


# round count of the last connected-components run (either variant) —
# read by the weak-scaling sweep to show the O(log) vs O(diameter) gap
LAST_CC_ROUNDS = 0


def connected_components_labelprop(
    pairs: DataFrame, a_col: str = "doc_a", b_col: str = "doc_b", max_iter: int = 15
) -> DataFrame:
    """Connected components by iterative min-label propagation — kept
    as the reference implementation and the round-count baseline for
    the SCALING.md comparison (connected_components below, the default,
    is the alternating-star form that converges in O(log) rounds):

      label(v) <- min(label(v), min over neighbors u of label(u))

    until a fixpoint (bounded by ``max_iter``; rounds needed = graph
    DIAMETER — a chained near-dup corpus, the common shape when
    sliding-window chunking makes doc i overlap doc i+1, has diameter
    ~n_docs and makes the round count, not the data size, the
    wall-clock driver). Each iteration is one join + one aggregation;
    labels are
    pin()'ed EAGERLY per round — lazy cache is NOT enough: the per-round
    plan references the previous round's plan, so without true lineage
    truncation the logical plan grows exponentially with the diameter
    and the planner itself OOMs. The pin durability mode (checkpoint.py)
    picks local blocks for dev vs reliable storage for cluster runs
    (survives executor loss); round N-1's labels are released as soon as
    round N is both materialized and compared, so storage stays at two
    label frames regardless of diameter.
    Returns (node, component) with component = min doc id in the group.
    """
    global LAST_CC_ROUNDS
    LAST_CC_ROUNDS = 0
    edges = pairs.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst"))
    edges = pin(
        edges.union(
            edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        ).distinct(),
        label="cc_edges",
    )
    labels = pin(
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("lbl", F.col("node")),
        label="cc_labels",
    )
    for _ in range(max_iter):
        nbr_min = (
            edges.join(
                labels.select(
                    F.col("node").alias("dst"), F.col("lbl").alias("dlbl")
                ),
                "dst",
            )
            .groupBy("src")
            .agg(F.min("dlbl").alias("nmin"))
        )
        new_labels = pin(
            labels.join(nbr_min, labels.node == nbr_min.src, "left").select(
                "node",
                F.least(F.col("lbl"), F.coalesce("nmin", "lbl")).alias("lbl"),
            ),
            label="cc_labels",
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .filter(F.col("n.lbl") != F.col("o.lbl"))
            .limit(1)
            .count()
        )
        release(labels)  # round N-1 fully consumed by the join above
        labels = new_labels
        LAST_CC_ROUNDS += 1
        if changed == 0:
            break
    return labels.select(F.col("node"), F.col("lbl").alias("component"))


def connected_components(
    pairs: DataFrame, a_col: str = "doc_a", b_col: str = "doc_b", max_iter: int = 15
) -> DataFrame:
    """Connected components over near-dup pairs — the cluster-assignment
    step that turns pairwise matches into dedup groups (keep one doc
    per component). Alternating large-star / small-star contraction
    ("Connected Components in MapReduce and Beyond", Kiveris et al.,
    SoCC 2014 — re-expressed as DataFrame joins/aggregations), which
    converges in O(log^2 n) rounds REGARDLESS of graph diameter — the
    upgrade over min-label propagation (connected_components_labelprop,
    diameter rounds), whose worst case is exactly the common near-dup
    shape: a chained corpus where doc i overlaps doc i+1 (sliding-
    window chunk output) has diameter ~n_docs. SCALING.md has the
    measured round-count and wall-clock gap on a chain fixture.

    Per round, on the canonical edge set E = {(hi, lo): hi > lo}:

      large-star: for every node u, attach each LARGER neighbor v to
        m(u) = min(N(u) + {u})  —  new E = {(v, m(u)): v in N(u), v > u}
      small-star: group E by its hi endpoint u, m = min of u's smaller
        neighbors — new E = {(v, m): v in N_small(u) + {u}, v != m}

    Both preserve connectivity (Kiveris Thm 1-2); at the joint fixpoint
    E is a disjoint union of stars centered at each component's minimum
    node, so the final labels are one symmetric min-neighbor aggregate.
    Each round = two groupBy-min aggregations + one join, every shuffle
    keyed on node ids; the edge frame is pin()'ed per round and the
    predecessor released (same bounded-storage / linear-plan-growth
    discipline as the label-prop form — lineage truncation per round is
    what keeps the planner from OOMing).

    Barrier budget (round 14, guide §1.2): ONE job per round. The
    per-round pin is LAZY (localCheckpoint blocks materialize inside the
    first action over them) and that first action is the convergence
    aggregate itself — count(*) plus an order-independent content
    fingerprint (bit_xor of xxhash64 over the distinct canonical edges),
    so the old pin-job + count-job + exceptAll-job chain (~3 sequential
    barriers x ~rounds, the shape bursty host load inflates hardest —
    bench.py's dedup_components allowlist rationale) collapses to one.
    Equal (count, xor) across a round is a PROBABILISTIC set-equality
    signal (xor collision ~2^-64); exactness is preserved because the
    fixpoint is then CONFIRMED by the same exceptAll emptiness probe as
    before — run once at the signaled fixpoint instead of every
    count-equal round, and on the (never-observed) collision the loop
    simply continues. The shared ``raw`` projection is pinned lazily
    too: the eager nodes/edges pins each re-executed the whole upstream
    pair-generation subtree (band joins etc.) — now it runs once.
    Nodes appearing only in self-pairs keep their own label (the node
    universe is taken from ``pairs`` before dropping loops).
    Returns (node, component) with component = min doc id in the group.
    """
    global LAST_CC_ROUNDS
    LAST_CC_ROUNDS = 0
    raw = pin(
        pairs.select(F.col(a_col).alias("u"), F.col(b_col).alias("v")),
        eager=False,
        label="cc_raw",
    )
    nodes = pin(
        raw.selectExpr("u AS node").union(raw.selectExpr("v AS node")).distinct(),
        eager=False,
        label="cc_nodes",
    )
    edges = pin(
        raw.filter(F.col("u") != F.col("v"))
        .select(
            F.greatest("u", "v").alias("hi"), F.least("u", "v").alias("lo")
        )
        .distinct(),
        eager=False,
        label="cc_star_edges",
    )

    def _probe(df: DataFrame) -> tuple[int, int]:
        """(row count, order-independent content hash) in ONE job —
        also the action that materializes a lazily pinned frame."""
        row = df.agg(
            F.count("*").alias("n"),
            F.expr("bit_xor(xxhash64(hi, lo))").alias("x"),
        ).first()
        return int(row["n"]), (None if row["x"] is None else int(row["x"]))

    n_edges, x_edges = _probe(edges)
    for _ in range(max_iter):
        # large-star: symmetric neighborhoods, min over N(u) + {u}
        sym = edges.select(
            F.col("hi").alias("a"), F.col("lo").alias("b")
        ).union(edges.select(F.col("lo").alias("a"), F.col("hi").alias("b")))
        mins = (
            sym.groupBy("a")
            .agg(F.min("b").alias("mnb"))
            .select("a", F.least("a", "mnb").alias("m"))
        )
        ls = (
            sym.join(mins, "a")
            .filter(F.col("b") > F.col("a"))
            .select(F.col("b").alias("hi"), F.col("m").alias("lo"))
            .filter(F.col("hi") != F.col("lo"))
            .distinct()
        )
        # small-star: every canon edge belongs to exactly one hi-group
        mins_s = ls.groupBy("hi").agg(F.min("lo").alias("m"))
        ss = (
            ls.join(mins_s, "hi")
            .select(F.col("lo").alias("hi"), F.col("m").alias("lo"))
            .filter(F.col("hi") != F.col("lo"))
            .union(mins_s.select(F.col("hi"), F.col("m").alias("lo")))
            .distinct()
        )
        new_edges = pin(ss, eager=False, label="cc_star_edges")
        n_new, x_new = _probe(new_edges)  # one job: materialize + probe
        converged = (
            n_new == n_edges
            and x_new == x_edges
            # exact confirmation of the probabilistic (count, xor)
            # fixpoint signal — same emptiness probe as before, now run
            # once at the fixpoint instead of every count-equal round
            and new_edges.exceptAll(edges).limit(1).count() == 0
        )
        release(edges)
        edges, n_edges, x_edges = new_edges, n_new, x_new
        LAST_CC_ROUNDS += 1
        if converged:
            break
    else:
        # the min-neighbor extraction below is valid only AT the star
        # fixpoint; returning labels from a non-converged edge set
        # silently mislabels components (downstream dedup then drops
        # the wrong docs), so fail loudly instead (ADVICE r9).
        # O(log^2 n) contraction makes max_iter=15 good to ~2^60 nodes;
        # hitting this means the input, not the budget, is wrong.
        raise RuntimeError(
            f"connected_components did not reach the star fixpoint in "
            f"{max_iter} rounds ({n_edges} edges remain); raise max_iter"
        )
    # at the star fixpoint: leaf -> its center, center -> itself
    sym = edges.select(F.col("hi").alias("a"), F.col("lo").alias("b")).union(
        edges.select(F.col("lo").alias("a"), F.col("hi").alias("b"))
    )
    nbr = sym.groupBy("a").agg(F.min("b").alias("mb"))
    # nodes and the final edge pin stay pinned until the caller's
    # release_pins — the returned frame still reads both
    return nodes.join(nbr, nodes.node == nbr.a, "left").select(
        "node",
        F.least(F.col("node"), F.coalesce("mb", "node")).alias("component"),
    )


def embedding_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    block_col: str,
    threshold: float = 0.99,
) -> DataFrame:
    """Embedding-cosine near-dup pairs within a blocking key.

    The block join stands in for ANN blocking (at 100 TB: LSH buckets or
    IVF cells — see operators/similarity.py); cosine itself is a
    JVM-side column expression.
    """
    v = df.select(
        F.col(id_col), F.col(block_col).alias("blk"), as_double_array(vec_col).alias("v")
    ).withColumn("_n", norm(F.col("v")))
    a = v.alias("a")
    b = v.alias("b")
    # each row's norm computes ONCE before the pair join (the pair scan
    # is quadratic in block population; cosine() inline would re-fold
    # both norms per pair) — same dot/(norm*norm) op order, so the
    # rounded scores are bitwise identical to cosine()
    cos = F.round(
        dot(F.col("a.v"), F.col("b.v")) / (F.col("a._n") * F.col("b._n")), 4
    )
    return (
        a.join(b, (F.col("a.blk") == F.col("b.blk")) & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
        .withColumn("cos_sim", cos)
        .filter(F.col("cos_sim") >= threshold)
        .select(
            F.col(f"a.{id_col}").alias("vec_a"),
            F.col(f"b.{id_col}").alias("vec_b"),
            "cos_sim",
        )
    )


def embedding_near_dup_join(
    batch: DataFrame,
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    block_col: str,
    threshold: float = 0.99,
) -> DataFrame:
    """Batch-vs-corpus embedding near-dup candidates within a blocking
    key — the cross-frame twin of :func:`embedding_near_dup_pairs`
    (which self-joins one corpus) and the embedding analog of
    :func:`minhash_lsh_join`. Both inputs must already carry
    ``block_col`` (sign-LSH bucket / IVF cell) computed with the SAME
    hyperplanes or centroids; only bucket collisions join, so cost is
    O(batch + collisions), never O(batch x corpus). Returns
    (batch_id, corpus_id, cos_sim) with cosine rounded to 4 dp —
    the same op order as embedding_near_dup_pairs, bitwise-stable
    cross-engine."""
    prep = lambda df: df.select(  # noqa: E731
        F.col(id_col),
        F.col(block_col).alias("blk"),
        as_double_array(vec_col).alias("v"),
    ).withColumn("_n", norm(F.col("v")))
    b = prep(batch).alias("b")
    c = prep(corpus).alias("c")
    cos = F.round(
        dot(F.col("b.v"), F.col("c.v")) / (F.col("b._n") * F.col("c._n")), 4
    )
    return (
        b.join(c, F.col("b.blk") == F.col("c.blk"))
        .withColumn("cos_sim", cos)
        .filter(F.col("cos_sim") >= threshold)
        .select(
            F.col(f"b.{id_col}").alias("batch_id"),
            F.col(f"c.{id_col}").alias("corpus_id"),
            "cos_sim",
        )
    )


def minhash_lsh_join(
    batch: DataFrame,
    corpus: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 8,
    bands: int = 4,
    threshold: float = 0.5,
    shingle: int = 3,
    pin_batch: bool = True,
) -> DataFrame:
    """Near-dup matches of a NEW batch against an EXISTING corpus — the
    incremental-ingest form of LSH dedup (`minhash_lsh_pairs` is the
    backfill/self-join form). Production runs this shape daily: the
    corpus side's signature is a persisted index (computed once, stored
    as a bucketed table on the band key); only the batch is shingled
    fresh, and the band equi-join touches corpus signatures that share
    a bucket with the batch — cost is O(batch + collisions), never
    O(corpus).

    Returns (batch_id, corpus_id, est_jaccard) with est >= threshold.
    """
    def exploded(df: DataFrame, do_pin: bool) -> tuple[DataFrame, Column]:
        sig = minhash_signature(df, id_col, text_col, num_hashes, shingle)
        if do_pin:
            sig = pin(sig, label="lsh_join_sig")
        return _lsh_bands(sig, id_col, num_hashes, bands)

    # pin_batch=False lets a STREAMING batch side through (a streaming
    # DataFrame cannot localCheckpoint; its signature is recomputed per
    # micro-batch — map-side expressions, so nothing is lost)
    a, est = exploded(batch, pin_batch)
    b, _ = exploded(corpus, True)
    return (
        a.alias("a").join(b.alias("b"), F.col("a.bk") == F.col("b.bk"))
        .select(
            F.col(f"a.{id_col}").alias("batch_id"),
            F.col(f"b.{id_col}").alias("corpus_id"),
            est.alias("est_jaccard"),
        )
        .distinct()  # a pair may collide in several bands
        .filter(F.col("est_jaccard") >= threshold)
    )


def containment_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    df_cap: int | None = 10,
    threshold: float = 0.8,
) -> DataFrame:
    """Directed containment pairs |sh(A) ∩ sh(B)| / |sh(A)| >= threshold
    over distinct 3-gram shingles.

    ``df_cap`` restricts BOTH numerator and denominator to shingles with
    document frequency <= cap ("distinctive containment"): every posting
    list is bounded, so the pair join is linear in corpus — the only
    form that runs at 100 TB. ``df_cap=None`` is the exhaustive spec
    (quadratic in boilerplate df — ground truth for quality
    measurement, never a production path). Returns (doc_a, doc_b,
    n_shared, n_rare, containment)."""
    sh = with_shingles(docs.select(id_col, text_col), text_col).select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.array_distinct("shingles")).alias("g"),
    )
    sh = pin(sh, label="containment_postings")
    if df_cap is not None:
        dfc = sh.groupBy("g").agg(F.count("*").alias("df"))
        sh = pin(
            sh.join(dfc.filter(F.col("df") <= df_cap).select("g"), "g"),
            label="containment_rare",
        )
    na = sh.groupBy("doc_id").agg(F.count("*").alias("n_rare"))
    a = sh.select(F.col("doc_id").alias("doc_a"), "g")
    b = sh.select(F.col("doc_id").alias("doc_b"), "g")
    inter = (
        a.join(b, "g")
        .filter(F.col("doc_a") != F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_shared"))
    )
    joined = inter.join(na, inter.doc_a == na.doc_id).select(
        "doc_a",
        "doc_b",
        "n_shared",
        "n_rare",
        F.round(F.col("n_shared") / F.col("n_rare").cast("double"), 4).alias(
            "containment"
        ),
    )
    return joined.filter(
        F.col("n_shared") / F.col("n_rare").cast("double") >= threshold
    )


def _window_grams(n: int, positions: bool = True) -> Column:
    """Every n-token window of the token array ``w``: its hash60 ``h``,
    in a struct with its 1-based start ``pos`` when ``positions``.
    slice-then-transform, not sequence(1, len-n+1): Spark's
    sequence(1, 0) is the DESCENDING [1, 0] (the text_span_excise
    lesson) — slice of length 0 is the matching empty for short docs."""
    h = hash60_spark_sql(f"concat_ws(' ', slice(w, i + 1, {n}))")
    elem = f"struct(i + 1 AS pos, {h} AS h)" if positions else h
    return F.expr(
        f"transform(slice(w, 1, greatest(size(w) - {n - 1}, 0)),"
        f" (x, i) -> {elem})"
    )


def _excised(df: DataFrame, id_col: str, n: int) -> DataFrame:
    """(id, n_tok, n_removed, n_spans, clean_text) from each row's tokens
    ``w`` and the SORTED starts ``st`` of its covered n-token windows:
    every token inside a covered window is removed."""
    kept = df.withColumn(
        "kw",
        F.expr(
            "transform(filter(sequence(1, size(w)), i ->"
            f" size(filter(st, s -> i >= s AND i <= s + {n - 1})) = 0),"
            " i -> element_at(w, i))"
        ),
    )
    # maximal-span count over the SORTED starts: windows are all n long,
    # so consecutive starts fuse iff the gap is <= n; guard size <= 1
    # (Spark sequence(2, 1) is descending, not empty)
    n_spans = F.expr(
        "CASE WHEN size(st) <= 1 THEN size(st)"
        " ELSE 1 + size(filter(sequence(2, size(st)),"
        f" i -> element_at(st, i) - element_at(st, i - 1) > {n})) END"
    )
    return kept.select(
        id_col,
        F.size("w").cast("bigint").alias("n_tok"),
        (F.size("w") - F.size("kw")).cast("bigint").alias("n_removed"),
        n_spans.cast("bigint").alias("n_spans"),
        F.array_join("kw", " ").alias("clean_text"),
    )


def duplicated_span_excise(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 6,
    min_count: int = 2,
    keep_first: bool = False,
) -> DataFrame:
    """Exact duplicated-SPAN detection and excision ("Deduplicating
    Training Data Makes Language Models Better", Lee et al.,
    arXiv:2107.06499 ExactSubstr) — remove every token covered by a
    token span of length >= ``n`` that occurs at least ``min_count``
    times corpus-wide, counting position-distinct occurrences (a
    within-document repeat is a duplicate too, exactly as a suffix
    array would see it).

    The suffix-array-free reformulation that makes this a pure
    DataFrame plan: a token lies inside SOME duplicated span of length
    >= n iff it is covered by an n-token window whose n-gram occurs
    >= min_count times. (=> : any window of the duplicated span around
    the token recurs wherever the span recurs. <= : a recurring n-gram
    IS a duplicated span of length n covering the token.) So exact
    span-level dedup is: positional n-gram postings -> occurrence
    count per gram hash -> join survivors back -> per-doc covered-
    position excision. No suffix array, no global order — the corpus
    sort Lee et al. build becomes Spark's gram-keyed shuffle.

    Returns one row per input doc: (id, n_tok, n_removed, n_spans,
    clean_text) where n_spans counts MAXIMAL merged duplicated spans
    (windows closer than n tokens fuse into one span) and clean docs
    pass through with n_removed = n_spans = 0.

    ``keep_first=True`` is the faithful Lee et al. policy: ONE copy of
    each duplicated span survives — for every duplicated n-gram the
    canonical (lowest (doc, pos)) occurrence is exempt from excision,
    so the earliest document keeps the whole span (its windows are all
    canonical) and every later copy, including a within-doc repeat's
    second occurrence, is spliced out. ``keep_first=False`` removes
    EVERY occurrence (the aggressive variant that guarantees the
    cleaned corpus contains no duplicated span at all).

    Scale shape: the posting table is ~one row per token (id, pos,
    hash60) and is PINNED — the occurrence count and the join back
    both read it (unpinned: two corpus re-tokenizations). Two shuffles
    total at corpus scale: the combiner-reduced count per gram hash
    (partial_count map-side, only (h, cnt) pairs cross), and the
    postings->survivors equi-join keyed on the hash (AQE skew-split
    handles a boilerplate gram's hot key). The excision itself is the
    text_span_excise array rebuild: per-doc start positions
    collect_list (bounded by hits per doc), then a pure column
    expression filters covered positions — no window, no Python."""
    tok = docs.select(id_col, F.split(text_col, " ").alias("w"))
    grams = pin(
        tok.select(id_col, F.explode(_window_grams(n)).alias("pg")).select(
            id_col, F.col("pg.pos").alias("pos"), F.col("pg.h").alias("h")
        ),
        eager=False,  # lazy: df-cap filter + both join sides share the
        # terminal plan (round 14 — see minhash_lsh_pairs)
        label="span_exact_postings",
    )
    # composite occurrence key (id * 2^20 + pos): min() of it names the
    # canonical occurrence identically in Spark and DuckDB without
    # struct-ordering semantics (pos < 2^20 always: it is a token index)
    mkey = (F.col(id_col) * (1 << 20) + F.col("pos")).alias("mk")
    dup = (
        grams.groupBy("h")
        .agg(F.count("*").alias("occ"), F.min(mkey).alias("kk"))
        .filter(F.col("occ") >= min_count)
        .select("h", "kk")
    )
    covered = grams.join(dup, "h")
    if keep_first:
        covered = covered.filter(
            F.col(id_col) * (1 << 20) + F.col("pos") != F.col("kk")
        )
    hits = covered.groupBy(id_col).agg(
        F.sort_array(F.collect_list("pos")).alias("st")
    )
    return _excised(
        tok.join(hits, id_col, "left").withColumn(
            "st", F.coalesce("st", F.expr("CAST(array() AS array<int>)"))
        ),
        id_col,
        n,
    )


def positional_gram_index(
    docs: DataFrame, text_col: str = "text", n: int = 6
) -> DataFrame:
    """The STANDING side of span-level admission control: the distinct
    n-gram hash set of a corpus — one ``h`` (hash60) row per distinct
    n-token window text. Occurrence counts are irrelevant here (unlike
    duplicated_span_excise's >= min_count gate): a span that exists
    ANYWHERE in the admitted corpus is a duplicate the moment it
    arrives again, so membership is the whole index. ~one row per
    distinct corpus n-gram; callers pin() it (bucketed parquet on a
    cluster) and reuse it across micro-batches."""
    return (
        docs.select(F.split(text_col, " ").alias("w"))
        .select(F.explode(_window_grams(n, positions=False)).alias("h"))
        .distinct()
    )


def span_excise_against_index(
    batch: DataFrame,
    index: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 6,
) -> DataFrame:
    """Span-level ADMISSION dedup: excise from each incoming document
    every token covered by an n-token window already present in the
    standing corpus index (positional_gram_index), then admit what
    remains — the streaming/incremental form of duplicated_span_excise
    (same covered-position reformulation of Lee et al. ExactSubstr,
    arXiv:2107.06499; there the span must recur corpus-wide, here one
    standing occurrence suffices because the corpus copy stays).

    ``batch`` may be a STREAMING DataFrame: every step before the
    per-doc aggregate is stateless (tokenize, positional-gram
    explode_outer, stream-static left equi-join on the gram hash), the
    aggregate groups by the incoming doc (state bounded by the
    micro-batch's docs — drain in complete mode; a continuous
    deployment folds per-batch via foreachBatch instead). explode_outer
    + the left join keep no-gram (short) and no-hit (novel) documents
    flowing through with n_removed = 0 — an inner join would silently
    drop exactly the docs admission exists to admit.

    Returns (id, n_tok, n_removed, n_spans, clean_text) — the same
    shape as duplicated_span_excise; n_spans counts MAXIMAL merged
    excised spans."""
    tok = batch.select(id_col, text_col, F.split(text_col, " ").alias("w"))
    g = tok.select(
        id_col, text_col, F.explode_outer(_window_grams(n)).alias("pg")
    ).select(id_col, text_col, F.col("pg.pos").alias("pos"), F.col("pg.h").alias("h"))
    m = g.join(index.select("h", F.lit(1).alias("hit")), "h", "left")
    agg = m.groupBy(id_col, text_col).agg(
        F.sort_array(
            F.collect_list(F.when(F.col("hit") == 1, F.col("pos")))
        ).alias("st")
    )
    return _excised(agg.withColumn("w", F.split(text_col, " ")), id_col, n)


def connected_components_incremental(
    standing: DataFrame,
    new_pairs: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    max_iter: int = 15,
) -> DataFrame:
    """Merge a NEW batch of near-dup edges into a standing component
    assignment at O(batch) cost — the clustering step of daily dedup
    admission (signatures and candidate pairs already have incremental
    forms: dedup_embedding_incremental, stream_dedup_*; this closes the
    chain). ``standing`` is a fixpoint (node, component) frame whose
    labels are component MINIMA (exactly what connected_components
    emits).

    Contraction argument: components of (G_old + E_new) equal the
    components of the graph where every standing component is one
    vertex — so label the new edges' endpoints with their standing
    component (unseen nodes label themselves), contract to distinct
    (comp_a, comp_b) edges, and run the alternating-star CC on THAT
    graph, whose size is bounded by the touched components + new
    nodes, never the corpus. Because a standing label is the min of
    its members, the sub-CC's min over {labels, new ids} is the GLOBAL
    min, so remapped labels are identical to a full recompute (the
    registered key's oracle is literally the full-recompute closure).

    Cost anatomy: two hash joins of the batch against standing (node-
    keyed), one batch-sized distinct, the sub-CC (O(log) rounds on the
    contracted graph), one standing-sized remap join, one anti-join
    for new nodes. The corpus-scale frames are touched only by keyed
    joins — no corpus-wide iteration, which is the entire point at
    100 TB: daily growth costs O(new batch), not O(corpus)."""
    e = new_pairs.select(F.col(a_col).alias("u"), F.col(b_col).alias("v"))
    lu = standing.select(
        F.col("node").alias("u"), F.col("component").alias("cu")
    )
    lv = standing.select(
        F.col("node").alias("v"), F.col("component").alias("cv")
    )
    comp_edges = (
        e.join(lu, "u", "left")
        .join(lv, "v", "left")
        .select(
            F.coalesce("cu", "u").alias("doc_a"),
            F.coalesce("cv", "v").alias("doc_b"),
        )
        .distinct()
    )
    sub = pin(
        connected_components(comp_edges, max_iter=max_iter),
        label="cc_inc_sub",
    )
    remap = sub.select(
        F.col("node").alias("component"), F.col("component").alias("cmp2")
    )
    kept = standing.join(remap, "component", "left").select(
        "node", F.coalesce("cmp2", "component").alias("component")
    )
    fresh = sub.join(
        standing.select("node"), "node", "left_anti"
    ).select("node", "component")
    return kept.unionByName(fresh)
