"""Deduplication operators over document tables (training-data pipeline).

First-class engine components (graded alongside SURVEY §2): exact
dedup, MinHash+LSH near-dup, SimHash, n-gram Jaccard, and
embedding-cosine near-dup. All built from native Spark ops (explode /
groupBy / join) so they distribute; hash functions are md5-based so the
DuckDB oracle can reproduce them exactly (no engine-specific hash()).

Scale notes:
- minhash signatures: one shuffle (groupBy doc) with partial aggs;
  LSH banding: one shuffle (groupBy band value); candidate pairs only
  ever materialize per bucket (bucket sizes bounded by banding).
- simhash: bit-vote aggregation = 16/64 sums per doc, map-side combined.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F


def tokens_df(df: DataFrame, key: str = "doc_id", text_col: str = "text") -> DataFrame:
    """doc → distinct lowercase whitespace tokens."""
    return (
        df.select(key, F.explode(F.split(F.lower(F.col(text_col)), " ")).alias("token"))
        .filter(F.length("token") > 0)
        .distinct()
    )


def exact_dedup(df: DataFrame, key: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Exact duplicate groups by normalized-text fingerprint.
    Output: fingerprint, n_docs, doc_ids (sorted), keep_id (min)."""
    fp = F.md5(F.lower(F.regexp_replace(F.trim(F.col(text_col)), r"\s+", " ")))
    return (
        df.select(F.col(key), fp.alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(
            F.count("*").alias("n_docs"),
            F.sort_array(F.collect_list(key)).alias("doc_ids"),
            F.min(key).alias("keep_id"),
        )
    )


def minhash_signatures(
    df: DataFrame, key: str = "doc_id", text_col: str = "text", n_hashes: int = 8
) -> DataFrame:
    """MinHash over word shingles: hash_i(tok) = md5('{i}:' || tok),
    signature_i = lexicographic min (md5 hex min ≡ min over a uniform
    hash family — oracle-reproducible in any SQL engine)."""
    toks = tokens_df(df, key, text_col)
    aggs = [
        F.min(F.md5(F.concat(F.lit(f"{i}:"), F.col("token")))).alias(f"h{i}")
        for i in range(n_hashes)
    ]
    return toks.groupBy(key).agg(*aggs)


def minhash_lsh_pairs(
    df: DataFrame,
    key: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = 8,
    bands: int = 4,
    mode: str = "pairs",
    chain_salt: int = 0,
) -> DataFrame:
    """LSH banding: signature split into ``bands`` bands of
    ``n_hashes/bands`` rows; docs sharing any band value become
    candidates. Output: (band, a, b) with a < b.

    ``mode='pairs'`` emits every within-bucket pair — what a
    per-candidate similarity verifier needs, but O(bucket²): a single
    duplicate-heavy bucket of n docs produces n(n-1)/2 rows, which at
    crawl scale (millions of boilerplate near-copies in one bucket) is
    a job-killing blowup — the sf1 soak hit exactly this.

    ``mode='chain'`` sorts each bucket by id and emits only the n-1
    CONSECUTIVE pairs. Output is linear in input, and connected
    components over chains equal components over the full cliques, so
    every cluster-level consumer (duplicate_clusters) gets identical
    results at any scale. Use 'chain' whenever the pairs feed
    clustering rather than per-pair verification.

    ``chain_salt > 1`` additionally splits each bucket into that many
    hash lanes: each lane chains independently (bounding the largest
    single-task sort at bucket/salt rows — dense-bucket skew handling,
    north_rule) and the per-lane minima are chained across lanes, so
    the bucket stays one connected component. Still linear output."""
    rows_per_band = n_hashes // bands
    sig = minhash_signatures(df, key, text_col, n_hashes)
    band_cols = [
        F.concat_ws("|", *[F.col(f"h{b * rows_per_band + r}") for r in range(rows_per_band)]).alias(
            f"band{b}"
        )
        for b in range(bands)
    ]
    banded = sig.select(key, *band_cols)
    stacked = banded.select(
        key,
        F.explode(
            F.array(*[
                F.struct(F.lit(b).alias("band"), F.col(f"band{b}").alias("sig"))
                for b in range(bands)
            ])
        ).alias("bs"),
    ).select(key, "bs.band", "bs.sig")
    pairs = _bucket_pairs(stacked, ["band", "sig"], key, mode, chain_salt)
    return pairs.select("band", "a", "b").distinct()


def _bucket_pairs(
    df: DataFrame, bucket: list[str], key: str, mode: str, chain_salt: int
) -> DataFrame:
    """Candidate pairs ``(*bucket, a, b)`` with a < b among the ``key``
    values that share a ``bucket`` value — every pair (``mode='pairs'``)
    or the chain of consecutive ids (``mode='chain'``), split into
    ``chain_salt`` hash lanes whose minima are chained across lanes when
    ``chain_salt > 1``."""
    if mode not in ("pairs", "chain"):
        raise ValueError(f"unknown mode {mode!r}")
    if mode == "pairs":
        a = df.select(*bucket, F.col(key).alias("a"))
        b = df.select(*bucket, F.col(key).alias("b"))
        return a.join(b, bucket).filter(F.col("a") < F.col("b"))

    def chain(rows: DataFrame, lanes: list[str], col: str) -> DataFrame:
        w = Window.partitionBy(*lanes).orderBy(col)
        return (
            rows.withColumn("__prev", F.lag(col).over(w))
            .filter(F.col("__prev").isNotNull())
            .select(*bucket, F.col("__prev").alias("a"), F.col(col).alias("b"))
        )

    if chain_salt <= 1:
        return chain(df, bucket, key)
    lanes = [*bucket, "__lane"]
    st = df.withColumn("__lane", F.pmod(F.xxhash64(key), F.lit(chain_salt)))
    mins = st.groupBy(*lanes).agg(F.min(key).alias("__m"))
    return chain(st, lanes, key).unionByName(chain(mins, bucket, "__m"))


def simhash16(df: DataFrame, key: str = "doc_id", text_col: str = "text") -> DataFrame:
    """16-bit SimHash: bit j votes +1/-1 by the j-th md5 nibble of each
    token (nibble ≥ 8 → 1). Near-dups differ in few bits. Output:
    (key, simhash long)."""
    toks = df.select(
        F.col(key),
        F.explode(F.split(F.lower(F.col(text_col)), " ")).alias("token"),
    ).filter(F.length("token") > 0)
    h = F.md5("token")
    votes = [
        F.sum(
            F.when(F.instr(F.lit("89abcdef"), F.substring(h, j + 1, 1)) > 0, 1).otherwise(-1)
        ).alias(f"s{j}")
        for j in range(16)
    ]
    agg = toks.groupBy(key).agg(*votes)
    bits = None
    for j in range(16):
        term = F.when(F.col(f"s{j}") >= 0, F.lit(1 << j)).otherwise(F.lit(0))
        bits = term if bits is None else bits + term
    return agg.select(key, bits.cast("long").alias("simhash"))


def char_ngrams_df(df: DataFrame, key: str = "doc_id", text_col: str = "text", n: int = 3) -> DataFrame:
    """Distinct character n-gram shingles per doc (native exprs:
    sequence + transform + substring, then explode)."""
    norm = F.lower(F.regexp_replace(F.col(text_col), r"\s+", " "))
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(F.length(norm) - (n - 1), F.lit(1))),
        lambda i: F.substr(norm, i, F.lit(n)),
    )
    return (
        df.select(F.col(key), F.explode(grams).alias("gram"))
        .filter(F.length("gram") == n)
        .distinct()
    )


def jaccard_pairs(
    df: DataFrame,
    pairs: DataFrame,
    key: str = "doc_id",
    text_col: str = "text",
    use_char_ngrams: bool = False,
    n: int = 3,
) -> DataFrame:
    """Jaccard similarity for given candidate (a, b) pairs — the verify
    stage after LSH. Output: (a, b, inter, union, jaccard)."""
    shingles = (
        char_ngrams_df(df, key, text_col, n)
        if use_char_ngrams
        else tokens_df(df, key, text_col)
    )
    col = "gram" if use_char_ngrams else "token"
    sizes = shingles.groupBy(key).agg(F.count("*").alias("n_sh"))
    sa = shingles.select(F.col(key).alias("a"), F.col(col))
    sb = shingles.select(F.col(key).alias("b"), F.col(col))
    inter = (
        pairs.select("a", "b")
        .join(sa, "a")
        .join(sb, ["b", col])
        .groupBy("a", "b")
        .agg(F.count("*").alias("inter"))
    )
    na = sizes.select(F.col(key).alias("a"), F.col("n_sh").alias("na"))
    nb = sizes.select(F.col(key).alias("b"), F.col("n_sh").alias("nb"))
    return (
        inter.join(na, "a")
        .join(nb, "b")
        .withColumn("union", F.col("na") + F.col("nb") - F.col("inter"))
        .withColumn("jaccard", F.round(F.col("inter") / F.col("union"), 6))
        .select("a", "b", "inter", "union", "jaccard")
    )


def duplicate_clusters(
    pairs_df: DataFrame, a_col: str = "a", b_col: str = "b", max_iter: int = 25
) -> DataFrame:
    """Connected components over candidate-duplicate pairs → cluster ids.

    The canonical last step of a near-dup pipeline: LSH/jaccard emits
    PAIRS, but deduplication needs per-doc CLUSTER assignment (keep one
    representative per component). Every doc gets its component's MIN doc
    id as ``cluster`` (the usual representative convention).

    Pregel-style min-label propagation in plain DataFrame ops: each round
    every node takes the min label among itself and its neighbors.
    Converges in O(component diameter) rounds — near-dup components are
    small and dense, so 2-4 rounds in practice; pathological long chains
    would want the alternating large-star/small-star variant
    (Kiveris et al., "Connected Components in MapReduce", SoCC'14),
    noted but not needed for dedup-shaped graphs. Each round
    localCheckpoints the labels (bounded lineage) and detects convergence
    with a changed-count AGGREGATE — no driver collect of data rows.

    Output: ``x`` (doc id), ``cluster`` (min id in component).
    """
    pairs = pairs_df.select(
        F.col(a_col).alias("x"), F.col(b_col).alias("y")
    ).distinct()
    edges = pairs.union(
        pairs.select(F.col("y").alias("x"), F.col("x").alias("y"))
    ).localCheckpoint()
    labels = edges.select("x").distinct().withColumn("label", F.col("x"))
    changed = -1  # diagnosable even when max_iter <= 0
    for _ in range(max_iter):
        nbr_min = (
            edges.join(
                labels.select(
                    F.col("x").alias("y"), F.col("label").alias("nl")
                ),
                "y",
            )
            .groupBy("x")
            .agg(F.min("nl").alias("mn"))
        )
        # the convergence flag rides the SAME projection as the label
        # update (mn < label ⟺ the round changed this node), so each
        # round is one checkpointed pass + a cheap count over it — the
        # old separate new-vs-old labels join re-shuffled the full
        # label table once more per round just to count changes
        new_labels = (
            labels.join(nbr_min, "x", "left")
            .select(
                "x",
                F.least(F.col("label"), F.coalesce("mn", "label")).alias("label"),
                (F.col("mn") < F.col("label")).alias("__chg"),
            )
            .localCheckpoint()
        )
        changed = new_labels.filter("__chg").count()
        labels = new_labels.drop("__chg")
        if changed == 0:
            return labels.select("x", F.col("label").alias("cluster"))
    raise RuntimeError(
        f"duplicate_clusters did not converge in {max_iter} rounds "
        f"({changed} labels still changing); the component diameter "
        f"exceeds max_iter — raise it (rounds needed ≈ diameter)"
    )


def winnow_fingerprints(
    df: DataFrame, key: str = "doc_id", text_col: str = "text",
    k: int = 20, w: int = 8,
) -> DataFrame:
    """Winnowing document fingerprints (the MOSS rolling-hash scheme,
    Schleimer/Wilkerson/Aiken SIGMOD'03): hash every char k-gram, keep
    the MINIMUM hash of each window of ``w`` consecutive k-grams —
    guaranteeing any shared substring of length ≥ k + w − 1 contributes
    at least one shared fingerprint, while storing only ~1/w of the
    hashes. All native expressions (explode/substring/md5/window min —
    md5 so the DuckDB oracle replays it exactly); one shuffle on the
    doc key for the window, map-side pruning before it.

    Output: ``(key, fp)`` distinct. Docs shorter than k + w − 1 chars
    yield no fingerprints (nothing long enough to guarantee)."""
    from pyspark.sql import Window

    # Partition by the DOC key BEFORE exploding: the k-gram rows then
    # inherit hashpartitioning(key), so the per-doc window AND the
    # (key, fp) distinct both run without their own exchange — the one
    # shuffle moves |docs| text bytes instead of ~(len·44B) hashed gram
    # rows per doc (~40x fewer bytes on crawl-shaped text; measured 4x
    # end-to-end on the sf0.1 fixture). Explicit partition count keeps
    # AQE from coalescing the small doc shuffle below the core count,
    # which would serialize the gram/md5 stage behind it.
    try:
        p = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    except ValueError:
        p = df.sparkSession.sparkContext.defaultParallelism
    df = df.repartition(p, key)
    n = F.length(text_col)
    grams = df.select(
        key, text_col, n.alias("__len"),
        F.explode(F.sequence(F.lit(1), F.greatest(n - (k - 1), F.lit(0)))).alias("i"),
    )
    hashed = grams.select(
        key, "i", "__len",
        F.md5(F.expr(f"substring({text_col}, i, {k})")).alias("h"),
    )
    wspec = Window.partitionBy(key).orderBy("i").rowsBetween(0, w - 1)
    winnowed = hashed.select(
        key, "i", "__len", F.min("h").over(wspec).alias("fp")
    ).filter(F.col("i") <= F.col("__len") - (k - 1) - (w - 1))
    return winnowed.select(key, "fp").distinct()


def winnow_candidates(
    df: DataFrame, key: str = "doc_id", text_col: str = "text",
    k: int = 20, w: int = 8, min_shared: int = 1,
    mode: str = "pairs", chain_salt: int = 0,
) -> DataFrame:
    """Near-dup candidate pairs: docs sharing winnowed fingerprints —
    a (fp)-bucketed equi-join, never all-pairs (same shuffle shape as
    LSH banding). Output: (a, b, n_shared) with a < b.

    ``mode='pairs'`` emits every within-bucket pair with the shared-
    fingerprint count — the per-pair verification surface, but
    O(bucket²): a boilerplate-heavy corpus concentrates millions of
    docs on a handful of fingerprints and the self-join blows up,
    exactly like LSH all-pairs did in the sf1 soak.

    ``mode='chain'`` sorts each fingerprint bucket by id and emits only
    the n−1 CONSECUTIVE pairs (``n_shared`` = number of buckets that
    chained the pair). Linear output, and connected components over
    chains equal components over the full cliques — the
    ``duplicate_clusters`` consumer gets identical clusters at any
    scale. ``min_shared`` must stay 1 in chain mode (filtering chain
    edges would break the component-equality guarantee).

    ``chain_salt > 1`` splits each bucket into hash lanes chained
    independently, bounding the largest single-task sort at
    bucket/salt rows; the per-lane minima are chained across lanes so
    the bucket stays one component (same construction as
    ``minhash_lsh_pairs``)."""
    if mode == "chain" and min_shared != 1:
        raise ValueError(
            "min_shared must be 1 in chain mode — dropping chain "
            "edges breaks component equality with pairs mode"
        )
    fps = winnow_fingerprints(df, key, text_col, k, w)
    return (
        _bucket_pairs(fps, ["fp"], key, mode, chain_salt)
        .groupBy("a", "b")
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def line_dedup(
    df: DataFrame,
    key: str = "doc_id",
    text_col: str = "text",
    max_repeats: int = 1,
) -> DataFrame:
    """CCNet-style corpus-level line deduplication: drop every line
    whose (normalized) text occurs in more than ``max_repeats``
    documents across the corpus — the standard boilerplate killer
    (nav bars, cookie banners, license footers) for web-crawl
    training data.

    Shape at scale: lines explode with their positions, the repeated-
    line table is built by one count aggregation over the line hash
    (64-bit xxhash, no raw-line shuffle payload), and the anti-join
    back is keyed on the same hash, so both shuffles co-partition on
    the hash column; document reassembly groups on the doc key only.
    Line identity uses the whitespace-trimmed line, like CCNet's
    normalization; empty lines never count as duplicates (they are
    structure, not content) and are preserved verbatim.

    Output: (key, text, n_lines, n_dropped) with surviving lines
    joined back in original order.
    """
    lines = df.select(
        F.col(key),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("pos", "line"),
    ).withColumn("lh", F.xxhash64(F.trim(F.col("line"))))
    nonempty = F.trim(F.col("line")) != ""
    hot = (
        lines.where(nonempty)
        .groupBy("lh")
        .agg(F.count_distinct(key).alias("n_docs"))
        .where(F.col("n_docs") > max_repeats)
        .select("lh")
    )
    kept = lines.join(
        hot.withColumn("_hot", F.lit(True)), "lh", "left"
    ).withColumn("_drop", nonempty & F.col("_hot").isNotNull())
    return (
        kept.groupBy(key)
        .agg(
            F.concat_ws(
                "\n",
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                ~F.col("_drop"),
                                F.struct("pos", "line"),
                            )
                        )
                    ),
                    lambda s: s["line"],
                ),
            ).alias(text_col),
            F.count("*").alias("n_lines"),
            F.sum(F.col("_drop").cast("long")).alias("n_dropped"),
        )
    )


def decontaminate(
    df: DataFrame,
    benchmark: DataFrame,
    key: str = "doc_id",
    text_col: str = "text",
    bench_text_col: str = "text",
    n: int = 13,
    min_shared: int = 1,
) -> DataFrame:
    """Benchmark decontamination: flag every training document sharing
    at least ``min_shared`` word ``n``-grams with an eval/benchmark
    corpus (the 13-gram overlap rule popularized by the GPT-3 appendix
    and standard in training-data pipelines since).

    Scale shape: the benchmark side is tiny next to the corpus, so its
    n-gram hash set aggregates to a distinct table and BROADCASTS; the
    corpus side streams through one hash-equi-join — no shuffle of the
    100-TB side. Hashes are 64-bit over the lowercased space-joined
    n-gram. Output: (key, n_contaminated) for flagged docs only.
    """
    def gram_rows(frame, cols, col):
        # tokens MUST be a materialized column: referencing the split()
        # expression inside the transform lambda re-evaluates it per
        # position (no common-subexpression elimination inside
        # higher-order functions), turning gram generation O(T^2) per
        # document — the sf1 soak caught this as a wedged stage
        toked = frame.select(
            *cols, F.split(F.lower(F.col(col)), r"\s+").alias("_toks")
        )
        toks = F.col("_toks")
        idx = F.when(
            F.size(toks) >= n, F.sequence(F.lit(0), F.size(toks) - n)
        ).otherwise(F.array().cast("array<int>"))
        grams = F.transform(
            idx,
            lambda i: F.xxhash64(F.array_join(F.slice(toks, i + 1, n), " ")),
        )
        return toked.select(*cols, F.explode(grams).alias("gh"))

    bench = gram_rows(benchmark, [], bench_text_col).distinct()
    corpus = gram_rows(df, [key], text_col)
    return (
        corpus.join(F.broadcast(bench), "gh", "left_semi")
        .groupBy(key)
        .agg(F.count("*").alias("n_contaminated"))
        .where(F.col("n_contaminated") >= min_shared)
    )


def duplicated_spans(
    df: DataFrame,
    key: str = "doc_id",
    text_col: str = "text",
    k: int = 13,
    min_count: int = 2,
) -> DataFrame:
    """Exact-substring duplication (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better"): find every maximal
    token span whose ``k``-token windows all occur at least
    ``min_count`` times corpus-wide. The paper builds a suffix array;
    the order-free equivalent on Spark is window hashing — every
    length-``k`` token window is hashed, windows whose hash repeats
    (across documents OR within one) are duplicated, and per-document
    runs of duplicated windows merge into maximal spans by interval
    union.

    Scale shape: the window explode carries (key, pos, hash) only —
    never window text — so the corpus-wide count aggregation and the
    repeated-hash semi-join both co-partition on the 64-bit hash; the
    span merge is a per-document window function over only the
    duplicated subset. Zero Python.

    Tokens are ``\\s+`` splits of the trimmed text (empty text → no
    windows; docs shorter than ``k`` tokens → no windows). Output:
    (key, span_start, span_end, n_windows) with token-index spans,
    end exclusive.
    """
    toked = df.select(
        F.col(key), F.split(F.trim(F.col(text_col)), r"\s+").alias("_toks")
    )
    toks = F.col("_toks")
    # materialized-column rule (see decontaminate): _toks is a real
    # column so the lambda below does not re-split per position
    idx = F.when(
        F.size(toks) >= k, F.sequence(F.lit(0), F.size(toks) - k)
    ).otherwise(F.array().cast("array<int>"))
    grams = F.transform(
        idx,
        lambda i: F.struct(
            i.alias("pos"),
            F.xxhash64(F.array_join(F.slice(toks, i + 1, k), " ")).alias("wh"),
        ),
    )
    windows = toked.select(
        F.col(key), F.explode(grams).alias("g")
    ).select(key, F.col("g.pos").alias("pos"), F.col("g.wh").alias("wh"))
    hot = (
        windows.groupBy("wh")
        .agg(F.count(F.lit(1)).alias("n_occ"))
        .where(F.col("n_occ") >= min_count)
        .select("wh")
    )
    dup = windows.join(hot, "wh", "left_semi")
    w = Window.partitionBy(key).orderBy("pos")
    prev_end = F.max(F.col("pos") + k).over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    starts = dup.withColumn(
        "_new", (prev_end.isNull() | (F.col("pos") > prev_end)).cast("long")
    ).withColumn("_island", F.sum("_new").over(w))
    return (
        starts.groupBy(key, "_island")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + k).alias("span_end"),
            F.count(F.lit(1)).alias("n_windows"),
        )
        .select(key, "span_start", "span_end", "n_windows")
    )


def strip_duplicated_spans(
    df: DataFrame,
    key: str = "doc_id",
    text_col: str = "text",
    k: int = 13,
    min_count: int = 2,
    spans: DataFrame | None = None,
) -> DataFrame:
    """Remove every duplicated span found by :func:`duplicated_spans`
    from the document text (the paper's ExactSubstr dedup action).

    The span table collects to one array per affected document and
    left-joins back — documents with no duplicated spans stream
    through untouched (null span array). Reconstruction keeps tokens
    whose index falls in no span and rejoins with single spaces, so
    the output text is whitespace-normalized on both the engine and
    oracle sides. Pass a precomputed ``spans`` frame (the output of
    :func:`duplicated_spans`, possibly persisted) to avoid recomputing
    the window-hash pipeline when both views are needed.
    Output: (key, text, n_tokens, n_removed).
    """
    spans = (
        (duplicated_spans(df, key, text_col, k, min_count)
         if spans is None else spans)
        .groupBy(key)
        .agg(
            F.collect_list(F.struct("span_start", "span_end")).alias("_spans")
        )
    )
    toked = df.select(
        F.col(key), F.split(F.trim(F.col(text_col)), r"\s+").alias("_toks")
    ).join(spans, key, "left")
    toks, sp = F.col("_toks"), F.col("_spans")
    pos_toks = F.when(F.length(F.array_join(toks, "")) == 0,
                      F.array().cast("array<struct<i:int,t:string>>")
    ).otherwise(
        F.transform(toks, lambda t, i: F.struct(i.alias("i"), t.alias("t")))
    )
    kept = F.when(sp.isNull(), pos_toks).otherwise(
        F.filter(
            pos_toks,
            lambda s: ~F.exists(
                sp,
                lambda r: (s["i"] >= r["span_start"]) & (s["i"] < r["span_end"]),
            ),
        )
    )
    out = toked.select(
        F.col(key),
        kept.alias("_kept"),
        F.size(pos_toks).alias("n_tokens"),
    )
    return out.select(
        key,
        F.array_join(F.transform(F.col("_kept"), lambda s: s["t"]), " ").alias(text_col),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        (F.col("n_tokens") - F.size(F.col("_kept"))).cast("long").alias("n_removed"),
    )
