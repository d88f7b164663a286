"""Training-data pipeline text operators (dedup, language-ID, quality,
tokens, fingerprints) — built on JVM-side pyspark.sql.functions wherever
possible so Catalyst/codegen keep them off the Python path.

Each operator has an ANSI-SQL twin in __spark_entry__.oracle_sql() so the
driver's DuckDB harness verifies it value-for-value.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.window import Window

# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------


def dedup_exact(df: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """Exact duplicate removal: md5 content hash, keep the lowest id per
    hash group (deterministic winner).  Pure hash-groupBy: map-side
    partial agg + one shuffle on the hash."""
    return (
        df.withColumn("h", F.md5(F.col(text_col)))
        .groupBy("h")
        .agg(F.min(id_col).alias(id_col),
             F.count(F.lit(1)).alias("dup_count"))
    )


# ---------------------------------------------------------------------------
# shingles / minhash / ngram-jaccard
# ---------------------------------------------------------------------------


def _spread(df: DataFrame) -> DataFrame:
    """Scale-adaptive input-skew fix (optimization guide §2.5): a small
    parquet file with one row group scans as ONE task, so everything up
    to the first exchange (shingle explode, token hashing, map-side
    partial aggregation) serializes on a single core.  Round-robin
    repartition to the cluster parallelism when — and only when — the
    source is under-parallel; at 100 TB the scan already has orders of
    magnitude more partitions than cores and this is a no-op (no extra
    exchange in the plan).  Project to the needed columns BEFORE calling
    so only those bytes move (guide §2.3).

    Only simple scan-shaped plans are probed: for a frame with an
    upstream shuffle, reading ``.rdd`` under AQE would execute those
    shuffle stages eagerly at construction time just to learn a
    partition count — such inputs are returned unchanged."""
    target = df.sparkSession.sparkContext.defaultParallelism
    plan = df._jdf.queryExecution().analyzed().toString()
    if any(k in plan for k in ("Join", "Aggregate", "Repartition",
                               "Sort", "Window", "Deduplicate")):
        return df
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def shingles(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
             n: int = 3, distinct: bool = True) -> DataFrame:
    """Word n-gram shingle table (id, shingle) — the primitive under
    MinHash, Jaccard and fingerprinting.

    Each page's text is split ONCE into a ``toks`` column; the n-grams
    are ``concat_ws(' ', slice(toks, pos + 1, n))`` over
    ``posexplode_outer(toks)`` rows with ``pos <= size(toks) - n``, all
    codegen'd expressions.  (A ``transform`` lambda over positions
    would re-evaluate the split once per shingle: Catalyst does not
    hoist it out of the lambda body.)  A page with fewer than ``n``
    tokens, an empty or blank one included, yields no shingles.

    ``distinct=True`` dedups (id, shingle) pairs — a full shuffle of the
    largest table in the pipeline.  Every consumer in this module can
    skip it: MinHash's min-agg is duplicate-insensitive, and the
    Jaccard/guard aggregations dedup inside their own shuffle
    (collect_set / count_distinct partial-aggregate map-side), so pass
    ``distinct=False`` when feeding them and save the shuffle."""
    src = _spread(df.select(F.col(id_col), F.col(text_col)))
    toks = src.select(
        id_col, F.split(F.trim(F.col(text_col)), r"\s+").alias("toks"))
    # _outer: for an inner posexplode Catalyst infers a size(toks) > 0
    # filter and pushes it below the projection, splitting the text
    # twice more; the pos filter drops the outer form's null row
    out = (
        toks.select(id_col, "toks", F.posexplode_outer("toks"))
        .where(F.col("pos") <= F.size("toks") - n)
        .select(id_col, F.concat_ws(
            " ", F.slice("toks", F.col("pos") + 1, n)).alias("shingle"))
    )
    return out.distinct() if distinct else out


def _shingle_hash(col, j: int):
    """Deterministic 32-bit-ish hash of a shingle under permutation j,
    reproducible in ANSI SQL: md5 hex -> bigint arithmetic."""
    base = F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long")
    return (base * (2 * j + 1) + 31 * j) % F.lit(2147483647)


def minhash_signatures(sh: DataFrame, num_hashes: int = 8,
                       id_col: str = "doc_id") -> DataFrame:
    """MinHash signature per doc: min over shingles of H_j(shingle) for j
    in 0..num_hashes-1.  One aggregation; signature columns mh0..mhK.
    The md5 base hash is computed once and the J permutations derived
    arithmetically (J-fold cheaper than hashing per permutation).
    min() is duplicate-insensitive, so feed it a
    ``shingles(distinct=False)`` table — the min partial-aggregates
    map-side and the doc-keyed shuffle ships J longs per doc."""
    base = F.conv(F.substring(F.md5(F.col("shingle")), 1, 8), 16, 10) \
        .cast("long")
    hashed = sh.withColumn("hb", base)
    aggs = [
        F.min((F.col("hb") * (2 * j + 1) + 31 * j) % F.lit(2147483647))
        .alias(f"mh{j}")
        for j in range(num_hashes)
    ]
    return hashed.groupBy(id_col).agg(*aggs)


def minhash_lsh_pairs(sh: DataFrame, num_hashes: int = 8, bands: int = 4,
                      id_col: str = "doc_id",
                      max_bucket_size: int | None = 100_000) -> DataFrame:
    """LSH candidate pairs: band the signature (rows = num_hashes/bands),
    bucket-join docs sharing a band value.  Returns (a, b, band) pairs
    a < b.

    The signature aggregate is scanned ONCE (bands exploded from an
    array of structs, not one projection per band).

    ``max_bucket_size`` is the 100 TB guard: a bucket with k members
    emits k(k-1)/2 candidates, so one boilerplate-heavy bucket (cookie
    banners, license headers) can dominate the whole join.  Buckets
    larger than the cap are dropped from candidate generation — their
    members are near-certain duplicates of each other and are better
    handled by the exact-dedup pass; the default is far above anything
    a healthy corpus produces, so small-scale results are unchanged.

    The guard is not silent: :func:`lsh_guard_metrics` reports how many
    buckets/candidates the same cap drops (oracle-checked query)."""
    sig = minhash_signatures(sh, num_hashes, id_col)
    rows = num_hashes // bands
    band_structs = F.array(*[
        F.struct(
            F.lit(b).alias("band"),
            F.concat_ws("_", *[
                F.col(f"mh{b * rows + r}").cast("string")
                for r in range(rows)
            ]).alias("bucket"),
        )
        for b in range(bands)
    ])
    bands_df = sig.select(
        F.col(id_col).alias("doc"), F.explode(band_structs).alias("bb")
    ).select("doc", F.col("bb.band").alias("band"),
             F.col("bb.bucket").alias("bucket"))
    # bucket posting lists: ONE shuffle of the banded signatures (the
    # self-join formulation scans the signature aggregate twice and
    # shuffles both sides); the cap is a free size() filter
    buckets = bands_df.groupBy("band", "bucket").agg(
        F.collect_list("doc").alias("docs")
    ).where(F.size("docs") >= 2)
    if max_bucket_size is not None:
        buckets = buckets.where(F.size("docs") <= max_bucket_size)
    # no distinct needed: a doc has exactly ONE bucket per band (its
    # banded signature), so a pair (a, b) shares at most one bucket per
    # band and (a, b, band) rows are unique by construction — the
    # distinct would be a pure no-op exchange (guide §2.4: a distinct on
    # data that is already unique)
    return (
        buckets.select("band", F.explode("docs").alias("a"), "docs")
        .select("band", "a", F.explode("docs").alias("b"))
        .where(F.col("a") < F.col("b"))
        .select("a", "b", "band")
    )


def lsh_guard_metrics(sh: DataFrame, num_hashes: int = 8, bands: int = 4,
                      id_col: str = "doc_id",
                      max_bucket_size: int = 100_000) -> DataFrame:
    """Observability for the LSH hot-bucket guard ("no silent caps"):
    one row — total buckets, buckets over the cap, and the k(k-1)/2
    candidate pairs those buckets would have emitted.  Same single
    banded-signature aggregation as :func:`minhash_lsh_pairs`; run it
    alongside the pair job (or over a sample) to audit what the cap is
    costing at the current corpus."""
    sig = minhash_signatures(sh, num_hashes, id_col)
    rows = num_hashes // bands
    band_structs = F.array(*[
        F.struct(
            F.lit(b).alias("band"),
            F.concat_ws("_", *[
                F.col(f"mh{b * rows + r}").cast("string")
                for r in range(rows)
            ]).alias("bucket"),
        )
        for b in range(bands)
    ])
    bands_df = sig.select(
        F.col(id_col).alias("doc"), F.explode(band_structs).alias("bb")
    ).select(F.col("bb.band").alias("band"),
             F.col("bb.bucket").alias("bucket"))
    sizes = bands_df.groupBy("band", "bucket").agg(
        F.count(F.lit(1)).alias("n")
    ).where(F.col("n") >= 2)
    over = F.col("n") > max_bucket_size
    return sizes.agg(
        F.count(F.lit(1)).alias("candidate_buckets"),
        F.sum(over.cast("long")).alias("dropped_buckets"),
        F.sum(F.when(over, (F.col("n") * (F.col("n") - 1) / 2)
                     .cast("long")).otherwise(F.lit(0)))
        .alias("dropped_candidates"),
    )


def ngram_jaccard_pairs(sh: DataFrame, threshold: float = 0.5,
                        id_col: str = "doc_id",
                        max_doc_freq: int | None = 100_000) -> DataFrame:
    """Exact n-gram Jaccard similarity for candidate pairs sharing >= 1
    shingle.  |A∩B| from the shingle self-join, |A∪B| = |A|+|B|-|∩|.
    The self-join shuffles on the shingle key; stop-shingle skew is the
    classic hazard — AQE skew-join splits hot shingles.

    ``max_doc_freq`` is the 100 TB guard: a shingle present in k docs
    contributes k² candidate rows, so corpus-wide boilerplate shingles
    make the pair generation quadratic.  Pairs are generated from ONE
    groupBy(shingle) posting list (cheaper than the classic self-join:
    the shingle table shuffles once, not twice) and the guard is a free
    ``size(list) <= cap`` filter on the posting list; dropped shingles
    leave the universe entirely (sizes computed on the same filtered
    universe, the standard stop-shingle treatment).  The default cap is
    inactive at test scale.

    The guard is not silent: :func:`ngram_guard_metrics` reports the
    stop-shingles and posting rows the same cap drops."""
    postings = sh.groupBy("shingle").agg(
        F.collect_set(F.col(id_col)).alias("ids")
    )
    if max_doc_freq is not None:
        postings = postings.where(F.size("ids") <= max_doc_freq)
    # ONE pass over the posting lists computes BOTH the pair
    # intersections and the per-doc set sizes: keeping the diagonal
    # (a == b) in the pair explode makes count(a, a) = the number of
    # filtered posting lists containing a = |shingles(a)| on the
    # filtered universe — exactly the ``sizes`` table.  The previous
    # formulation referenced the postings subtree three times (once for
    # the intersections, once per join side of sizes), recomputing the
    # full shingle explode + groupBy each time (guide §2.4/§1.2: the
    # physical plan had 3 parquet scans and 5 exchanges for what is one
    # aggregation tree).  localCheckpoint pins the counts table so the
    # sizes branch reads it instead of recomputing (an RDD checkpoint,
    # not persist(): a cached plan would be silently REUSED by the next
    # identical invocation — cross-run result caching); the joins are
    # left to AQE, which broadcasts the sizes side when its runtime
    # stats say it fits and falls back to shuffle joins at corpus scale.
    counts = (
        postings.select(F.explode("ids").alias("a"), F.col("ids"))
        .select("a", F.explode("ids").alias("b"))
        .where(F.col("a") <= F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("i"))
    ).localCheckpoint(eager=True)
    sizes = counts.where(F.col("a") == F.col("b")).select(
        F.col("a").alias("d"), F.col("i").alias("sz"))
    out = (
        counts.where(F.col("a") < F.col("b"))
        .join(sizes.withColumnRenamed("d", "a")
              .withColumnRenamed("sz", "sza"), "a")
        .join(sizes.withColumnRenamed("d", "b")
              .withColumnRenamed("sz", "szb"), "b")
        .withColumn(
            "jaccard",
            F.round(F.col("i") / (F.col("sza") + F.col("szb") - F.col("i")),
                    6),
        )
        .where(F.col("jaccard") >= threshold)
        .select("a", "b", "jaccard")
    )
    return out


def ngram_guard_metrics(sh: DataFrame, id_col: str = "doc_id",
                        max_doc_freq: int = 100_000) -> DataFrame:
    """Observability for the stop-shingle guard ("no silent caps"): one
    row — total shingles, shingles over the doc-frequency cap, and the
    posting rows removed with them."""
    sizes = sh.groupBy("shingle").agg(
        F.count_distinct(F.col(id_col)).alias("n"))
    over = F.col("n") > max_doc_freq
    return sizes.agg(
        F.count(F.lit(1)).alias("total_shingles"),
        F.sum(over.cast("long")).alias("dropped_shingles"),
        F.sum(F.when(over, F.col("n")).otherwise(F.lit(0)))
        .alias("dropped_postings"),
    )


def simhash64(df: DataFrame, text_col: str = "text",
              id_col: str = "doc_id", bits: int = 16) -> DataFrame:
    """SimHash document fingerprint: per token, a deterministic hash; bit
    b of the fingerprint = sign of sum over tokens of (+1 if hash bit set
    else -1).  Expressed relationally (explode tokens x bits -> agg) so
    the oracle can reproduce it."""
    # no _spread here: per-token hashing is cheap (unlike the shingle
    # transform), and an interleaved A/B measured the extra exchange
    # costing more than the parallelism buys at bench scale (0.45 vs
    # 0.56 s median); at 100 TB the scan is already parallel
    toks = df.select(
        F.col(id_col),
        F.explode(F.split(F.trim(F.col(text_col)), r"\s+")).alias("tok"),
    )
    h = F.conv(F.substring(F.md5(F.col("tok")), 1, 15), 16, 10).cast("long")
    toks = toks.withColumn("th", h)
    # per-bit contribution sums as ``bits`` aggregate expressions over
    # the token rows instead of a bits-fold explode: the former plan
    # shipped tokens x bits rows (16x the token table) through TWO
    # aggregations ((id, bit) then id); this one map-side-aggregates the
    # token table once and shuffles ``bits`` longs per doc through ONE
    # exchange (guide §2.3 "aggregate before you shuffle" / §2.4).  The
    # per-bit integer sums are identical, so the resulting fingerprint
    # is bit-for-bit the same.
    bit_sums = [
        F.sum(
            F.when(F.expr(f"(th >> {b}) % 2") == 1, 1).otherwise(-1)
        ).alias(f"s{b}")
        for b in range(bits)
    ]
    agg = toks.groupBy(id_col).agg(*bit_sums)
    fp = None
    for b in range(bits):
        # shiftleft, not a Python literal: 1 << 63 overflows a signed
        # long literal, while shiftleft(1L, 63) wraps to the sign bit
        # exactly as the previous formulation did for bits >= 64
        term = F.when(F.col(f"s{b}") > 0, F.expr(f"shiftleft(1L, {b})")) \
            .otherwise(F.lit(0).cast("long"))
        fp = term if fp is None else fp + term
    return agg.select(F.col(id_col), fp.alias("simhash"))


# ---------------------------------------------------------------------------
# text analysis
# ---------------------------------------------------------------------------

_LANG_MARKERS = {
    "en": ["the", "and", "of"],
    "de": ["der", "und", "die"],
    "fr": ["le", "et", "les"],
    "es": ["el", "de", "los"],
}


def token_count(df: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """Whitespace token count (JVM split; no UDF)."""
    return df.select(
        F.col(id_col),
        F.size(F.split(F.trim(F.col(text_col)), r"\s+")).alias("n_tokens"),
    )


def quality_score(df: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id") -> DataFrame:
    """Heuristic document quality: length, mean word length, space ratio —
    all engine-portable string arithmetic (no regex corner semantics)."""
    t = F.col(text_col)
    n_chars = F.length(t)
    n_spaces = n_chars - F.length(F.replace(t, F.lit(" "), F.lit("")))
    n_tokens = F.size(F.split(F.trim(t), r"\s+"))
    mean_wl = F.round((n_chars - n_spaces) / n_tokens, 6)
    score = F.round(
        F.least(n_tokens / F.lit(100.0), F.lit(1.0)) * 0.5
        + F.when((mean_wl >= 3) & (mean_wl <= 10), 0.5).otherwise(0.0),
        6,
    )
    return df.select(
        F.col(id_col), n_chars.alias("n_chars"),
        n_tokens.alias("n_tokens"), mean_wl.alias("mean_word_len"),
        score.alias("quality"),
    )


def lang_id(df: DataFrame, text_col: str = "text",
            id_col: str = "doc_id") -> DataFrame:
    """Marker-word language ID: count marker hits per language, argmax
    with deterministic tie-break on language code."""
    t = F.lower(F.col(text_col))
    scores = []
    for lg, words in _LANG_MARKERS.items():
        s = None
        for wdd in words:
            c = (F.length(t) - F.length(F.replace(
                t, F.lit(f" {wdd} "), F.lit("")))) / (len(wdd) + 2)
            s = c if s is None else s + c
        scores.append(F.struct(s.cast("double").alias("s"),
                               F.lit(lg).alias("lg")))
    best = F.greatest(*scores)
    return df.select(F.col(id_col), best["lg"].alias("pred_lang"),
                     F.round(best["s"], 6).alias("lang_score"))


def doc_fingerprint(df: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id", n: int = 3) -> DataFrame:
    """Winnowing-style fingerprint: minimum shingle hash per document
    (a 1-function MinHash) — cheap near-dup prefilter."""
    sh = shingles(df, text_col, id_col, n, distinct=False)
    return sh.groupBy(id_col).agg(
        F.min(_shingle_hash(F.col("shingle"), 0)).alias("fingerprint")
    )


def near_dup_clusters(
    pairs: DataFrame,
    a_col: str = "a",
    b_col: str = "b",
    max_rounds: int = 64,
) -> DataFrame:
    """Collapse near-duplicate PAIRS (from minhash-LSH / n-gram Jaccard
    / embedding near-dup) into CLUSTERS: ``(member, cluster)`` where
    ``cluster`` is the minimum id reachable through the pair graph —
    the canonical keeper a dedup pipeline retains.

    Connected components by min-label propagation with a
    pointer-doubling hop each round (label <- min(label, label of my
    label)), so rounds scale with log(component diameter), not
    diameter.  Per round: one O(|E|) join + one O(|V|) self-join — the
    pair graph is tiny relative to the corpus (only near-dup members
    appear).  Each round is checkpointed; the loop stops at fixpoint."""
    edges = (
        pairs.select(F.col(a_col).alias("x"), F.col(b_col).alias("y"))
        .unionByName(
            pairs.select(F.col(b_col).alias("x"), F.col(a_col).alias("y"))
        )
        .distinct()
        .persist()
    )
    labels = (
        edges.select("x").distinct().withColumn("lbl", F.col("x"))
        .localCheckpoint(eager=True)
    )
    for _ in range(max_rounds):
        nbr = (
            edges.join(
                labels.select(F.col("x").alias("y"),
                              F.col("lbl").alias("nl")),
                "y",
            )
            .groupBy("x")
            .agg(F.min("nl").alias("nmin"))
        )
        # carry the pre-round label through the round so the
        # convergence check is a filter over the checkpointed frame,
        # not another join back to the previous labels
        prop = labels.join(nbr, "x", "left").select(
            "x",
            F.col("lbl").alias("old"),
            F.least("lbl", F.coalesce("nmin", "lbl")).alias("lbl"),
        )
        # pointer doubling: jump to my label's label
        hop = prop.join(
            prop.select(F.col("x").alias("lbl"),
                        F.col("lbl").alias("ll")),
            "lbl", "left",
        ).select(
            "x", "old",
            F.least("lbl", F.coalesce("ll", "lbl")).alias("lbl"),
        ).localCheckpoint(eager=True)
        n_changed = hop.where(F.col("lbl") != F.col("old")).count()
        labels = hop.select("x", "lbl")
        if n_changed == 0:
            break
    edges.unpersist()
    return labels.select(
        F.col("x").alias("member"), F.col("lbl").alias("cluster")
    )
