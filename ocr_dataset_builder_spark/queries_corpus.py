"""Training-data corpus operators over the flat documents/embeddings tables.

Beyond the reference's own operators (per the build brief): deduplication
(exact, n-gram Jaccard, MinHash+LSH, SimHash), similarity search
(brute-force cosine top-k, LSH hyperplane bucketing), and text analysis
(token stats, quality scoring, language-ID heuristic, rolling-hash
fingerprinting), plus multimodal binary-column plumbing.

All hashing is the engine-portable 60-bit md5-prefix integer
(``conv(substr(md5(x),1,15),16,10)`` in Spark ==
``('0x'||substr(md5(x),1,15))::BIGINT`` in DuckDB — verified identical).
Float reductions are engine-exact one of two ways: sequential in-row
DOUBLE folds (Spark ``aggregate(zip_with(...), 0.0, +)`` is bit-identical
to DuckDB ``list_reduce`` — both fold in strict array order and IEEE
``0.0 + x == x``; the fast path, used for all dot/norm/distance math), or
exact DECIMAL sums of per-element 9-dp-rounded products where the values
must survive an order-unspecified group-by aggregation.

Scale notes per operator are in each docstring — these are the 100 TB
paths (shingle-join is the N^2 fallback at tiny scale; MinHash-LSH is the
linear-shuffle variant used at scale).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .synth import load_embeddings as _emb
from .synth import load_flat_documents as _docs

# ---------------------------------------------------------------------------
# shared fragments
# ---------------------------------------------------------------------------

# normalized text: lower, collapse whitespace, trim
_NORM_SPARK = lambda c: F.trim(F.regexp_replace(F.lower(c), r"\s+", " "))  # noqa: E731
_NORM_SQL = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"

_HEX15_SQL = lambda e: f"('0x' || substr(md5({e}), 1, 15))::BIGINT"  # noqa: E731


def _hex15(c: F.Column) -> F.Column:
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("bigint")


def _norm_docs(
    spark: SparkSession, sf_dir: str, spread: bool = True
) -> DataFrame:
    # _spread BEFORE the normalize projection (r8): the whitespace regex
    # plus everything stacked on norm (ngram explode, per-window md5,
    # signature folds, quality signals) otherwise runs inside the scan's
    # task count — ONE task at bench scale (single-row-group parquet).
    # The exchange carries the pruned (doc_id, lang, text) columns once;
    # the conditional inside _spread skips it when the scan is already
    # parallel (real-scale inputs).
    #
    # ``spread=False`` opts out for the consumers the r8 bench showed
    # REGRESSING under the spread: cheap-explode + global-dedup shapes
    # (distinct tokens/shingles, posting counts). There the single-task
    # scan's map-side partial aggregation fully deduplicates before the
    # exchange, while a 64-way spread ships up to one partial row per
    # task per hot value — the extra shuffled rows cost more than the
    # light map work the spread parallelizes (distinct_sketch
    # 0.42->0.97 s, vocab_coverage 0.35->0.88 s measured before the
    # opt-out).
    d = _docs(spark, sf_dir)
    if spread:
        d = _spread(d, "doc_id")
    return d.select(
        "doc_id", "lang", _NORM_SPARK(F.col("text")).alias("norm")
    )


_NORM_CTE = f"""
norm_docs AS (
  SELECT doc_id, lang, {_NORM_SQL} AS norm FROM documents
)""".strip()

# distinct word 3-gram shingles per doc
_SHINGLE_CTE = f""",
sh AS (
  SELECT doc_id, unnest(list_distinct(
    list_transform(range(1, greatest(len(string_split(norm, ' ')) - 2, 0) + 1),
                   i -> string_split(norm, ' ')[i] || ' ' ||
                        string_split(norm, ' ')[i+1] || ' ' ||
                        string_split(norm, ' ')[i+2])
  )) AS shingle
  FROM norm_docs
)"""


def positional_ngrams(t: str, n: int) -> F.Column:
    """Word n-grams in start order WITH multiplicity over the token-array
    column named ``t`` — element i (0-based) is the window starting at
    token i. Built via zip_with over shifted slices: each slice argument
    evaluates once per row (element_at inside a transform lambda
    re-evaluates the split per element — O(tokens^2) regex work,
    measured as the dominant cost of the shingle stages). Built from SQL
    text, one expression instead of n-1 PySpark lambdas (each a round of
    JVM calls on the driver)."""
    ln = f"greatest(size({t}) - {n - 1}, 0)"
    grams = f"slice({t}, 1, {ln})"
    for k in range(1, n):
        grams = f"zip_with({grams}, slice({t}, {k + 1}, {ln}), (a, b) -> concat(a, ' ', b))"
    return F.expr(grams)


def word_ngrams(t: str, n: int) -> F.Column:
    """Distinct word n-grams (the shingle form: position and
    multiplicity dropped)."""
    return F.array_distinct(positional_ngrams(t, n))


def _spread(df: DataFrame, *cols: str, force: bool = False) -> DataFrame:
    """Hash-repartition to the session's shuffle-partition count before a
    CPU-heavy scan-local computation (round 8, guide §2.5/§6).

    Why: the embedding/doc parquet leaves are single-row-group files at
    bench scale, so a scan is ONE task no matter the core count
    (``spark.sql.files.minPartitionNum`` cannot split below row-group
    granularity), and every interpreted in-row fold stacked on the scan
    runs serially. An explicit numbered repartition is the only spread
    AQE will not re-coalesce (AQE coalesces by BYTES and these relations
    are tiny-but-CPU-dense — exactly the case byte-based coalescing gets
    wrong). The count comes from ``spark.sql.shuffle.partitions`` —
    deployment-tuned, never a local constant; the added exchange is
    linear in the relation while the folds it parallelizes are
    O(n*k*dim), so it also holds at the driver's larger scale factors."""
    n = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    # Scale guard: only add the exchange when the input is actually
    # under-parallel (tiny files, one row group -> one task). A real
    # 100 TB scan already carries >> shuffle-partition splits and must
    # NOT pay an extra full-payload shuffle; a _barrier relation already
    # carries the session's shuffle partitioning and skips too.
    # getNumPartitions is plan-time introspection — no job runs.
    if not force and df.rdd.getNumPartitions() >= n:
        return df
    # force=True PINS a keyed layout a downstream CPU-dense join/agg
    # needs: a numbered user repartition is the one exchange AQE's
    # byte-based coalescing will not collapse to a single partition
    # (plan-time partition counts say nothing about that runtime
    # behavior, so the guard above cannot apply).
    return df.repartition(n, *cols)


def _barrier(df: DataFrame) -> DataFrame:
    """The package's one materialization policy: an eager checkpoint of
    a relation the downstream plan reads more than once. Spark has no
    common-subtree materialization, so without it one action re-executes
    the subtree per reference (measured: the incremental arrival kernels
    ran 3x/2x, r7; the semantic assignment 3-4x, r8), and an iterative
    loop grows a lineage the optimizer re-expands every round.

    Reliable (``df.checkpoint()``) when the session carries a checkpoint
    dir (``spark.sparkContext.setCheckpointDir``) — the blocks then
    survive executor loss; executor-local (``df.localCheckpoint()``)
    otherwise. Eager, so the materializing job runs here, once, and not
    inside whichever later job first reads the relation (the lazy form
    logged ``DAGScheduler: Failed to update accumulator`` errors)."""
    if df.sparkSession.sparkContext.getCheckpointDir() is None:
        return df.localCheckpoint()
    return df.checkpoint()


def _nearest_ranked(
    d2: DataFrame, rank_max: int, carry: tuple[str, ...] = ()
) -> DataFrame:
    """Rank a (vec_id, cent_id, d2) relation to the ``rank_max`` nearest
    per vector. ``rank_max == 1`` (every trainer/assign call in the
    module) is a min-struct partial aggregation — map-side combined,
    no per-vector sort, and the exchange carries one row per vector
    instead of one per (vector, centroid). The struct ordering
    (d2 asc, then cent_id asc, nulls first) is exactly the window
    form's ``orderBy(d2.asc, cent_id.asc)`` with row_number == 1, so
    values and tie-breaks are identical (pinned by the driver oracle).
    ``rank_max > 1`` keeps the row_number window.

    ``carry`` names per-vector columns (the vector ``v`` for a Lloyd
    step) that ride along to the output. They are appended to the
    struct AFTER cent_id, which is unique per vector, so they never
    decide the min."""
    if rank_max == 1:
        m = d2.groupBy("vec_id").agg(
            F.min(F.struct("d2", "cent_id", *carry)).alias("m")
        )
        return m.select(
            "vec_id",
            F.col("m.cent_id").alias("cent_id"),
            F.col("m.d2").alias("d2"),
            F.lit(1).alias("rnk"),
            *[F.col(f"m.{c}").alias(c) for c in carry],
        )
    w = Window.partitionBy("vec_id").orderBy(
        F.col("d2").asc(), F.col("cent_id").asc()
    )
    return d2.withColumn("rnk", F.row_number().over(w)).where(
        F.col("rnk") <= rank_max
    )


def _shingles(
    spark: SparkSession, sf_dir: str, nd: DataFrame | None = None
) -> DataFrame:
    # spread=False: every shingle consumer is an explode + global-
    # dedup/count shape (minhash signatures, posting lists, probe-set
    # semi-joins) — the regime where the single-task map-side dedup
    # beats the spread (see _norm_docs; minhash_lsh 0.87->1.05 s and
    # ngram_jaccard 1.66->2.10 s under the spread, reverted by this)
    if nd is None:
        nd = _norm_docs(spark, sf_dir, spread=False)
    nd = nd.withColumn("t", F.split("norm", " "))
    return nd.select(
        "doc_id", F.explode(word_ngrams("t", 3)).alias("shingle")
    )


# ---------------------------------------------------------------------------
# dedup_exact — hash-groupBy exact duplicate detection
# ---------------------------------------------------------------------------


def q_dedup_exact(
    spark: SparkSession, sf_dir: str, nd: DataFrame | None = None
) -> DataFrame:
    """Exact dedup at scale: one shuffle on the fingerprint; canonical doc
    is the min doc_id per group (deterministic).

    Skew-safe form: the per-group (count, min) is a map-side-combined
    partial agg joined back on fp — NOT a window over fp. A window sends
    every row of one fingerprint to a single task, and the hot key here
    is the fingerprint of the single most duplicated document (10^6+
    copies of one boilerplate page at crawl scale); the agg+join form
    combines map-side and AQE skew-splits the join, same discipline as
    the substring keep-first family."""
    if nd is None:
        nd = _norm_docs(spark, sf_dir)
    nd = nd.withColumn("fp", F.md5("norm"))
    g = nd.groupBy("fp").agg(
        F.count("*").alias("group_n"), F.min("doc_id").alias("canonical_id")
    )
    return nd.join(g, "fp").select("doc_id", "fp", "group_n", "canonical_id")


def _exact_canonicals(nd: DataFrame) -> DataFrame:
    """(doc_id) of each exact group's canonical — the keep-only form of
    q_dedup_exact: one map-side-combined partial agg on the fingerprint,
    no join back (callers that keep only canonicals never need the
    per-row annotation, so the join-back leg is pure waste there)."""
    return (
        nd.groupBy(F.md5("norm").alias("fp"))
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )


SQL_DEDUP_EXACT = f"""WITH {_NORM_CTE}
SELECT doc_id, md5(norm) AS fp,
       count(*) OVER (PARTITION BY md5(norm)) AS group_n,
       min(doc_id) OVER (PARTITION BY md5(norm)) AS canonical_id
FROM norm_docs
"""


# ---------------------------------------------------------------------------
# ngram_jaccard — shingle-join near-dup pairs (exact Jaccard)
# ---------------------------------------------------------------------------

_JACCARD_MIN = 0.02
# Posting-list cap: a stopword-like shingle shared by n docs expands to
# C(n,2) pairs — at 10^6 docs that is 5*10^11 rows from ONE key. Same
# pattern as _LSH_BUCKET_CAP: oversized postings are dropped (in lockstep
# with the oracle), below the cap the pair set is exact. Sized so the
# sf0.1 bench corpus is entirely below it (verified by the capped==uncapped
# equality test) — the cap exists to make the baseline un-footgunnable at
# scales it was never meant for.
_POSTING_CAP = 256


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact all-pairs n-gram Jaccard. At 100 TB this is the
    *verification* stage run only on LSH candidate pairs
    (q_minhash_jaccard_verify); the all-pairs form here is the
    small-scale recall baseline.

    Even the all-pairs form avoids a self-join: each shingle's posting
    list is grouped once (ONE shuffle) and co-occurring pairs expand
    in-bucket — the same melt-expand shape as the LSH paths, ~2x faster
    than the equi-join at bench scale and identical output. Posting
    lists above _POSTING_CAP are dropped (mirrored in the oracle), so
    even the baseline has no uncapped C(n,2) expansion."""
    sh = _shingles(spark, sf_dir)
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    postings = sh.groupBy("shingle").agg(
        F.sort_array(F.collect_list("doc_id")).alias("ds")
    ).where((F.size("ds") > 1) & (F.size("ds") <= _POSTING_CAP))
    pairs = (
        _fan_out(spark, postings)
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(ds, (x, i) -> "
                    "transform(slice(ds, i + 2, size(ds)), y -> struct(x AS a_id, y AS b_id))))"
                )
            ).alias("p")
        )
        .groupBy(F.col("p.a_id").alias("a_id"), F.col("p.b_id").alias("b_id"))
        .agg(F.count("*").alias("shared"))
    )
    sa = sizes.select(F.col("doc_id").alias("a_id"), F.col("n_sh").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("b_id"), F.col("n_sh").alias("nb"))
    j = (
        pairs.join(sa, "a_id")
        .join(sb, "b_id")
        .select(
            "a_id",
            "b_id",
            F.round(
                F.col("shared") / (F.col("na") + F.col("nb") - F.col("shared")), 6
            ).alias("jaccard"),
        )
    )
    return j.where(F.col("jaccard") >= _JACCARD_MIN)


SQL_NGRAM_JACCARD = f"""WITH {_NORM_CTE}{_SHINGLE_CTE},
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
eligible AS (
  SELECT shingle FROM sh GROUP BY shingle
  HAVING count(*) BETWEEN 2 AND {_POSTING_CAP}
),
pairs AS (
  SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS shared
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  JOIN eligible e ON e.shingle = a.shingle
  GROUP BY 1, 2
)
SELECT a_id, b_id,
       round(shared / (sa.n_sh + sb.n_sh - shared), 6) AS jaccard
FROM pairs
JOIN sizes sa ON sa.doc_id = a_id
JOIN sizes sb ON sb.doc_id = b_id
WHERE round(shared / (sa.n_sh + sb.n_sh - shared), 6) >= {_JACCARD_MIN}
"""


def q_ngram_posting_drops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Observability companion to q_ngram_jaccard's _POSTING_CAP: the
    cap silently drops every pair for any shingle shared by more than
    _POSTING_CAP docs (stopword-like shingles), and the capped query has
    no side channel to say so. This one-row report makes the loss
    visible — shingle count, largest posting list, dropped-shingle
    count, and the EXACT number of co-occurrence pairs the cap
    suppressed (sum of C(n,2) over dropped postings). A production run
    checks dropped_pairs == 0 before trusting the baseline's recall; a
    nonzero value is the signal to use the LSH path instead. Cost: the
    same one shingle shuffle the baseline already pays, then a scalar
    rollup (partial-agg, skew-immune)."""
    per = _shingles(spark, sf_dir).groupBy("shingle").agg(
        F.count("*").alias("n_docs")
    )
    return per.agg(
        F.count("*").alias("n_shingles"),
        F.max("n_docs").alias("max_posting"),
        F.sum((F.col("n_docs") > _POSTING_CAP).cast("bigint")).alias(
            "n_dropped_shingles"
        ),
        F.coalesce(
            F.sum(
                F.when(
                    F.col("n_docs") > _POSTING_CAP,
                    F.expr("n_docs * (n_docs - 1) div 2"),
                )
            ),
            F.lit(0),
        )
        .cast("bigint")
        .alias("dropped_pairs"),
    )


SQL_NGRAM_POSTING_DROPS = f"""WITH {_NORM_CTE}{_SHINGLE_CTE},
per AS (SELECT shingle, count(*) AS n_docs FROM sh GROUP BY shingle)
SELECT CAST(count(*) AS BIGINT) AS n_shingles,
       CAST(max(n_docs) AS BIGINT) AS max_posting,
       CAST(sum(CASE WHEN n_docs > {_POSTING_CAP} THEN 1 ELSE 0 END) AS BIGINT)
         AS n_dropped_shingles,
       CAST(coalesce(sum(CASE WHEN n_docs > {_POSTING_CAP}
                               THEN n_docs * (n_docs - 1) // 2 END), 0) AS BIGINT)
         AS dropped_pairs
FROM per
"""


# ---------------------------------------------------------------------------
# minhash_sig + minhash_lsh — signatures and banded candidate pairs
# ---------------------------------------------------------------------------

_N_HASHES = 16
_LSH_ROWS = 4  # r: minhashes per band
_LSH_BANDS = _N_HASHES // _LSH_ROWS  # b = 4
_LSH_BUCKET_CAP = 64  # degenerate-bucket guard (boilerplate-heavy corpora)


# Universal-hash family over ONE base md5 per shingle: h_i = (a_i*h + b_i)
# mod p (p = 2^31-1). One strong hash + 16 integer ops per shingle instead
# of 16 md5s — measured 2-3x cheaper on the signature stage, identical
# statistical behavior for minhashing, same arithmetic in both engines
# (products < 2^62, no int64 overflow under ANSI).
_MERSENNE = 2147483647
_HASH_A = [(i * 2654435761 + 1) % _MERSENNE for i in range(_N_HASHES)]
_HASH_B = [(i * 40503 + 17) % _MERSENNE for i in range(_N_HASHES)]


def q_minhash_sig(
    spark: SparkSession, sf_dir: str, sh: DataFrame | None = None
) -> DataFrame:
    """MinHash signatures: min over shingles of a 16-member universal
    hash family seeded from one portable md5-prefix hash per shingle.
    Linear in corpus size — the scale path for near-dup detection."""
    if sh is None:
        sh = _shingles(spark, sf_dir)
    sh = sh.withColumn("h31", _hex15(F.col("shingle")) % _MERSENNE)
    aggs = [
        F.min((F.lit(_HASH_A[i]) * F.col("h31") + F.lit(_HASH_B[i])) % _MERSENNE).alias(
            f"sig{i}"
        )
        for i in range(_N_HASHES)
    ]
    return sh.groupBy("doc_id").agg(*aggs)


_SHH_CTE = f""",
shh AS (
  SELECT doc_id, {_HEX15_SQL('shingle')} % {_MERSENNE} AS h31, shingle
  FROM sh
)"""

_SIG_COLS_SQL = ", ".join(
    f"min(({_HASH_A[i]} * h31 + {_HASH_B[i]}) % {_MERSENNE}) AS sig{i}"
    for i in range(_N_HASHES)
)

SQL_MINHASH_SIG = f"""WITH {_NORM_CTE}{_SHINGLE_CTE}{_SHH_CTE}
SELECT doc_id, {_SIG_COLS_SQL}
FROM shh GROUP BY doc_id
"""


def _minhash_bands(
    spark: SparkSession, sf_dir: str, sh: DataFrame | None = None
) -> DataFrame:
    """Melt signatures into (doc_id, band_id, band_sig): band signature is
    the joined r=4 consecutive minhashes — production banding, not the
    toy r=1 form."""
    sig = q_minhash_sig(spark, sf_dir, sh=sh)
    band_cols = [
        F.concat_ws(
            ",",
            *[F.col(f"sig{b * _LSH_ROWS + r}").cast("string") for r in range(_LSH_ROWS)],
        )
        for b in range(_LSH_BANDS)
    ]
    return sig.select(
        "doc_id", F.posexplode(F.array(*band_cols)).alias("band_id", "band_sig")
    )


def _fan_out(spark: SparkSession, buckets: DataFrame) -> DataFrame:
    """Repartition the (small) bucket relation before in-bucket pair
    expansion. The bucket rows are few bytes, so AQE coalesces them to
    ONE partition — and then the C(n,2) expansion (the actual work) runs
    single-threaded (measured 8 s -> 1.3 s on simhash_near at sf0.1).
    An explicit numPartitions is respected by AQE; the extra shuffle
    moves only the bucket lists."""
    return buckets.repartition(spark.sparkContext.defaultParallelism * 2)


def q_minhash_lsh(
    spark: SparkSession, sf_dir: str, sh: DataFrame | None = None
) -> DataFrame:
    """LSH banding (16 minhashes, b=4 bands x r=4 rows): candidate pairs
    sharing any full band of 4 consecutive signatures.

    Single-pass shape for scale: signatures are computed once, melted to
    (band_id, band_sig) rows with posexplode (no b-way union re-scan),
    then ONE shuffle groups same-bucket docs and pairs are expanded
    in-bucket — no self-join, no second scan of the corpus. Buckets
    larger than _LSH_BUCKET_CAP are dropped (degenerate near-identical
    mass — exact dedup catches those; q_minhash_lsh_stats reports how
    many buckets/docs the cap dropped so the drop is observable, not
    silent). The cap is applied identically in the DuckDB oracle.
    """
    bands = _minhash_bands(spark, sf_dir, sh=sh)
    buckets = (
        bands.groupBy("band_id", "band_sig")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ds"))
        .where((F.size("ds") > 1) & (F.size("ds") <= _LSH_BUCKET_CAP))
    )
    pairs = _fan_out(spark, buckets).select(
        F.explode(
            F.expr(
                "flatten(transform(ds, (x, i) -> "
                "transform(slice(ds, i + 2, size(ds)), y -> struct(x AS a_id, y AS b_id))))"
            )
        ).alias("p")
    ).select(F.col("p.a_id").alias("a_id"), F.col("p.b_id").alias("b_id"))
    return pairs.groupBy("a_id", "b_id").agg(
        F.count("*").cast("bigint").alias("n_bands")
    )


_CC_MAX_ITERS = 25


def q_near_dup_components(
    spark: SparkSession, sf_dir: str, sh: DataFrame | None = None
) -> DataFrame:
    """Near-duplicate CLUSTERS: connected components over the MinHash-LSH
    candidate pairs — the step that turns pairwise hits into dedup groups
    (component id = min doc_id in the group, the deterministic canonical).

    Spark shape: iterative min-label propagation (each pass = one join +
    one groupBy on the edge relation; converges in graph-diameter passes,
    which for near-dup clusters is small). Each iteration is
    checkpointed (_barrier) so the plan/lineage stays flat. The DuckDB oracle
    is a recursive CTE computing the same min-reachable label.
    """
    edges = q_minhash_lsh(spark, sf_dir, sh=sh).select("a_id", "b_id")
    return connected_components(edges)


def connected_components(
    edges: DataFrame, max_iters: int = _CC_MAX_ITERS
) -> DataFrame:
    """Min-label propagation + pointer jumping over an undirected edge
    list (a_id, b_id). Returns (doc_id, comp) for every endpoint,
    comp = min doc_id in the component.

    Each iteration does (1) neighbor-min over the symmetric edge
    relation and (2) a pointer-jump — comp(x) <- comp(comp(x)) — so
    convergence is O(log diameter), not O(diameter) (a bare propagation
    loop silently mislabels any component whose diameter exceeds the
    iteration cap; here the cap is a loud RuntimeError backstop).

    Each iteration's labels pass through _barrier, which keeps lineage
    flat across iterations (and writes to the session's checkpoint dir
    when one is set, so a long CC run survives executor loss)."""
    sym = edges.unionByName(
        edges.select(F.col("b_id").alias("a_id"), F.col("a_id").alias("b_id"))
    ).persist()
    labels = _barrier(
        sym.select(F.col("a_id").alias("doc_id"))
        .distinct()
        .withColumn("comp", F.col("doc_id"))
    )
    for _ in range(max_iters):
        nbr = (
            sym.join(labels, sym["b_id"] == labels["doc_id"])
            .groupBy("a_id")
            .agg(F.min("comp").alias("nbr_min"))
        )
        stepped = labels.join(nbr, labels["doc_id"] == nbr["a_id"], "left").select(
            labels["doc_id"],
            F.least(
                labels["comp"], F.coalesce(nbr["nbr_min"], labels["comp"])
            ).alias("comp"),
            labels["comp"].alias("_old"),
        )
        # stepped feeds BOTH the pointer-jump parent projection and the
        # join's left side — the barrier stops the neighbor-min join
        # running twice per iteration (r8)
        stepped = _barrier(stepped)
        # pointer jump: follow the label one hop (label table joined on
        # itself) — halves the remaining path length every iteration
        parent = stepped.select(
            F.col("doc_id").alias("comp"), F.col("comp").alias("comp2")
        )
        # the convergence probe rides the checkpoint (r8): `chg` is
        # computed in the same pass the checkpoint materializes, so
        # detecting a fixed point is a filter+limit over the stored
        # blocks — the previous form re-joined new vs old labels and
        # full-counted the diff, a whole extra join job per iteration
        new_labels = _barrier(
            stepped.join(parent, "comp", "left").select(
                "doc_id",
                F.least(
                    F.col("comp"), F.coalesce(F.col("comp2"), F.col("comp"))
                ).alias("comp"),
                (
                    F.least(
                        F.col("comp"), F.coalesce(F.col("comp2"), F.col("comp"))
                    )
                    != F.col("_old")
                ).alias("chg"),
            )
        )
        changed = new_labels.where(F.col("chg")).limit(1).count()
        labels = new_labels.select("doc_id", "comp")
        if changed == 0:
            sym.unpersist()
            return labels.select("doc_id", "comp")
    sym.unpersist()
    raise RuntimeError(
        f"connected_components did not converge in {max_iters} iterations"
    )


def _cc_sql() -> str:
    # reuse the kept-bucket pair derivation, then min-reachable label
    return f"""WITH RECURSIVE {_NORM_CTE}{_SHINGLE_CTE}{_BANDS_CTE},
{_COMP_CTES}
SELECT doc_id, comp FROM comp
"""


def _band_sig_sql(b: int) -> str:
    return " || ',' || ".join(
        f"CAST(sig{b * _LSH_ROWS + r} AS VARCHAR)" for r in range(_LSH_ROWS)
    )


_BANDS_CTE = f"""{_SHH_CTE},
sig AS (
  SELECT doc_id, {_SIG_COLS_SQL}
  FROM shh GROUP BY doc_id
),
bands AS (
  {" UNION ALL ".join(f"SELECT doc_id, {b} AS band_id, {_band_sig_sql(b)} AS band_sig FROM sig" for b in range(_LSH_BANDS))}
),
bsz AS (
  SELECT band_id, band_sig, count(*) AS n FROM bands GROUP BY 1, 2
)"""

# kept-bucket pairs -> symmetric edge list -> min-reachable component
# label. One definition shared by every oracle that consumes near-dup
# components (_cc_sql, _dedup_corpus_sql, SQL_DEDUP_BEST_OF_CLUSTER) —
# the enclosing statement must be WITH RECURSIVE for `reach`.
_COMP_CTES = f"""kept AS (
  SELECT b.doc_id, b.band_id, b.band_sig
  FROM bands b JOIN bsz s ON s.band_id = b.band_id AND s.band_sig = b.band_sig
  WHERE s.n BETWEEN 2 AND {_LSH_BUCKET_CAP}
),
edges AS (
  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
  FROM kept a JOIN kept b
    ON a.band_id = b.band_id AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id
),
sym AS (
  SELECT a_id AS a, b_id AS b FROM edges
  UNION ALL
  SELECT b_id, a_id FROM edges
),
reach(doc, lab) AS (
  SELECT a, a FROM (SELECT DISTINCT a FROM sym)
  UNION
  SELECT s.b, r.lab FROM reach r JOIN sym s ON s.a = r.doc
),
comp AS (SELECT doc AS doc_id, min(lab) AS comp FROM reach GROUP BY doc)"""

SQL_MINHASH_LSH = f"""WITH {_NORM_CTE}{_SHINGLE_CTE}{_BANDS_CTE},
kept AS (
  SELECT b.doc_id, b.band_id, b.band_sig
  FROM bands b JOIN bsz s ON s.band_id = b.band_id AND s.band_sig = b.band_sig
  WHERE s.n BETWEEN 2 AND {_LSH_BUCKET_CAP}
)
SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS n_bands
FROM kept a JOIN kept b
  ON a.band_id = b.band_id AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id
GROUP BY 1, 2
"""


def q_minhash_lsh_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Observability for the bucket cap: per band, how many buckets exist,
    how many are candidate buckets (>1 doc), how many the cap dropped and
    how many docs sat in dropped buckets. At 100 TB this is the cheap
    side-output that tells you whether the cap is silently eating recall."""
    bsz = (
        _minhash_bands(spark, sf_dir)
        .groupBy("band_id", "band_sig")
        .agg(F.count("*").alias("n"))
    )
    return bsz.groupBy("band_id").agg(
        F.count("*").alias("n_buckets"),
        F.sum(F.when(F.col("n") > 1, 1).otherwise(0)).alias("n_candidate_buckets"),
        F.sum(F.when(F.col("n") > _LSH_BUCKET_CAP, 1).otherwise(0)).alias(
            "n_dropped_buckets"
        ),
        F.sum(F.when(F.col("n") > _LSH_BUCKET_CAP, F.col("n")).otherwise(0)).alias(
            "docs_in_dropped"
        ),
    )


SQL_MINHASH_LSH_STATS = f"""WITH {_NORM_CTE}{_SHINGLE_CTE}{_BANDS_CTE}
SELECT band_id,
       count(*) AS n_buckets,
       CAST(sum(CASE WHEN n > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_candidate_buckets,
       CAST(sum(CASE WHEN n > {_LSH_BUCKET_CAP} THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped_buckets,
       CAST(sum(CASE WHEN n > {_LSH_BUCKET_CAP} THEN n ELSE 0 END) AS BIGINT) AS docs_in_dropped
FROM bsz GROUP BY band_id
"""


SQL_NEAR_DUP_COMPONENTS = _cc_sql()


def q_dedup_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-user dedup operation: the corpus with one canonical doc
    per duplicate group — exact groups (md5 fingerprint) collapse first,
    then near-dup clusters (LSH connected components) collapse to their
    min-doc_id canonical. Composition is safe: a cluster's canonical is
    the min over members, which is therefore also its exact group's
    canonical, so it always survives both filters (identical docs share
    all band buckets, so an exact group enters/leaves the near graph as
    a unit)."""
    nd = _norm_docs(spark, sf_dir)
    exact_keep = _exact_canonicals(nd)
    comps = q_near_dup_components(
        spark, sf_dir, sh=_shingles(spark, sf_dir, nd=nd)
    )
    return (
        exact_keep.join(comps, "doc_id", "left")
        .where(F.col("comp").isNull() | (F.col("comp") == F.col("doc_id")))
        .select("doc_id")
    )


def _dedup_corpus_sql() -> str:
    return f"""WITH RECURSIVE {_NORM_CTE}{_SHINGLE_CTE}{_BANDS_CTE},
{_COMP_CTES},
exact_keep AS (
  SELECT doc_id FROM (
    SELECT doc_id, min(doc_id) OVER (PARTITION BY md5(norm)) AS canonical_id
    FROM norm_docs
  ) WHERE doc_id = canonical_id
)
SELECT e.doc_id FROM exact_keep e LEFT JOIN comp c ON c.doc_id = e.doc_id
WHERE c.comp IS NULL OR c.comp = e.doc_id
"""


SQL_DEDUP_CORPUS = _dedup_corpus_sql()


def q_minhash_jaccard_verify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed near-dup entry point for text at scale: candidate pairs
    from MinHash-LSH buckets, exact n-gram Jaccard computed ONLY on the
    candidates (two key-joins against the shingle relation, each linear in
    candidates x shingles-per-doc) — never the all-pairs shingle self-join
    that q_ngram_jaccard uses as its tiny-scale oracle form."""
    sh = _shingles(spark, sf_dir)
    cands = q_minhash_lsh(spark, sf_dir, sh=sh).select("a_id", "b_id")
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    a_sh = sh.select(F.col("doc_id").alias("a_id"), "shingle")
    b_sh = sh.select(F.col("doc_id").alias("b_id"), "shingle")
    shared = (
        cands.join(a_sh, "a_id")
        .join(b_sh, ["b_id", "shingle"])
        .groupBy("a_id", "b_id")
        .agg(F.count("*").alias("shared"))
    )
    sa = sizes.select(F.col("doc_id").alias("a_id"), F.col("n_sh").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("b_id"), F.col("n_sh").alias("nb"))
    return (
        shared.join(sa, "a_id")
        .join(sb, "b_id")
        .select(
            "a_id",
            "b_id",
            F.round(
                F.col("shared") / (F.col("na") + F.col("nb") - F.col("shared")), 6
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= _JACCARD_MIN)
    )


SQL_MINHASH_JACCARD_VERIFY = f"""WITH {_NORM_CTE}{_SHINGLE_CTE}{_BANDS_CTE},
kept AS (
  SELECT b.doc_id, b.band_id, b.band_sig
  FROM bands b JOIN bsz s ON s.band_id = b.band_id AND s.band_sig = b.band_sig
  WHERE s.n BETWEEN 2 AND {_LSH_BUCKET_CAP}
),
cands AS (
  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
  FROM kept a JOIN kept b
    ON a.band_id = b.band_id AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id
),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
shared AS (
  SELECT c.a_id, c.b_id, count(*) AS shared
  FROM cands c
  JOIN sh a ON a.doc_id = c.a_id
  JOIN sh b ON b.doc_id = c.b_id AND b.shingle = a.shingle
  GROUP BY 1, 2
)
SELECT a_id, b_id,
       round(shared / (sa.n_sh + sb.n_sh - shared), 6) AS jaccard
FROM shared
JOIN sizes sa ON sa.doc_id = a_id
JOIN sizes sb ON sb.doc_id = b_id
WHERE round(shared / (sa.n_sh + sb.n_sh - shared), 6) >= {_JACCARD_MIN}
"""


# ---------------------------------------------------------------------------
# simhash + near pairs
# ---------------------------------------------------------------------------

_SIMHASH_BITS = 60  # the full width of the portable md5-prefix token hash.
# 60 bits / 4 bands = 15-bit bands -> 32,768 buckets per band, so at 100x
# corpus the per-bucket population stays ~n/32768 and the in-bucket C(n,2)
# expansion stays linear-ish; 60 (not 64) keeps the value sign-safe in both
# engines' BIGINT with no two-half workaround. Earlier configs for the
# record: 16-bit hash (16 buckets/band, quadratic in practice, 19.8 s),
# 32-bit hash (256 buckets/band — flagged as the scale-killer in round 2).
_HAMMING_MAX = 3


def q_simhash(
    spark: SparkSession, sf_dir: str, spread: bool = True
) -> DataFrame:
    # spread=False is the banded-near path's knob: the standalone query
    # wins under the spread (0.46 -> 0.34 s, the per-token md5+bit fold
    # parallelizes), but the near-dup composition's bucket collect +
    # fan-out measured consistently SLOWER with spread bands (0.65 ->
    # ~1.0 s across three full-bench runs) — the groupBy's map-side
    # assembly beats the spread at bench scale there
    nd = _norm_docs(spark, sf_dir, spread=spread)
    toks = nd.select(
        "doc_id", F.explode(F.array_distinct(F.split("norm", " "))).alias("tok")
    ).withColumn("h", _hex15(F.col("tok")))
    bit_sums = [
        F.sum(
            F.when(F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"s{b}")
        for b in range(_SIMHASH_BITS)
    ]
    agg = toks.groupBy("doc_id").agg(*bit_sums)
    sim = None
    for b in range(_SIMHASH_BITS):
        term = F.when(F.col(f"s{b}") > 0, F.lit(1 << b)).otherwise(F.lit(0))
        sim = term if sim is None else sim + term
    return agg.select("doc_id", sim.cast("bigint").alias("simhash"))


SQL_SIMHASH = f"""WITH {_NORM_CTE},
toks AS (
  SELECT doc_id, {_HEX15_SQL("tok")} AS h
  FROM (SELECT doc_id, unnest(list_distinct(string_split(norm, ' '))) AS tok FROM norm_docs)
),
agg AS (
  SELECT doc_id,
         {", ".join(f"sum(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS s{b}" for b in range(_SIMHASH_BITS))}
  FROM toks GROUP BY doc_id
)
SELECT doc_id,
       CAST({" + ".join(f"(CASE WHEN s{b} > 0 THEN {1 << b} ELSE 0 END)" for b in range(_SIMHASH_BITS))} AS BIGINT) AS simhash
FROM agg
"""


_SIM_BANDS = _HAMMING_MAX + 1  # pigeonhole: > max hamming differing bits
_SIM_BAND_BITS = _SIMHASH_BITS // _SIM_BANDS
_SIM_BAND_MASK = (1 << _SIM_BAND_BITS) - 1
_SIMHASH_BUCKET_CAP = 64  # degenerate-bucket guard, same rationale as
# _LSH_BUCKET_CAP: a bucket of near-identical mass is exact-dedup's job,
# and expanding C(n,2) inside it is the quadratic failure mode at 100x.
# Drops are observable via q_simhash_near_stats, never silent.


def _simhash_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = q_simhash(spark, sf_dir, spread=False)
    band_vals = F.array(
        *[
            F.shiftright("simhash", b * _SIM_BAND_BITS)
            .bitwiseAND(F.lit(_SIM_BAND_MASK))
            .cast("int")
            for b in range(_SIM_BANDS)
        ]
    )
    return s.select(
        "doc_id", "simhash", F.posexplode(band_vals).alias("band_id", "band_val")
    )


def q_simhash_near(
    spark: SparkSession,
    sf_dir: str,
    bucket_cap: int | None = _SIMHASH_BUCKET_CAP,
) -> DataFrame:
    """Near-dup pairs by simhash hamming distance — bit-band bucketed
    (the same melt-shuffle-expand shape as q_minhash_lsh, NO cross join).

    Exactness: with hamming <= 3 and 4 disjoint 15-bit bands, pigeonhole
    guarantees every near pair agrees on at least one whole band, so
    bucketing by band value + verifying exact hamming in-bucket returns
    the identical pair set as the all-pairs comparison
    (q_simhash_near_allpairs; pinned by tests/test_plan_quality.py) —
    as long as no bucket exceeds _SIMHASH_BUCKET_CAP. Capped semantics
    (the rule the DuckDB oracle mirrors exactly): a pair is emitted iff
    its FIRST agreeing band's bucket has size in [2, cap]. The first-
    match rule doubles as the in-row dedup (both hashes ride the pair
    struct, so no post-explode groupBy shuffle), and making it the
    recall contract keeps the plan one-shuffle under the cap too.

    ``bucket_cap=None`` disables the cap (the exact pigeonhole form the
    equality test compares against all-pairs); the registered driver
    query runs with the production cap.
    """
    bands = _simhash_bands(spark, sf_dir)
    size_ok = F.size("ds") > 1
    if bucket_cap is not None:
        size_ok = size_ok & (F.size("ds") <= bucket_cap)
    buckets = (
        bands.groupBy("band_id", "band_val")
        .agg(F.sort_array(F.collect_list(F.struct("doc_id", "simhash"))).alias("ds"))
        .where(size_ok)
    )
    pairs = _fan_out(spark, buckets).select(
        "band_id",
        F.explode(
            F.expr(
                "flatten(transform(ds, (x, i) -> transform(slice(ds, i + 2, size(ds)), "
                "y -> struct(x.doc_id AS a_id, y.doc_id AS b_id, "
                "x.simhash AS ah, y.simhash AS bh, "
                "CAST(bit_count(x.simhash ^ y.simhash) AS INT) AS hamming))))"
            )
        ).alias("p"),
    )
    # a pair sharing k bands appears in k buckets; dedup IN-ROW by
    # emitting it only from its FIRST matching band (both hashes ride the
    # pair struct, so the first match is computable without a second
    # shuffle — this replaces a groupBy over ~4x the output volume)
    band_of = (
        lambda col, b: f"CAST(shiftright({col}, {b * _SIM_BAND_BITS}) "
        f"& {(1 << _SIM_BAND_BITS) - 1} AS INT)"
    )
    first_match = (
        "CASE "
        + " ".join(
            f"WHEN {band_of('p.ah', b)} = {band_of('p.bh', b)} THEN {b}"
            for b in range(_SIM_BANDS)
        )
        + " END"
    )
    return pairs.where(
        (F.col("p.hamming") <= _HAMMING_MAX)
        & (F.col("band_id") == F.expr(first_match))
    ).select(
        F.col("p.a_id").alias("a_id"),
        F.col("p.b_id").alias("b_id"),
        F.col("p.hamming").alias("hamming"),
    )


def q_simhash_near_allpairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-pairs verification form of q_simhash_near (cross join — tiny
    inputs only; tests assert it equals the banded plan)."""
    s = q_simhash(spark, sf_dir)
    a = s.alias("a")
    b = s.alias("b")
    ham = F.bit_count(
        F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
    )
    return (
        a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
        .where(ham <= _HAMMING_MAX)
        .select(
            F.col("a.doc_id").alias("a_id"),
            F.col("b.doc_id").alias("b_id"),
            ham.cast("int").alias("hamming"),
        )
    )


_SIMHASH_EXPR_SQL = " + ".join(
    f"(CASE WHEN s{b} > 0 THEN {1 << b} ELSE 0 END)" for b in range(_SIMHASH_BITS)
)
_BITSUM_COLS_SQL = ", ".join(
    f"sum(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS s{b}"
    for b in range(_SIMHASH_BITS)
)

def _sim_band_val_sql(hash_expr: str, b: int) -> str:
    return f"(({hash_expr} >> {b * _SIM_BAND_BITS}) & {_SIM_BAND_MASK})"


_SIM_FIRST_MATCH_SQL = (
    "CASE "
    + " ".join(
        f"WHEN {_sim_band_val_sql('ah', b)} = {_sim_band_val_sql('bh', b)} THEN {b}"
        for b in range(_SIM_BANDS)
    )
    + " END"
)

_SIM_BANDS_CTE = f""",
simh AS (
  SELECT doc_id, CAST({_SIMHASH_EXPR_SQL} AS BIGINT) AS simhash FROM agg
),
sbands AS (
  SELECT doc_id, simhash,
         CAST(unnest(range(0, {_SIM_BANDS})) AS INT) AS band_id
  FROM simh
),
sbandv AS (
  SELECT doc_id, simhash, band_id,
         CAST((simhash >> (band_id * {_SIM_BAND_BITS})) & {_SIM_BAND_MASK} AS INT) AS band_val
  FROM sbands
),
sbsz AS (
  SELECT band_id, band_val, count(*) AS n FROM sbandv GROUP BY 1, 2
)"""

_SIMH_PRE_SQL = f"""WITH {_NORM_CTE},
toks AS (
  SELECT doc_id, {_HEX15_SQL("tok")} AS h
  FROM (SELECT doc_id, unnest(list_distinct(string_split(norm, ' '))) AS tok FROM norm_docs)
),
agg AS (
  SELECT doc_id, {_BITSUM_COLS_SQL}
  FROM toks GROUP BY doc_id
)"""

# Banded + capped + first-match form — the exact semantics of
# q_simhash_near, including which bucket a pair is allowed to surface from.
SQL_SIMHASH_NEAR = f"""{_SIMH_PRE_SQL}{_SIM_BANDS_CTE},
kept AS (
  SELECT v.doc_id, v.simhash, v.band_id, v.band_val
  FROM sbandv v JOIN sbsz s ON s.band_id = v.band_id AND s.band_val = v.band_val
  WHERE s.n BETWEEN 2 AND {_SIMHASH_BUCKET_CAP}
),
pairs AS (
  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
         a.simhash AS ah, b.simhash AS bh, a.band_id
  FROM kept a JOIN kept b
    ON a.band_id = b.band_id AND a.band_val = b.band_val AND a.doc_id < b.doc_id
)
SELECT a_id, b_id, CAST(bit_count(xor(ah, bh)) AS INT) AS hamming
FROM pairs
WHERE bit_count(xor(ah, bh)) <= {_HAMMING_MAX}
  AND band_id = ({_SIM_FIRST_MATCH_SQL})
"""


def q_simhash_near_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Observability twin of q_minhash_lsh_stats for the simhash bucket
    cap: per band, bucket counts, candidate buckets, capped-out buckets
    and the docs sitting in them — the cheap side-output that says
    whether the cap is eating recall at the current corpus."""
    bsz = (
        _simhash_bands(spark, sf_dir)
        .groupBy("band_id", "band_val")
        .agg(F.count("*").alias("n"))
    )
    return bsz.groupBy("band_id").agg(
        F.count("*").alias("n_buckets"),
        F.sum(F.when(F.col("n") > 1, 1).otherwise(0)).alias("n_candidate_buckets"),
        F.sum(F.when(F.col("n") > _SIMHASH_BUCKET_CAP, 1).otherwise(0)).alias(
            "n_dropped_buckets"
        ),
        F.sum(
            F.when(F.col("n") > _SIMHASH_BUCKET_CAP, F.col("n")).otherwise(0)
        ).alias("docs_in_dropped"),
    )


SQL_SIMHASH_NEAR_STATS = f"""{_SIMH_PRE_SQL}{_SIM_BANDS_CTE}
SELECT band_id,
       count(*) AS n_buckets,
       CAST(sum(CASE WHEN n > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_candidate_buckets,
       CAST(sum(CASE WHEN n > {_SIMHASH_BUCKET_CAP} THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped_buckets,
       CAST(sum(CASE WHEN n > {_SIMHASH_BUCKET_CAP} THEN n ELSE 0 END) AS BIGINT) AS docs_in_dropped
FROM sbsz GROUP BY band_id
"""


# ---------------------------------------------------------------------------
# token stats / quality / lang-id / fingerprint
# ---------------------------------------------------------------------------


# GPT-2-style pretokenizer, simplified to stay lookahead-free so the
# SAME pattern runs under Java regex (Spark) and RE2 (DuckDB):
# contractions | space?letters | space?digits | space?symbol-run | spaces
_BPE_RE = r"'s|'t|'re|'ve|'m|'ll|'d| ?[A-Za-z]+| ?[0-9]+| ?[^\sA-Za-z0-9]+|\s+"


def q_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace tokens, word/number tokens, and a
    BPE-ish pretokenizer count (the standard 'how many LLM tokens is
    this corpus' pre-estimate) — all JVM regexp kernels, one scan (the
    r8 spread was tried here and reverted: +37% — the regexp work at
    bench scale is lighter than the full-text exchange it buys)."""
    d = _docs(spark, sf_dir)
    return d.select(
        "doc_id",
        F.regexp_count(F.col("text"), F.lit(r"\S+")).alias("n_ws_tokens"),
        F.regexp_count(F.col("text"), F.lit(r"[A-Za-z]+")).alias("n_word_tokens"),
        F.regexp_count(F.col("text"), F.lit(r"[0-9]+")).alias("n_num_tokens"),
        F.regexp_count(F.col("text"), F.lit(_BPE_RE)).alias("n_bpe_tokens"),
        F.length("text").alias("n_chars"),
    )


SQL_TOKEN_STATS = f"""
SELECT doc_id,
       len(regexp_extract_all(text, '\\S+')) AS n_ws_tokens,
       len(regexp_extract_all(text, '[A-Za-z]+')) AS n_word_tokens,
       len(regexp_extract_all(text, '[0-9]+')) AS n_num_tokens,
       len(regexp_extract_all(text, '{_BPE_RE.replace("'", "''")}')) AS n_bpe_tokens,
       length(text) AS n_chars
FROM documents
"""

_STOPWORDS = ("the", "a", "and", "of", "to", "in")


def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    nd = _norm_docs(spark, sf_dir).withColumn("t", F.split("norm", " "))
    n_tokens = F.size("t")
    stop_hits = F.expr(
        "size(filter(t, x -> x IN ({})))".format(", ".join(f"'{w}'" for w in _STOPWORDS))
    )
    nospace = F.regexp_replace("norm", " ", "")
    alpha = F.regexp_replace("norm", "[^a-z]", "")
    avg_len = F.col("_nchars") / n_tokens
    return (
        nd.withColumn("_nchars", F.length(nospace))
        .withColumn("_alpha", F.length(alpha))
        .select(
            "doc_id",
            n_tokens.alias("n_tokens"),
            F.round(stop_hits / n_tokens, 6).alias("stop_ratio"),
            F.round(avg_len, 6).alias("avg_token_len"),
            # nchars = 0 (empty/whitespace-only doc): DuckDB division
            # yields NULL while ANSI Spark raises DIVIDE_BY_ZERO — guard
            # so both engines score the unscoreable doc as NULL
            F.when(
                F.col("_nchars") > 0,
                F.round(F.col("_alpha") / F.col("_nchars"), 6),
            ).alias("alpha_ratio"),
            # floor(x*1e6 + 0.5)/1e6 instead of round(x, 6): the composite
            # can land EXACTLY on a 6-decimal boundary (e.g. 0.5103125),
            # where Spark rounds the shortest decimal repr and DuckDB the
            # binary value — floor of identical doubles is identical
            F.when(
                F.col("_nchars") > 0,
                F.floor(
                    (
                        0.4 * (stop_hits / n_tokens)
                        + 0.3 * F.least(avg_len / 8.0, F.lit(1.0))
                        + 0.3 * (F.col("_alpha") / F.col("_nchars"))
                    )
                    * 1000000.0
                    + 0.5
                )
                / 1000000.0,
            ).alias("quality"),
        )
    )


# shared by SQL_QUALITY_SCORE and SQL_DEDUP_BEST_OF_CLUSTER (the CTE
# name qbase avoids collisions when composed with the component CTEs)
_QUAL_BASE_CTE = f"""qbase AS (
  SELECT doc_id,
         len(string_split(norm, ' ')) AS n_tokens,
         len(list_filter(string_split(norm, ' '), x -> x IN {_STOPWORDS!r})) AS stop_hits,
         length(replace(norm, ' ', '')) AS nchars,
         length(regexp_replace(norm, '[^a-z]', '', 'g')) AS alpha
  FROM norm_docs
)"""

_QUAL_EXPR_SQL = """floor((0.4 * (stop_hits / n_tokens)
              + 0.3 * least(nchars / n_tokens / 8.0, 1.0)
              + 0.3 * (alpha / nchars)) * 1000000.0 + 0.5) / 1000000.0"""

SQL_QUALITY_SCORE = f"""WITH {_NORM_CTE},
{_QUAL_BASE_CTE}
SELECT doc_id, n_tokens,
       round(stop_hits / n_tokens, 6) AS stop_ratio,
       round(nchars / n_tokens, 6) AS avg_token_len,
       round(alpha / nchars, 6) AS alpha_ratio,
       {_QUAL_EXPR_SQL} AS quality
FROM qbase
"""

def q_dedup_best_of_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-ranked dedup: one survivor per duplicate group, chosen as
    the HIGHEST-quality member (ties to the smallest doc_id) instead of
    q_dedup_corpus's min-doc_id canonical — the production refinement
    (keep the best copy of a page, not the first-crawled one; the same
    motivation as CCNet/RefinedWeb keeping by quality bucket).

    Output: one row per duplicate group — (doc_id = kept member, grp =
    the group's component label, n_members = exact-canonical members in
    the group, quality = the winner's score).

    Groups compose exactly as in q_dedup_corpus: identical docs collapse
    first (quality is a pure function of the text, so every member of an
    exact group scores the same and the min-doc_id exact canonical is
    the group's argmax under the doc_id tie-break), then LSH components
    group the exact canonicals; a canonical outside any component forms
    its own singleton group (grp = its own doc_id).

    Scale shape: selection is a max(struct(quality, -doc_id)) partial
    agg over the (already aggregated) member relation — map-side
    combined and skew-immune, per the keep-first discipline established
    for the substring family: NO row_number window (AQE skew-splitting
    applies to joins and aggs, never to windows), so a degenerate
    million-member cluster costs a combine, not a single-task sort.

    NULL quality (whitespace-only docs, the q_quality_score nchars=0
    guard) sorts LOWEST in Spark's struct max — a mixed group elects
    its best non-NULL member, and an all-NULL group still elects its
    min-doc_id member with quality NULL. The oracle join is NULL-safe
    (IS NOT DISTINCT FROM) so both engines keep such groups."""
    nd = _norm_docs(spark, sf_dir)
    exact_keep = _exact_canonicals(nd)
    comps = q_near_dup_components(
        spark, sf_dir, sh=_shingles(spark, sf_dir, nd=nd)
    )
    qual = q_quality_score(spark, sf_dir).select("doc_id", "quality")
    members = (
        exact_keep.join(comps, "doc_id", "left")
        .select("doc_id", F.coalesce("comp", "doc_id").alias("grp"))
        .join(qual, "doc_id")
    )
    best = members.groupBy("grp").agg(
        F.max(
            F.struct(F.col("quality"), (-F.col("doc_id")).alias("neg_id"))
        ).alias("b"),
        F.count("*").alias("n_members"),
    )
    return best.select(
        (-F.col("b.neg_id")).alias("doc_id"),
        "grp",
        "n_members",
        F.col("b.quality").alias("quality"),
    )


SQL_DEDUP_BEST_OF_CLUSTER = f"""WITH RECURSIVE {_NORM_CTE}{_SHINGLE_CTE}{_BANDS_CTE},
{_COMP_CTES},
exact_keep AS (
  SELECT doc_id FROM (
    SELECT doc_id, min(doc_id) OVER (PARTITION BY md5(norm)) AS canonical_id
    FROM norm_docs
  ) WHERE doc_id = canonical_id
),
{_QUAL_BASE_CTE},
qual AS (SELECT doc_id, {_QUAL_EXPR_SQL} AS quality FROM qbase),
members AS (
  SELECT e.doc_id, coalesce(c.comp, e.doc_id) AS grp, q.quality
  FROM exact_keep e
  LEFT JOIN comp c ON c.doc_id = e.doc_id
  JOIN qual q ON q.doc_id = e.doc_id
),
mx AS (
  SELECT grp, max(quality) AS quality, CAST(count(*) AS BIGINT) AS n_members
  FROM members GROUP BY grp
)
SELECT min(m.doc_id) AS doc_id, m.grp, mx.n_members, mx.quality
FROM members m JOIN mx ON m.grp = mx.grp
  AND m.quality IS NOT DISTINCT FROM mx.quality
GROUP BY m.grp, mx.n_members, mx.quality
"""


_TOP_TERMS_K = 5


def q_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy hitters: top-k most frequent tokens per source (vocabulary
    skew / boilerplate detection). One partial-aggregated shuffle on
    (source, token) — map-side combine keeps the explode local — then a
    per-source top-k window over the already-aggregated counts."""
    nd = _norm_docs(spark, sf_dir)
    src = _docs(spark, sf_dir).select("doc_id", "source")
    toks = nd.join(src, "doc_id").select(
        "source", F.explode(F.split("norm", " ")).alias("tok")
    )
    counts = toks.groupBy("source", "tok").agg(F.count("*").alias("n"))
    w = Window.partitionBy("source").orderBy(F.col("n").desc(), F.col("tok").asc())
    return (
        counts.withColumn("rnk", F.row_number().over(w).cast("int"))
        .where(F.col("rnk") <= _TOP_TERMS_K)
        .select("source", "rnk", "tok", "n")
    )


SQL_TOP_TERMS = f"""WITH {_NORM_CTE},
toks AS (
  SELECT d.source, unnest(string_split(n.norm, ' ')) AS tok
  FROM norm_docs n JOIN documents d ON d.doc_id = n.doc_id
),
counts AS (
  SELECT source, tok, count(*) AS n FROM toks GROUP BY 1, 2
)
SELECT source, rnk, tok, n FROM (
  SELECT source, tok, n,
         CAST(row_number() OVER (PARTITION BY source ORDER BY n DESC, tok ASC) AS INT) AS rnk
  FROM counts
) WHERE rnk <= {_TOP_TERMS_K}
"""


_TFIDF_K = 3


def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc top-k characteristic terms by tf-idf — the standard
    keyword/topic signal a training-data pipeline attaches to documents.

    Scale shape: tf is one partial-agg shuffle on (doc_id, tok); df is a
    second aggregation over the already tiny (doc, tok) relation keyed
    on tok; the corpus size N is a 1-row relation broadcast in; the
    per-doc top-k window runs over the aggregated rows only. No step
    touches raw text twice. idf = ln(N / df) (unsmoothed; every tok in
    the relation has df >= 1), scores rounded to 6 dp with ties broken
    on the token for a deterministic cut."""
    nd = _norm_docs(spark, sf_dir)
    toks = nd.select("doc_id", F.explode(F.split("norm", " ")).alias("tok"))
    tf = toks.groupBy("doc_id", "tok").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("tok").agg(F.count("*").alias("df"))
    n_docs = nd.select(F.countDistinct("doc_id").alias("n"))
    scored = (
        tf.join(dfreq, "tok")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "tfidf",
            F.round(F.col("tf") * F.log(F.col("n") / F.col("df")), 6),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("tfidf").desc(), F.col("tok").asc()
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("int"))
        .where(F.col("rnk") <= _TFIDF_K)
        .select("doc_id", "rnk", "tok", "tf", F.col("df").alias("doc_freq"), "tfidf")
    )


SQL_TFIDF_TOP_TERMS = f"""WITH {_NORM_CTE},
toks AS (
  SELECT doc_id, unnest(string_split(norm, ' ')) AS tok FROM norm_docs
),
tf AS (
  SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY 1, 2
),
dfreq AS (
  SELECT tok, count(*) AS df FROM tf GROUP BY tok
),
nn AS (SELECT count(DISTINCT doc_id) AS n FROM norm_docs),
scored AS (
  SELECT t.doc_id, t.tok, t.tf, d.df,
         round(t.tf * ln(CAST(nn.n AS DOUBLE) / d.df), 6) AS tfidf
  FROM tf t JOIN dfreq d ON d.tok = t.tok, nn
)
SELECT doc_id, rnk, tok, tf, df AS doc_freq, tfidf FROM (
  SELECT doc_id, tok, tf, df, tfidf,
         CAST(row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, tok ASC) AS INT) AS rnk
  FROM scored
) WHERE rnk <= {_TFIDF_K}
"""


_PCTS = (("p50", 0.5), ("p90", 0.9), ("p99", 0.99))


def q_length_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-source length percentiles (type-1 / discontinuous:
    value at rank ceil(p*n) ascending) — the corpus-quality cut points a
    filtering pipeline thresholds on. Rank-based so both engines agree
    exactly (interpolating quantile implementations differ); per-source
    windows are partition-parallel, no global sort."""
    d = _docs(spark, sf_dir).select("source", "doc_id", "n_chars")
    w = Window.partitionBy("source").orderBy("n_chars", "doc_id")
    ranked = d.withColumn("rn", F.row_number().over(w)).withColumn(
        "n", F.count("*").over(Window.partitionBy("source"))
    )
    aggs = [
        F.max(
            F.when(F.col("rn") == F.ceil(F.lit(p) * F.col("n")), F.col("n_chars"))
        ).alias(name)
        for name, p in _PCTS
    ]
    return ranked.groupBy("source").agg(F.max("n").alias("n_docs"), *aggs)


SQL_LENGTH_PERCENTILES = f"""
WITH ranked AS (
  SELECT source, n_chars,
         row_number() OVER (PARTITION BY source ORDER BY n_chars, doc_id) AS rn,
         count(*) OVER (PARTITION BY source) AS n
  FROM documents
)
SELECT source, max(n) AS n_docs,
       {", ".join(f"max(CASE WHEN rn = ceil({p} * n) THEN n_chars END) AS {name}" for name, p in _PCTS)}
FROM ranked GROUP BY source
"""


def q_length_percentiles_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SCALE twin of q_length_percentiles — identical output (same
    type-1 ranks, same oracle), different plan: pre-aggregate to
    (source, n_chars, count(*)) first, then run the cumulative-rank
    window over the aggregated relation. The per-source sort now touches
    one row per DISTINCT length (bounded by the length domain, ~10^4-10^5)
    instead of one row per document — at 10^12 docs over a handful of
    sources the exact rank-window form is a near-global sort, this is a
    partial-agg shuffle plus a trivially small window. The percentile at
    rank ceil(p*n) ascending is the smallest length whose cumulative
    count reaches the rank — identical to the row_number form, ties
    included. Plan gate: tests/test_plan_quality.py asserts the window
    input is the (source, n_chars) aggregate and no row_number remains."""
    d = _docs(spark, sf_dir).select("source", "n_chars")
    counts = d.groupBy("source", "n_chars").agg(F.count("*").alias("cnt"))
    w_cum = (
        Window.partitionBy("source")
        .orderBy("n_chars")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy("source")
    ranked = counts.withColumn("cum", F.sum("cnt").over(w_cum)).withColumn(
        "n", F.sum("cnt").over(w_all)
    )
    aggs = [
        F.min(
            F.when(F.col("cum") >= F.ceil(F.lit(p) * F.col("n")), F.col("n_chars"))
        ).alias(name)
        for name, p in _PCTS
    ]
    return ranked.groupBy("source").agg(F.max("n").alias("n_docs"), *aggs)


_LANG_PROFILES = {
    "en": ("the", "a", "and"),
    "de": ("table", "window", "batch"),
    "es": ("data", "row", "scan"),
    "fr": ("query", "value", "line"),
    "zh": ("spark", "stream", "merge"),
}


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """n-gram/stopword language-ID heuristic. The synthetic corpus carries
    no real language signal, so profiles are vocabulary-based; the operator
    shape (token-hit scoring + deterministic argmax) is the real thing."""
    nd = _norm_docs(spark, sf_dir).withColumn("t", F.split("norm", " "))
    scored = nd
    for lang, words in _LANG_PROFILES.items():
        scored = scored.withColumn(
            f"s_{lang}", F.size(F.filter("t", lambda x: x.isin(list(words))))
        )
    langs = list(_LANG_PROFILES)
    expr = None
    for i, lg in enumerate(langs):
        cond = None
        for other in langs[i + 1 :]:
            c = F.col(f"s_{lg}") >= F.col(f"s_{other}")
            cond = c if cond is None else (cond & c)
        cond = cond if cond is not None else F.lit(True)
        expr = (
            F.when(cond, F.lit(lg)) if expr is None else expr.when(cond, F.lit(lg))
        )
    return scored.select(
        "doc_id",
        "lang",
        expr.alias("pred_lang"),
        *[F.col(f"s_{lg}").alias(f"s_{lg}") for lg in langs],
    )


def _lang_sql_scores() -> str:
    parts = [
        f"len(list_filter(string_split(norm, ' '), x -> x IN {words!r})) AS s_{lang}"
        for lang, words in _LANG_PROFILES.items()
    ]
    return ", ".join(parts)


def _lang_sql_pred() -> str:
    langs = list(_LANG_PROFILES)
    whens = []
    for i, lg in enumerate(langs):
        conds = [f"s_{lg} >= s_{o}" for o in langs[i + 1 :]] or ["TRUE"]
        whens.append(f"WHEN {' AND '.join(conds)} THEN '{lg}'")
    return "CASE " + " ".join(whens) + " END"


SQL_LANG_ID = f"""WITH {_NORM_CTE},
scored AS (
  SELECT doc_id, lang, {_lang_sql_scores()} FROM norm_docs
)
SELECT doc_id, lang, {_lang_sql_pred()} AS pred_lang,
       {", ".join(f"s_{lg}" for lg in _LANG_PROFILES)}
FROM scored
"""


_RH_MOD = 1000000007
_RH_LEN = 32


def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-hash fingerprint (polynomial fold over the first 32 chars)
    plus the md5 fingerprint — both engine-portable."""
    nd = _norm_docs(spark, sf_dir)
    return nd.select(
        "doc_id",
        F.expr(
            f"aggregate(transform(split(substring(norm, 1, {_RH_LEN}), ''), "
            f"x -> cast(ascii(x) as bigint)), 0L, (a, b) -> (a * 31 + b) % {_RH_MOD})"
        ).alias("rhash"),
        F.substring(F.md5("norm"), 1, 16).alias("fp16"),
    )


SQL_DOC_FINGERPRINT = f"""WITH {_NORM_CTE}
SELECT doc_id,
       list_reduce(list_transform(string_split(substr(norm, 1, {_RH_LEN}), ''),
                                  x -> CAST(ascii(x) AS BIGINT)),
                   (a, b) -> (a * 31 + b) % {_RH_MOD}) AS rhash,
       substr(md5(norm), 1, 16) AS fp16
FROM norm_docs
"""


# ---------------------------------------------------------------------------
# similarity search over embeddings
# ---------------------------------------------------------------------------

_N_QUERIES = 5
_TOP_K = 3


def _elem(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _emb(spark, sf_dir)
    return e.select(
        "vec_id", F.posexplode("embedding").alias("pos", "xf")
    ).select("vec_id", "pos", F.col("xf").cast("double").alias("x"))


_DEC = "DECIMAL(25,9)"


def _norms(elem: DataFrame) -> DataFrame:
    return elem.groupBy("vec_id").agg(
        F.sum(F.round(F.col("x") * F.col("x"), 9).cast(_DEC)).alias("n2")
    )


_EMB_ELEM_CTE = """
elem AS (
  SELECT vec_id, u.i - 1 AS pos, u.x
  FROM (
    SELECT vec_id,
           unnest(list_transform(embedding, (e, i) -> struct_pack(i := i, x := CAST(e AS DOUBLE)))) AS u
    FROM embeddings
  )
),
norms AS (
  SELECT vec_id, sum(CAST(round(x * x, 9) AS DECIMAL(25,9))) AS n2
  FROM elem GROUP BY vec_id
)""".strip()


def _fold_double(arr: F.Column) -> F.Column:
    """Sequential in-row double fold — bit-identical to the DuckDB
    oracle's list_reduce (IEEE 0.0 + x == x, then strict array order)."""
    return F.aggregate(arr, F.lit(0.0), lambda acc, x: acc + x)


def _n2_double(v: F.Column) -> F.Column:
    return _fold_double(F.transform(v, lambda x: x * x))


# DuckDB twins of the in-row double folds
def _d_dot_sql(a: str, b: str) -> str:
    return (
        f"list_reduce(list_transform(range(1, len({a}) + 1), "
        f"i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)), (x, y) -> x + y)"
    )


def _d_n2_sql(a: str) -> str:
    return (
        f"list_reduce(list_transform(range(1, len({a}) + 1), "
        f"i -> CAST({a}[i] AS DOUBLE) * CAST({a}[i] AS DOUBLE)), (x, y) -> x + y)"
    )


def q_ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k: the exactness baseline. At scale the
    candidate set comes from q_ann_lsh_bucket buckets instead of the full
    scan; the scoring pipeline is identical.

    Shape: the bounded query set (5 vectors) is BROADCAST against one
    scan of the candidates; dot product and norms fold in-row in double
    (no posexplode shuffle of 32x the rows, no decimal arithmetic —
    both were the round-1 cost)."""
    e = _emb(spark, sf_dir).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    q = e.where(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("q_id"), F.col("v").alias("qv")
    )
    pairs = e.crossJoin(F.broadcast(q)).where(F.col("vec_id") != F.col("q_id"))
    cos = pairs.select(
        "q_id",
        F.col("vec_id").alias("cand_id"),
        F.round(
            _fold_double(F.zip_with("qv", "v", lambda a, b: a * b))
            / F.sqrt(_n2_double(F.col("qv")) * _n2_double(F.col("v"))),
            4,
        ).alias("cos"),
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cos").desc(), F.col("cand_id").asc())
    return (
        cos.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= _TOP_K)
        .select("q_id", "cand_id", "rnk", "cos")
    )


SQL_ANN_COSINE_TOPK = f"""WITH cos AS (
  SELECT q.vec_id AS q_id, c.vec_id AS cand_id,
         round({_d_dot_sql('q.embedding', 'c.embedding')} /
               sqrt({_d_n2_sql('q.embedding')} * {_d_n2_sql('c.embedding')}), 4) AS cos
  FROM embeddings c CROSS JOIN (SELECT * FROM embeddings WHERE vec_id < {_N_QUERIES}) q
  WHERE c.vec_id <> q.vec_id
)
SELECT q_id, cand_id, rnk, cos FROM (
  SELECT q_id, cand_id, cos,
         CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, cand_id ASC) AS INT) AS rnk
  FROM cos
) WHERE rnk <= {_TOP_K}
"""


_N_PLANES = 8


def q_ann_lsh_bucket(
    spark: SparkSession, sf_dir: str, backend: str = "fold"
) -> DataFrame:
    """Random-hyperplane LSH bucketing with integer pseudo-plane weights
    w(p,d) = ((p*1103515245 + d*12345) % 2001) - 1000 — deterministic and
    engine-portable. Bucket = 8-bit sign pattern.

    Every plane projection is an in-row sequential DOUBLE fold over the
    embedding, bit-identical to the oracle's list_reduce in the same
    index order (the _IVF_D2_SQL discipline) — ZERO shuffles and zero
    Python; the previous form exploded dims x planes (512 rows per
    vector) through two decimal aggregations. ANN candidates are
    same-bucket vectors.

    ``backend="arrow"`` (round 7, production): all 8 projections per
    vector are ONE n x 8 GEMM per Arrow batch (X @ W.T, then sign-bit
    pack). Once the pair verification went GEMM, this interpreted fold
    became the LSH path's dominant cost (~512 interpreted ops/vector —
    hundreds of core-seconds at 400k vectors). Same boundary caveat as
    _assign_to_arrow: a projection within an ulp of 0 can flip its sign
    bit between summation orders, so registered oracle queries keep the
    fold; pinned identical on the fixtures by tests."""
    e = _emb(spark, sf_dir).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    if backend == "arrow":
        # public contract is backend-invariant: (vec_id, bucket) only
        # (ADVICE r7 — the v-carrying form is the INTERNAL composition
        # entry q_embedding_near_dup_lsh uses so vectors ride along to
        # the pair-verify GEMM without a join-back)
        return _lsh_bucket_arrow(e).select("vec_id", "bucket")

    def plane_sum(p: int) -> F.Column:
        idx = F.sequence(F.lit(0), F.size("v") - 1)
        terms = F.transform(
            idx,
            lambda i: ((F.lit(p * 1103515245).cast("bigint")
                        + i.cast("bigint") * 12345) % 2001 - 1000).cast("double")
            * F.element_at("v", i.cast("int") + 1),
        )
        return F.aggregate(terms, F.lit(0.0), lambda acc, x: acc + x)

    bucket = sum(
        (
            F.when(plane_sum(p) > 0, F.lit(1 << p)).otherwise(F.lit(0))
            for p in range(_N_PLANES)
        ),
        F.lit(0),
    )
    return e.select("vec_id", bucket.cast("int").alias("bucket"))


def _lsh_bucket_arrow(e: DataFrame) -> DataFrame:
    """(vec_id, v) -> (vec_id, v, bucket) via one GEMM per Arrow batch.

    W is the same deterministic integer pseudo-plane matrix as the fold
    path, built once driver-side; bucket = packed sign bits of X @ W.T.
    Carries ``v`` through so the near-dup composition reads the vectors
    once (the fold path joins buckets back onto the embedding relation).
    """
    def _batches(it):
        import numpy as np
        import pyarrow as pa

        W = None  # built from the first batch's dim (8 x d ints — cheap)
        pow2 = (1 << np.arange(_N_PLANES)).astype(np.int64)
        for batch in it:
            vid = batch.column("vec_id").to_numpy(zero_copy_only=False)
            if len(vid) == 0:
                continue  # reshape(0, -1) raises (the _assign_to_arrow lesson)
            varr = batch.column("v")
            X = _np_matrix(varr, "_lsh_bucket_arrow")
            if W is None or W.shape[1] != X.shape[1]:
                W = np.array(
                    [
                        [
                            ((p * 1103515245 + i * 12345) % 2001) - 1000
                            for i in range(X.shape[1])
                        ]
                        for p in range(_N_PLANES)
                    ],
                    dtype=np.float64,
                )
            bkt = (((X @ W.T) > 0.0) @ pow2).astype(np.int32)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(vid, type=pa.int64()),
                    varr,
                    pa.array(bkt, type=pa.int32()),
                ],
                names=["vec_id", "v", "bucket"],
            )

    return e.select("vec_id", "v").mapInArrow(
        _batches, schema="vec_id bigint, v array<double>, bucket int"
    )


def _bucket_sql_expr() -> str:
    """Bucket = 8-bit sign pattern; each plane projection is a
    sequential DOUBLE list_reduce in index order — bit-identical to the
    Spark in-row aggregate fold (same discipline as _IVF_D2_SQL)."""
    projs = []
    for p in range(_N_PLANES):
        proj = (
            "list_reduce(list_transform(range(1, len(embedding) + 1), "
            f"i -> CAST(({p * 1103515245} + CAST(i - 1 AS BIGINT) * 12345) % 2001 - 1000 AS DOUBLE)"
            " * CAST(embedding[i] AS DOUBLE)), (a, b) -> a + b)"
        )
        projs.append(f"CASE WHEN {proj} > 0 THEN {1 << p} ELSE 0 END")
    return "CAST(" + " + ".join(projs) + " AS INT)"

SQL_ANN_LSH_BUCKET = f"""
SELECT vec_id, {_bucket_sql_expr()} AS bucket FROM embeddings
"""


_IVF_CENTROID_MOD = 50  # deterministic "coarse quantizer": every 50th vector
_IVF_NPROBE = 2


def _ivf_assign(spark: SparkSession, sf_dir: str, rank_max: int) -> DataFrame:
    """Distance of every vector to every centroid, ranked. Centroids are
    the vectors with vec_id % 50 == 0 — a deterministic stand-in for the
    k-means training step (which at scale runs once, offline).

    Shape: broadcast the tiny centroid table, cross join, and fold the
    squared distance INSIDE the row with zip_with + aggregate over the
    two arrays — whole-stage codegen, no 32M-row explode/shuffle. The
    fold is plain DOUBLE in strict array order: a sequential IEEE-754
    fold is bit-identical in Spark and in the DuckDB oracle's
    list_reduce (probed + pinned by the driver hash), so the oracle
    stays value-exact without the DECIMAL(35,9) arithmetic that made
    this the slowest bench query in round 1 (7.6 s -> see BENCH)."""
    e = _vectors(spark, sf_dir)
    return _assign_to(e, _seed_centroids(e), rank_max)


def q_ann_ivf_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF list assignment: nearest centroid per vector (the write path of
    an IVF index — one shuffle on vec_id, centroid side broadcastable)."""
    return _ivf_assign(spark, sf_dir, 1).select(
        "vec_id", "cent_id", F.round(F.col("d2").cast("double"), 4).alias("d2")
    )


# in-row DOUBLE fold in strict index order: list_reduce starts from the
# first element, Spark's aggregate from 0.0 — IEEE 0.0 + x == x, so the
# two sequential folds are bit-identical
_IVF_D2_SQL = """list_reduce(
           list_transform(range(1, len(e.embedding) + 1),
             i -> (CAST(e.embedding[i] AS DOUBLE) - CAST(c.cv[i] AS DOUBLE))
                * (CAST(e.embedding[i] AS DOUBLE) - CAST(c.cv[i] AS DOUBLE))),
           (x, y) -> x + y)"""

_IVF_CTE = f"""
cent AS (
  SELECT vec_id AS cent_id, embedding AS cv FROM embeddings
  WHERE vec_id % {_IVF_CENTROID_MOD} = 0
),
d2 AS (
  SELECT e.vec_id, c.cent_id, {_IVF_D2_SQL} AS d2
  FROM embeddings e CROSS JOIN cent c
),
ranked AS (
  SELECT vec_id, cent_id, d2,
         row_number() OVER (PARTITION BY vec_id ORDER BY d2 ASC, cent_id ASC) AS rnk
  FROM d2
)"""

SQL_ANN_IVF_ASSIGN = f"""WITH {_IVF_CTE}
SELECT vec_id, cent_id, round(d2, 4) AS d2
FROM ranked WHERE rnk <= 1
"""


def q_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN observability: recall@k of the LSH-bucket candidate path
    against the brute-force truth — the measurement that tells an
    operator whether the approximate index is good enough to serve.
    Composition of the two registered paths (broadcast query buckets,
    keyed joins only); at scale this runs on a sampled query set
    exactly like this."""
    b = q_ann_lsh_bucket(spark, sf_dir)
    qb = b.where(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("q_id"), "bucket"
    )
    cands = b.join(F.broadcast(qb), "bucket").where(
        F.col("vec_id") != F.col("q_id")
    ).select("q_id", F.col("vec_id").alias("cand_id"))
    n_cand = cands.groupBy("q_id").agg(F.count("*").alias("n_candidates"))
    truth = q_ann_cosine_topk(spark, sf_dir)
    hits = truth.join(cands, ["q_id", "cand_id"]).groupBy("q_id").agg(
        F.count("*").alias("n_hits")
    )
    return (
        qb.select("q_id")
        .join(n_cand, "q_id", "left")
        .join(hits, "q_id", "left")
        .select(
            "q_id",
            F.coalesce("n_candidates", F.lit(0)).alias("n_candidates"),
            F.coalesce("n_hits", F.lit(0)).alias("n_hits"),
            F.round(F.coalesce("n_hits", F.lit(0)) / _TOP_K, 6).alias("recall"),
        )
    )


def q_kmeans_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One full k-means Lloyd iteration, exactly oracle-checked: assign
    every vector to its nearest centroid (the IVF assign path), then
    recompute each centroid as the per-dimension mean of its members,
    with per-cluster inertia. The iterative trainer is this operator in
    a loop (same driver-side convergence pattern as
    connected_components).

    Determinism: per-dimension sums and the inertia sum use
    DECIMAL(25,9) over round(x, 9) — float aggregation order would
    differ between engines; decimal addition is exact, so the means are
    bit-identical. One shuffle on (cent_id, dim) after the in-row
    distance fold; the centroid table broadcasts."""
    # _barrier (r8): the step references the assignment twice (member
    # means + inertia); with the min-struct form the distance fold sits
    # above the last exchange and would re-run per reference
    assign = _barrier(
        _ivf_assign(spark, sf_dir, 1).select("vec_id", "cent_id", "d2")
    )
    e = _emb(spark, sf_dir).select("vec_id", "embedding")
    dec = lambda c: F.round(c.cast("double"), 9).cast("decimal(25,9)")  # noqa: E731
    # same keyed spread as _centroid_means: both downstream groupBys
    # then run exchange-free on the (already-barriered) n-row assignment
    vals = _spread(assign, "cent_id", force=True).join(e, "vec_id").select(
        "cent_id", F.posexplode("embedding").alias("dim", "val")
    )
    per = vals.groupBy("cent_id", "dim").agg(
        F.sum(dec(F.col("val"))).alias("s"), F.count("*").alias("n")
    )
    inert = assign.groupBy("cent_id").agg(
        F.count("*").alias("n_members"),
        F.sum(dec(F.col("d2"))).alias("inertia"),
    )
    return per.join(inert, "cent_id").select(
        "cent_id",
        "dim",
        F.round(F.col("s").cast("double") / F.col("n"), 6).alias("new_val"),
        "n_members",
        F.round(F.col("inertia").cast("double"), 6).alias("inertia"),
    )


SQL_KMEANS_STEP = f"""WITH {_IVF_CTE},
assign AS (SELECT vec_id, cent_id, d2 FROM ranked WHERE rnk <= 1),
vals AS (
  SELECT a.cent_id, x.u.dim AS dim, x.u.val AS val
  FROM (
    SELECT e.vec_id,
           unnest(list_transform(range(1, len(e.embedding) + 1),
                  i -> {{'dim': CAST(i - 1 AS INT),
                         'val': CAST(e.embedding[i] AS DOUBLE)}})) AS u
    FROM embeddings e) x
  JOIN assign a ON a.vec_id = x.vec_id
),
per AS (
  SELECT cent_id, dim,
         sum(CAST(round(val, 9) AS DECIMAL(25,9))) AS s,
         count(*) AS n
  FROM vals GROUP BY 1, 2
),
inert AS (
  SELECT cent_id, count(*) AS n_members,
         sum(CAST(round(d2, 9) AS DECIMAL(25,9))) AS inertia
  FROM assign GROUP BY 1
)
SELECT p.cent_id, p.dim,
       round(CAST(p.s AS DOUBLE) / p.n, 6) AS new_val,
       i.n_members,
       round(CAST(i.inertia AS DOUBLE), 6) AS inertia
FROM per p JOIN inert i ON i.cent_id = p.cent_id
"""


_KM_ITERS = 3  # fixed iteration count -> deterministic, oracle-expressible
_KM_MAX_ITERS = 64  # loud backstop for the tolerance-driven variant


def _centroid_means(assign: DataFrame) -> DataFrame:
    """New centroids from an assignment that carries each vector:
    (cent_id, v) -> (cent_id, cv), per-(cent_id, dim) DECIMAL-exact
    means rounded to 6 dp, re-assembled into dim-ordered arrays.

    The assignment carries ``v`` (see _lloyd_step), so the means read
    no second copy of the vectors: a ``join(e, "vec_id")`` back to them
    makes Spark inject a runtime bloom filter over the vector scan — a
    two-job ``bloom_filter_agg`` subquery per iteration and a 1 MiB
    filter inlined into every task binary."""
    dec = lambda c: F.round(c.cast("double"), 9).cast("decimal(25,9)")  # noqa: E731
    # r8: hash-spread the n-row assignment by cent_id BEFORE the
    # posexplode. hash(cent_id) satisfies the ClusteredDistribution of
    # BOTH downstream groupBys ((cent_id, dim) and (cent_id)), so the
    # per-dim decimal sums and the array re-assembly run with ZERO
    # further exchanges — previously each agg exchanged the n*dim
    # exploded rows (plan: 3 Exchange -> 1, and the one that remains
    # carries n rows, not n*dim). Decimal addition is exact, so the
    # changed row routing cannot move a value. force=True: this spread
    # exists for its KEY layout, which the partition-count heuristic
    # cannot see (interleaved A/B: 0.87 -> 0.36 s per means force).
    vals = _spread(assign, "cent_id", force=True).select(
        "cent_id", F.posexplode("v").alias("dim", "val")
    )
    per = vals.groupBy("cent_id", "dim").agg(
        F.round(
            F.sum(dec(F.col("val"))).cast("double") / F.count("*"), 6
        ).alias("nv")
    )
    return per.groupBy("cent_id").agg(
        F.expr("transform(array_sort(collect_list(struct(dim, nv))), s -> s.nv)")
        .alias("cv")
    )


# squared L2 distance of (v, cv) as the in-row sequential double fold.
# Built from SQL text: the same analyzed expression as
# F.aggregate(F.zip_with(...)), without PySpark's per-lambda JVM round
# trips (~20 ms per higher-order function on the driver, per call).
_D2_FOLD = "aggregate(zip_with(v, cv, (a, b) -> (a - b) * (a - b)), 0D, (acc, x) -> acc + x)"


def _assign_to(
    e: DataFrame,
    cent: DataFrame,
    rank_max: int,
    backend: str = "fold",
    carry_v: bool = False,
) -> DataFrame:
    """Nearest-``rank_max`` centroid assignment.

    ``backend="fold"`` (default, what every registered query uses) is
    the oracle-portable form: an in-row sequential double fold whose
    value is bit-identical to the DuckDB oracle's list_reduce, ranked by
    a per-vector window. Cost is ~50us per 64-dim distance (interpreted
    higher-order functions never enter codegen), i.e. O(n*k) folds
    through a crossJoin + an n*k-row window shuffle.

    ``backend="arrow"`` is the production path: the centroid table
    (tiny by contract — it rides a broadcast in the fold path already)
    is collected once and the whole distance matrix is one BLAS call
    per Arrow batch (||x||^2 + ||c||^2 - 2 X@C.T), top-rank_max by
    argsort over (d2, cent_id). No crossJoin row explosion, no window
    shuffle — the n*k work stays inside numpy at ~1e9 mults/s/core
    instead of ~2e4 folds/s/core. Distances differ from the fold path
    only in the last ulp (different summation order), so ties at equal
    d2 break identically (cent_id asc) but a near-tie can flip — which
    is why registered oracle queries keep the fold. Pinned equal on the
    test fixtures by tests/test_kmeans_arrow.py.

    ``carry_v=True`` adds each vector's ``v`` to the output (both
    backends), which is what a Lloyd step's means read."""
    if backend == "arrow":
        return _assign_to_arrow(e, cent, rank_max, carry_v)
    # _spread BEFORE the broadcast crossJoin: the O(n*k) interpreted
    # folds then run on shuffle-partition-count tasks instead of the
    # scan's task count (1 at bench scale — measured 0.88 s -> 0.23 s
    # per assignment, r8). Hash-partitioned by vec_id: the broadcast
    # join keeps that partitioning, so the per-vector min (partial and
    # final) completes in the fold's own stage with no further exchange.
    # No shuffle boundary sits above the fold, so exchange reuse cannot
    # dedup it — plans that reference the assignment more than once
    # (semantic_prep/flags: 3-5x) put it behind _barrier instead.
    carry = ("v",) if carry_v else ()
    d2 = _spread(e, "vec_id").crossJoin(F.broadcast(cent)).select(
        "vec_id", "cent_id", F.expr(_D2_FOLD).alias("d2"), *carry
    )
    return _nearest_ranked(d2, rank_max, carry)


def _np_matrix(varr, where: str):
    """Dense (n, dim) float64 view of an Arrow list<float/double> array.

    Ragged/null guard (ADVICE r7): Arrow ``flatten()`` silently DROPS
    null list entries, shifting every subsequent row's data, and a
    ragged batch whose total element count divides evenly by the row
    count reshapes into wrong rows without an error. Derive the dim
    from the list offsets and fail loudly on any violation of the
    uniform-dim/no-null contract the fold path enforces per-row. A
    ``ChunkedArray`` (a grouped kernel's table column) is combined
    first, so the guards see every chunk."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    if isinstance(varr, pa.ChunkedArray):
        varr = varr.combine_chunks()
    if varr.null_count:
        raise ValueError(f"{where}: null embedding entries in batch")
    # list_value_length (not raw .offsets) — correct under array slices
    widths = pc.list_value_length(varr).to_numpy(zero_copy_only=False)
    if widths.size == 0:
        raise ValueError(f"{where}: empty batch reached the kernel")
    if (widths != widths[0]).any():
        raise ValueError(
            f"{where}: ragged embedding batch (dims "
            f"{int(widths.min())}..{int(widths.max())})"
        )
    flat = (
        varr.flatten()
        .to_numpy(zero_copy_only=False)
        .astype(np.float64, copy=False)
    )
    return flat.reshape(widths.size, int(widths[0]))


def _assign_to_arrow(
    e: DataFrame, cent: DataFrame, rank_max: int, carry_v: bool = False
) -> DataFrame:
    import numpy as np

    rows = cent.collect()
    ids = np.array([r["cent_id"] for r in rows], dtype=np.int64)
    C = np.array([list(r["cv"]) for r in rows], dtype=np.float64)
    order = np.argsort(ids)  # cent_id asc so equal-d2 ties break the same
    ids, C = ids[order], C[order]
    cn2 = (C * C).sum(axis=1)
    k = len(ids)
    r = min(rank_max, k)
    names = ["vec_id", "cent_id", "d2", "rnk"] + (["v"] if carry_v else [])
    schema = "vec_id bigint, cent_id bigint, d2 double, rnk int"
    if carry_v:
        schema += ", v array<double>"

    def _batches(it):
        import pyarrow as pa

        for batch in it:
            vid = batch.column("vec_id").to_numpy(zero_copy_only=False)
            if len(vid) == 0:
                # a 0-row RecordBatch would make reshape(0, -1) raise
                # (cannot infer -1 from size 0) — skip it (ADVICE r6)
                continue
            # list<double> of uniform dim, no nulls (contract),
            # enforced loudly by _np_matrix (ADVICE r7 ragged guard)
            X = _np_matrix(batch.column("v"), "_assign_to_arrow")
            # ||x||^2+||c||^2-2x.C can cancel slightly negative for
            # exact duplicates; the fold's sum-of-squares never does —
            # clamp so consumers (sqrt, cross-backend diffs) stay in
            # domain. Ranking/ties unaffected. (ADVICE r6)
            d2 = np.maximum(
                (X * X).sum(axis=1)[:, None] + cn2[None, :] - 2.0 * (X @ C.T),
                0.0,
            )
            if r == 1:
                j = d2.argmin(axis=1)[:, None]  # first occurrence = id asc
            else:
                j = np.argsort(d2, axis=1, kind="stable")[:, :r]
            rows_idx = np.repeat(np.arange(len(vid)), r)
            cols = j.reshape(-1)
            out = [
                pa.array(np.repeat(vid, r), type=pa.int64()),
                pa.array(ids[cols], type=pa.int64()),
                pa.array(d2[rows_idx, cols], type=pa.float64()),
                pa.array(np.tile(np.arange(1, r + 1), len(vid)), type=pa.int32()),
            ]
            if carry_v:
                out.append(batch.column("v").take(pa.array(rows_idx)))
            yield pa.RecordBatch.from_arrays(out, names=names)

    return e.select("vec_id", "v").mapInArrow(_batches, schema=schema)


def _vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, v) — the embedding relation cast to double once."""
    return _emb(spark, sf_dir).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )


def _seed_centroids(e: DataFrame) -> DataFrame:
    """The deterministic seeds: every vector with vec_id % 50 == 0."""
    return e.where(F.col("vec_id") % _IVF_CENTROID_MOD == 0).select(
        F.col("vec_id").alias("cent_id"), F.col("v").alias("cv")
    )


def _lloyd_step(e: DataFrame, cent: DataFrame, backend: str = "fold") -> DataFrame:
    """One Lloyd iteration, (vec_id, v) x (cent_id, cv) -> the next
    (cent_id, cv): the nearest-centroid assignment carries each vector's
    ``v`` (``carry_v``), and the decimal-exact means read it from there.
    The one step of both trainers, for both backends."""
    return _centroid_means(_assign_to(e, cent, 1, backend=backend, carry_v=True))


def _trained_centroids(
    spark: SparkSession,
    sf_dir: str,
    iters: int = _KM_ITERS,
    e: DataFrame | None = None,
    backend: str = "fold",
) -> tuple[DataFrame, DataFrame]:
    """(vectors, centroids-after-iters). The trainer loop is driver-side
    — iterative algorithms are the one legitimate driver loop (same
    pattern as near_dup_components): each iteration is one _lloyd_step,
    and the tiny centroid table passes through _barrier per iteration so
    the lineage (and the broadcast plan feeding the next step) stays
    flat instead of growing a crossJoin chain the optimizer must
    re-expand every round. A step reads the vectors once: the scan, the
    vec_id spread, the broadcast crossJoin with the distance fold and
    the per-vector min run in one stage, then one cent_id exchange
    feeds the means: 4 Spark jobs per iteration.
    ``e`` overrides the (vec_id, v) training relation — the incremental
    query trains on the STORE subset only."""
    if e is None:
        e = _vectors(spark, sf_dir)
    cent = _seed_centroids(e)
    if iters > _KM_MAX_ITERS:
        raise ValueError(
            f"kmeans iters={iters} > backstop {_KM_MAX_ITERS}; "
            "raise _KM_MAX_ITERS deliberately if you mean it"
        )
    for _ in range(iters):
        # per-iteration barrier: keeps the lineage flat AND pays for
        # each Lloyd step exactly once. (r8 re-measured the
        # NO-checkpoint alternative — one action runs the unrolled
        # chain: every downstream reference re-executes the trainer
        # subtree (broadcast-exchange reuse does NOT rescue it) and the
        # family got 20-85% slower; see OPTIMIZATION_r08.md.)
        cent = _barrier(_lloyd_step(e, cent, backend))
    return e, cent


def _vectors_and_centroids(
    spark: SparkSession,
    sf_dir: str,
    centroids: DataFrame | None = None,
    backend: str = "fold",
) -> tuple[DataFrame, DataFrame]:
    """The trainer-sharing knob for the semantic family (same pattern as
    q_substr_dup_rate's per_doc=): a pipeline that already holds a
    trained (cent_id, cv) relation passes it as ``centroids=`` and every
    downstream query reuses it — ONE trainer job feeding semantic_dedup
    + stats + prototypes + prep instead of four re-runs of the Lloyd
    iterations. Default None keeps the registered pure form (train from
    scratch), which the driver oracle grades."""
    if centroids is None:
        return _trained_centroids(spark, sf_dir, backend=backend)
    return _vectors(spark, sf_dir), centroids


def train_kmeans_converged(
    spark: SparkSession,
    sf_dir: str,
    tol: float = 1e-9,
    max_iters: int = _KM_MAX_ITERS,
) -> tuple[DataFrame, int, list[float]]:
    """Tolerance-driven trainer for pipeline callers: Lloyd-iterate until
    the largest centroid movement (squared L2 between a centroid and its
    update) is <= tol, with the connected-components-style loud
    iteration cap — silent non-convergence is how a nightly job burns a
    cluster. Returns (centroids, n_iters, movement_history).

    The registered q_kmeans_train uses a FIXED count instead because the
    driver oracle must be deterministic and SQL-unrollable; this variant
    is the production entry point and is pinned by pytest against the
    fixed-count path (same centroids when it converges in <= _KM_ITERS)."""
    e = _vectors(spark, sf_dir)
    cent = _seed_centroids(e)
    history: list[float] = []
    for it in range(1, max_iters + 1):
        new_cent = _barrier(_lloyd_step(e, cent))
        moved = (
            cent.join(new_cent.withColumnRenamed("cv", "v"), "cent_id")
            .select(F.expr(_D2_FOLD).alias("m"))
            .agg(F.max("m").alias("worst"))
            .collect()[0]["worst"]
        )
        history.append(float(moved if moved is not None else 0.0))
        cent = new_cent
        if history[-1] <= tol:
            return cent, it, history
    raise RuntimeError(
        f"k-means did not converge in {max_iters} iterations "
        f"(last movement {history[-1]:.3e} > tol {tol:.1e}); raise "
        "max_iters or tol deliberately"
    )


def q_kmeans_train(
    spark: SparkSession, sf_dir: str, backend: str = "fold"
) -> DataFrame:
    """The composed k-means trainer: _KM_ITERS full Lloyd iterations
    (assign -> decimal-exact means, the q_kmeans_step body) from the
    deterministic seed centroids, then the FINAL assignment of every
    vector against the trained centroids — (vec_id, cent_id, d2).

    Fixed iteration count keeps the run deterministic and the DuckDB
    oracle expressible as an unrolled CTE chain (the oracle re-derives
    all three iterations from scratch — a genuinely independent
    recomputation, not a replay). Clusters that lose all members simply
    drop out of the next round's centroid table in both engines.
    Scale: per iteration ONE broadcast crossJoin + in-row distance fold
    + one (cent_id, dim) partial-agg shuffle — identical to
    q_kmeans_step; the loop multiplies wall-clock, never state.
    ``backend="arrow"`` runs every Lloyd assignment and the final one as
    numpy GEMMs (5-11x at 108k vectors, tests/test_kmeans_arrow.py)."""
    e, cent = _trained_centroids(spark, sf_dir, backend=backend)
    return _assign_to(e, cent, 1, backend=backend).select(
        "vec_id",
        "cent_id",
        F.round(F.col("d2").cast("double"), 4).alias("d2"),
    )


_KM_D2_TRAINED_SQL = """list_reduce(
           list_transform(range(1, len(e.embedding) + 1),
             i -> (CAST(e.embedding[i] AS DOUBLE) - c.cv[i])
                * (CAST(e.embedding[i] AS DOUBLE) - c.cv[i])),
           (x, y) -> x + y)"""


def _kmeans_train_cte(iters: int = _KM_ITERS, src: str = "embeddings") -> str:
    """Unrolled Lloyd iterations as a CTE chain: cent0 = seeds;
    for i in 1..iters: a_i = assign vs cent_{i-1}, cent_i = means.
    ``src`` names the (vec_id, embedding) relation to train on — the
    incremental oracle trains on the STORE subset only."""
    parts = [
        f"""cent0 AS (
  SELECT vec_id AS cent_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cv
  FROM {src} WHERE vec_id % {_IVF_CENTROID_MOD} = 0
)"""
    ]
    for i in range(1, iters + 1):
        parts.append(f"""a{i} AS (
  SELECT vec_id, cent_id FROM (
    SELECT e.vec_id, c.cent_id,
           row_number() OVER (PARTITION BY e.vec_id
             ORDER BY {_KM_D2_TRAINED_SQL} ASC, c.cent_id ASC) AS rnk
    FROM {src} e CROSS JOIN cent{i - 1} c
  ) WHERE rnk = 1
),
p{i} AS (
  SELECT a.cent_id, u.u.dim AS dim,
         round(CAST(sum(CAST(round(u.u.val, 9) AS DECIMAL(25,9))) AS DOUBLE)
               / count(*), 6) AS nv
  FROM (
    SELECT e.vec_id,
           unnest(list_transform(range(1, len(e.embedding) + 1),
                  i -> {{'dim': CAST(i - 1 AS INT),
                         'val': CAST(e.embedding[i] AS DOUBLE)}})) AS u
    FROM {src} e) u
  JOIN a{i} a ON a.vec_id = u.vec_id
  GROUP BY 1, 2
),
cent{i} AS (
  SELECT cent_id, list(nv ORDER BY dim ASC) AS cv FROM p{i} GROUP BY 1
)""")
    return ",\n".join(parts)


SQL_KMEANS_TRAIN = f"""WITH {_kmeans_train_cte()}
SELECT vec_id, cent_id, round(d2, 4) AS d2 FROM (
  SELECT e.vec_id, c.cent_id, {_KM_D2_TRAINED_SQL} AS d2,
         row_number() OVER (PARTITION BY e.vec_id
           ORDER BY {_KM_D2_TRAINED_SQL} ASC, c.cent_id ASC) AS rnk
  FROM embeddings e CROSS JOIN cent{_KM_ITERS} c
) WHERE rnk = 1
"""


def q_ann_ivf_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IVF index built on TRAINED centroids (the round-3 verdict's
    'wire ann_ivf_assign to consume the trained centroids'): lists come
    from the k-means trainer's final centroids, probes use the same
    nprobe policy as q_ann_ivf_probe, output is candidate counts per
    query. Same scale shape as the untrained probe — the trained
    centroid table is just as broadcastable."""
    e, cent = _trained_centroids(spark, sf_dir)
    assign = _assign_to(e, cent, 1).select(
        "vec_id", F.col("cent_id").alias("list_id")
    )
    probes = _assign_to(e, cent, _IVF_NPROBE).where(
        F.col("vec_id") < 5
    ).select(F.col("vec_id").alias("q_id"), F.col("cent_id").alias("list_id"))
    cands = probes.join(assign, "list_id").where(
        F.col("vec_id") != F.col("q_id")
    )
    return cands.groupBy("q_id").agg(F.count("*").alias("n_candidates"))


SQL_ANN_IVF_TRAINED = f"""WITH {_kmeans_train_cte()},
ranked_t AS (
  SELECT e.vec_id, c.cent_id,
         row_number() OVER (PARTITION BY e.vec_id
           ORDER BY {_KM_D2_TRAINED_SQL} ASC, c.cent_id ASC) AS rnk
  FROM embeddings e CROSS JOIN cent{_KM_ITERS} c
),
assign_t AS (SELECT vec_id, cent_id AS list_id FROM ranked_t WHERE rnk <= 1),
probes_t AS (
  SELECT vec_id AS q_id, cent_id AS list_id FROM ranked_t
  WHERE rnk <= {_IVF_NPROBE} AND vec_id < 5
)
SELECT p.q_id, count(*) AS n_candidates
FROM probes_t p JOIN assign_t a ON a.list_id = p.list_id
WHERE a.vec_id <> p.q_id
GROUP BY p.q_id
"""


def q_ann_ivf_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF read path: candidate set per query = vectors whose nearest
    list is among the query's nprobe nearest lists. Output candidate
    counts per query (the search then scores only these — the linear
    scan is confined to probed lists)."""
    assign = _ivf_assign(spark, sf_dir, 1).select(
        "vec_id", F.col("cent_id").alias("list_id")
    )
    probes = _ivf_assign(spark, sf_dir, _IVF_NPROBE).where(
        F.col("vec_id") < 5
    ).select(F.col("vec_id").alias("q_id"), F.col("cent_id").alias("list_id"))
    cands = probes.join(assign, "list_id").where(F.col("vec_id") != F.col("q_id"))
    return cands.groupBy("q_id").agg(F.count("*").alias("n_candidates"))


SQL_ANN_IVF_PROBE = f"""WITH {_IVF_CTE},
assign AS (SELECT vec_id, cent_id AS list_id FROM ranked WHERE rnk <= 1),
probes AS (
  SELECT vec_id AS q_id, cent_id AS list_id FROM ranked
  WHERE rnk <= {_IVF_NPROBE} AND vec_id < 5
)
SELECT p.q_id, count(*) AS n_candidates
FROM probes p JOIN assign a ON a.list_id = p.list_id
WHERE a.vec_id <> p.q_id
GROUP BY p.q_id
"""


def q_embedding_label_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label vector stats; the L2 norm is an in-row sequential
    DOUBLE fold (bit-identical to the oracle's list_reduce in the same
    index order) — one scan, one shuffle on label, no element explode."""
    e = _emb(spark, sf_dir).select(
        "label", F.col("embedding").cast("array<double>").alias("v")
    )
    nrm = F.sqrt(
        F.aggregate(
            F.transform("v", lambda x: x * x), F.lit(0.0), lambda a, x: a + x
        )
    )
    return (
        e.select("label", nrm.alias("nrm"))
        .groupBy("label")
        .agg(
            F.count("*").alias("n_vecs"),
            F.round(F.avg("nrm"), 6).alias("avg_norm"),
        )
    )


SQL_EMBEDDING_LABEL_STATS = f"""
SELECT label, count(*) AS n_vecs,
       round(avg(sqrt({_d_n2_sql('embedding')})), 6) AS avg_norm
FROM embeddings
GROUP BY label
"""


_COS_DUP_MIN = 0.35
_EMB_BUCKET_CAP = 4096  # max vectors carried into one in-bucket expansion
# All-pairs guard: the recall baseline is O(n^2) BY CONTRACT; refuse to
# even build the plan past this many vectors instead of silently launching
# a 10^12-pair job. Loud failure > silent truncation — the scale path
# (q_embedding_near_dup_lsh) has no such bound.
_EMB_ALLPAIRS_MAX = 200_000


def q_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs — the ALL-PAIRS recall
    baseline (bounded inputs only; raises past _EMB_ALLPAIRS_MAX
    vectors). The default scale path is q_embedding_near_dup_lsh: same
    cosine verification, candidates from hyperplane-LSH buckets instead
    of the full cross product.

    NOTE: the guard runs one eager short-circuiting probe job at
    DataFrame-CONSTRUCTION time — limit(MAX+1).count() over the id
    column only, so it stops as soon as MAX+1 rows are seen instead of
    scanning the table (a full count here made every caller that only
    builds the plan pay a whole-table scan)."""
    probe = (
        _emb(spark, sf_dir)
        .select("vec_id")
        .limit(_EMB_ALLPAIRS_MAX + 1)
        .count()
    )
    if probe > _EMB_ALLPAIRS_MAX:
        raise ValueError(
            f"q_embedding_near_dup is the all-pairs recall baseline; "
            f"input exceeds _EMB_ALLPAIRS_MAX={_EMB_ALLPAIRS_MAX} vectors "
            f"(>= {probe}), which would expand to >= "
            f"{probe * (probe - 1) // 2:.2e} pairs. "
            "Use q_embedding_near_dup_lsh (bucketed) at this scale."
        )
    elem = _elem(spark, sf_dir)
    norms = _norms(elem)
    a = elem.select(F.col("vec_id").alias("a_id"), "pos", F.col("x").alias("ax"))
    b = elem.select(F.col("vec_id").alias("b_id"), "pos", F.col("x").alias("bx"))
    dots = (
        a.join(b, "pos")
        .where(F.col("a_id") < F.col("b_id"))
        .groupBy("a_id", "b_id")
        .agg(F.sum(F.round(F.col("ax") * F.col("bx"), 9).cast(_DEC)).alias("dot"))
    )
    na = norms.select(F.col("vec_id").alias("a_id"), F.col("n2").alias("n2a"))
    nb = norms.select(F.col("vec_id").alias("b_id"), F.col("n2").alias("n2b"))
    cos = (
        dots.join(na, "a_id")
        .join(nb, "b_id")
        .select(
            "a_id",
            "b_id",
            F.round(
                F.col("dot").cast("double")
                / F.sqrt(F.col("n2a").cast("double") * F.col("n2b").cast("double")),
                4,
            ).alias("cos"),
        )
    )
    return cos.where(F.col("cos") >= _COS_DUP_MIN)


SQL_EMBEDDING_NEAR_DUP = f"""WITH {_EMB_ELEM_CTE},
dots AS (
  SELECT a.vec_id AS a_id, b.vec_id AS b_id,
         sum(CAST(round(a.x * b.x, 9) AS DECIMAL(25,9))) AS dot
  FROM elem a JOIN elem b ON b.pos = a.pos AND a.vec_id < b.vec_id
  GROUP BY 1, 2
)
SELECT a_id, b_id,
       round(CAST(dot AS DOUBLE) /
             sqrt(CAST(na.n2 AS DOUBLE) * CAST(nb.n2 AS DOUBLE)), 4) AS cos
FROM dots
JOIN norms na ON na.vec_id = a_id
JOIN norms nb ON nb.vec_id = b_id
WHERE round(CAST(dot AS DOUBLE) /
            sqrt(CAST(na.n2 AS DOUBLE) * CAST(nb.n2 AS DOUBLE)), 4) >= {_COS_DUP_MIN}
"""


def q_embedding_near_dup_lsh(
    spark: SparkSession, sf_dir: str, backend: str = "fold"
) -> DataFrame:
    """Composed near-dup entry point for embeddings at scale: candidate
    pairs come from the hyperplane-LSH buckets (q_ann_lsh_bucket — linear
    shuffle), and cosine is verified ONLY on in-bucket candidates with an
    in-row decimal fold over the two carried vectors (zip_with +
    aggregate, no per-element explode/shuffle). This replaces the
    all-pairs q_embedding_near_dup as the default path; the all-pairs
    form stays registered as the tiny-scale recall baseline.

    ``backend="arrow"`` (round 7, production): pair verification runs as
    one upper-triangle GEMM per bucket inside a grouped mapInArrow pass
    (_near_dup_pairs_arrow) — the 108k-vector harness measured the
    interpreted pair fold ANTI-scaling (276 s at 8 cores -> 442 s at 16,
    allocation-bound) — AND the hyperplane bucketing itself is one
    n x 8 GEMM per batch (_lsh_bucket_arrow, which carries the vectors
    through so the composition reads the embedding relation once, no
    bucket join-back): once verification went GEMM, the interpreted
    8-plane fold (~512 ops/vector) was the path's dominant remaining
    cost. Registered query keeps the oracle-exact fold."""
    e = _emb(spark, sf_dir).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    if backend == "arrow":
        return _near_dup_pairs_arrow(_lsh_bucket_arrow(e))
    b = q_ann_lsh_bucket(spark, sf_dir)
    ev = e.join(b, "vec_id")
    # degenerate-bucket guard (same rationale as _LSH_BUCKET_CAP): the
    # collect_list carries full vectors, so an unbounded bucket is an OOM
    # row at 100 TB; oversized buckets are dropped in lockstep with the
    # oracle. At scale also raise _N_PLANES so expected bucket size stays
    # bounded (n / 2^planes).
    buckets = (
        ev.groupBy("bucket")
        .agg(F.sort_array(F.collect_list(F.struct("vec_id", "v"))).alias("vs"))
        .where((F.size("vs") > 1) & (F.size("vs") <= _EMB_BUCKET_CAP))
    )
    pairs = _fan_out(spark, buckets).select(
        F.explode(
            F.expr(
                "flatten(transform(vs, (x, i) -> transform(slice(vs, i + 2, size(vs)), "
                "y -> struct(x.vec_id AS a_id, y.vec_id AS b_id, x.v AS av, y.v AS bv))))"
            )
        ).alias("p")
    ).select("p.a_id", "p.b_id", "p.av", "p.bv")

    cos = pairs.select(
        "a_id",
        "b_id",
        F.round(
            _fold_double(F.zip_with("av", "bv", lambda a, c: a * c))
            / F.sqrt(_n2_double(F.col("av")) * _n2_double(F.col("bv"))),
            4,
        ).alias("cos"),
    )
    return cos.where(F.col("cos") >= _COS_DUP_MIN)


def _near_dup_pairs_arrow(ev: DataFrame) -> DataFrame:
    """Bucketed pair verification via one upper-triangle GEMM per bucket.

    ``ev``: (vec_id, v, bucket). Each in-cap bucket (2.._EMB_BUCKET_CAP,
    the fold path's guard exactly) reaches the kernel whole and
    vec_id-sorted, one grouped_map_in_arrow call per bucket; its vectors
    exist ONCE per task
    — no per-pair (av, bv) duplication through an explode (the fold form
    carries both full vectors on every candidate row) — and all C(n,2)
    dots are numpy matmul. Emits (a_id, b_id, cos) with a_id < b_id and
    cos >= _COS_DUP_MIN, cosine rounded half-up to 4dp like the fold.
    The size guard is a pre-join on the aggregated bucket-size relation
    (not broadcast-hinted — at scale the bucket-id relation can be wide;
    the shuffle lands on the same key the grouped pass repartitions on).
    Row-blocked by _cos_blocks, so peak memory is block x cap doubles."""
    bsize = ev.groupBy("bucket").agg(F.count("*").alias("n"))
    ok = bsize.where(
        (F.col("n") > 1) & (F.col("n") <= _EMB_BUCKET_CAP)
    ).select("bucket")
    sel = ev.join(ok, "bucket").select("bucket", "vec_id", "v")

    def _bucket(tbl):
        import numpy as np
        import pyarrow as pa

        ids = tbl.column("vec_id").to_numpy()
        X = _np_matrix(tbl.column("v"), "_near_dup_pairs_arrow")
        o_a, o_b, o_c = [], [], []
        for b0, c in _cos_blocks(X, X, "LSH bucket"):
            # upper triangle only: vec_id-sorted bucket => j > i is
            # exactly the fold path's a_id < b_id pair set
            hit = (c >= _COS_DUP_MIN) & (
                np.arange(len(ids))[None, :]
                > np.arange(b0, b0 + len(c))[:, None]
            )
            ii, jj = np.nonzero(hit)
            o_a.append(ids[ii + b0])
            o_b.append(ids[jj])
            o_c.append(c[ii, jj])
        yield pa.RecordBatch.from_arrays(
            [
                pa.array(np.concatenate(o_a), type=pa.int64()),
                pa.array(np.concatenate(o_b), type=pa.int64()),
                pa.array(np.concatenate(o_c), type=pa.float64()),
            ],
            names=["a_id", "b_id", "cos"],
        )

    from .operators.grouped import grouped_map_in_arrow

    return grouped_map_in_arrow(
        sel,
        "bucket",
        ["vec_id"],
        _bucket,
        "a_id bigint, b_id bigint, cos double",
    )


_COS_LSH_EXPR = (
    f"round({_d_dot_sql('ea.embedding', 'eb.embedding')} / "
    f"sqrt({_d_n2_sql('ea.embedding')} * {_d_n2_sql('eb.embedding')}), 4)"
)

SQL_EMBEDDING_NEAR_DUP_LSH = f"""WITH bkt AS (
  SELECT vec_id, {_bucket_sql_expr()} AS bucket FROM embeddings
),
bsize AS (
  SELECT bucket, count(*) AS n FROM bkt GROUP BY bucket
),
cand AS (
  SELECT a.vec_id AS a_id, b.vec_id AS b_id
  FROM bkt a JOIN bkt b ON b.bucket = a.bucket AND a.vec_id < b.vec_id
  JOIN bsize s ON s.bucket = a.bucket
  WHERE s.n BETWEEN 2 AND {_EMB_BUCKET_CAP}
)
SELECT c.a_id, c.b_id, {_COS_LSH_EXPR} AS cos
FROM cand c
JOIN embeddings ea ON ea.vec_id = c.a_id
JOIN embeddings eb ON eb.vec_id = c.b_id
WHERE {_COS_LSH_EXPR} >= {_COS_DUP_MIN}
"""


# ---------------------------------------------------------------------------
# semantic_dedup — SemDeDup (Abbas et al. 2023, arXiv:2303.09540):
# k-means-cluster the embedding space, then detect near-duplicates only
# WITHIN each cluster. The clustering bounds the quadratic: a 100-TB
# corpus never sees an all-pairs comparison — k grows with n so expected
# cluster size stays fixed, and the pair expansion is O(sum n_c^2) with
# n_c capped. Reuses the oracle-proven k-means trainer (the clusters ARE
# q_kmeans_train's clusters) and the near-dup family's in-row cosine.
# ---------------------------------------------------------------------------

# Same cosine bar as the embedding near-dup family: within a cluster,
# cos >= this marks a semantic duplicate pair.
_SEM_DUP_MIN = _COS_DUP_MIN
# Clusters past this size skip the quadratic step (members keep=true,
# n_dup_neighbors=0) — same rationale as _EMB_BUCKET_CAP: an unbounded
# cluster is an O(n_c^2) job. At scale, raise k instead (the paper sizes
# k so clusters stay small); the cap is the loud backstop, observable in
# q_semantic_dedup_stats as capped clusters with n_kept == n_members.
_SEM_CLUSTER_CAP = 4096


def _semantic_flags(
    spark: SparkSession,
    sf_dir: str,
    centroids: DataFrame | None = None,
    backend: str = "fold",
) -> DataFrame:
    """Per-vector SemDeDup verdict: cluster id, number of same-cluster
    duplicate neighbors (cos >= _SEM_DUP_MIN), max such cosine, and the
    keep flag. Keep policy (deterministic variant of the paper's): among
    duplicate neighbors, KEEP the vector FARTHEST from its centroid —
    the paper's low-centroid-similarity representative, which preserves
    the most atypical example of each duplicate neighborhood. A vector
    is dropped iff some duplicate neighbor dominates it under the strict
    order (d2 DESC, vec_id DESC); d2 values are the same bit-identical
    in-row folds both engines rank by in q_kmeans_train, so the
    comparison is engine-deterministic.

    Scale shape: trainer as in q_kmeans_train (tiny centroid table
    broadcast per Lloyd step), one assign carrying the vectors, one
    per-cluster aggregate (broadcast), one cent_id exchange feeding the
    member lists of in-cap clusters, in-row double-fold cosine per
    member. No window over a skewable key anywhere.

    ``backend="arrow"`` (production) routes BOTH the trainer/assignment
    (the _assign_to GEMM) and the within-cluster member cosine
    (_member_flags_arrow's per-cluster GEMM) through numpy; registered
    oracle queries keep the default fold."""
    e, cent = _vectors_and_centroids(spark, sf_dir, centroids, backend)
    # _barrier: _semantic_flags_from reads the assignment 3x; without it
    # each read re-runs the O(n*k) fold
    assign = _barrier(_assign_to(e, cent, 1, backend=backend, carry_v=True))
    return _semantic_flags_from(assign, backend=backend)


def _cluster_stats(assign: DataFrame) -> DataFrame:
    """(cent_id, cn, mean_d2) of a 1-NN assignment: ONE partial
    aggregate per cluster gives both the SemDeDup size cap (cn) and the
    prototype rule's mean distance (mean_d2). The mean uses the kmeans
    discipline: DECIMAL(25,9) sum of round(d2, 9), cast to double,
    divided, rounded to 6 dp — float aggregation order would differ
    between engines; this is bit-identical both sides. Callers that
    need only cn get a count-only aggregate (column pruning)."""
    dec = lambda c: F.round(c.cast("double"), 9).cast("decimal(25,9)")  # noqa: E731
    return assign.groupBy("cent_id").agg(
        F.count("*").alias("cn"),
        F.round(
            F.sum(dec(F.col("d2"))).cast("double") / F.count("*"), 6
        ).alias("mean_d2"),
    )


def _keep_proto() -> F.Column:
    """The prototype verdict of a row carrying d2 and its cluster's
    mean_d2 (see _PROTO_ALPHA)."""
    return (F.col("d2") > F.lit(_PROTO_ALPHA) * F.col("mean_d2")).alias(
        "keep_proto"
    )


# The per-member SemDeDup verdict of member ``me`` against its cluster's
# member list ``ms`` (structs b_id, b_d2, bv, b_n2): map each member to
# (cos, b_d2, b_id) — cos evaluated exactly once — keep the duplicate
# neighbors, then fold count / max / dominated over cheap scalars. SQL
# text instead of F.transform/F.aggregate lambdas: the same analyzed
# expression without PySpark's per-lambda JVM round trips on the driver.
_MEMBER_VERDICT = f"""aggregate(
  filter(
    transform(ms, m -> struct(
      round(aggregate(zip_with(me.bv, m.bv, (x, y) -> x * y), 0D,
                      (acc, x) -> acc + x) / sqrt(me.b_n2 * m.b_n2), 4) AS cos,
      m.b_d2 AS b_d2,
      m.b_id AS b_id)),
    c -> c.b_id != me.b_id AND c.cos >= {_SEM_DUP_MIN}D),
  struct(CAST(0 AS BIGINT) AS n, CAST(NULL AS DOUBLE) AS mx, false AS dom),
  (acc, c) -> struct(
    acc.n + CAST(1 AS BIGINT) AS n,
    greatest(acc.mx, c.cos) AS mx,
    acc.dom OR c.b_d2 > me.b_d2 OR (c.b_d2 = me.b_d2 AND c.b_id > me.b_id) AS dom))"""
_N2_FOLD = "aggregate(transform(v, x -> x * x), 0D, (acc, x) -> acc + x)"


def _semantic_flags_from(
    assign: DataFrame,
    e: DataFrame | None = None,
    backend: str = "fold",
    keep_proto: bool = False,
) -> DataFrame:
    """The SemDeDup verdict over a given 1-NN assignment (shared by the
    standalone query, q_semantic_prep and the incremental family):
    (vec_id, cent_id, n_dup_neighbors, max_cos, keep), plus the
    prototype verdict ``keep_proto`` when asked for — both from the one
    per-cluster aggregate of _cluster_stats, computed per row in the
    same projection, so no per-vector join ever brings a verdict back.

    The vectors come from ``e`` (vec_id, v) joined on vec_id, or, with
    ``e=None``, from the assignment itself (``_assign_to(...,
    carry_v=True)``). Every package caller carries them: a join back to
    a FILTERED vector scan (the incremental family's store and batch
    subsets) makes Spark inject a runtime bloom filter, a two-job
    subquery plus a 1 MiB filter inlined into every task binary.

    Members of over-cap clusters (cn > _SEM_CLUSTER_CAP) skip the
    quadratic: n=0 / keep=true / max_cos null, identical for both
    kernels. The in-cap and over-cap rows read the same
    assign x broadcast(stats) relation with the same columns, so the
    stats aggregate runs once (exchange reuse). Cluster sizes count the
    ASSIGNMENT, as the oracle's csize CTE does.

    Shape (round 6): the within-cluster quadratic is ONE in-row fold per
    member over its cluster's collected member list — not a pair join.
    A pair join materializes the full pair stream through two shuffles,
    and AQE sized the probe side by its INPUT bytes, blind to the C(n,2)
    expansion: at 108k replicated vectors the whole quadratic ran on
    1-3 tasks (measured by scripts/scaling_emb.py; stack-sampled to the
    cosine predicate). Here the member list is collected per cluster and
    exploded back to one row per member in the same stage, so the
    cent_id spread is the one exchange; parallelism follows it (cent_id
    keys >> cores, skew bounded by _SEM_CLUSTER_CAP). Per-member
    aggregates (count / max / exists) are order-independent so
    collect_list nondeterminism cannot leak, and each member's squared
    norm is computed once per cluster. Values are bit-identical: same
    sequential double folds, same round(.,4), same tie-break.

    ``backend="arrow"`` (round 7, the production path for real vector
    volume): the per-cluster quadratic runs as ONE numpy GEMM per
    cluster inside a grouped applyInArrow pass — see _member_flags_arrow.
    The 108k-vector harness measured the interpreted fold at 0.31-0.65
    scaling efficiency 8->16 cores (allocation-bound); the GEMM keeps
    the same plan shape but does the n_c^2*dim multiplies in BLAS."""
    a = assign.join(F.broadcast(_cluster_stats(assign)), "cent_id")
    extra = [_keep_proto()] if keep_proto else []
    extra_cols = ["keep_proto"] if keep_proto else []
    over = a.where(F.col("cn") > _SEM_CLUSTER_CAP).select(
        "vec_id",
        "cent_id",
        F.lit(0).cast("bigint").alias("n_dup_neighbors"),
        F.lit(None).cast("double").alias("max_cos"),
        F.lit(True).alias("keep"),
        *extra,
    )
    small = a.where(F.col("cn") <= _SEM_CLUSTER_CAP)
    if e is None:
        small = small.select("vec_id", "cent_id", "d2", *extra, "v")
    else:
        small = small.select("vec_id", "cent_id", "d2", *extra).join(e, "vec_id")
    if backend == "arrow":
        flags = _member_flags_arrow(small, extra_cols)
    else:
        # _spread on cent_id (r8): AQE coalesces the tiny-by-bytes member
        # relation to ~1 partition and would serialize the quadratic
        # fold; the explicit numbered repartition pins the layout at
        # shuffle-partition count (parallelism = #clusters). The
        # collect_list groupBy then needs no further exchange.
        members = (
            _spread(small.withColumn("n2", F.expr(_N2_FOLD)), "cent_id", force=True)
            .groupBy("cent_id")
            .agg(
                F.collect_list(
                    F.struct(
                        F.col("vec_id").alias("b_id"),
                        F.col("d2").alias("b_d2"),
                        F.col("v").alias("bv"),
                        F.col("n2").alias("b_n2"),
                        *extra_cols,
                    )
                ).alias("ms")
            )
        )
        flags = (
            members.select("cent_id", "ms", F.explode("ms").alias("me"))
            .withColumn("sem", F.expr(_MEMBER_VERDICT))
            .select(
                F.col("me.b_id").alias("vec_id"),
                "cent_id",
                F.col("sem.n").alias("n_dup_neighbors"),
                F.col("sem.mx").alias("max_cos"),
                F.col("sem.dom").alias("dominated"),
                *[F.col(f"me.{c}").alias(c) for c in extra_cols],
            )
        )
    in_cap = flags.select(
        "vec_id",
        "cent_id",
        F.coalesce("n_dup_neighbors", F.lit(0)).alias("n_dup_neighbors"),
        "max_cos",
        (~F.coalesce(F.col("dominated"), F.lit(False))).alias("keep"),
        *extra_cols,
    )
    return in_cap.unionByName(over)


# GEMM row-block size of _cos_blocks: bounds the live cos/dominance
# matrices at ~_GEMM_BLOCK x _SEM_CLUSTER_CAP doubles (~33 MB a matrix at
# cap) regardless of cluster size.
_GEMM_BLOCK = 1024


def _round4_half_up(c):
    """numpy mirror of Spark's F.round(x, 4): decimal HALF-UP, sign-aware
    (HALF_UP rounds away from zero). Values landing within one binary ulp
    of a .00005 boundary can still differ from the JVM's
    shortest-decimal-repr BigDecimal path — measure-zero on real cosine
    values; the pin tests cover the fixtures plus crafted exact ties."""
    import numpy as np

    return np.floor(np.abs(c) * 1e4 + 0.5) * np.sign(c) / 1e4


def _cos_blocks(A, B, where: str):
    """Row blocks of the cosine matrix of ``A``'s rows against ``B``'s,
    rounded half-up to 4dp like the fold kernels: yields
    ``(b0, round4(A[b0:b1] @ B.T / (|a| |b|)))`` for each _GEMM_BLOCK
    rows of ``A``, so peak memory is block x len(B) doubles. Pass
    ``B is A`` for a within-group matrix (norms computed once)."""
    import numpy as np

    an = np.sqrt((A * A).sum(axis=1))
    bn = an if B is A else np.sqrt((B * B).sum(axis=1))
    if not (an.all() and bn.all()):
        # mirror the fold kernels' contract: cosine of a zero-norm
        # vector is an ANSI DIVIDE_BY_ZERO there, not a silent
        # NaN-compares-False here
        raise ValueError(f"zero-norm embedding in {where}: cosine undefined")
    for b0 in range(0, len(A), _GEMM_BLOCK):
        b1 = min(b0 + _GEMM_BLOCK, len(A))
        yield b0, _round4_half_up(
            (A[b0:b1] @ B.T) / (an[b0:b1, None] * bn[None, :])
        )


def _member_flags_arrow(small: DataFrame, extra: list[str]) -> DataFrame:
    """Per-vector SemDeDup verdict via one GEMM per cluster.

    ``small``: (cent_id, vec_id, d2, v, *extra) restricted to in-cap
    clusters; the ``extra`` per-vector columns pass through the kernel
    unchanged.
    Each cluster reaches the kernel whole, one grouped_map_in_arrow call
    per cluster — its member list exists ONCE per task instead of riding a
    collect_list join onto every member row (the fold form's O(n_c^2*dim)
    byte amplification, VERDICT r6 #3), and the n_c^2 cosine work is
    numpy matmul instead of ~2e4 interpreted folds/s/core. Verdict
    semantics are the fold's exactly: cos rounded half-up to 4dp, dup bar
    _SEM_DUP_MIN, dominance = exists dup neighbor with (d2 DESC, vec_id
    DESC) strictly ahead. Row-blocked by _cos_blocks so peak memory is
    block x cap, not cap x cap."""

    def _cluster(tbl):
        import numpy as np
        import pyarrow as pa

        ids = tbl.column("vec_id").to_numpy()
        dd = tbl.column("d2").to_numpy()
        X = _np_matrix(tbl.column("v"), "_member_flags_arrow")
        o_n, o_mx, o_dom = [], [], []
        for b0, c in _cos_blocks(X, X, "cluster"):
            b1 = b0 + len(c)
            mask = c >= _SEM_DUP_MIN
            mask[np.arange(b1 - b0), np.arange(b0, b1)] = False
            cnt = mask.sum(axis=1)
            mx = np.where(
                cnt > 0, np.where(mask, c, -np.inf).max(axis=1), np.nan
            )
            dom = (
                mask
                & (
                    (dd[None, :] > dd[b0:b1, None])
                    | (
                        (dd[None, :] == dd[b0:b1, None])
                        & (ids[None, :] > ids[b0:b1, None])
                    )
                )
            ).any(axis=1)
            o_n.append(cnt.astype(np.int64))
            o_mx.append(mx)
            o_dom.append(dom)
        yield pa.RecordBatch.from_arrays(
            [
                pa.array(ids, type=pa.int64()),
                tbl.column("cent_id").combine_chunks(),
                pa.array(np.concatenate(o_n), type=pa.int64()),
                # NaN marks "no dup neighbors" -> null (from_pandas=True)
                pa.array(
                    np.concatenate(o_mx), type=pa.float64(), from_pandas=True
                ),
                pa.array(np.concatenate(o_dom), type=pa.bool_()),
                *[tbl.column(c).combine_chunks() for c in extra],
            ],
            names=["vec_id", "cent_id", "n_dup_neighbors", "max_cos", "dominated"]
            + extra,
        )

    from .operators.grouped import grouped_map_in_arrow

    return grouped_map_in_arrow(
        small.select("cent_id", "vec_id", "d2", "v", *extra),
        "cent_id",
        [],
        _cluster,
        "vec_id bigint, cent_id bigint, n_dup_neighbors bigint, "
        "max_cos double, dominated boolean"
        + "".join(f", {c} {small.schema[c].dataType.simpleString()}" for c in extra),
    )


def q_semantic_dedup(
    spark: SparkSession,
    sf_dir: str,
    centroids: DataFrame | None = None,
    backend: str = "fold",
) -> DataFrame:
    """SemDeDup per-vector report: every vector with its cluster, dup
    neighborhood size, max within-cluster cosine, and keep verdict.

    ``centroids=`` reuses an already-trained (cent_id, cv) relation
    (see _vectors_and_centroids); default trains from scratch.
    ``backend="arrow"`` runs assignment AND the within-cluster cosine as
    numpy GEMMs (production; verdict-pinned equal to the fold by
    tests/test_semantic_arrow.py); the registered query keeps the
    oracle-exact fold."""
    return _semantic_flags(spark, sf_dir, centroids, backend)


def q_semantic_dedup_stats(
    spark: SparkSession,
    sf_dir: str,
    centroids: DataFrame | None = None,
    flags: DataFrame | None = None,
    backend: str = "fold",
) -> DataFrame:
    """Per-cluster SemDeDup rollup — the observability a run signs off
    on: members, kept, dropped, and the drop rate in integer ppm
    (half-up integer division; float round(x, 6) ties are
    engine-dependent).

    ``flags=`` rolls up a per-vector verdict relation the pipeline
    already holds (the marginal form — same pattern as
    q_substr_dup_rate's per_doc=); ``centroids=`` shares just the
    trainer. Defaults keep the registered pure form."""
    if flags is None:
        flags = _semantic_flags(spark, sf_dir, centroids, backend)
    return (
        flags.groupBy("cent_id")
        .agg(
            F.count("*").alias("n_members"),
            F.sum(F.col("keep").cast("bigint")).alias("n_kept"),
        )
        .select(
            "cent_id",
            "n_members",
            "n_kept",
            (F.col("n_members") - F.col("n_kept")).alias("n_dropped"),
            F.expr(
                "(2 * (n_members - n_kept) * 1000000 + n_members)"
                " div (2 * n_members)"
            ).alias("drop_ppm"),
        )
    )


_SEM_COS_SQL = (
    f"round({_d_dot_sql('ea.embedding', 'eb.embedding')} / "
    f"sqrt({_d_n2_sql('ea.embedding')} * {_d_n2_sql('eb.embedding')}), 4)"
)

def _sem_assign_cte(src: str, name: str) -> str:
    """1-NN assignment of a (vec_id, embedding) relation against the
    trained cent{_KM_ITERS} centroid CTE."""
    return f"""{name} AS (
  SELECT vec_id, cent_id, d2 FROM (
    SELECT e.vec_id, c.cent_id, {_KM_D2_TRAINED_SQL} AS d2,
           row_number() OVER (PARTITION BY e.vec_id
             ORDER BY {_KM_D2_TRAINED_SQL} ASC, c.cent_id ASC) AS rnk
    FROM {src} e CROSS JOIN cent{_KM_ITERS} c
  ) WHERE rnk = 1
)"""


def _sem_verdict_ctes(assign: str, src: str, p: str) -> str:
    """The SemDeDup verdict CTE chain over an assignment CTE ``assign``
    whose vectors live in ``src`` — the SQL twin of
    _semantic_flags_from, emitted once per prefix ``p`` so the
    incremental oracle can run it over the store and again over the
    batch survivors without a hand-written third copy."""
    return f"""{p}csize AS (SELECT cent_id, count(*) AS cn FROM {assign} GROUP BY 1),
{p}small AS (
  SELECT a.* FROM {assign} a
  JOIN {p}csize s ON s.cent_id = a.cent_id
  WHERE s.cn <= {_SEM_CLUSTER_CAP}
),
{p}dup AS (
  SELECT a.vec_id, a.d2, b.vec_id AS b_id, b.d2 AS b_d2,
         {_SEM_COS_SQL} AS cos
  FROM {p}small a
  JOIN {p}small b ON b.cent_id = a.cent_id AND b.vec_id <> a.vec_id
  JOIN {src} ea ON ea.vec_id = a.vec_id
  JOIN {src} eb ON eb.vec_id = b.vec_id
  WHERE {_SEM_COS_SQL} >= {_SEM_DUP_MIN}
),
{p}agg AS (
  SELECT vec_id, count(*) AS n_dup_neighbors, max(cos) AS max_cos,
         bool_or(b_d2 > d2 OR (b_d2 = d2 AND b_id > vec_id)) AS dominated
  FROM {p}dup GROUP BY 1
),
{p}flags AS (
  SELECT a.vec_id, a.cent_id,
         CAST(coalesce(g.n_dup_neighbors, 0) AS BIGINT) AS n_dup_neighbors,
         g.max_cos,
         NOT coalesce(g.dominated, FALSE) AS keep
  FROM {assign} a LEFT JOIN {p}agg g ON g.vec_id = a.vec_id
)"""


_SEM_FLAGS_CTES = f"""{_kmeans_train_cte()},
{_sem_assign_cte("embeddings", "sd_assign")},
{_sem_verdict_ctes("sd_assign", "embeddings", "sd_")}"""

SQL_SEMANTIC_DEDUP = f"""WITH {_SEM_FLAGS_CTES}
SELECT vec_id, cent_id, n_dup_neighbors, max_cos, keep FROM sd_flags
"""

SQL_SEMANTIC_DEDUP_STATS = f"""WITH {_SEM_FLAGS_CTES}
SELECT cent_id,
       count(*) AS n_members,
       CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       CAST(count(*) - sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT)
         AS n_dropped,
       CAST((2 * (count(*) - sum(CASE WHEN keep THEN 1 ELSE 0 END)) * 1000000
             + count(*)) // (2 * count(*)) AS BIGINT) AS drop_ppm
FROM sd_flags
GROUP BY cent_id
"""


# ---------------------------------------------------------------------------
# cluster_prototypes / semantic_prep — D4 (Tirumala et al. 2023,
# arXiv:2308.12284) composes SemDeDup with PROTOTYPICALITY pruning
# (SSL Prototypes, Sorscher et al. 2022): after semantic dedup, also drop
# the most prototypical survivors — the dense core nearest each centroid
# carries the least marginal information for training.
# ---------------------------------------------------------------------------

# Keep a vector iff its squared distance to its centroid EXCEEDS
# alpha * the cluster's mean squared distance. The paper prunes a fixed
# fraction by rank; the mean-relative rule is the skew-safe deterministic
# variant (one partial agg per cluster — no per-cluster sort/window), and
# is scale-free across clusters of different tightness. In high
# dimension d2 concentrates hard around the mean (measured here: d2/mean
# spans ~[0.69, 1.13] at 64 dims), so alpha sits close to 1; a real run
# tunes it to the target prune fraction.
_PROTO_ALPHA = 0.95


def q_cluster_prototypes(
    spark: SparkSession,
    sf_dir: str,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """Prototypicality report per vector: cluster, distance to centroid,
    cluster mean distance, and the prune verdict (keep_proto=false marks
    the prototypical core). One broadcast join of the k-row mean table —
    no window, no quadratic. ``centroids=`` shares a held trainer."""
    e, cent = _vectors_and_centroids(spark, sf_dir, centroids)
    # _barrier: the assignment is read twice (the mean + the join).
    # d2 itself is the same in-row fold q_kmeans_train ranks by, so the
    # keep comparison is engine-deterministic.
    assign = _barrier(
        _assign_to(e, cent, 1).select("vec_id", "cent_id", "d2")
    )
    stats = _cluster_stats(assign).select("cent_id", "mean_d2")
    return assign.join(F.broadcast(stats), "cent_id").select(
        "vec_id",
        "cent_id",
        F.round(F.col("d2").cast("double"), 4).alias("d2"),
        "mean_d2",
        _keep_proto(),
    )


def q_semantic_prep(
    spark: SparkSession,
    sf_dir: str,
    centroids: DataFrame | None = None,
    backend: str = "fold",
) -> DataFrame:
    """The composed D4 pipeline verdict: SemDeDup keep AND prototype
    keep, per vector. keep = survives BOTH the within-cluster duplicate
    dominance rule and the prototypical-core prune. The two flag
    families share one trainer/assignment plan; ``centroids=`` extends
    the sharing across queries (one trainer job per pipeline run).
    ``backend="arrow"`` routes trainer, assignment, and the member
    cosine through the GEMM kernels (production path)."""
    e, cent = _vectors_and_centroids(spark, sf_dir, centroids, backend)
    # _barrier: the verdict chain reads the assignment 3x (the cluster
    # stats, the in-cap and the over-cap rows) — 3 re-executions of the
    # fold without it
    assign = _barrier(_assign_to(e, cent, 1, backend=backend, carry_v=True))
    return _semantic_flags_from(
        assign, backend=backend, keep_proto=True
    ).select(
        "vec_id",
        "cent_id",
        F.col("keep").alias("keep_dedup"),
        "keep_proto",
        (F.col("keep") & F.col("keep_proto")).alias("keep"),
    )


_SEM_PROTO_CTES = f"""{_SEM_FLAGS_CTES},
sp_mean AS (
  SELECT cent_id,
         round(CAST(sum(CAST(round(d2, 9) AS DECIMAL(25,9))) AS DOUBLE)
               / count(*), 6) AS mean_d2
  FROM sd_assign GROUP BY 1
),
sp_flags AS (
  SELECT a.vec_id, a.cent_id, a.d2, m.mean_d2,
         a.d2 > {_PROTO_ALPHA} * m.mean_d2 AS keep_proto
  FROM sd_assign a JOIN sp_mean m ON m.cent_id = a.cent_id
)"""

SQL_CLUSTER_PROTOTYPES = f"""WITH {_SEM_PROTO_CTES}
SELECT vec_id, cent_id, round(d2, 4) AS d2, mean_d2, keep_proto
FROM sp_flags
"""

SQL_SEMANTIC_PREP = f"""WITH {_SEM_PROTO_CTES}
SELECT f.vec_id, f.cent_id,
       f.keep AS keep_dedup,
       p.keep_proto,
       f.keep AND p.keep_proto AS keep
FROM sd_flags f JOIN sp_flags p ON p.vec_id = f.vec_id
"""


# ---------------------------------------------------------------------------
# semantic_dedup_incremental — the daily-crawl shape for embeddings
# ---------------------------------------------------------------------------
#
# The substring family has the incremental/index shape
# (queries_substr.dedup_against_index, streaming/dedup_daemon.py); this
# is its semantic twin: a NEW embedding batch is assigned to STORED
# centroids (never retrained on arrival), compared ONLY against the
# stored KEPT members of its own cluster (store hits are dropped
# outright — the store already owns that content), and the store misses
# SemDeDup-dedup among themselves within the batch. Mirrors
# _incremental_removal_starts' hit/miss policy exactly.

_SEM_NEW_MOD = 10  # registered query: vec_id % 10 >= 8 is the "new" batch


def _store_compare_arrow(nv: DataFrame, small_k: DataFrame) -> DataFrame:
    """New-vs-stored-kept dup counts via one new x kept GEMM per cluster.

    ``nv``: (vec_id, cent_id, v) the assigned new batch; ``small_k``:
    (vec_id, cent_id, v) stored-kept rows of in-cap clusters. Both sides
    stream through ONE grouped_map_in_arrow pass as a tagged union, one
    call per cluster sorted by is_new — kept rows lead, so the group
    splits at the first is_new=1 row and _cos_blocks computes
    round4(Xn @ K.T / norms) row-blocked. Emits (vec_id, n_store_dups)
    only for new vectors with >= 1 stored dup — exactly the fold form's
    inner-join + where(nsd > 0) relation. Clusters with no kept side
    (the fold's inner join drops them) or no new side emit nothing."""

    def _cluster(tbl):
        import numpy as np
        import pyarrow as pa

        X = _np_matrix(tbl.column("v"), "_store_compare_arrow")
        # sorted by is_new, so the kept rows lead the group
        nk = int(np.searchsorted(tbl.column("is_new").to_numpy(), 1))
        if nk == 0 or nk == len(X):
            return  # no kept side or no new side in this cluster
        ids_n = tbl.column("vec_id").to_numpy()[nk:]
        o_vid, o_n = [], []
        for b0, c in _cos_blocks(X[nk:], X[:nk], "store compare"):
            cnt = (c >= _SEM_DUP_MIN).sum(axis=1)
            hit = cnt > 0
            o_vid.append(ids_n[b0 : b0 + len(c)][hit])
            o_n.append(cnt[hit].astype(np.int64))
        yield pa.RecordBatch.from_arrays(
            [
                pa.array(np.concatenate(o_vid), type=pa.int64()),
                pa.array(np.concatenate(o_n), type=pa.int64()),
            ],
            names=["vec_id", "n_store_dups"],
        )

    from .operators.grouped import grouped_map_in_arrow

    un = small_k.select(
        "cent_id", F.lit(0).alias("is_new"), "vec_id", "v"
    ).unionByName(nv.select("cent_id", F.lit(1).alias("is_new"), "vec_id", "v"))
    return grouped_map_in_arrow(
        un,
        "cent_id",
        ["is_new"],
        _cluster,
        "vec_id bigint, n_store_dups bigint",
    )


def semantic_incremental_verdicts(
    new: DataFrame,
    stored_kept: DataFrame,
    cent: DataFrame,
    backend: str = "fold",
) -> DataFrame:
    """Pipeline API: per-NEW-vector incremental verdict.

    ``new``: (vec_id, v double[]) batch; ``stored_kept``: (vec_id,
    cent_id, v) the store's already-kept members; ``cent``: the STORED
    (cent_id, cv) centroids. Output per new vector: cluster, number of
    stored-kept duplicates (cos >= _SEM_DUP_MIN), store_dup, and keep
    (survived the store AND not dominated within the batch survivors).

    Scale: centroid assignment is a broadcast of the k-row centroid
    table; the store compare joins the batch against stored-kept rows
    keyed on cent_id with the same _SEM_CLUSTER_CAP guard as the batch
    family (an over-cap store cluster skips the compare rather than
    detonating a quadratic — observable via n_store_dups = 0); the
    batch-internal pass reuses _semantic_flags_from. No window over a
    skewable key; the store relation never joins itself.

    ``backend="arrow"`` (production) runs all three cosine kernels —
    centroid assignment, the new-vs-stored-kept compare
    (_store_compare_arrow: one new x kept GEMM per cluster), and the
    batch-internal member fold — in numpy; verdicts pinned identical to
    the fold by tests/test_semantic_arrow.py."""
    # Barrier (the corpus_prep_final pattern):
    # n_assign is referenced three times below (the compare input, the
    # survivor anti-join, the final left join) and cmp twice — Spark has
    # no common-subtree materialization, so without a barrier one action
    # executes the batch-assignment kernel 3x and the store-compare
    # kernel 2x (measured 7.94 s -> 2.80 s per arrival at sf0.1,
    # verdicts identical). A production arrival job materializes the
    # batch's assignment and verdicts anyway — they land in the store.
    n_assign = _barrier(_assign_to(new, cent, 1, backend=backend, carry_v=True))
    ksize = stored_kept.groupBy("cent_id").agg(F.count("*").alias("kn"))
    small_k = stored_kept.join(
        F.broadcast(
            ksize.where(F.col("kn") <= _SEM_CLUSTER_CAP).select("cent_id")
        ),
        "cent_id",
    )
    if backend == "arrow":
        cmp = _store_compare_arrow(
            n_assign.select("vec_id", "cent_id", "v"), small_k
        ).transform(_barrier)
    else:
        nv = n_assign.select("vec_id", "cent_id", "v").withColumn(
            "n2", F.expr(_N2_FOLD)
        )
        # store compare as ONE in-row pass per new vector over its
        # cluster's collected kept list (same round-6 shape as
        # _semantic_flags_from: no pair stream for AQE to mis-size, kept
        # norms computed once per stored vector instead of once per
        # pair, count is order-independent so collect_list
        # nondeterminism cannot leak)
        k_members = (
            _spread(
                small_k.withColumn("kn2", _n2_double(F.col("v"))),
                "cent_id",
                force=True,
            )
            .groupBy("cent_id")
            .agg(
                F.collect_list(
                    F.struct(
                        F.col("v").alias("kv"), F.col("kn2").alias("k_n2")
                    )
                ).alias("ks")
            )
        )
        n_store = F.size(
            F.filter(
                F.col("ks"),
                lambda m: F.round(
                    _fold_double(
                        F.zip_with(F.col("v"), m["kv"], lambda x, y: x * y)
                    )
                    / F.sqrt(F.col("n2") * m["k_n2"]),
                    4,
                )
                >= F.lit(_SEM_DUP_MIN),
            )
        )
        # same r8 pin as _semantic_flags_from: the per-new-vector fold
        # over the kept list is a projection over this cent_id join —
        # pin its layout so AQE's byte-based coalescing cannot
        # serialize it
        cmp = (
            _spread(nv, "cent_id", force=True)
            .join(k_members, "cent_id")
            .withColumn("nsd", n_store)
            .where(F.col("nsd") > 0)
            .select(
                "vec_id", F.col("nsd").cast("bigint").alias("n_store_dups")
            )
            .transform(_barrier)
        )
    surv = n_assign.join(cmp, "vec_id", "left_anti")
    b_flags = _semantic_flags_from(surv, backend=backend).select(
        "vec_id", F.col("keep").alias("batch_keep")
    )
    return (
        n_assign.join(cmp, "vec_id", "left")
        .join(b_flags, "vec_id", "left")
        .select(
            "vec_id",
            "cent_id",
            F.coalesce("n_store_dups", F.lit(0))
            .cast("bigint")
            .alias("n_store_dups"),
            (F.coalesce("n_store_dups", F.lit(0)) > 0).alias("store_dup"),
            F.coalesce("batch_keep", F.lit(False)).alias("keep"),
        )
    )


def q_semantic_dedup_incremental(
    spark: SparkSession,
    sf_dir: str,
    centroids: DataFrame | None = None,
    backend: str = "fold",
) -> DataFrame:
    """Registered driver form (store derived in-plan so the oracle can
    recompute it): vec_id % 10 < 8 is the EXISTING store, the rest the
    new batch. Centroids train on the STORE ONLY (the daily-crawl
    discipline: arrival never retrains the quantizer); the store's own
    kept set comes from the standard SemDeDup verdict over the store.
    ``centroids=`` substitutes a held stored-centroid relation (e.g.
    the ann_ivf_trained artifact) for the in-plan trainer.
    ``backend="arrow"`` routes every cosine kernel (trainer, both
    assignments, store compare, batch member fold) through the GEMM
    path; the registered query keeps the oracle-exact fold."""
    e = _vectors(spark, sf_dir)
    store = e.where(F.col("vec_id") % _SEM_NEW_MOD < 8)
    new = e.where(F.col("vec_id") % _SEM_NEW_MOD >= 8)
    if centroids is None:
        _, cent = _trained_centroids(spark, sf_dir, e=store, backend=backend)
    else:
        cent = centroids
    s_assign = _barrier(_assign_to(store, cent, 1, backend=backend, carry_v=True))
    s_keep = (
        _semantic_flags_from(s_assign, backend=backend)
        .where(F.col("keep"))
        .select("vec_id")
    )
    # Barrier the derived store: stored_kept
    # feeds both the size guard and the kept-list collect inside
    # semantic_incremental_verdicts, and the s_assign/flags subtree
    # above it would otherwise execute once per reference (measured
    # 12.5 s -> 2.7 s per force with held centroids at sf0.1, values
    # identical). In production the store IS a materialized table;
    # this in-plan derivation exists so the DuckDB oracle can recompute
    # it, and the barrier makes the plan pay for it once, like the
    # table it stands in for.
    stored_kept = _barrier(
        s_assign.select("vec_id", "cent_id", "v").join(s_keep, "vec_id")
    )
    return semantic_incremental_verdicts(new, stored_kept, cent, backend)


_SEM_INC_CTES = f"""store_emb AS (
  SELECT * FROM embeddings WHERE vec_id % {_SEM_NEW_MOD} < 8
),
new_emb AS (
  SELECT * FROM embeddings WHERE vec_id % {_SEM_NEW_MOD} >= 8
),
{_kmeans_train_cte(src="store_emb")},
{_sem_assign_cte("store_emb", "st_assign")},
{_sem_verdict_ctes("st_assign", "store_emb", "st_")},
sk AS (
  SELECT a.vec_id, a.cent_id FROM st_assign a
  JOIN st_flags f ON f.vec_id = a.vec_id
  WHERE f.keep
),
ksize AS (SELECT cent_id, count(*) AS kn FROM sk GROUP BY 1),
{_sem_assign_cte("new_emb", "ni_assign")},
scmp AS (
  SELECT a.vec_id, count(*) AS n_store_dups
  FROM ni_assign a
  JOIN ksize z ON z.cent_id = a.cent_id AND z.kn <= {_SEM_CLUSTER_CAP}
  JOIN sk k ON k.cent_id = a.cent_id
  JOIN new_emb ea ON ea.vec_id = a.vec_id
  JOIN store_emb eb ON eb.vec_id = k.vec_id
  WHERE {_SEM_COS_SQL} >= {_SEM_DUP_MIN}
  GROUP BY 1
),
bsurv AS (
  SELECT * FROM ni_assign
  WHERE vec_id NOT IN (SELECT vec_id FROM scmp)
),
{_sem_verdict_ctes("bsurv", "new_emb", "bt_")},
inc_verdicts AS (
  SELECT n.vec_id, n.cent_id,
         CAST(coalesce(c.n_store_dups, 0) AS BIGINT) AS n_store_dups,
         coalesce(c.n_store_dups, 0) > 0 AS store_dup,
         coalesce(b.keep, FALSE) AS keep
  FROM ni_assign n
  LEFT JOIN scmp c ON c.vec_id = n.vec_id
  LEFT JOIN bt_flags b ON b.vec_id = n.vec_id
)"""

SQL_SEMANTIC_DEDUP_INCREMENTAL = f"""WITH {_SEM_INC_CTES}
SELECT vec_id, cent_id, n_store_dups, store_dup, keep FROM inc_verdicts
"""


def q_semantic_dedup_incremental_stats(
    spark: SparkSession,
    sf_dir: str,
    centroids: DataFrame | None = None,
    verdicts: DataFrame | None = None,
    backend: str = "fold",
) -> DataFrame:
    """Per-cluster rollup of the incremental verdicts — what a daily
    merge signs off on: batch arrivals, store-duplicate drops,
    within-batch drops, keeps, and the total drop rate in integer ppm
    (the established half-up `(2a*10^6+b) div (2b)` pattern).
    ``verdicts=`` rolls up a held per-vector relation (the marginal
    form); ``centroids=`` shares just the quantizer."""
    if verdicts is None:
        verdicts = q_semantic_dedup_incremental(
            spark, sf_dir, centroids, backend
        )
    k = F.col("keep").cast("int")
    s = F.col("store_dup").cast("int")
    agg = verdicts.groupBy("cent_id").agg(
        F.count("*").alias("n_new"),
        F.sum(s).cast("bigint").alias("n_store_dup"),
        F.sum((1 - k) * (1 - s)).cast("bigint").alias("n_batch_dropped"),
        F.sum(k).cast("bigint").alias("n_kept"),
    )
    return agg.withColumn(
        "drop_ppm",
        F.expr(
            "CAST((2 * (n_new - n_kept) * 1000000 + n_new)"
            " div (2 * n_new) AS BIGINT)"
        ),
    )


SQL_SEMANTIC_DEDUP_INCREMENTAL_STATS = f"""WITH {_SEM_INC_CTES}
SELECT cent_id,
       count(*) AS n_new,
       CAST(sum(CASE WHEN store_dup THEN 1 ELSE 0 END) AS BIGINT)
         AS n_store_dup,
       CAST(sum(CASE WHEN NOT keep AND NOT store_dup THEN 1 ELSE 0 END)
            AS BIGINT) AS n_batch_dropped,
       CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       CAST((2 * (count(*) - sum(CASE WHEN keep THEN 1 ELSE 0 END)) * 1000000
             + count(*)) // (2 * count(*)) AS BIGINT) AS drop_ppm
FROM inc_verdicts
GROUP BY cent_id
"""


_ALLOWLIST = ("3", "7", "12", "9999991")  # last id never exists


def q_allowlist_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F8: keep only allowlisted doc ids, fall back to ALL docs when
    nothing matches (reference pytorch_dataset.py:293-301)."""
    docs = _docs(spark, sf_dir).select(F.col("doc_id").cast("string").alias("doc_id"))
    ids = list(_ALLOWLIST)
    n_match = docs.where(F.col("doc_id").isin(ids)).agg(
        F.count("*").alias("_c")
    )
    return (
        docs.crossJoin(F.broadcast(n_match))
        .where(F.col("doc_id").isin(ids) | (F.col("_c") == 0))
        .select("doc_id")
    )


SQL_ALLOWLIST_FILTER = f"""
WITH d AS (SELECT CAST(doc_id AS VARCHAR) AS doc_id FROM documents),
m AS (SELECT count(*) AS c FROM d WHERE doc_id IN {_ALLOWLIST!r})
SELECT doc_id FROM d, m WHERE doc_id IN {_ALLOWLIST!r} OR m.c = 0
"""


SQL_ANN_RECALL = f"""WITH b AS ({SQL_ANN_LSH_BUCKET}),
qb AS (SELECT vec_id AS q_id, bucket FROM b WHERE vec_id < {_N_QUERIES}),
cands AS (
  SELECT qb.q_id, b.vec_id AS cand_id
  FROM b JOIN qb ON qb.bucket = b.bucket AND b.vec_id <> qb.q_id
),
n_cand AS (SELECT q_id, count(*) AS n_candidates FROM cands GROUP BY 1),
truth AS ({SQL_ANN_COSINE_TOPK}),
hits AS (
  SELECT t.q_id, count(*) AS n_hits
  FROM truth t JOIN cands c ON c.q_id = t.q_id AND c.cand_id = t.cand_id
  GROUP BY 1
)
SELECT qb.q_id,
       coalesce(n.n_candidates, 0) AS n_candidates,
       coalesce(h.n_hits, 0) AS n_hits,
       round(coalesce(h.n_hits, 0) / {_TOP_K}, 6) AS recall
FROM qb LEFT JOIN n_cand n ON n.q_id = qb.q_id
        LEFT JOIN hits h ON h.q_id = qb.q_id
"""


QUERIES: dict[str, tuple] = {
    "embedding_near_dup": (q_embedding_near_dup, SQL_EMBEDDING_NEAR_DUP),
    "embedding_near_dup_lsh": (q_embedding_near_dup_lsh, SQL_EMBEDDING_NEAR_DUP_LSH),
    "allowlist_filter": (q_allowlist_filter, SQL_ALLOWLIST_FILTER),
    "dedup_exact": (q_dedup_exact, SQL_DEDUP_EXACT),
    "ngram_jaccard": (q_ngram_jaccard, SQL_NGRAM_JACCARD),
    "ngram_posting_drops": (q_ngram_posting_drops, SQL_NGRAM_POSTING_DROPS),
    "minhash_sig": (q_minhash_sig, SQL_MINHASH_SIG),
    "minhash_lsh": (q_minhash_lsh, SQL_MINHASH_LSH),
    "minhash_lsh_stats": (q_minhash_lsh_stats, SQL_MINHASH_LSH_STATS),
    "minhash_jaccard_verify": (q_minhash_jaccard_verify, SQL_MINHASH_JACCARD_VERIFY),
    "near_dup_components": (q_near_dup_components, SQL_NEAR_DUP_COMPONENTS),
    "dedup_corpus": (q_dedup_corpus, SQL_DEDUP_CORPUS),
    "dedup_best_of_cluster": (q_dedup_best_of_cluster, SQL_DEDUP_BEST_OF_CLUSTER),
    "simhash": (q_simhash, SQL_SIMHASH),
    "simhash_near": (q_simhash_near, SQL_SIMHASH_NEAR),
    "simhash_near_stats": (q_simhash_near_stats, SQL_SIMHASH_NEAR_STATS),
    "token_stats": (q_token_stats, SQL_TOKEN_STATS),
    "length_percentiles": (q_length_percentiles, SQL_LENGTH_PERCENTILES),
    "length_percentiles_agg": (q_length_percentiles_agg, SQL_LENGTH_PERCENTILES),
    "top_terms": (q_top_terms, SQL_TOP_TERMS),
    "tfidf_top_terms": (q_tfidf_top_terms, SQL_TFIDF_TOP_TERMS),
    "quality_score": (q_quality_score, SQL_QUALITY_SCORE),
    "lang_id": (q_lang_id, SQL_LANG_ID),
    "doc_fingerprint": (q_doc_fingerprint, SQL_DOC_FINGERPRINT),
    "ann_cosine_topk": (q_ann_cosine_topk, SQL_ANN_COSINE_TOPK),
    "ann_lsh_bucket": (q_ann_lsh_bucket, SQL_ANN_LSH_BUCKET),
    "ann_ivf_assign": (q_ann_ivf_assign, SQL_ANN_IVF_ASSIGN),
    "ann_ivf_probe": (q_ann_ivf_probe, SQL_ANN_IVF_PROBE),
    "kmeans_step": (q_kmeans_step, SQL_KMEANS_STEP),
    "kmeans_train": (q_kmeans_train, SQL_KMEANS_TRAIN),
    "ann_ivf_trained": (q_ann_ivf_trained, SQL_ANN_IVF_TRAINED),
    "ann_recall": (q_ann_recall, SQL_ANN_RECALL),
    "embedding_label_stats": (q_embedding_label_stats, SQL_EMBEDDING_LABEL_STATS),
    "semantic_dedup": (q_semantic_dedup, SQL_SEMANTIC_DEDUP),
    "semantic_dedup_stats": (q_semantic_dedup_stats, SQL_SEMANTIC_DEDUP_STATS),
    "cluster_prototypes": (q_cluster_prototypes, SQL_CLUSTER_PROTOTYPES),
    "semantic_prep": (q_semantic_prep, SQL_SEMANTIC_PREP),
    "semantic_dedup_incremental": (
        q_semantic_dedup_incremental,
        SQL_SEMANTIC_DEDUP_INCREMENTAL,
    ),
    "semantic_dedup_incremental_stats": (
        q_semantic_dedup_incremental_stats,
        SQL_SEMANTIC_DEDUP_INCREMENTAL_STATS,
    ),
}
