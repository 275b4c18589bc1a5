"""Driver-contract queries: corpus hygiene and assembly — the operators
a training-data pipeline runs before and after everything else.

Hygiene: Gopher repetition signals (``quality_repetition``), PII
detection/redaction (``pii_scrub``), benchmark decontamination
(``decontaminate``), CCNet-style LM scoring (``unigram_logprob``), and
the composed C4/Gopher keep-or-drop gate (``quality_filter``).
Assembly: corpus mixing (``mixture_stats``), deterministic stratified
sampling (``stratified_sample``), sliding-window chunking
(``doc_chunking``), GPT-style token-offset packing (``pack_blocks``),
and the composed end-to-end deliverable (``corpus_prep``).

No reference counterpart (the reference pipeline stops at OCR cleanup);
these extend the engine the way a 100 TB pretraining corpus needs.

Scale notes
-----------
* Scan-local (zero shuffles, zero Python, gate-pinned):
  ``quality_repetition`` and ``quality_filter`` (in-row sorted-run
  folds), ``pii_scrub`` (three JVM regexp kernels),
  ``stratified_sample`` (md5-bucket filter), ``doc_chunking``
  (sequence+slice+posexplode). The PII enrichment stage exists only
  because the synthetic corpus contains no PII to find (same
  build-then-process discipline as queries_refine).
* ``decontaminate`` broadcasts the probe-shingle set (a benchmark
  suite's n-grams are tiny next to the corpus) so the only shuffle is
  the per-doc hit count; the corpus relation is never self-joined.
* ``pack_blocks``/``corpus_prep`` compute exact global token offsets
  via the F7 two-phase prefix sum — no single-partition window over
  the data.
* ``unigram_logprob`` broadcasts the vocabulary-sized frequency table
  and folds per-doc logprobs in a deterministic in-row order (float
  ``avg()`` is order-dependent and would never hash-match).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pyspark.sql.window import Window

from .queries_corpus import (
    _HEX15_SQL,
    _NORM_CTE,
    _NORM_SQL,
    _SHINGLE_CTE,
    _docs,
    _hex15,
    _norm_docs,
    _shingles,
    positional_ngrams,
)

# ---------------------------------------------------------------------------
# quality_repetition — Gopher-style repetition signals
# ---------------------------------------------------------------------------


def _run_fold(sorted_grams: F.Column):
    """One pass over a sorted gram array -> (count, gram) of the most
    frequent gram; ties break to the lexicographically smallest (strict
    > keeps the first run encountered in sorted order)."""

    def step(acc, x):
        run = F.when(x == acc.prev, acc.run + F.lit(1)).otherwise(F.lit(1))
        return F.struct(
            x.alias("prev"),
            run.alias("run"),
            F.greatest(run, acc.best).alias("best"),
            F.when(run > acc.best, x).otherwise(acc.bestg).alias("bestg"),
        )

    zero = F.struct(
        F.lit("").alias("prev"),
        F.lit(0).alias("run"),
        F.lit(0).alias("best"),
        F.lit("").alias("bestg"),
    )
    return F.aggregate(sorted_grams, zero, step)


def q_quality_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition quality signals (the Gopher rules 'fraction of
    characters in the most common 2-gram' and 'fraction of duplicated
    5-gram occurrences'), computed in-row: sort the gram array, fold
    runs for the mode, mark duplicate occurrences by adjacent equality.
    Zero shuffles — the whole operator rides the document scan."""
    nd = _norm_docs(spark, sf_dir).withColumn("t", F.split("norm", " "))
    d = (
        nd.withColumn("s2", F.array_sort(positional_ngrams("t", 2)))
        .withColumn("s5", F.array_sort(positional_ngrams("t", 5)))
        .withColumn("acc", _run_fold(F.col("s2")))
    )
    m = F.size("s5")
    eq_prev = F.concat(
        F.array(F.lit(False)),
        F.zip_with(
            F.slice("s5", 2, m - 1), F.slice("s5", 1, m - 1), lambda a, b: a == b
        ),
    )
    eq_next = F.concat(
        F.zip_with(
            F.slice("s5", 2, m - 1), F.slice("s5", 1, m - 1), lambda a, b: a == b
        ),
        F.array(F.lit(False)),
    )
    dup_occ = F.size(
        F.filter(F.zip_with(eq_prev, eq_next, lambda a, b: a | b), lambda x: x)
    )
    return d.where(F.size("t") >= 5).select(
        "doc_id",
        F.size("t").alias("n_tokens"),
        F.col("acc.bestg").alias("top2_gram"),
        F.col("acc.best").alias("top2_count"),
        F.round(
            F.col("acc.best") * F.length("acc.bestg") / F.length("norm"), 6
        ).alias("top2_char_frac"),
        F.round(dup_occ / m, 6).alias("dup5_frac"),
    )


SQL_QUALITY_REPETITION = f"""WITH {_NORM_CTE},
t AS (
  SELECT doc_id, norm, string_split(norm, ' ') AS tk FROM norm_docs
  WHERE len(string_split(norm, ' ')) >= 5
),
g2 AS (
  SELECT doc_id, unnest(list_transform(range(1, len(tk)),
                                       i -> tk[i] || ' ' || tk[i+1])) AS g
  FROM t
),
c2 AS (SELECT doc_id, g, count(*) AS n FROM g2 GROUP BY 1, 2),
top2 AS (
  SELECT doc_id, g, n FROM (
    SELECT doc_id, g, n,
           row_number() OVER (PARTITION BY doc_id ORDER BY n DESC, g ASC) AS r
    FROM c2) WHERE r = 1
),
g5 AS (
  SELECT doc_id, unnest(list_transform(range(1, len(tk) - 3),
      i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3] || ' ' || tk[i+4])) AS g
  FROM t
),
c5 AS (SELECT doc_id, g, count(*) AS n FROM g5 GROUP BY 1, 2),
d5 AS (
  SELECT doc_id,
         CAST(sum(CASE WHEN n >= 2 THEN n ELSE 0 END) AS BIGINT) AS dup_occ,
         CAST(sum(n) AS BIGINT) AS m
  FROM c5 GROUP BY 1
)
SELECT t.doc_id,
       len(tk) AS n_tokens,
       top2.g AS top2_gram,
       top2.n AS top2_count,
       round(top2.n * length(top2.g) / length(t.norm), 6) AS top2_char_frac,
       round(d5.dup_occ / d5.m, 6) AS dup5_frac
FROM t JOIN top2 ON top2.doc_id = t.doc_id JOIN d5 ON d5.doc_id = t.doc_id
"""

# ---------------------------------------------------------------------------
# pii_scrub — detect and redact PII spans
# ---------------------------------------------------------------------------

# Lookaround-free patterns so the SAME regex runs under Java regex
# (Spark) and RE2 (DuckDB).
_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z][A-Za-z]+"
_IP_RE = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
_PHONE_RE = r"\+\d{1,2} \d{3}-\d{3}-\d{4}"


def _pii_enrich_spark(doc_id: F.Column, text: F.Column) -> F.Column:
    ds = doc_id.cast("string")
    return F.concat(
        text,
        F.lit(" contact user"),
        ds,
        F.lit("@example.com ip 10."),
        (doc_id % 200).cast("string"),
        F.lit("."),
        (doc_id % 250).cast("string"),
        F.lit("."),
        (doc_id % 99).cast("string"),
        F.lit(" call +1 555-"),
        F.lpad((doc_id % 1000).cast("string"), 3, "0"),
        F.lit("-"),
        F.lpad((doc_id % 10000).cast("string"), 4, "0"),
    )


_PII_ENRICH_SQL = (
    "text || ' contact user' || CAST(doc_id AS VARCHAR)"
    " || '@example.com ip 10.' || CAST(doc_id % 200 AS VARCHAR)"
    " || '.' || CAST(doc_id % 250 AS VARCHAR)"
    " || '.' || CAST(doc_id % 99 AS VARCHAR)"
    " || ' call +1 555-' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')"
    " || '-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')"
)


def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing: per-doc counts of email / IPv4 / phone matches and
    the fully redacted text, plus a residual count pinned at 0 (the
    redaction provably removed every match). Three regexp kernels on one
    scan, no shuffle. The enrichment stage plants deterministic PII
    because the synthetic corpus has none — a real corpus drops it."""
    d = _docs(spark, sf_dir).select(
        "doc_id", _pii_enrich_spark(F.col("doc_id"), F.col("text")).alias("enriched")
    )
    red = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace("enriched", _EMAIL_RE, "<EMAIL>"), _IP_RE, "<IP>"
        ),
        _PHONE_RE,
        "<PHONE>",
    )
    d = d.withColumn("redacted", red)
    residual = (
        F.regexp_count("redacted", F.lit(_EMAIL_RE))
        + F.regexp_count("redacted", F.lit(_IP_RE))
        + F.regexp_count("redacted", F.lit(_PHONE_RE))
    )
    return d.select(
        "doc_id",
        F.regexp_count("enriched", F.lit(_EMAIL_RE)).alias("n_email"),
        F.regexp_count("enriched", F.lit(_IP_RE)).alias("n_ip"),
        F.regexp_count("enriched", F.lit(_PHONE_RE)).alias("n_phone"),
        F.col("redacted"),
        residual.alias("n_residual"),
    )


def _sql_count(col: str, pat: str) -> str:
    return f"len(regexp_extract_all({col}, '{pat}'))"


SQL_PII_SCRUB = f"""WITH e AS (
  SELECT doc_id, {_PII_ENRICH_SQL} AS enriched FROM documents
),
r AS (
  SELECT doc_id, enriched,
         regexp_replace(regexp_replace(regexp_replace(enriched,
             '{_EMAIL_RE}', '<EMAIL>', 'g'),
             '{_IP_RE}', '<IP>', 'g'),
             '{_PHONE_RE}', '<PHONE>', 'g') AS redacted
  FROM e
)
SELECT doc_id,
       {_sql_count('enriched', _EMAIL_RE)} AS n_email,
       {_sql_count('enriched', _IP_RE)} AS n_ip,
       {_sql_count('enriched', _PHONE_RE)} AS n_phone,
       redacted,
       {_sql_count('redacted', _EMAIL_RE)}
         + {_sql_count('redacted', _IP_RE)}
         + {_sql_count('redacted', _PHONE_RE)} AS n_residual
FROM r
"""

# ---------------------------------------------------------------------------
# decontaminate — benchmark n-gram overlap flagging
# ---------------------------------------------------------------------------

_PROBE_MOD = 97


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag corpus documents sharing any word
    3-gram with the probe set (docs with doc_id % 97 == 0 stand in for a
    benchmark suite's text — a real run reads the benchmark file
    instead). The probe shingle set is broadcast (benchmarks are tiny
    next to a 100 TB corpus), so the only shuffle is the per-doc hit
    count; the corpus is never self-joined."""
    return _q_decontaminate_from(spark, sf_dir, _shingles(spark, sf_dir))


# Above this many probe shingles, stop broadcasting: a broadcast relation
# is materialized on the driver and every executor; a multi-benchmark
# probe set (or a leaked-document blocklist) can reach GBs, where the
# keyed shuffle join is the right plan. ~64 bytes/shingle * 4M ~ 256 MB,
# past the configured autoBroadcastJoinThreshold headroom.
_PROBE_BROADCAST_MAX = 4_000_000


def decontaminate(
    spark: SparkSession,
    sf_dir: str,
    probe_broadcast_max: int = _PROBE_BROADCAST_MAX,
) -> DataFrame:
    """Production entry point: counts the probe set once (a cheap
    distinct-count over the tiny benchmark side) and picks broadcast vs
    keyed join by the size guard. Both paths are row-identical — pinned
    by tests/test_corpus_prep.py::test_decontaminate_paths_equal."""
    sh = _shingles(spark, sf_dir)
    n_probe = (
        sh.where(F.col("doc_id") % _PROBE_MOD == 0)
        .select("shingle")
        .distinct()
        .count()
    )
    return _q_decontaminate_from(
        spark, sf_dir, sh, use_broadcast=n_probe <= probe_broadcast_max
    )


def q_decontaminate_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The keyed-join fallback path as a registered query (same oracle as
    q_decontaminate — the plans differ, the rows must not): shuffle join
    on the shingle key for probe sets past the broadcast threshold."""
    return _q_decontaminate_from(
        spark, sf_dir, _shingles(spark, sf_dir), use_broadcast=False
    )


def _probe_hits(sh: DataFrame, use_broadcast: bool = True) -> DataFrame:
    """(doc_id, n_hits) of every non-probe doc sharing at least one
    shingle with the probe docs."""
    probe = (
        sh.where(F.col("doc_id") % _PROBE_MOD == 0)
        .select("shingle")
        .distinct()
    )
    if use_broadcast:
        probe = F.broadcast(probe)
    corpus_sh = sh.where(F.col("doc_id") % _PROBE_MOD != 0)
    return (
        corpus_sh.join(probe, "shingle")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_hits"))
    )


def _decontaminated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The documents a composed pipeline keeps after decontamination:
    not a probe doc, and no shingle shared with the probe set. Anti-joins
    the hit doc ids directly — the per-doc flag relation of
    q_decontaminate would first join every doc back in, a broadcast job
    that changes no row."""
    d = _docs(spark, sf_dir).where(F.col("doc_id") % _PROBE_MOD != 0)
    hits = _probe_hits(_shingles(spark, sf_dir)).select("doc_id")
    return d.join(hits, "doc_id", "left_anti")


def _q_decontaminate_from(
    spark: SparkSession, sf_dir: str, sh: DataFrame, use_broadcast: bool = True
) -> DataFrame:
    hits = _probe_hits(sh, use_broadcast)
    base = (
        _docs(spark, sf_dir)
        .where(F.col("doc_id") % _PROBE_MOD != 0)
        .select("doc_id")
    )
    return base.join(hits, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_hits", F.lit(0)).alias("n_hits"),
        (F.coalesce("n_hits", F.lit(0)) >= 1).alias("contaminated"),
    )


SQL_DECONTAMINATE = f"""WITH {_NORM_CTE}{_SHINGLE_CTE},
probe AS (
  SELECT DISTINCT shingle FROM sh WHERE doc_id % {_PROBE_MOD} = 0
),
hits AS (
  SELECT s.doc_id, count(*) AS n_hits
  FROM sh s JOIN probe p ON s.shingle = p.shingle
  WHERE s.doc_id % {_PROBE_MOD} <> 0
  GROUP BY 1
)
SELECT d.doc_id,
       coalesce(h.n_hits, 0) AS n_hits,
       coalesce(h.n_hits, 0) >= 1 AS contaminated
FROM documents d LEFT JOIN hits h ON h.doc_id = d.doc_id
WHERE d.doc_id % {_PROBE_MOD} <> 0
"""


# ---------------------------------------------------------------------------
# mixture_stats + stratified_sample — corpus mixing for pretraining
# ---------------------------------------------------------------------------

# Per-source sampling rate in basis points, derived deterministically
# from the source name (stands in for the mixing-weights config a real
# run would load): 2000-8999 bp.
_RATE_BP_SPARK = lambda src: (_hex15(src) % 7000 + 2000).cast("int")  # noqa: E731
_RATE_BP_SQL = lambda e: f"CAST({_HEX15_SQL(e)} % 7000 + 2000 AS INT)"  # noqa: E731


def q_mixture_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-mixing table: per-source doc/char shares plus the sampling
    rate and its expected yield. One partial-aggregated shuffle on
    source; the totals relation is a 1-row broadcast (never a window
    over the data)."""
    d = _docs(spark, sf_dir)
    per_src = d.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("n_chars"),
    )
    totals = per_src.agg(
        F.sum("n_docs").alias("_td"), F.sum("n_chars").alias("_tc")
    )
    return per_src.crossJoin(F.broadcast(totals)).select(
        "source",
        "n_docs",
        "n_chars",
        F.round(F.col("n_docs") / F.col("_td"), 6).alias("doc_share"),
        F.round(F.col("n_chars") / F.col("_tc"), 6).alias("char_share"),
        _RATE_BP_SPARK(F.col("source")).alias("rate_bp"),
        F.round(F.col("n_docs") * _RATE_BP_SPARK(F.col("source")) / 10000.0, 6).alias(
            "expected_docs"
        ),
    )


SQL_MIXTURE_STATS = f"""WITH per_src AS (
  SELECT source, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS n_chars
  FROM documents GROUP BY 1
),
tot AS (
  SELECT CAST(sum(n_docs) AS BIGINT) AS td, CAST(sum(n_chars) AS BIGINT) AS tc
  FROM per_src
)
SELECT source, n_docs, n_chars,
       round(n_docs / td, 6) AS doc_share,
       round(n_chars / tc, 6) AS char_share,
       {_RATE_BP_SQL('source')} AS rate_bp,
       round(n_docs * {_RATE_BP_SQL('source')} / 10000.0, 6) AS expected_docs
FROM per_src, tot
"""


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-based stratified sampling: a doc survives iff
    md5(doc_id) mod 10000 falls under its source's rate. No rand() —
    reruns and both engines agree exactly; at 100 TB this is a pure
    scan-side filter (the rate is a row-local expression, no join)."""
    d = _docs(spark, sf_dir)
    bucket = _hex15(F.col("doc_id").cast("string")) % 10000
    return (
        d.withColumn("bucket", bucket.cast("int"))
        .where(F.col("bucket") < _RATE_BP_SPARK(F.col("source")))
        .select("doc_id", "source", "bucket")
    )


SQL_STRATIFIED_SAMPLE = f"""
SELECT doc_id, source,
       CAST({_HEX15_SQL('CAST(doc_id AS VARCHAR)')} % 10000 AS INT) AS bucket
FROM documents
WHERE {_HEX15_SQL('CAST(doc_id AS VARCHAR)')} % 10000 < {_RATE_BP_SQL('source')}
"""

# ---------------------------------------------------------------------------
# doc_chunking — sliding token windows per document
# ---------------------------------------------------------------------------

_CHUNK_K = 32  # window length in tokens
_CHUNK_S = 24  # stride (8-token overlap)


def q_doc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk each doc into sliding K-token windows with stride S (the
    embedding / context-window prep step). Entirely in-row: window
    starts via sequence(), slices via slice(), then one posexplode —
    no shuffle, no Python."""
    nd = _norm_docs(spark, sf_dir).withColumn("t", F.split("norm", " "))
    starts = F.sequence(F.lit(1), F.greatest(F.size("t") - 1, F.lit(1)), F.lit(_CHUNK_S))
    chunks = F.transform(
        starts, lambda s: F.array_join(F.slice("t", s, _CHUNK_K), " ")
    )
    return nd.select(
        "doc_id", F.posexplode(chunks).alias("chunk_idx", "chunk_text")
    ).withColumn("n_chunk_tokens", F.size(F.split("chunk_text", " ")))


SQL_DOC_CHUNKING = f"""WITH {_NORM_CTE},
t AS (SELECT doc_id, string_split(norm, ' ') AS tk FROM norm_docs),
c AS (
  SELECT doc_id,
         unnest(list_transform(
           range(1, greatest(len(tk) - 1, 1) + 1, {_CHUNK_S}),
           s -> {{'idx': CAST((s - 1) / {_CHUNK_S} AS INT),
                  'txt': array_to_string(tk[s : s + {_CHUNK_K} - 1], ' ')}}
         )) AS u
  FROM t
)
SELECT doc_id, u.idx AS chunk_idx, u.txt AS chunk_text,
       len(string_split(u.txt, ' ')) AS n_chunk_tokens
FROM c
"""

# ---------------------------------------------------------------------------
# pack_blocks — GPT-style concat-and-chunk token-offset packing
# ---------------------------------------------------------------------------

_PACK_CAP = 512  # tokens per training block
_PACK_BUCKET = 64  # docs per prefix-sum bucket


def pack_offsets(
    d: DataFrame,
    passengers: list[str] | None = None,
    partition_cols: list[str] | None = None,
) -> DataFrame:
    """Exact token offsets over doc_id order via a two-phase prefix sum
    (same shape as F7 slice_window): per-bucket token totals ->
    cumulative offsets over the tiny (bucket, total) relation ->
    broadcast back over a partitioned local window. No single-partition
    window ever touches the full relation, so the plan survives 10^12
    docs. Input needs (doc_id, n_tok); passenger columns ride along.
    With ``partition_cols`` the prefix restarts per partition key (each
    window additionally partitioned by those columns) — the shared
    discipline for any 'cumulative sum in doc_id order' consumer
    (q_pack_blocks globally, token_budget_sample's cutoff group per
    (source, quality))."""
    passengers = passengers or []
    parts = partition_cols or []
    d = d.withColumn("_b", F.floor(F.col("doc_id") / _PACK_BUCKET))
    counts = d.groupBy(*parts, "_b").agg(F.sum("n_tok").alias("_n"))
    w_off = (
        Window.partitionBy(*parts).orderBy("_b")
        if parts
        else Window.orderBy("_b")
    ).rowsBetween(Window.unboundedPreceding, -1)
    offsets = counts.select(
        *parts, "_b", F.coalesce(F.sum("_n").over(w_off), F.lit(0)).alias("_off")
    )
    w_local = Window.partitionBy(*parts, "_b").orderBy("doc_id")
    start = (
        F.col("_off")
        + F.coalesce(
            F.sum("n_tok").over(
                w_local.rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        )
    ).alias("start_off")
    out = d.join(F.broadcast(offsets), [*parts, "_b"]).select(
        "doc_id", "n_tok", start, *passengers
    )
    first = F.floor(F.col("start_off") / _PACK_CAP)
    last = F.floor((F.col("start_off") + F.col("n_tok") - 1) / _PACK_CAP)
    return out.select(
        "doc_id",
        "n_tok",
        "start_off",
        first.alias("first_block"),
        (last - first + 1).alias("n_blocks"),
        *passengers,
    )


def q_pack_blocks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing the way GPT-style pretraining does it: documents
    are concatenated in deterministic doc_id order and cut into fixed
    CAP-token blocks; each doc reports its global token offset and the
    block span it lands in. See :func:`pack_offsets` for the two-phase
    prefix-sum shape."""
    d = _docs(spark, sf_dir).select(
        "doc_id", F.size(F.split(F.trim("text"), " ")).alias("n_tok")
    )
    return pack_offsets(d)


SQL_PACK_BLOCKS = f"""WITH d AS (
  SELECT doc_id, len(string_split(trim(text), ' ')) AS n_tok FROM documents
),
o AS (
  SELECT doc_id, n_tok,
         CAST(coalesce(sum(n_tok) OVER (ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           AS start_off
  FROM d
)
SELECT doc_id, n_tok, start_off,
       CAST(floor(start_off / {_PACK_CAP}) AS BIGINT) AS first_block,
       CAST(floor((start_off + n_tok - 1) / {_PACK_CAP})
            - floor(start_off / {_PACK_CAP}) + 1 AS BIGINT) AS n_blocks
FROM o
"""


# ---------------------------------------------------------------------------
# unigram_logprob — CCNet-style LM scoring (perplexity-filter stand-in)
# ---------------------------------------------------------------------------


def q_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc mean unigram log10-probability under the corpus's own
    unigram distribution — the shape of CCNet/KenLM perplexity filtering
    (score docs by how 'typical' their tokens are; a real run swaps the
    self-trained unigram table for an external LM table).

    Scale shape: one partial-aggregated shuffle builds the unigram
    table; the table is small (vocabulary-sized) so joining it back to
    the exploded tokens broadcasts. The per-doc mean then folds the
    position-sorted logprob list IN-ROW — a deterministic summation
    order, because a float `avg()` aggregation is order-dependent and
    would never hash-match across engines."""
    nd = _norm_docs(spark, sf_dir, spread=False).withColumn("t", F.split("norm", " "))
    toks = nd.select(
        "doc_id", F.posexplode("t").alias("pos", "tok")
    )
    freq = toks.groupBy("tok").agg(F.count("*").alias("n"))
    total = freq.agg(F.sum("n").alias("_total"))
    logp = (
        toks.join(F.broadcast(freq), "tok")
        .crossJoin(F.broadcast(total))
        .select(
            "doc_id",
            "pos",
            F.log10(F.col("n") / F.col("_total")).alias("lp"),
        )
    )
    per_doc = logp.groupBy("doc_id").agg(
        F.array_sort(F.collect_list(F.struct("pos", "lp"))).alias("lps")
    )
    s = F.aggregate(
        F.transform("lps", lambda r: r["lp"]), F.lit(0.0), lambda a, x: a + x
    )
    return per_doc.select(
        "doc_id",
        F.size("lps").alias("n_tokens"),
        F.round(s / F.size("lps"), 6).alias("mean_log10p"),
    )


SQL_UNIGRAM_LOGPROB = f"""WITH {_NORM_CTE},
toks AS (
  SELECT doc_id, u.tok, u.pos FROM (
    SELECT doc_id,
           unnest(list_transform(range(1, len(string_split(norm, ' ')) + 1),
                                 i -> {{'pos': CAST(i - 1 AS INT),
                                        'tok': string_split(norm, ' ')[i]}})) AS u
    FROM norm_docs)
),
freq AS (SELECT tok, count(*) AS n FROM toks GROUP BY 1),
tot AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM freq),
lp AS (
  SELECT t.doc_id, t.pos, log10(f.n / tot.total) AS lp
  FROM toks t JOIN freq f ON f.tok = t.tok, tot
),
per_doc AS (
  SELECT doc_id, list(lp ORDER BY pos) AS lps FROM lp GROUP BY 1
)
SELECT doc_id,
       len(lps) AS n_tokens,
       round(list_reduce(list_prepend(0.0, lps), (a, x) -> a + x) / len(lps), 6)
         AS mean_log10p
FROM per_doc
"""


# ---------------------------------------------------------------------------
# quality_filter — the composed C4/Gopher keep-or-drop gate
# ---------------------------------------------------------------------------

# (name, threshold) in the deterministic order reasons are reported in.
_QF_MIN_TOKENS = 20
_QF_MIN_STOP = 0.03
_QF_MIN_ALPHA = 0.6
_QF_MAX_TOP2 = 0.10
_QF_MAX_DUP5 = 0.30

_QF_STOPWORDS = ("the", "a", "and", "of", "to", "in")


def q_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The filter a pretraining pipeline actually applies: C4/Gopher
    rules (min length, stopword presence, alphabetic ratio, top-2-gram
    repetition, duplicate-5-gram repetition) evaluated in ONE scan —
    every signal is an in-row expression over the same normalized token
    array, so the composed gate costs the same as any single signal.
    Emits keep + a deterministic comma-joined reason list; rules compare
    the ROUNDED signal values so both engines decide boundaries
    identically."""
    nd = _norm_docs(spark, sf_dir).withColumn("t", F.split("norm", " "))
    sw = list(_QF_STOPWORDS)
    n_tokens = F.size("t")
    stop_ratio = F.round(
        F.size(F.filter("t", lambda x: x.isin(sw))) / n_tokens, 6
    )
    nospace = F.length(F.regexp_replace("norm", " ", ""))
    alpha_ratio = F.round(
        F.length(F.regexp_replace("norm", "[^a-z]", "")) / nospace, 6
    )
    d = (
        nd.withColumn("s2", F.array_sort(positional_ngrams("t", 2)))
        .withColumn("s5", F.array_sort(positional_ngrams("t", 5)))
        .withColumn("acc", _run_fold(F.col("s2")))
    )
    m = F.size("s5")
    eq = lambda: F.zip_with(  # noqa: E731
        F.slice("s5", 2, m - 1), F.slice("s5", 1, m - 1), lambda a, b: a == b
    )
    dup_occ = F.size(
        F.filter(
            F.zip_with(
                F.concat(F.array(F.lit(False)), eq()),
                F.concat(eq(), F.array(F.lit(False))),
                lambda a, b: a | b,
            ),
            lambda x: x,
        )
    )
    top2 = F.round(F.col("acc.best") * F.length("acc.bestg") / F.length("norm"), 6)
    dup5 = F.round(dup_occ / m, 6)
    rules = [
        ("min_tokens", n_tokens >= _QF_MIN_TOKENS),
        ("stopwords", stop_ratio >= _QF_MIN_STOP),
        ("alpha", alpha_ratio >= _QF_MIN_ALPHA),
        ("rep2", top2 <= _QF_MAX_TOP2),
        ("rep5", dup5 <= _QF_MAX_DUP5),
    ]
    reasons = F.concat_ws(
        ",", *[F.when(~cond, F.lit(name)) for name, cond in rules]
    )
    return d.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        stop_ratio.alias("stop_ratio"),
        alpha_ratio.alias("alpha_ratio"),
        top2.alias("top2_char_frac"),
        dup5.alias("dup5_frac"),
        (reasons == "").alias("keep"),
        reasons.alias("reasons"),
    )


SQL_QUALITY_FILTER = f"""WITH {_NORM_CTE},
t AS (SELECT doc_id, norm, string_split(norm, ' ') AS tk FROM norm_docs),
base AS (
  SELECT doc_id, norm, tk,
         len(tk) AS n_tokens,
         round(len(list_filter(tk, x -> x IN {_QF_STOPWORDS!r})) / len(tk), 6)
           AS stop_ratio,
         round(length(regexp_replace(norm, '[^a-z]', '', 'g'))
               / length(replace(norm, ' ', '')), 6) AS alpha_ratio
  FROM t
),
g2 AS (
  SELECT doc_id, unnest(list_transform(range(1, len(tk)),
                                       i -> tk[i] || ' ' || tk[i+1])) AS g
  FROM t
),
c2 AS (SELECT doc_id, g, count(*) AS n FROM g2 GROUP BY 1, 2),
top2 AS (
  SELECT doc_id, g, n FROM (
    SELECT doc_id, g, n,
           row_number() OVER (PARTITION BY doc_id ORDER BY n DESC, g ASC) AS r
    FROM c2) WHERE r = 1
),
g5 AS (
  SELECT doc_id, unnest(list_transform(range(1, len(tk) - 3),
      i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3] || ' ' || tk[i+4])) AS g
  FROM t
),
c5 AS (SELECT doc_id, g, count(*) AS n FROM g5 GROUP BY 1, 2),
d5 AS (
  SELECT doc_id,
         CAST(sum(CASE WHEN n >= 2 THEN n ELSE 0 END) AS BIGINT) AS dup_occ,
         CAST(sum(n) AS BIGINT) AS m
  FROM c5 GROUP BY 1
),
sig AS (
  SELECT b.doc_id, b.n_tokens, b.stop_ratio, b.alpha_ratio,
         round(top2.n * length(top2.g) / length(b.norm), 6) AS top2_char_frac,
         round(d5.dup_occ / d5.m, 6) AS dup5_frac
  FROM base b JOIN top2 ON top2.doc_id = b.doc_id JOIN d5 ON d5.doc_id = b.doc_id
),
flags AS (
  SELECT *,
         concat_ws(',',
           CASE WHEN NOT (n_tokens >= {_QF_MIN_TOKENS}) THEN 'min_tokens' END,
           CASE WHEN NOT (stop_ratio >= {_QF_MIN_STOP}) THEN 'stopwords' END,
           CASE WHEN NOT (alpha_ratio >= {_QF_MIN_ALPHA}) THEN 'alpha' END,
           CASE WHEN NOT (top2_char_frac <= {_QF_MAX_TOP2}) THEN 'rep2' END,
           CASE WHEN NOT (dup5_frac <= {_QF_MAX_DUP5}) THEN 'rep5' END
         ) AS reasons
  FROM sig
)
SELECT doc_id, n_tokens, stop_ratio, alpha_ratio, top2_char_frac, dup5_frac,
       reasons = '' AS keep, reasons
FROM flags
"""


# ---------------------------------------------------------------------------
# corpus_prep — the composed pretraining-corpus deliverable
# ---------------------------------------------------------------------------


def q_corpus_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed corpus-side product query: what a pretraining run
    actually consumes. Decontaminate (drop probe docs and anything
    sharing a probe 3-gram) -> stratified sample (per-source rates) ->
    exact dedup (min-doc_id canonical per fingerprint, computed over the
    SURVIVORS — group members removed upstream must not elect ghosts) ->
    GPT-style pack offsets over the canonical docs.

    Composition of already-proven pieces, but registered as ONE query so
    cross-stage drift (e.g. dedup electing a canonical that sampling
    removed) cannot hide between piecewise proofs — the corpus-side
    twin of ``dataset_sample``."""
    from .queries_corpus import _NORM_SPARK

    clean = _decontaminated(spark, sf_dir)
    sampled = clean.where(
        _hex15(F.col("doc_id").cast("string")) % 10000
        < _RATE_BP_SPARK(F.col("source"))
    )
    fp = sampled.select(
        F.md5(_NORM_SPARK(F.col("text"))).alias("fp"),
        "doc_id",
        "source",
        F.size(F.split(F.trim("text"), " ")).alias("n_tok"),
    )
    # skew-safe exact-canonical filter: only canonical rows survive, so
    # the min-struct partial agg (lexicographic on doc_id, payload rides
    # along) needs NO join back and combines the hot fingerprint
    # map-side — strictly less shuffle than either the window form or an
    # agg+join-back (never a window over the full-text fp: hot on
    # boilerplate)
    canon = (
        fp.groupBy("fp")
        .agg(F.min(F.struct("doc_id", "source", "n_tok")).alias("c"))
        .select("c.doc_id", "c.source", "c.n_tok")
    )
    return pack_offsets(canon, passengers=["source"])


SQL_CORPUS_PREP = f"""WITH {_NORM_CTE}{_SHINGLE_CTE},
probe AS (
  SELECT DISTINCT shingle FROM sh WHERE doc_id % {_PROBE_MOD} = 0
),
contaminated AS (
  SELECT DISTINCT s.doc_id
  FROM sh s JOIN probe p ON s.shingle = p.shingle
  WHERE s.doc_id % {_PROBE_MOD} <> 0
),
sampled AS (
  SELECT d.doc_id, d.source, d.text
  FROM documents d
  WHERE d.doc_id % {_PROBE_MOD} <> 0
    AND d.doc_id NOT IN (SELECT doc_id FROM contaminated)
    AND {_HEX15_SQL('CAST(d.doc_id AS VARCHAR)')} % 10000 < {_RATE_BP_SQL('d.source')}
),
canon AS (
  SELECT doc_id, source, len(string_split(trim(text), ' ')) AS n_tok
  FROM (
    SELECT *, min(doc_id) OVER (PARTITION BY md5({_NORM_SQL}) ) AS canon_id
    FROM sampled
  ) WHERE doc_id = canon_id
),
o AS (
  SELECT doc_id, source, n_tok,
         CAST(coalesce(sum(n_tok) OVER (ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           AS start_off
  FROM canon
)
SELECT doc_id, n_tok, start_off,
       CAST(floor(start_off / {_PACK_CAP}) AS BIGINT) AS first_block,
       CAST(floor((start_off + n_tok - 1) / {_PACK_CAP})
            - floor(start_off / {_PACK_CAP}) + 1 AS BIGINT) AS n_blocks,
       source
FROM o
"""




# ---------------------------------------------------------------------------
# distinct_sketch — KMV (k-minimum-values) distinct-count sketch
# ---------------------------------------------------------------------------

_KMV_K = 64
_KMV_SPACE = float(1 << 60)  # the 15-hex-digit md5 prefix space


def q_distinct_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-based distinct counting that is still exactly
    oracle-checkable: the KMV sketch (k smallest hash values of the
    token set) is a DETERMINISTIC function of the data — unlike HLL
    registers — so both engines build the identical sketch and the
    identical estimate ((k-1) / normalized k-th minimum). The exact
    distinct count rides along to show the estimate lands close.

    Scale shape: the per-source sketch is a groupBy over (source,
    hash) distinct values then a bounded top-k — mergeable across
    partitions the way production sketches are (min of unions =
    union of mins)."""
    nd = _norm_docs(spark, sf_dir, spread=False)
    src = _docs(spark, sf_dir).select("doc_id", "source")
    toks = (
        nd.join(src, "doc_id")
        .select("source", F.explode(F.split("norm", " ")).alias("tok"))
        .select("source", _hex15(F.col("tok")).alias("h"))
        .distinct()
    )
    w = Window.partitionBy("source").orderBy("h")
    kmv = (
        toks.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= _KMV_K)
        .groupBy("source")
        .agg(
            F.max("h").alias("kth_h"),
            F.count("*").cast("int").alias("k_used"),
            F.countDistinct("h").alias("_chk"),
        )
    )
    exact = toks.groupBy("source").agg(F.count("*").alias("exact_distinct"))
    est = F.when(
        F.col("k_used") < _KMV_K, F.col("exact_distinct").cast("double")
    ).otherwise((F.lit(_KMV_K - 1)) / (F.col("kth_h") / F.lit(_KMV_SPACE)))
    return kmv.join(exact, "source").select(
        "source",
        "k_used",
        "kth_h",
        "exact_distinct",
        F.round(est, 3).alias("est_distinct"),
    )


SQL_DISTINCT_SKETCH = f"""WITH {_NORM_CTE},
toks AS (
  SELECT DISTINCT d.source, {_HEX15_SQL('u.tok')} AS h
  FROM norm_docs n
  JOIN documents d ON d.doc_id = n.doc_id,
  unnest(string_split(n.norm, ' ')) AS u(tok)
),
ranked AS (
  SELECT source, h, row_number() OVER (PARTITION BY source ORDER BY h) AS rnk
  FROM toks
),
kmv AS (
  SELECT source, max(h) AS kth_h, CAST(count(*) AS INT) AS k_used
  FROM ranked WHERE rnk <= {_KMV_K} GROUP BY 1
),
exact AS (
  SELECT source, count(*) AS exact_distinct FROM toks GROUP BY 1
)
SELECT k.source, k.k_used, k.kth_h, e.exact_distinct,
       round(CASE WHEN k.k_used < {_KMV_K} THEN CAST(e.exact_distinct AS DOUBLE)
                  ELSE ({_KMV_K} - 1) / (k.kth_h / {_KMV_SPACE!r}) END, 3)
         AS est_distinct
FROM kmv k JOIN exact e ON e.source = k.source
"""




# ---------------------------------------------------------------------------
# bm25_score — ranked retrieval scoring
# ---------------------------------------------------------------------------

_BM25_TERMS = ("customer", "hash", "scan")
_BM25_K1 = 1.2
_BM25_B = 0.75


def q_bm25_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 ranked retrieval for a fixed query — the search primitive a
    corpus engine owes its users. Per-term tf is an in-row filter count
    (no token explode); N, avgdl, and each term's document frequency
    come from ONE 1-row aggregate that broadcasts back; the score sums
    the per-term contributions in fixed term order so the float result
    is bit-identical across engines (then rounded). One scan + one
    broadcast, no shuffle of the corpus."""
    nd = _norm_docs(spark, sf_dir).withColumn("t", F.split("norm", " "))

    def _tf(term: str):
        # NB: a two-argument lambda would make pyspark pass the element
        # INDEX as the second parameter — bind the term via closure
        return F.size(F.filter("t", lambda x: x == F.lit(term)))

    tf_cols = [
        _tf(term).alias(f"tf{i}") for i, term in enumerate(_BM25_TERMS)
    ]
    d = nd.select("doc_id", F.size("t").alias("dl"), *tf_cols)
    totals = d.agg(
        F.count("*").alias("_N"),
        F.sum("dl").alias("_sumdl"),
        *[
            F.sum((F.col(f"tf{i}") > 0).cast("long")).alias(f"_df{i}")
            for i in range(len(_BM25_TERMS))
        ],
    )
    j = d.crossJoin(F.broadcast(totals))
    avgdl = F.col("_sumdl") / F.col("_N")
    score = F.lit(0.0)
    for i in range(len(_BM25_TERMS)):
        idf = F.log(
            (F.col("_N") - F.col(f"_df{i}") + 0.5) / (F.col(f"_df{i}") + 0.5)
            + 1.0
        )
        tf = F.col(f"tf{i}")
        score = score + idf * tf * (_BM25_K1 + 1) / (
            tf + _BM25_K1 * (1 - _BM25_B + _BM25_B * F.col("dl") / avgdl)
        )
    return j.where(
        sum((F.col(f"tf{i}") for i in range(len(_BM25_TERMS))), F.lit(0)) > 0
    ).select(
        "doc_id",
        *[F.col(f"tf{i}") for i in range(len(_BM25_TERMS))],
        F.round(score, 6).alias("bm25"),
    )


def _bm25_sql() -> str:
    tf_exprs = ",\n         ".join(
        f"len(list_filter(tk, x -> x = '{t}')) AS tf{i}"
        for i, t in enumerate(_BM25_TERMS)
    )
    df_exprs = ",\n         ".join(
        f"CAST(sum(CASE WHEN tf{i} > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df{i}"
        for i in range(len(_BM25_TERMS))
    )
    score_terms = " + ".join(
        f"ln((t._N - t.df{i} + 0.5) / (t.df{i} + 0.5) + 1.0)"
        f" * d.tf{i} * ({_BM25_K1} + 1)"
        f" / (d.tf{i} + {_BM25_K1} * (1 - {_BM25_B} + {_BM25_B} * d.dl / (t.sumdl / t._N)))"
        for i in range(len(_BM25_TERMS))
    )
    any_tf = " + ".join(f"d.tf{i}" for i in range(len(_BM25_TERMS)))
    tf_list = ", ".join(f"d.tf{i}" for i in range(len(_BM25_TERMS)))
    return f"""WITH {_NORM_CTE},
d AS (
  SELECT doc_id, len(string_split(norm, ' ')) AS dl,
         {tf_exprs}
  FROM (SELECT doc_id, norm, string_split(norm, ' ') AS tk FROM norm_docs)
),
t AS (
  SELECT count(*) AS _N, CAST(sum(dl) AS BIGINT) AS sumdl,
         {df_exprs}
  FROM d
)
SELECT d.doc_id, {tf_list},
       round({score_terms}, 6) AS bm25
FROM d, t
WHERE {any_tf} > 0
"""


SQL_BM25_SCORE = _bm25_sql()


# ---------------------------------------------------------------------------
# dedup_cross_source — which sources leak near-duplicate content
# ---------------------------------------------------------------------------


def q_dedup_cross_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup observability at the source level: verified near-dup pairs
    rolled up by (source_a, source_b) — the table that tells a corpus
    owner WHICH feeds are mirroring each other (and how much of the
    duplication is intra-source). Joins the LSH->verify candidate pairs
    to the tiny (doc_id, source) projection; the pair relation is the
    small side at any scale, so both joins broadcast it onward."""
    from .queries_corpus import q_minhash_jaccard_verify

    pairs = q_minhash_jaccard_verify(spark, sf_dir)
    src = _docs(spark, sf_dir).select("doc_id", "source")
    j = (
        pairs.join(src.withColumnRenamed("source", "source_a"),
                   pairs["a_id"] == src["doc_id"]).drop("doc_id")
    )
    src_b = _docs(spark, sf_dir).select(
        F.col("doc_id").alias("_b"), F.col("source").alias("source_b")
    )
    j = j.join(src_b, j["b_id"] == src_b["_b"]).drop("_b")
    lo = F.least("source_a", "source_b")
    hi = F.greatest("source_a", "source_b")
    return (
        j.select(
            lo.alias("source_lo"),
            hi.alias("source_hi"),
            (F.col("source_a") == F.col("source_b")).alias("intra"),
            "jaccard",
        )
        .groupBy("source_lo", "source_hi", "intra")
        .agg(
            F.count("*").alias("n_pairs"),
            F.round(F.min("jaccard"), 6).alias("min_jaccard"),
            F.round(F.max("jaccard"), 6).alias("max_jaccard"),
        )
    )


from .queries_corpus import SQL_MINHASH_JACCARD_VERIFY as _VERIFY_SQL

SQL_DEDUP_CROSS_SOURCE = f"""WITH pairs AS ({_VERIFY_SQL}),
j AS (
  SELECT least(da.source, db.source) AS source_lo,
         greatest(da.source, db.source) AS source_hi,
         da.source = db.source AS intra,
         p.jaccard
  FROM pairs p
  JOIN documents da ON da.doc_id = p.a_id
  JOIN documents db ON db.doc_id = p.b_id
)
SELECT source_lo, source_hi, intra,
       count(*) AS n_pairs,
       round(min(jaccard), 6) AS min_jaccard,
       round(max(jaccard), 6) AS max_jaccard
FROM j
GROUP BY 1, 2, 3
"""


# ---------------------------------------------------------------------------
# skew_stats — per-key distribution diagnostics for the salt decision
# ---------------------------------------------------------------------------

_SKEW_TOP = 10


def q_skew_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-key skew diagnostics: the heaviest doc_id keys by frame
    count with their share of the corpus — the table you read before
    choosing the salt factor for the W6 reassembly (a key holding >1/N
    of the rows caps the speedup of an N-way shuffle). One partial-agg
    shuffle; the top-k window runs over the already-aggregated per-key
    counts."""
    from .queries_joins import _media_seq

    counts = (
        _media_seq(spark, sf_dir)
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_frames"))
    )
    total = counts.agg(F.sum("n_frames").alias("_t"))
    # top-k via orderBy().limit(): compiles to TakeOrderedAndProject —
    # each partition keeps its local top-k, the driver merges k*P rows.
    # A row_number window would instead sort the WHOLE per-key counts
    # relation on one partition, which at 10^9 distinct docs is the
    # single-machine bottleneck this diagnostic exists to find.
    top = counts.orderBy(
        F.col("n_frames").desc(), F.col("doc_id").asc()
    ).limit(_SKEW_TOP)
    w = Window.orderBy(F.col("n_frames").desc(), F.col("doc_id").asc())
    return (
        top.crossJoin(F.broadcast(total))
        .withColumn("rnk", F.row_number().over(w).cast("int"))
        .select(
            "rnk",
            "doc_id",
            "n_frames",
            F.round(F.col("n_frames") / F.col("_t"), 6).alias("corpus_frac"),
        )
    )


def _skew_sql() -> str:
    from .queries_joins import _with

    return _with() + f"""
, counts AS (
  SELECT doc_id, count(*) AS n_frames FROM media_rows GROUP BY 1
),
tot AS (SELECT CAST(sum(n_frames) AS BIGINT) AS t FROM counts)
SELECT rnk, doc_id, n_frames, corpus_frac FROM (
  SELECT CAST(row_number() OVER (ORDER BY n_frames DESC, doc_id ASC) AS INT) AS rnk,
         doc_id, n_frames,
         round(n_frames / tot.t, 6) AS corpus_frac
  FROM counts, tot
) WHERE rnk <= {_SKEW_TOP}
"""


# ---------------------------------------------------------------------------
# token_budget_sample — DCLM/DataComp-style budget fill: give each source
# a token budget and fill it greedily with that source's highest-quality
# documents. The naive plan — rank every document of a source in one
# per-source window — serializes 10^12 rows through single tasks; the
# selection here is three bounded stages instead.
# ---------------------------------------------------------------------------

_TBS_FRAC = 0.5  # per-source budget = floor(frac * source's total tokens)


def q_token_budget_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy per-source token-budget fill: order each source's docs by
    (quality DESC, doc_id ASC) and keep docs while the tokens already
    taken stay under the source budget (floor(_TBS_FRAC * source
    tokens)). Output: the kept (doc_id, source, n_tokens, quality).
    Unscoreable docs (zero characters -> NULL quality) are not fill
    candidates and do not contribute to the source totals — pinned in
    the oracle by the same IS NOT NULL filter.

    Scale: no per-source ranking of documents ever happens. Stage 1
    reduces docs to exact-quality groups — a partial agg, and the
    per-source prefix window runs over AT MOST 10^6+1 rows per source
    (quality is floor-to-6dp in [0,1]), not over documents. Stage 2
    classifies whole groups against the budget: fully-kept groups come
    back via a keyed semi-join (no ordering at all); at most ONE cutoff
    group per source survives to stage 3, which resolves the within-
    group doc_id order with the same two-phase bucket prefix sum as
    pack_offsets — bucket totals, a window over the tiny bucket
    relation, then per-bucket local windows. Every window in the plan
    is over a relation with a proven size bound."""
    from .queries_corpus import _barrier, q_quality_score

    qsc = q_quality_score(spark, sf_dir).select(
        "doc_id", F.col("n_tokens").cast("bigint").alias("n_tokens"), "quality"
    )
    src = _docs(spark, sf_dir).select("doc_id", "source")
    # _barrier (r8): budget_fill reads this narrow scored relation three
    # times (four in r8); without it each read re-ran the quality
    # signals (and, with the r8 _spread under quality_score, each
    # branch carried its own repartition exchange — measured +89% on
    # this key before the barrier)
    d = _barrier(qsc.where(F.col("quality").isNotNull()).join(src, "doc_id"))
    return budget_fill(d)


def budget_fill(d: DataFrame) -> DataFrame:
    """The budget-fill selection core, factored so composed pipelines
    (``corpus_prep_budget``) run it over THEIR survivor relation.
    Input: (doc_id, source, n_tokens, quality) with quality non-null;
    output: the kept rows, same columns. See
    :func:`q_token_budget_sample` for the three-stage scale argument.

    ``d`` is read by the one group aggregate and by one broadcast join
    against a per-source table, so a caller's scoring plan under ``d``
    is planned once (every read prunes it to the same columns)."""
    # stage 1: exact-quality groups (<= 1e6+1 per source by construction);
    # the source budget and the tokens of every higher-quality group are
    # windows over the group relation — one exchange on source for both
    # (the group token sums add up to the source's total exactly)
    g = d.groupBy("source", "quality").agg(F.sum("n_tokens").alias("g_tok"))
    by_src = Window.partitionBy("source")
    w_hi = by_src.orderBy(F.col("quality").desc()).rowsBetween(
        Window.unboundedPreceding, -1
    )
    g2 = g.select(
        "source",
        "quality",
        "g_tok",
        F.coalesce(F.sum("g_tok").over(w_hi), F.lit(0)).alias("cum_hi"),
        F.floor(F.sum("g_tok").over(by_src) * _TBS_FRAC).alias("budget"),
    )
    # stage 2: whole-group classification, one row per source. The whole
    # groups (cum_hi + g_tok <= budget) are a prefix of the quality-desc
    # order (cum_hi + g_tok rises strictly along it), so a doc's group is
    # whole iff its quality >= the least whole quality; at most one
    # cutoff group straddles the budget.
    whole = F.col("cum_hi") + F.col("g_tok") <= F.col("budget")
    cut = (F.col("cum_hi") < F.col("budget")) & ~whole
    cls = g2.groupBy("source").agg(
        F.min(F.when(whole, F.col("quality"))).alias("_q_whole"),
        F.max(F.when(cut, F.col("quality"))).alias("_q_cut"),
        F.max(F.when(cut, F.col("budget") - F.col("cum_hi"))).alias("_rem"),
    )
    dc = d.join(F.broadcast(cls), "source")
    kept_full = dc.where(F.col("quality") >= F.col("_q_whole"))
    # stage 3: the (<= one per source) cutoff group, resolved in doc_id
    # order via the SHARED pack_offsets two-phase prefix (partitioned
    # per (source, quality)); start_off IS the within-group cum-before
    cd = dc.where(F.col("quality") == F.col("_q_cut"))
    cut_kept = (
        pack_offsets(
            cd.withColumnRenamed("n_tokens", "n_tok"),
            passengers=["source", "quality", "_rem"],
            partition_cols=["source", "quality"],
        )
        .where(F.col("start_off") < F.col("_rem"))
        .select(
            "doc_id", "source", F.col("n_tok").alias("n_tokens"), "quality"
        )
    )
    return kept_full.select(
        "doc_id", "source", "n_tokens", "quality"
    ).unionByName(cut_kept)


def _token_budget_sql() -> str:
    from .queries_corpus import _QUAL_BASE_CTE, _QUAL_EXPR_SQL

    return f"""WITH {_NORM_CTE},
{_QUAL_BASE_CTE},
q AS (
  SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
         {_QUAL_EXPR_SQL} AS quality
  FROM qbase
),
d AS (
  SELECT q.doc_id, s.source, q.n_tokens, q.quality
  FROM q JOIN documents s ON s.doc_id = q.doc_id
  WHERE q.quality IS NOT NULL
),
b AS (
  SELECT source, CAST(floor(sum(n_tokens) * {_TBS_FRAC}) AS BIGINT) AS budget
  FROM d GROUP BY source
),
o AS (
  SELECT d.*,
         coalesce(sum(n_tokens) OVER (
             PARTITION BY source ORDER BY quality DESC, doc_id ASC
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
  FROM d
)
SELECT o.doc_id, o.source, o.n_tokens, o.quality
FROM o JOIN b ON b.source = o.source
WHERE o.cum_before < b.budget
"""


# ---------------------------------------------------------------------------
# mixture_epochs — per-source repetition plan for a target mixture
# ---------------------------------------------------------------------------

_MAX_EPOCHS = 4  # repetition cap (data-constrained scaling guidance)


def q_mixture_epochs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LLaMA-style remix plan: given per-source mixture weights and a
    total training-token budget equal to the corpus size, how many
    FULL epochs of each source does the run take, and what sampling
    rate covers the fractional remainder? Sources whose target exceeds
    the repetition cap (_MAX_EPOCHS full epochs) are capped and
    flagged — the data-constrained-scaling guardrail that repeating a
    small source indefinitely stops helping.

    Weights are hash-derived per source (same deterministic-stand-in
    trick as ``_RATE_BP_SPARK``); targets, epochs, and the residual
    rate are all integer arithmetic (floor division to ppm), so the
    plan is bit-identical on both engines. Shape: one partial-agg
    shuffle on source + a 1-row broadcast of totals — the plan relation
    is O(sources) regardless of corpus size."""
    d = _docs(spark, sf_dir).select(
        "source", F.size(F.split(F.trim("text"), " ")).alias("n_tok")
    )
    w_bp = (_hex15(F.col("source")) % 9000 + 1000).cast("bigint")
    per_src = d.groupBy("source").agg(
        F.sum("n_tok").cast("bigint").alias("avail_tok")
    ).withColumn("weight_bp", w_bp)
    totals = per_src.agg(
        F.sum("avail_tok").alias("_tt"), F.sum("weight_bp").alias("_tw")
    )
    j = per_src.crossJoin(F.broadcast(totals))
    # integer division (`div`) end to end: tt*weight_bp reaches ~10^16
    # at the 10^12-token scale this plan targets, past double's 2^53
    # exact-integer range — float division there would silently round
    target = F.expr("_tt * weight_bp div _tw").cast("bigint")
    j = j.withColumn("target_tok", target)
    full = F.least(
        F.expr("target_tok div avail_tok"),
        F.lit(_MAX_EPOCHS).cast("bigint"),
    ).cast("bigint")
    j = j.withColumn("full_epochs", full)
    capped = F.expr("target_tok div avail_tok") >= _MAX_EPOCHS
    residual = F.when(capped, F.lit(0)).otherwise(
        F.expr(
            "(target_tok - full_epochs * avail_tok) * 1000000 div avail_tok"
        )
    ).cast("bigint")
    return j.select(
        "source",
        "avail_tok",
        "weight_bp",
        "target_tok",
        "full_epochs",
        residual.alias("residual_ppm"),
        capped.alias("capped"),
        (
            F.col("full_epochs") * F.col("avail_tok")
            + F.when(capped, F.lit(0)).otherwise(
                F.col("target_tok") - full * F.col("avail_tok")
            )
        ).cast("bigint").alias("effective_tok"),
    )


SQL_MIXTURE_EPOCHS = f"""WITH d AS (
  SELECT source, len(string_split(trim(text), ' ')) AS n_tok FROM documents
),
per_src AS (
  SELECT source, CAST(sum(n_tok) AS BIGINT) AS avail_tok,
         CAST({_HEX15_SQL('source')} % 9000 + 1000 AS BIGINT) AS weight_bp
  FROM d GROUP BY source
),
tot AS (
  SELECT CAST(sum(avail_tok) AS BIGINT) AS tt,
         CAST(sum(weight_bp) AS BIGINT) AS tw
  FROM per_src
),
plan AS (
  -- integer division (//) end to end, flooring target_tok FIRST,
  -- matching the Spark `div` derivation exactly (no double rounding
  -- once tt*weight_bp exceeds 2^53)
  SELECT source, avail_tok, weight_bp,
         CAST((tt * weight_bp) // tw AS BIGINT) AS target_tok,
         ((tt * weight_bp) // tw) // avail_tok >= {_MAX_EPOCHS} AS capped
  FROM per_src, tot
),
e AS (
  SELECT *,
         CAST(least(target_tok // avail_tok, {_MAX_EPOCHS}) AS BIGINT)
           AS full_epochs
  FROM plan
)
SELECT source, avail_tok, weight_bp, target_tok, full_epochs,
       CAST(CASE WHEN capped THEN 0
            ELSE ((target_tok - full_epochs * avail_tok) * 1000000)
                 // avail_tok END AS BIGINT) AS residual_ppm,
       capped,
       CAST(full_epochs * avail_tok
            + CASE WHEN capped THEN 0
              ELSE target_tok - full_epochs * avail_tok END AS BIGINT)
         AS effective_tok
FROM e
"""


def q_mixture_expand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialize the :func:`q_mixture_epochs` plan as the remixed
    training corpus: every doc appears once per full epoch of its
    source (epoch 0..full_epochs-1), and the fractional remainder is a
    deterministic hash-selected subset (md5 bucket < residual_ppm) at
    epoch = full_epochs — so the expanded stream hits each source's
    token target without rand() and identically on re-runs.

    Scale shape: the plan is an O(sources) broadcast; the expansion is
    a scan-local explode whose fan-out is bounded by _MAX_EPOCHS+1 —
    NO shuffle anywhere in the plan. At 10^12 docs this is a map-only
    job whose output feeds ``corpus_shuffle``/``pack_offsets``."""
    plan = q_mixture_epochs(spark, sf_dir).select(
        "source", "full_epochs", "residual_ppm"
    )
    d = _docs(spark, sf_dir).select("doc_id", "source")
    j = d.join(F.broadcast(plan), "source")
    fulls = j.select(
        "doc_id",
        "source",
        F.explode(
            F.when(
                F.col("full_epochs") > 0,
                F.sequence(F.lit(0).cast("bigint"), F.col("full_epochs") - 1),
            ).otherwise(F.array().cast("array<bigint>"))
        ).alias("epoch"),
    )
    residual = j.where(
        _hex15(F.col("doc_id").cast("string")) % 1000000 < F.col("residual_ppm")
    ).select("doc_id", "source", F.col("full_epochs").alias("epoch"))
    return fulls.unionByName(residual)


SQL_MIXTURE_EXPAND = f"""WITH d AS (
  SELECT source, len(string_split(trim(text), ' ')) AS n_tok FROM documents
),
per_src AS (
  SELECT source, CAST(sum(n_tok) AS BIGINT) AS avail_tok,
         CAST({_HEX15_SQL('source')} % 9000 + 1000 AS BIGINT) AS weight_bp
  FROM d GROUP BY source
),
tot AS (
  SELECT CAST(sum(avail_tok) AS BIGINT) AS tt,
         CAST(sum(weight_bp) AS BIGINT) AS tw
  FROM per_src
),
plan AS (
  SELECT source, avail_tok,
         CAST((tt * weight_bp) // tw AS BIGINT) AS target_tok,
         ((tt * weight_bp) // tw) // avail_tok >= {_MAX_EPOCHS} AS capped
  FROM per_src, tot
),
e AS (
  SELECT source,
         CAST(least(target_tok // avail_tok, {_MAX_EPOCHS}) AS BIGINT)
           AS full_epochs,
         CAST(CASE WHEN capped THEN 0
              ELSE ((target_tok
                     - least(target_tok // avail_tok,
                             {_MAX_EPOCHS}) * avail_tok) * 1000000)
                   // avail_tok END AS BIGINT) AS residual_ppm
  FROM plan
),
fulls AS (
  SELECT doc.doc_id, doc.source,
         CAST(unnest(range(e.full_epochs)) AS BIGINT) AS epoch
  FROM documents doc JOIN e ON e.source = doc.source
),
residual AS (
  SELECT doc.doc_id, doc.source, e.full_epochs AS epoch
  FROM documents doc JOIN e ON e.source = doc.source
  WHERE {_HEX15_SQL('CAST(doc.doc_id AS VARCHAR)')} % 1000000 < e.residual_ppm
)
SELECT doc_id, source, epoch FROM fulls
UNION ALL
SELECT doc_id, source, epoch FROM residual
"""


# ---------------------------------------------------------------------------
# packing_stats — padding-waste accounting per packing strategy
# ---------------------------------------------------------------------------


def q_packing_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source cost of one-doc-per-block padding vs GPT-style concat
    packing at the _PACK_CAP block size: blocks needed each way and the
    padded strategy's waste in ppm (floor). The question every loader
    design asks before choosing ``pack_blocks``; pure integer
    arithmetic in one partial-agg shuffle — ceil(a/b) spelled
    floor((a+b-1)/b) so both engines stay in BIGINT."""
    d = _docs(spark, sf_dir).select(
        "source", F.size(F.split(F.trim("text"), " ")).alias("n_tok")
    )
    blocks_padded = F.floor((F.col("n_tok") + _PACK_CAP - 1) / _PACK_CAP)
    agg = d.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tok").cast("bigint").alias("sum_tok"),
        F.sum(blocks_padded).cast("bigint").alias("blocks_padded"),
    )
    blocks_concat = F.floor(
        (F.col("sum_tok") + _PACK_CAP - 1) / _PACK_CAP
    ).cast("bigint")
    waste = F.floor(
        (F.col("blocks_padded") * _PACK_CAP - F.col("sum_tok"))
        * 1000000
        / (F.col("blocks_padded") * _PACK_CAP)
    ).cast("bigint")
    return agg.select(
        "source",
        "n_docs",
        "sum_tok",
        "blocks_padded",
        blocks_concat.alias("blocks_concat"),
        waste.alias("padded_waste_ppm"),
    )


SQL_PACKING_STATS = f"""WITH d AS (
  SELECT source, len(string_split(trim(text), ' ')) AS n_tok FROM documents
),
agg AS (
  SELECT source, count(*) AS n_docs,
         CAST(sum(n_tok) AS BIGINT) AS sum_tok,
         CAST(sum(floor((n_tok + {_PACK_CAP} - 1) / {_PACK_CAP})) AS BIGINT)
           AS blocks_padded
  FROM d GROUP BY source
)
SELECT source, n_docs, sum_tok, blocks_padded,
       CAST(floor((sum_tok + {_PACK_CAP} - 1) / {_PACK_CAP}) AS BIGINT)
         AS blocks_concat,
       CAST(floor((blocks_padded * {_PACK_CAP} - sum_tok) * 1000000
                  / (blocks_padded * {_PACK_CAP})) AS BIGINT)
         AS padded_waste_ppm
FROM agg
"""


# ---------------------------------------------------------------------------
# corpus_shuffle — deterministic training-order shuffle + offsets
# ---------------------------------------------------------------------------

_SHUF_SEED = "r5"  # seed folded into the order key; change to re-shuffle


def q_corpus_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible global training-order shuffle: every doc gets its
    position and token offset in md5(seed ':' doc_id) order — the
    deterministic equivalent of shuffling the corpus before packing a
    training stream (same hash-order trick CCNet/DCLM-style pipelines
    use so a re-run, a resumed run, and a two-cluster run all agree on
    the stream without a stored permutation).

    Scale: the naive form is one global sort + one global prefix
    window. Here the hash key's first byte buckets docs into 256
    uniform groups (md5 is uniform, so buckets stay balanced at any
    corpus size — unlike doc_id ranges, no loader skew); per-bucket
    doc/token totals are a partial agg, the cross-bucket prefix is a
    window over the 256-row bucket relation, and within-bucket order is
    a local window per bucket — the :func:`pack_offsets` two-phase
    discipline transplanted onto an arbitrary order key. Collision
    tie-break is (key, doc_id) on both engines."""
    d = _docs(spark, sf_dir).select(
        "doc_id", F.size(F.split(F.trim("text"), " ")).alias("n_tok")
    )
    key = F.md5(F.concat(F.lit(_SHUF_SEED + ":"), F.col("doc_id").cast("string")))
    d = d.withColumn("_k", key).withColumn("_b", F.substring("_k", 1, 2))
    counts = d.groupBy("_b").agg(
        F.count("*").alias("_nd"), F.sum("n_tok").alias("_nt")
    )
    w_b = Window.orderBy("_b").rowsBetween(Window.unboundedPreceding, -1)
    offs = counts.select(
        "_b",
        F.coalesce(F.sum("_nd").over(w_b), F.lit(0)).alias("_docs_before"),
        F.coalesce(F.sum("_nt").over(w_b), F.lit(0)).alias("_toks_before"),
    )
    w_local = Window.partitionBy("_b").orderBy("_k", "doc_id")
    return (
        d.join(F.broadcast(offs), "_b")
        .select(
            "doc_id",
            "n_tok",
            (F.col("_docs_before") + F.row_number().over(w_local) - 1).alias(
                "shuffle_pos"
            ),
            (
                F.col("_toks_before")
                + F.coalesce(
                    F.sum("n_tok").over(
                        w_local.rowsBetween(Window.unboundedPreceding, -1)
                    ),
                    F.lit(0),
                )
            ).alias("start_off"),
        )
    )


SQL_CORPUS_SHUFFLE = f"""WITH d AS (
  SELECT doc_id, len(string_split(trim(text), ' ')) AS n_tok,
         md5('{_SHUF_SEED}:' || CAST(doc_id AS VARCHAR)) AS k
  FROM documents
)
SELECT doc_id, n_tok,
       CAST(row_number() OVER (ORDER BY k, doc_id) - 1 AS BIGINT) AS shuffle_pos,
       CAST(coalesce(sum(n_tok) OVER (ORDER BY k, doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
         AS start_off
FROM d
"""


# ---------------------------------------------------------------------------
# quality_deciles — exact per-source decile table without doc ranking
# ---------------------------------------------------------------------------


def q_quality_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-source quality-decile table: doc counts and quality
    bounds for each decile of each source's quality distribution
    (decile of a doc = floor(rank * 10 / n) over (quality ASC, doc_id)
    order — ntile semantics with a deterministic tie-break). The
    calibration table a quality-threshold choice reads.

    Scale: the naive plan ranks every document per source (one window
    over the doc relation — the exact shape this codebase bans). Here
    ranks are never materialized: docs collapse to exact-quality
    groups (<= 1e6+1 rows per source, same bound as
    ``token_budget_sample``), the per-source prefix runs over groups,
    and each group's rank INTERVAL [cum, cum+c-1] is intersected with
    each decile's rank interval in closed form — a group spans <= 10
    deciles, so the explode is bounded. Unscoreable (NULL-quality)
    docs are excluded, as in the budget fill."""
    from .queries_corpus import _barrier, q_quality_score

    qsc = q_quality_score(spark, sf_dir).select("doc_id", "quality")
    src = _docs(spark, sf_dir).select("doc_id", "source")
    d = qsc.where(F.col("quality").isNotNull()).join(src, "doc_id")
    # _barrier (r8): the decile intersection references the tiny
    # (source, quality) group relation twice (n_src + join) — without
    # it the whole quality subtree re-ran per reference
    g = _barrier(d.groupBy("source", "quality").agg(F.count("*").alias("c")))
    w = (
        Window.partitionBy("source")
        .orderBy(F.col("quality").asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    g = g.withColumn("cum", F.coalesce(F.sum("c").over(w), F.lit(0)))
    n_src = g.groupBy("source").agg(F.sum("c").alias("n"))
    j = g.join(F.broadcast(n_src), "source")
    d_lo = F.floor(F.col("cum") * 10 / F.col("n"))
    d_hi = F.floor((F.col("cum") + F.col("c") - 1) * 10 / F.col("n"))
    e = j.select(
        "source",
        "quality",
        "c",
        "cum",
        "n",
        F.explode(F.sequence(d_lo, d_hi)).alias("decile"),
    )
    # ranks of decile k: [ceil(k*n/10), ceil((k+1)*n/10) - 1]
    k_lo = F.floor((F.col("decile") * F.col("n") + 9) / 10)
    k_hi = F.floor(((F.col("decile") + 1) * F.col("n") + 9) / 10) - 1
    overlap = (
        F.least(F.col("cum") + F.col("c") - 1, k_hi)
        - F.greatest(F.col("cum"), k_lo)
        + 1
    )
    return (
        e.withColumn("_ov", overlap)
        .where(F.col("_ov") > 0)
        .groupBy("source", "decile")
        .agg(
            F.sum("_ov").cast("bigint").alias("n_docs"),
            F.min("quality").alias("min_q"),
            F.max("quality").alias("max_q"),
        )
    )


def _quality_deciles_sql() -> str:
    from .queries_corpus import _QUAL_BASE_CTE, _QUAL_EXPR_SQL

    return f"""WITH {_NORM_CTE},
{_QUAL_BASE_CTE},
q AS (
  SELECT doc_id, {_QUAL_EXPR_SQL} AS quality FROM qbase
),
d AS (
  SELECT q.doc_id, s.source, q.quality
  FROM q JOIN documents s ON s.doc_id = q.doc_id
  WHERE q.quality IS NOT NULL
),
ranked AS (
  SELECT source, quality,
         row_number() OVER (PARTITION BY source
                            ORDER BY quality ASC, doc_id ASC) - 1 AS r,
         count(*) OVER (PARTITION BY source) AS n
  FROM d
)
SELECT source, CAST(floor(r * 10 / n) AS BIGINT) AS decile,
       CAST(count(*) AS BIGINT) AS n_docs,
       min(quality) AS min_q, max(quality) AS max_q
FROM ranked
GROUP BY source, decile
"""


# ---------------------------------------------------------------------------
# vocab_coverage — tokenizer-fit diagnostic against a corpus vocabulary
# ---------------------------------------------------------------------------

_VOCAB_K = 1000  # vocabulary size (top-K corpus tokens)


def q_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source out-of-vocabulary rate against the corpus's own top-K
    token vocabulary — the shape of a tokenizer-fit check (how much of
    each source a fixed vocab fails to cover; a real run swaps the
    self-derived vocab for the tokenizer's). Emits per source: token
    occurrences, occurrences outside the vocab, OOV ppm (floor), and
    distinct OOV types.

    Scale: token counts are one partial-agg shuffle; the vocab is a
    bounded top-K (TakeOrdered — never a global sort of the vocabulary;
    ties split by token string so both engines pick the identical set);
    the vocab joins back as a broadcast. The per-source rollup is a
    second partial agg. Nothing is ever ranked per source."""
    toks = (
        _norm_docs(spark, sf_dir, spread=False)
        .join(_docs(spark, sf_dir).select("doc_id", "source"), "doc_id")
        .select("source", F.explode(F.split("norm", " ")).alias("tok"))
    )
    vocab = (
        toks.groupBy("tok")
        .agg(F.count("*").alias("_n"))
        .orderBy(F.col("_n").desc(), F.col("tok").asc())
        .limit(_VOCAB_K)
        .select("tok")
    )
    j = toks.join(F.broadcast(vocab.withColumn("_in", F.lit(1))), "tok", "left")
    oov = F.col("_in").isNull()
    return j.groupBy("source").agg(
        F.count("*").alias("n_tok_occ"),
        F.sum(oov.cast("bigint")).alias("oov_occ"),
        F.floor(
            F.sum(oov.cast("bigint")) * 1000000 / F.count("*")
        ).cast("bigint").alias("oov_ppm"),
        F.count_distinct(F.when(oov, F.col("tok"))).alias("oov_types"),
    )


SQL_VOCAB_COVERAGE = f"""WITH {_NORM_CTE},
toks AS (
  SELECT d.source, unnest(string_split(n.norm, ' ')) AS tok
  FROM norm_docs n JOIN documents d ON d.doc_id = n.doc_id
),
vocab AS (
  SELECT tok FROM (
    SELECT tok, count(*) AS n FROM toks GROUP BY tok
    ORDER BY n DESC, tok ASC LIMIT {_VOCAB_K}
  )
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_tok_occ,
       CAST(sum(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS oov_occ,
       CAST(floor(sum(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) * 1000000
                  / count(*)) AS BIGINT) AS oov_ppm,
       CAST(count(DISTINCT CASE WHEN v.tok IS NULL THEN t.tok END) AS BIGINT)
         AS oov_types
FROM toks t LEFT JOIN vocab v ON v.tok = t.tok
GROUP BY source
"""


# ---------------------------------------------------------------------------
# corpus_prep_budget — the composed DCLM-style deliverable: quality
# budget fill as the selection mechanism instead of per-source rates
# ---------------------------------------------------------------------------


def q_corpus_prep_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The budget-fill twin of ``corpus_prep``: decontaminate (drop
    probe docs and anything sharing a probe 3-gram) -> exact dedup
    (min-doc_id canonical per normalized-text fingerprint, elected over
    the decontaminated SURVIVORS) -> per-source token-budget fill
    (keep each source's highest-quality canonicals while tokens stay
    under floor(_TBS_FRAC * the source's surviving tokens) — budgets
    are computed over the survivors, so upstream removals shrink the
    fill, exactly like a real DCLM-style run re-budgeting after dedup)
    -> GPT-style pack offsets over the kept docs in doc_id order.

    One token discipline throughout: ``q_quality_score``'s normalized
    token count feeds the budget, the greedy fill, and the packing
    (unlike ``corpus_prep``'s raw trim-split count — this pipeline's
    unit is the quality-scored normalized doc). Unscoreable docs
    (NULL quality) survive decontamination and can win a dedup
    canonical election, but are neither fill candidates nor budget
    contributors — same discipline as ``token_budget_sample``.

    Scale: the canonical election is the skew-safe min-struct partial
    agg (no window over the hot fingerprint), the fill is the bounded
    three-stage :func:`budget_fill` (no per-source ranking of docs),
    and packing is the two-phase prefix sum. Registered as ONE query so
    cross-stage drift (a budget counting tokens dedup removed, a fill
    candidate decontamination dropped) cannot hide between piecewise
    proofs.

    Fan-out note (measured, sf0.1 local[32]): :func:`budget_fill`
    referenced the canonical-survivor relation in four branches, and
    the printed plan shows the decontaminate -> dedup chain repeated
    per branch — but at runtime Spark's exchange reuse
    (``spark.sql.exchange.reuse``, on by default) materializes each
    identical shuffle once and the branches read the shared shuffle
    output, so the pure form needs no persist barrier. An explicit
    ``.persist()`` of the survivor relation was tried and REJECTED:
    caching forces a materialization barrier and serializes the wide
    relation, measuring ~30% SLOWER cold than letting exchange reuse
    dedupe (best-of-4: 5.4 s pure vs 7.1 s persisted)."""
    from .queries_corpus import _NORM_SPARK, q_quality_score

    clean = _decontaminated(spark, sf_dir)
    qsc = q_quality_score(spark, sf_dir).select(
        "doc_id", F.col("n_tokens").cast("bigint").alias("n_tokens"), "quality"
    )
    surv = clean.join(qsc, "doc_id")
    fp = surv.select(
        F.md5(_NORM_SPARK(F.col("text"))).alias("fp"),
        "doc_id",
        "source",
        "n_tokens",
        "quality",
    )
    # doc_id leads the struct and is unique, so the lexicographic min
    # never reaches the nullable quality field
    from .queries_corpus import _barrier

    # _barrier (r8): budget_fill reads the canonical relation three
    # times; this one is NARROW (4 scalar columns) so the
    # materialization is cheap — unlike the r6-rejected persist of the
    # WIDE survivor relation (docstring above), which serialized text
    canon = _barrier(
        fp.groupBy("fp")
        .agg(F.min(F.struct("doc_id", "source", "n_tokens", "quality")).alias("c"))
        .select("c.doc_id", "c.source", "c.n_tokens", "c.quality")
    )
    kept = budget_fill(canon.where(F.col("quality").isNotNull()))
    return pack_offsets(
        kept.withColumnRenamed("n_tokens", "n_tok"),
        passengers=["source", "quality"],
    )


def _corpus_prep_budget_sql() -> str:
    from .queries_corpus import _QUAL_BASE_CTE, _QUAL_EXPR_SQL

    return f"""WITH {_NORM_CTE}{_SHINGLE_CTE},
probe AS (
  SELECT DISTINCT shingle FROM sh WHERE doc_id % {_PROBE_MOD} = 0
),
contaminated AS (
  SELECT DISTINCT s.doc_id
  FROM sh s JOIN probe p ON s.shingle = p.shingle
  WHERE s.doc_id % {_PROBE_MOD} <> 0
),
{_QUAL_BASE_CTE},
q AS (
  SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
         {_QUAL_EXPR_SQL} AS quality
  FROM qbase
),
surv AS (
  SELECT d.doc_id, d.source, d.text, q.n_tokens, q.quality
  FROM documents d JOIN q ON q.doc_id = d.doc_id
  WHERE d.doc_id % {_PROBE_MOD} <> 0
    AND d.doc_id NOT IN (SELECT doc_id FROM contaminated)
),
canon AS (
  SELECT doc_id, source, n_tokens, quality FROM (
    SELECT *, min(doc_id) OVER (PARTITION BY md5({_NORM_SQL})) AS canon_id
    FROM surv
  ) WHERE doc_id = canon_id
),
cand AS (SELECT doc_id, source, n_tokens, quality FROM canon
         WHERE quality IS NOT NULL),
b AS (
  SELECT source, CAST(floor(sum(n_tokens) * {_TBS_FRAC}) AS BIGINT) AS budget
  FROM cand GROUP BY source
),
o AS (
  SELECT cand.*,
         coalesce(sum(n_tokens) OVER (
             PARTITION BY source ORDER BY quality DESC, doc_id ASC
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
  FROM cand
),
kept AS (
  SELECT o.doc_id, o.source, o.n_tokens AS n_tok, o.quality
  FROM o JOIN b ON b.source = o.source
  WHERE o.cum_before < b.budget
),
off AS (
  SELECT doc_id, n_tok, source, quality,
         CAST(coalesce(sum(n_tok) OVER (ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           AS start_off
  FROM kept
)
SELECT doc_id, n_tok, start_off,
       CAST(floor(start_off / {_PACK_CAP}) AS BIGINT) AS first_block,
       CAST(floor((start_off + n_tok - 1) / {_PACK_CAP})
            - floor(start_off / {_PACK_CAP}) + 1 AS BIGINT) AS n_blocks,
       source, quality
FROM off
"""


QUERIES: dict[str, tuple] = {
    "quality_repetition": (q_quality_repetition, SQL_QUALITY_REPETITION),
    "pii_scrub": (q_pii_scrub, SQL_PII_SCRUB),
    "decontaminate": (q_decontaminate, SQL_DECONTAMINATE),
    "decontaminate_join": (q_decontaminate_join, SQL_DECONTAMINATE),
    "mixture_stats": (q_mixture_stats, SQL_MIXTURE_STATS),
    "stratified_sample": (q_stratified_sample, SQL_STRATIFIED_SAMPLE),
    "doc_chunking": (q_doc_chunking, SQL_DOC_CHUNKING),
    "pack_blocks": (q_pack_blocks, SQL_PACK_BLOCKS),
    "corpus_prep": (q_corpus_prep, SQL_CORPUS_PREP),
    "quality_filter": (q_quality_filter, SQL_QUALITY_FILTER),
    "unigram_logprob": (q_unigram_logprob, SQL_UNIGRAM_LOGPROB),
    "distinct_sketch": (q_distinct_sketch, SQL_DISTINCT_SKETCH),
    "bm25_score": (q_bm25_score, SQL_BM25_SCORE),
    "dedup_cross_source": (q_dedup_cross_source, SQL_DEDUP_CROSS_SOURCE),
    "skew_stats": (q_skew_stats, _skew_sql()),
    "token_budget_sample": (q_token_budget_sample, _token_budget_sql()),
    "corpus_prep_budget": (q_corpus_prep_budget, _corpus_prep_budget_sql()),
    "corpus_shuffle": (q_corpus_shuffle, SQL_CORPUS_SHUFFLE),
    "mixture_epochs": (q_mixture_epochs, SQL_MIXTURE_EPOCHS),
    "mixture_expand": (q_mixture_expand, SQL_MIXTURE_EXPAND),
    "packing_stats": (q_packing_stats, SQL_PACKING_STATS),
    "vocab_coverage": (q_vocab_coverage, SQL_VOCAB_COVERAGE),
    "quality_deciles": (q_quality_deciles, _quality_deciles_sql()),
}
