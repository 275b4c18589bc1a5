"""Driver-contract queries: main-content extraction (HTML boilerplate
strip, DOM block heuristics, frequency boilerplate, layout parse).

The HTML corpus is derived deterministically from the flat documents
table with the same expression in both engines (template chrome — nav,
footer, style, a link block — wrapped around real document text), so the
extraction result is oracle-checkable end to end.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .operators.boilerplate import (
    block_features,
    duckdb_block_features_sql,
    duckdb_strip_html_sql,
    strip_html_col,
)
from .operators.layout import reading_order_lines, synth_layout_tokens
from .synth import load_flat_documents

# ---------------------------------------------------------------------------
# deterministic HTML derivation (portable)
# ---------------------------------------------------------------------------

_HTML_SQL_CTE = (
    "html_docs AS (\n"
    "  SELECT CAST(doc_id AS VARCHAR) AS doc_id, source,\n"
    "    '<html><head><title>Doc ' || CAST(doc_id AS VARCHAR) ||\n"
    "    '</title><style>.x{color:red}</style></head><body>' ||\n"
    "    '<nav>home about contact ' || source || '</nav>' ||\n"
    "    '<div><p>' || replace(substr(text, 1, 200), ' the ', ' the</p><p>') || '</p></div>' ||\n"
    "    '<p><a href=\"/l\">' || substr(text, 10, 20) || '</a> trailing words</p>' ||\n"
    "    '<footer>copyright ' || source || '</footer></body></html>' AS html\n"
    "  FROM documents\n"
    ")"
)


def _html_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # _spread (r8): everything stacked on the html column is regex-dense
    # (strip/boilerplate/block parsing) and the scan is one task at bench
    # scale — same rationale as _norm_docs; skipped on parallel scans
    from .queries_corpus import _spread

    d = _spread(load_flat_documents(spark, sf_dir), "doc_id")
    html = F.concat(
        F.lit("<html><head><title>Doc "),
        F.col("doc_id").cast("string"),
        F.lit("</title><style>.x{color:red}</style></head><body>"),
        F.lit("<nav>home about contact "),
        F.col("source"),
        F.lit("</nav>"),
        F.lit("<div><p>"),
        F.regexp_replace(F.substring("text", 1, 200), " the ", " the</p><p>"),
        F.lit("</p></div>"),
        F.lit('<p><a href="/l">'),
        F.substring("text", 10, 20),
        F.lit("</a> trailing words</p>"),
        F.lit("<footer>copyright "),
        F.col("source"),
        F.lit("</footer></body></html>"),
    )
    return d.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        "source",
        html.alias("html"),
    )


def q_html_main_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Readability-style main-content extraction: chrome containers and
    tags stripped, whitespace normalized."""
    return _html_docs(spark, sf_dir).select(
        "doc_id", strip_html_col(F.col("html")).alias("main_text")
    )


SQL_HTML_MAIN_TEXT = (
    f"WITH {_HTML_SQL_CTE}\n"
    f"SELECT doc_id, {duckdb_strip_html_sql('html')} AS main_text FROM html_docs"
)


def q_html_blocks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DOM block heuristics: per-block text length + link density ->
    content/boilerplate classification."""
    return block_features(_html_docs(spark, sf_dir), "html")


SQL_HTML_BLOCKS = (
    f"WITH {_HTML_SQL_CTE},"
    + duckdb_block_features_sql("html")
    + """
SELECT doc_id, block_id, text_len,
       round(link_len / greatest(text_len, 1), 6) AS link_density,
       (text_len >= 15 AND round(link_len / greatest(text_len, 1), 6) < 0.5) AS is_content
FROM feat WHERE text_len > 0
"""
)


# ---------------------------------------------------------------------------
# frequency boilerplate: phrases recurring across a source are template
# ---------------------------------------------------------------------------

_PHRASE_FRAC = 0.15


def _doc_phrases(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .queries_corpus import word_ngrams

    norm = F.trim(F.regexp_replace(F.lower("text"), r"\s+", " "))
    d = load_flat_documents(spark, sf_dir).withColumn("t", F.split(norm, " "))
    return d.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        "source",
        F.explode(word_ngrams("t", 2)).alias("phrase"),
    )


_PHRASES_SQL_CTE = """
doc_phrases AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id, source, unnest(list_distinct(
    list_transform(range(1, greatest(len(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) - 1, 0) + 1),
                   i -> string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')[i] || ' ' ||
                        string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')[i+1])
  )) AS phrase
  FROM documents
),
src_sizes AS (
  SELECT source, count(*) AS n_src_docs FROM documents GROUP BY source
),
boiler AS (
  SELECT p.source, p.phrase, count(*) AS n_docs
  FROM doc_phrases p
  GROUP BY 1, 2
)
""".strip()


def q_boilerplate_phrases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Template phrases: 2-grams present in >= 15% of a source's docs."""
    phrases = _doc_phrases(spark, sf_dir)
    # source sizes come from the base table — no second pass over the
    # exploded phrase relation
    sizes = (
        load_flat_documents(spark, sf_dir)
        .groupBy("source")
        .agg(F.count("*").alias("n_src_docs"))
    )
    # phrases are already distinct per doc (array_distinct upstream), so
    # a plain count equals the distinct doc count — no expensive
    # distinct-aggregation expansion. This relies on doc_id being unique
    # in documents.parquet (pinned by tests/test_synth_parity.py::
    # test_documents_doc_id_unique); duplicate doc_id rows would inflate
    # both n_docs and n_src_docs.
    counts = phrases.groupBy("source", "phrase").agg(
        F.count("*").alias("n_docs")
    )
    return (
        counts.join(F.broadcast(sizes), "source")
        .where(F.col("n_docs") >= _PHRASE_FRAC * F.col("n_src_docs"))
        .select("source", "phrase", "n_docs")
    )


SQL_BOILERPLATE_PHRASES = f"""WITH {_PHRASES_SQL_CTE}
SELECT b.source, b.phrase, b.n_docs
FROM boiler b JOIN src_sizes s ON s.source = b.source
WHERE b.n_docs >= {_PHRASE_FRAC} * s.n_src_docs
"""


def q_boilerplate_strip_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc boilerplate exposure: how many of its phrases are source
    template phrases (the strip decision the cleaner applies)."""
    phrases = _doc_phrases(spark, sf_dir)
    boiler = q_boilerplate_phrases(spark, sf_dir).select(
        "source", "phrase", F.lit(1).alias("_b")
    )
    joined = phrases.join(boiler, ["source", "phrase"], "left")
    return joined.groupBy("doc_id").agg(
        F.count("*").alias("n_phrases"),
        F.sum(F.coalesce(F.col("_b"), F.lit(0))).alias("n_boiler"),
        F.round(
            F.sum(F.coalesce(F.col("_b"), F.lit(0))) / F.count("*"), 6
        ).alias("boiler_ratio"),
    )


SQL_BOILERPLATE_STRIP_STATS = f"""WITH {_PHRASES_SQL_CTE},
bset AS (
  SELECT b.source, b.phrase
  FROM boiler b JOIN src_sizes s ON s.source = b.source
  WHERE b.n_docs >= {_PHRASE_FRAC} * s.n_src_docs
)
SELECT p.doc_id,
       count(*) AS n_phrases,
       CAST(sum(CASE WHEN bs.phrase IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_boiler,
       round(sum(CASE WHEN bs.phrase IS NOT NULL THEN 1 ELSE 0 END) / count(*), 6) AS boiler_ratio
FROM doc_phrases p
LEFT JOIN bset bs ON bs.source = p.source AND bs.phrase = p.phrase
GROUP BY p.doc_id
"""


# ---------------------------------------------------------------------------
# layout / reading order
# ---------------------------------------------------------------------------


def q_layout_reading_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_flat_documents(spark, sf_dir)
    return reading_order_lines(synth_layout_tokens(d))


SQL_LAYOUT_READING_ORDER = """
WITH toks AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id,
         CAST(u.i - 1 AS INT) AS tok_idx, u.tok
  FROM (
    SELECT doc_id,
           unnest(list_transform(string_split(trim(regexp_replace(text, '\\s+', ' ', 'g')), ' '),
                                 (x, i) -> struct_pack(i := i, tok := x))) AS u
    FROM documents
  )
  WHERE u.i <= 60
),
placed AS (
  SELECT doc_id, tok_idx, tok,
         CAST((tok_idx * 37) % 80 AS INT) AS x,
         CAST(floor(tok_idx / 10) AS INT) AS line_no
  FROM toks
)
SELECT doc_id, line_no,
       string_agg(tok, ' ' ORDER BY x, tok_idx) AS line_text
FROM placed
GROUP BY 1, 2
"""


def q_html_content_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Boilerpipe-style end deliverable: main content as the
    block-classifier's content blocks re-assembled in DOM order —
    complements q_html_main_text (tag/chrome rule stripping) with the
    feature-classified route. In-row ordering via array_sort over
    (block_id, text) structs, one shuffle on doc_id; docs whose every
    block is boilerplate stay present with empty content."""
    from .operators.boilerplate import block_features

    feats = block_features(_html_docs(spark, sf_dir), "html", keep_text=True)
    content = (
        feats.where(F.col("is_content"))
        .groupBy("doc_id")
        .agg(
            F.array_join(
                F.transform(
                    F.sort_array(F.collect_list(F.struct("block_id", "text"))),
                    lambda s: s["text"],
                ),
                " ",
            ).alias("content_text")
        )
    )
    base = _html_docs(spark, sf_dir).select("doc_id")
    return base.join(content, "doc_id", "left").select(
        "doc_id", F.coalesce("content_text", F.lit("")).alias("content_text")
    )


SQL_HTML_CONTENT_TEXT = (
    f"WITH {_HTML_SQL_CTE},"
    + duckdb_block_features_sql("html")
    + """,
content AS (
  SELECT doc_id, string_agg(text, ' ' ORDER BY block_id ASC) AS content_text
  FROM feat
  WHERE text_len >= 15 AND round(link_len / greatest(text_len, 1), 6) < 0.5
  GROUP BY doc_id
)
SELECT h.doc_id, coalesce(c.content_text, '') AS content_text
FROM html_docs h LEFT JOIN content c ON c.doc_id = h.doc_id
"""
)


QUERIES: dict[str, tuple] = {
    "html_main_text": (q_html_main_text, SQL_HTML_MAIN_TEXT),
    "html_blocks": (q_html_blocks, SQL_HTML_BLOCKS),
    "html_content_text": (q_html_content_text, SQL_HTML_CONTENT_TEXT),
    "boilerplate_phrases": (q_boilerplate_phrases, SQL_BOILERPLATE_PHRASES),
    "boilerplate_strip_stats": (q_boilerplate_strip_stats, SQL_BOILERPLATE_STRIP_STATS),
    "layout_reading_order": (q_layout_reading_order, SQL_LAYOUT_READING_ORDER),
}
