"""Output checks, computed outside every timed region.

* Span sequences: the DuckDB span derivation (``synth.DUCKDB_SPANS_CTE``)
  plus the Python ``clean_ocr_text`` reference, per doc in offset order —
  the oracle ``tests/test_pipeline_e2e.py::python_oracle`` uses, over the
  benchmark's replicated table. The extracted output is read straight
  from the committed run directories with DuckDB.
* corpus_prep_final: ``queries_final._corpus_prep_final_sql()`` run by
  DuckDB with every CTE materialized, cached per input digest.
"""

from __future__ import annotations

import glob
import json
import os
import re

import duckdb

from ocr_dataset_builder_spark import synth
from ocr_dataset_builder_spark.functions.cleanup import clean_ocr_text
from ocr_dataset_builder_spark.queries_final import _corpus_prep_final_sql


def _con(**views: str):
    con = duckdb.connect()
    for name, path in views.items():
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    return con


def build_nested(flat_path: str, out_dir: str, n_files: int) -> int:
    """Write the contract-shaped nested table (doc_id STRING, spans
    ARRAY<STRUCT<kind, text, media_ref, offset INT>>) from the flat
    documents table, spread over ``n_files`` parquet files. Uses the
    DuckDB mirror of the span derivation, so building the input costs
    the program under test nothing. Returns the number of docs."""
    os.makedirs(out_dir, exist_ok=True)
    con = _con(documents=flat_path)
    con.execute(
        f"CREATE TABLE nested AS WITH {synth.DUCKDB_SPANS_CTE} "
        "SELECT doc_id, doc_key, list({'kind': kind, 'text': text, "
        "'media_ref': media_ref, 'offset': span_offset} ORDER BY span_offset) "
        "AS spans FROM span_rows GROUP BY doc_id, doc_key"
    )
    for i in range(n_files):
        con.execute(
            f"COPY (SELECT doc_id, spans FROM nested WHERE doc_key % {n_files} = {i} "
            f"ORDER BY doc_key) TO '{out_dir}/part-{i:03d}.parquet' (FORMAT parquet)"
        )
    return con.sql("SELECT count(*) FROM nested").fetchone()[0]


def expected_spans(flat_path: str) -> list[tuple]:
    """Sorted (doc_id, ord, kind, text, media_ref) rows a correct
    extraction of every doc in ``flat_path`` must produce."""
    con = _con(documents=flat_path)
    rows = con.sql(
        f"WITH {synth.DUCKDB_SPANS_CTE} "
        "SELECT doc_id, CAST(row_number() OVER (PARTITION BY doc_id "
        "ORDER BY span_offset) - 1 AS INT), kind, text, media_ref, span_offset "
        "FROM span_rows"
    ).fetchall()
    out = []
    for doc_id, ord_, kind, text, media_ref, off in rows:
        if kind == "media":
            text = f"OCR {doc_id}/{media_ref}\nline {off % 5}"
        out.append((doc_id, ord_, kind, clean_ocr_text(text), media_ref))
    out.sort()
    return out


def committed_spans(output_dir: str) -> list[tuple]:
    """Sorted extracted rows of every run the checkpoint marks done — the
    same committed-only view ``pipeline.read_extracted`` gives."""
    ck = glob.glob(f"{output_dir}/checkpoint/**/*.parquet", recursive=True)
    if not ck:
        return []
    con = duckdb.connect()
    runs = [
        r[0]
        for r in con.sql(
            f"SELECT DISTINCT run_id FROM read_parquet({ck!r}) WHERE status = 'done'"
        ).fetchall()
    ]
    files = [
        f
        for run in runs
        for f in glob.glob(f"{output_dir}/extracted/run_id={run}/*.parquet")
    ]
    if not files:
        return []
    rows = con.sql(
        f"SELECT doc_id, ord, kind, text, media_ref FROM read_parquet({files!r})"
    ).fetchall()
    rows.sort()
    return rows


def span_mismatch(expected: list[tuple], got: list[tuple]) -> str | None:
    """None when equal, else a one-line description of the first difference."""
    if got == expected:
        return None
    if len(got) != len(expected):
        return f"{len(got)} span rows, expected {len(expected)}"
    for g, e in zip(got, expected):
        if g != e:
            return f"first differing span row: got {g!r}, expected {e!r}"
    return "span rows differ"


def _materialized(sql: str) -> str:
    """Mark every CTE of ``sql`` MATERIALIZED. DuckDB otherwise inlines a
    CTE at each reference, and the unrolled k-means chain is referenced
    many times over: the plain statement takes ~24 s at 500 vectors, the
    materialized one ~1 s, with identical rows."""
    out, n = re.subn(r"(?m)^(WITH |,\s*|\s*)(\w+) AS \(", r"\1\2 AS MATERIALIZED (", sql)
    if not n:
        raise ValueError("no CTE found to materialize")
    return out


def corpus_prep_expected(data_dir: str, cache_dir: str, digest: str) -> list[tuple]:
    """Sorted oracle rows of corpus_prep_final over ``data_dir``, cached
    under ``cache_dir`` by input digest."""
    path = os.path.join(cache_dir, f"corpus_prep_final-{digest}.json")
    if os.path.exists(path):
        with open(path) as f:
            return [tuple(r) for r in json.load(f)]
    con = _con(
        documents=f"{data_dir}/documents.parquet",
        embeddings=f"{data_dir}/embeddings.parquet",
    )
    rel = con.sql(_materialized(_corpus_prep_final_sql()))
    cols = rel.columns
    rows = sorted(_row(dict(zip(cols, r))) for r in rel.fetchall())
    os.makedirs(cache_dir, exist_ok=True)
    tmp = f"{path}.{os.getpid()}.tmp"
    with open(tmp, "w") as f:
        json.dump(rows, f)
    os.replace(tmp, path)
    return rows


def _row(r: dict) -> tuple:
    """One corpus_prep_final row, columns in name order."""
    return tuple(r[k] for k in sorted(r))


def corpus_prep_rows(rows) -> list[tuple]:
    """Spark Rows of corpus_prep_final in the oracle's normal form."""
    return sorted(_row(r.asDict()) for r in rows)
