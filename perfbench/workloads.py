"""The three closed-loop batch workloads.

Each workload runs one public entry point of the program end to end,
one call at a time (a closed loop of one client):

* ``cold_extract`` — ``pipeline.run_extraction`` over a fresh nested
  table into an empty output directory.
* ``resume_tail`` — ``pipeline.run_extraction`` over the same table
  after 95% of its docs were committed by earlier runs; each sample
  resumes the last 5%.
* ``corpus_prep`` — ``queries_final.q_corpus_prep_final`` rebuilt from
  its factory with the cache cleared, forced through the noop sink.

A workload's methods split the run into the benchmark's own work
(``make_inputs``, ``prepare``, ``reset``, ``check`` — never timed) and
the program's (``warmup``, part of set-up, and ``sample``, timed).
"""

from __future__ import annotations

import glob
import os
import shutil

import numpy as np

import inputs
import oracle

BASE_DOCS = 5000  # the fixed base corpus, the size of the sf0.1 table
EXTRACT_REPLICAS = 2  # nested table of 10k docs
PENDING_SHARE = 20  # resume_tail: 1/20 = 5% of docs pending
PRE_RUNS = 6  # resume_tail: runs that committed the other 95%
CORPUS_DOCS = 1000
CORPUS_VECTORS = 500


def parquet_bytes(root: str) -> int:
    return sum(
        os.path.getsize(f) for f in glob.glob(f"{root}/**/*.parquet", recursive=True)
    )


def force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class Extraction:
    """Shared input and checks of the two ``run_extraction`` workloads."""

    run_id = "run0"

    def __init__(self, work: str, seed: int, cores: int):
        self.work = work
        self.seed = seed
        self.cores = cores
        self.flat = f"{work}/input/documents.parquet"
        self.nested_dir = f"{work}/input/nested"
        self.out = f"{work}/out"

    def make_inputs(self) -> None:
        table = inputs.documents_table(
            inputs.base_documents(BASE_DOCS),
            inputs.replica_offsets(self.seed, EXTRACT_REPLICAS),
        )
        inputs.write_table(table, self.flat)
        self.input_docs = oracle.build_nested(self.flat, self.nested_dir, 2 * self.cores)
        self.doc_ids = [str(d) for d in table.column("doc_id").to_pylist()]
        self.table = table

    def nested(self, spark):
        return spark.read.parquet(self.nested_dir)

    def sample(self, spark) -> int:
        from ocr_dataset_builder_spark import pipeline

        return pipeline.run_extraction(
            spark, self.nested(spark), self.out, run_id=self.run_id
        )

    def warmup(self, spark) -> None:
        """One cold run of the whole table into a scratch directory."""
        from ocr_dataset_builder_spark import pipeline

        pipeline.run_extraction(spark, self.nested(spark), f"{self.work}/warm")
        shutil.rmtree(f"{self.work}/warm")

    def staged_dir(self) -> str:
        return f"{self.out}/extracted/run_id={self.run_id}"

    def check(self) -> str | None:
        return oracle.span_mismatch(
            oracle.expected_spans(self.flat), oracle.committed_spans(self.out)
        )


class ColdExtract(Extraction):
    name = "cold_extract"
    # the first call starts the Python workers and compiles; the second
    # still runs ~30% slower than the later ones
    warmup_calls = 2

    def make_inputs(self) -> None:
        super().make_inputs()
        self.digest = inputs.digest(self.table, extra=self.name)

    def prepare(self, spark) -> None:
        self.pending_docs = self.input_docs

    def reset(self) -> None:
        shutil.rmtree(self.out, ignore_errors=True)
        self.base_bytes = 0

    def probe_input(self, spark):
        return self.nested(spark)


class ResumeTail(Extraction):
    name = "resume_tail"
    run_id = "tail"
    # the earlier runs are the set-up: the program's own work that brings
    # the table to 95% committed, and they warm the same code path
    warmup_calls = PRE_RUNS

    def make_inputs(self) -> None:
        super().make_inputs()
        # 5% of docs stay pending: the same base docs for every seed, so
        # every seed resumes the same work, with the seed picking which
        # replica of each is pending. The seed deals the rest into
        # PRE_RUNS chunks, one per earlier run; chunk PRE_RUNS is the tail.
        import pyarrow as pa
        import pyarrow.parquet as pq

        n_docs = len(self.doc_ids)
        n_pending = n_docs // PENDING_SHARE
        rng = np.random.default_rng(self.seed)
        base = np.random.default_rng(inputs.BASE_SEED).choice(BASE_DOCS, n_pending, replace=False)
        pending = base + BASE_DOCS * rng.integers(0, EXTRACT_REPLICAS, n_pending)
        chunk = np.full(n_docs, PRE_RUNS, dtype=np.int32)
        rest = np.setdiff1d(np.arange(n_docs), pending)
        chunk[rng.permutation(rest)] = np.arange(len(rest)) % PRE_RUNS
        self.chunks = f"{self.work}/input/chunks.parquet"
        inputs.write_table(
            pa.table({"doc_id": pa.array(self.doc_ids), "chunk": pa.array(chunk)}),
            self.chunks,
        )
        self.pending_ids = sorted(self.doc_ids[i] for i in pending)
        self.digest = inputs.digest(self.table, pq.read_table(self.chunks), extra=self.name)
        self.snapshot = f"{self.work}/snapshot"
        self.pre_runs_done = 0

    def _upto(self, spark, k: int):
        from pyspark.sql import functions as F

        ids = spark.read.parquet(self.chunks).where(F.col("chunk") <= k).select("doc_id")
        return self.nested(spark).join(F.broadcast(ids), "doc_id", "left_semi")

    def _pre_run(self, spark, k: int) -> None:
        from ocr_dataset_builder_spark import pipeline

        pipeline.run_extraction(spark, self._upto(spark, k), self.snapshot, run_id=f"pre{k}")

    def warmup(self, spark) -> None:
        """The next earlier run, committing one more chunk of the table."""
        self._pre_run(spark, self.pre_runs_done)
        self.pre_runs_done += 1

    def prepare(self, spark) -> None:
        if self.pre_runs_done != PRE_RUNS:
            raise RuntimeError(f"{self.pre_runs_done} earlier runs, expected {PRE_RUNS}")
        self.pending_docs = len(self.pending_ids)
        self.snapshot_bytes = parquet_bytes(self.snapshot)
        self.files_read = len(glob.glob(f"{self.snapshot}/checkpoint/**/*.parquet", recursive=True))

    def reset(self) -> None:
        shutil.rmtree(self.out, ignore_errors=True)
        shutil.copytree(self.snapshot, self.out)
        self.base_bytes = self.snapshot_bytes

    def probe_input(self, spark):
        return self._upto(spark, PRE_RUNS).join(
            self._upto(spark, PRE_RUNS - 1), "doc_id", "left_anti"
        )

    def check(self) -> str | None:
        bad = super().check()
        if bad:
            return bad
        import duckdb

        files = glob.glob(f"{self.out}/checkpoint/**/*.parquet", recursive=True)
        tail = sorted(
            r[0]
            for r in duckdb.sql(
                f"SELECT doc_id FROM read_parquet({files!r}) WHERE run_id = 'tail'"
            ).fetchall()
        )
        if tail != self.pending_ids:
            return f"resume committed {len(tail)} docs, expected the {len(self.pending_ids)} pending"
        return None


class CorpusPrep:
    name = "corpus_prep"
    # one call: it is the costliest, and its rows are the ones checked
    warmup_calls = 1

    def __init__(self, work: str, seed: int, cores: int):
        self.work = work
        self.seed = seed
        self.data = f"{work}/input/corpus"
        self.cache = os.path.join(os.path.dirname(work), "oracle-cache")

    def make_inputs(self) -> None:
        offset = inputs.replica_offsets(self.seed, 1)[0]
        docs = inputs.documents_table(inputs.base_documents(CORPUS_DOCS), [offset])
        emb = inputs.embeddings_table(CORPUS_VECTORS, offset)
        inputs.write_table(docs, f"{self.data}/documents.parquet")
        inputs.write_table(emb, f"{self.data}/embeddings.parquet")
        self.input_docs = docs.num_rows
        self.pending_docs = docs.num_rows
        self.digest = inputs.digest(docs, emb, extra=self.name)

    def build(self, spark):
        from ocr_dataset_builder_spark import queries_final

        return queries_final.q_corpus_prep_final(spark, self.data)

    def warmup(self, spark) -> None:
        # the warm-up's rows are the ones checked: every sample rebuilds
        # the identical plan (same-work guard), forced to noop instead
        self.rows = oracle.corpus_prep_rows(self.build(spark).collect())

    def prepare(self, spark) -> None:
        import pyarrow as pa

        # an output row is one doc occurrence of the training stream
        cols = zip(*self.rows)
        self.output_bytes = pa.table({str(i): list(c) for i, c in enumerate(cols)}).nbytes
        self.output_docs = len(self.rows)

    def reset(self) -> None:
        from pyspark.sql import SparkSession

        SparkSession.getActiveSession().catalog.clearCache()

    def sample(self, spark) -> int:
        force(self.build(spark))
        return self.input_docs

    def check(self) -> str | None:
        want = oracle.corpus_prep_expected(self.data, self.cache, self.digest)
        if self.rows == want:
            return None
        return f"corpus_prep_final gave {len(self.rows)} rows, oracle {len(want)}" + (
            "" if len(self.rows) != len(want) else " (values differ)"
        )


WORKLOADS = {w.name: w for w in (ColdExtract, ResumeTail, CorpusPrep)}
