"""Refinement round trip (A3 <-> T6), JSONL export, multimodal plumbing,
and the Structured Streaming daemon (D1/D2)."""

from __future__ import annotations

import json
import os
import shutil
import tempfile

from pyspark.sql import functions as F

from conftest import file_stamps, jobs_of

from ocr_dataset_builder_spark import synth
from ocr_dataset_builder_spark.operators.refinement import (
    assemble_batch,
    parse_llm_response,
    refine_text_batch,
)
from ocr_dataset_builder_spark.sources.jsonl import (
    export_cleaning_pairs,
    export_standard,
)


def test_parse_roundtrip_unit():
    frames = [(0, "hello world"), (1, "hello world\nmore"), (2, ""), (3, "x")]
    resp = refine_text_batch(frames)
    parsed = parse_llm_response(resp)
    assert parsed is not None
    assert len(parsed["task3_cleaned_text"]) == 4
    assert parsed["task3_cleaned_text"][0] == "hello world"
    assert parsed["task3_cleaned_text"][2] == ""
    assert parsed["task4_markdown_text"][1].startswith("## Frame 1")
    assert parsed["task5_summary"].startswith("hello world")


def test_parse_edge_cases():
    assert parse_llm_response("") is None
    assert parse_llm_response("   \n ") is None
    assert parse_llm_response("garbage with no headers") is None
    # missing task4: still parses task3 + 5
    resp = (
        "==== TASK 3: CLEANED AND CORRECTED OCR TEXT ====\n\n"
        "-- Frame 0 --\nabc\n\n"
        "==== TASK 5: CONTEXTUAL SUMMARY AND KEY INFORMATION ====\n\nsum"
    )
    parsed = parse_llm_response(resp)
    assert parsed["task3_cleaned_text"] == ["abc"]
    assert parsed["task4_markdown_text"] == []
    assert parsed["task5_summary"] == "sum"


def test_assemble_matches_reference_format():
    # reference llm/text_pipeline.py:77-81: '--- Frame {i} ---\n{text}\n\n', stripped
    out = assemble_batch([(1, "b"), (0, "a")])
    assert out == "--- Frame 0 ---\na\n\n--- Frame 1 ---\nb"


def test_jsonl_export(spark, sf_dir):
    flat = synth.span_rows(spark, sf_dir).where("kind = 'media'").limit(50)
    df = flat.select(
        "doc_id",
        F.col("media_ref").alias("frame_path"),
        F.lit("raw t").alias("tesseract_ocr"),
        F.lit("aug one").alias("aug1"),
        F.lit("clean t").alias("llm_clean_ocr"),
        F.lit("# md").alias("markdown"),
        F.lit("sum").alias("summary"),
    )
    d = tempfile.mkdtemp(prefix="odb_jsonl_")
    try:
        export_standard(df, f"{d}/standard")
        lines = []
        for fn in os.listdir(f"{d}/standard"):
            if fn.endswith(".json"):
                with open(f"{d}/standard/{fn}") as f:
                    lines += [json.loads(l) for l in f if l.strip()]
        assert len(lines) == 50
        assert set(lines[0]) == {
            "doc_id", "frame_path", "tesseract_ocr", "llm_clean_ocr",
            "markdown", "summary",
        }

        export_cleaning_pairs(
            df, f"{d}/pairs", ["tesseract_ocr", "aug1"], "llm_clean_ocr"
        )
        plines = []
        for fn in os.listdir(f"{d}/pairs"):
            if fn.endswith(".json"):
                with open(f"{d}/pairs/{fn}") as f:
                    plines += [json.loads(l) for l in f if l.strip()]
        assert len(plines) == 100  # 2 variants per frame
        assert {p["variant_id"] for p in plines} == {0, 1}
        assert all(p["clean"] == "clean t" for p in plines)
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_streaming_daemon_incremental(spark, sf_dir):
    from ocr_dataset_builder_spark.streaming.daemon import watch_available_now

    nested = synth.documents_spans(spark, sf_dir)
    part1 = nested.where(F.col("doc_id").cast("bigint") % 2 == 0)
    part2 = nested.where(F.col("doc_id").cast("bigint") % 2 == 1)
    n1, n2 = part1.count(), part2.count()

    in_dir = tempfile.mkdtemp(prefix="odb_stream_in_")
    out_dir = tempfile.mkdtemp(prefix="odb_stream_out_")
    try:
        part1.write.mode("append").parquet(in_dir)
        got1 = watch_available_now(spark, in_dir, out_dir, run_id="s1")
        assert got1 == n1

        # second invocation with no new files: nothing reprocessed
        got_idle = watch_available_now(spark, in_dir, out_dir, run_id="s2")
        assert got_idle == 0

        # new files arrive -> only they are processed
        part2.write.mode("append").parquet(in_dir)
        got2 = watch_available_now(spark, in_dir, out_dir, run_id="s3")
        assert got2 == n2

        extracted = spark.read.parquet(f"{out_dir}/extracted")
        assert extracted.select("doc_id").distinct().count() == n1 + n2
    finally:
        shutil.rmtree(in_dir, ignore_errors=True)
        shutil.rmtree(out_dir, ignore_errors=True)


def test_streaming_daemon_replay_is_a_noop(spark, sf_dir):
    """Replaying a committed batch through the shared micro-batch body
    (crash between commit_run and the stream-checkpoint write) returns at
    the committed-run guard: no file under the output dir changes,
    nothing is counted, and no job runs beyond the empty and
    committed-run probes."""
    from ocr_dataset_builder_spark.streaming.daemon import (
        NESTED_SCHEMA,
        _checkpoint_run_prefix,
        batch_body,
        extraction_stage,
        watch_available_now,
    )

    nested = synth.documents_spans(spark, sf_dir)
    in_dir = tempfile.mkdtemp(prefix="odb_replay_in_")
    out_dir = tempfile.mkdtemp(prefix="odb_replay_out_")
    try:
        nested.write.mode("append").parquet(in_dir)
        assert watch_available_now(spark, in_dir, out_dir) == nested.count()

        prefix = _checkpoint_run_prefix(
            os.path.join(out_dir, "_stream_checkpoint"), "ignored"
        )
        counter = {"n": 0}
        body = batch_body(out_dir, prefix, extraction_stage(out_dir), counter)
        # the one availableNow pass consumed every input file as batch 0
        batch = spark.read.schema(NESTED_SCHEMA).parquet(in_dir)
        before = file_stamps(out_dir)
        _, jobs = jobs_of(spark, lambda: body(batch, 0))
        assert file_stamps(out_dir) == before
        assert counter["n"] == 0
        assert jobs <= 2, f"replay ran {jobs} Spark jobs, the probes are 2"
    finally:
        shutil.rmtree(in_dir, ignore_errors=True)
        shutil.rmtree(out_dir, ignore_errors=True)


def test_watch_continuous_two_deliveries(spark, sf_dir):
    """D1 continuous mode: ONE long-running processingTime-triggered
    stream observes two successive file deliveries and commits each
    exactly once (reference video/frame_pipeline.py:437-522 watch loop)."""
    import time

    from ocr_dataset_builder_spark.pipeline import read_extracted
    from ocr_dataset_builder_spark.streaming.daemon import watch_continuous

    nested = synth.documents_spans(spark, sf_dir)
    part1 = nested.where(F.col("doc_id").cast("bigint") % 2 == 0)
    part2 = nested.where(F.col("doc_id").cast("bigint") % 2 == 1)
    n1, n2 = part1.count(), part2.count()

    in_dir = tempfile.mkdtemp(prefix="odb_daemon_in_")
    out_dir = tempfile.mkdtemp(prefix="odb_daemon_out_")
    query = None
    try:
        part1.write.mode("append").parquet(in_dir)
        query, processed = watch_continuous(
            spark, in_dir, out_dir, run_id="d", interval="1 second"
        )

        def _wait_for(target: int, timeout: float = 90.0) -> None:
            deadline = time.monotonic() + timeout
            while processed["n"] < target:
                assert query.isActive, query.exception()
                assert time.monotonic() < deadline, (processed, target)
                time.sleep(0.5)

        _wait_for(n1)
        assert processed["n"] == n1

        # second delivery lands while the SAME query keeps running
        part2.write.mode("append").parquet(in_dir)
        _wait_for(n1 + n2)
        assert processed["n"] == n1 + n2

        committed = read_extracted(spark, out_dir)
        assert committed.select("doc_id").distinct().count() == n1 + n2
    finally:
        if query is not None:
            query.stop()
        shutil.rmtree(in_dir, ignore_errors=True)
        shutil.rmtree(out_dir, ignore_errors=True)


def test_multimodal_decode_stub_raises():
    import pytest as _pytest

    from ocr_dataset_builder_spark.operators.multimodal import decode_image

    with _pytest.raises(NotImplementedError):
        decode_image(b"\x89PNG")


def test_pdf_decode_stub_raises():
    import pytest as _pytest

    from ocr_dataset_builder_spark.operators.layout import decode_pdf

    with _pytest.raises(NotImplementedError):
        decode_pdf(b"%PDF-1.4")


def test_run_prefix_loser_adopts_winner(tmp_path, monkeypatch):
    """First-start race: if another process installs the marker between
    our existence check and our exclusive link, we must ADOPT its
    prefix — the pre-fix last-wins os.replace let the loser keep
    committing under a prefix that differed from the stored marker
    (double-commit hazard on re-delivery)."""
    from ocr_dataset_builder_spark.streaming import daemon as dmod

    ckdir = str(tmp_path / "ck")
    os.makedirs(ckdir)
    marker = os.path.join(ckdir, "RUN_PREFIX")
    real_link = os.link

    def racing_link(src, dst, *a, **kw):
        # the competing process lands its fully-written marker first
        with open(marker + ".w", "w") as fh:
            fh.write("winner0")
        os.replace(marker + ".w", marker)
        return real_link(src, dst, *a, **kw)  # -> FileExistsError

    monkeypatch.setattr(os, "link", racing_link)
    got = dmod._checkpoint_run_prefix(ckdir, "loser1")
    assert got == "winner0"
    with open(marker) as fh:
        assert fh.read().strip() == "winner0"
    # and a later clean start still adopts the stored prefix
    monkeypatch.setattr(os, "link", real_link)
    assert dmod._checkpoint_run_prefix(ckdir, "later2") == "winner0"


def test_mode_swap_shares_batch_run_prefix(spark, sf_dir):
    """The batch run prefix is owned by the STREAM CHECKPOINT, not the
    caller: draining with availableNow under one run_id, then resuming
    as the continuous daemon under a DIFFERENT run_id, must stage and
    commit under the first mode's prefix — so a re-delivered batch
    overwrites its own output instead of committing twice (round-3
    ADVICE finding)."""
    import time

    from ocr_dataset_builder_spark.pipeline import read_extracted
    from ocr_dataset_builder_spark.streaming.daemon import (
        watch_available_now,
        watch_continuous,
    )

    nested = synth.documents_spans(spark, sf_dir)
    part1 = nested.where(F.col("doc_id").cast("bigint") % 2 == 0)
    part2 = nested.where(F.col("doc_id").cast("bigint") % 2 == 1)
    n1, n2 = part1.count(), part2.count()

    in_dir = tempfile.mkdtemp(prefix="odb_swap_in_")
    out_dir = tempfile.mkdtemp(prefix="odb_swap_out_")
    query = None
    try:
        part1.write.mode("append").parquet(in_dir)
        got1 = watch_available_now(spark, in_dir, out_dir, run_id="modeA")
        assert got1 == n1

        part2.write.mode("append").parquet(in_dir)
        query, processed = watch_continuous(
            spark, in_dir, out_dir, run_id="modeB", interval="1 second"
        )
        deadline = time.monotonic() + 90
        while processed["n"] < n2:
            assert query.isActive, query.exception()
            assert time.monotonic() < deadline, processed
            time.sleep(0.5)
        query.stop()
        query = None

        committed = read_extracted(spark, out_dir)
        assert committed.select("doc_id").distinct().count() == n1 + n2
        # every committed run id carries the FIRST mode's prefix
        from ocr_dataset_builder_spark.lineage import read_checkpoint

        run_ids = {
            r["run_id"]
            for r in read_checkpoint(spark, out_dir).select("run_id").distinct().collect()
        }
        assert run_ids, "no committed runs"
        assert all(r.startswith("modeA-b") for r in run_ids), run_ids
    finally:
        if query is not None:
            query.stop()
        shutil.rmtree(in_dir, ignore_errors=True)
        shutil.rmtree(out_dir, ignore_errors=True)
