"""One benchmark run of one workload, in its own process.

``run.py`` starts this file with the environment set up and a fresh
work directory, captures its log, and writes the result line. This file
writes its raw result as JSON to ``--result``.

A run: build the seeded inputs (untimed) → start the session and make
the warm-up calls (``setup_s``) → benchmark-owned preparation (untimed) →
closed-loop samples for ``--seconds`` of timed work → output check
(untimed). With ``--trace 1`` it instead takes a few untraced and traced
samples plus the layer probes and folds Spark's event log into
per-layer metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))  # the program, from the checkout root

import inputs  # noqa: E402
import spans  # noqa: E402
from workloads import WORKLOADS, force, parquet_bytes  # noqa: E402

MIN_SAMPLES = 2
# the per-layer task times must cover this share of all task time of the
# traced samples; the rest is reported as untagged
ACCOUNT_TOLERANCE = 0.05

# which tracer layers a metric prefix depends on
LAYER_DEPS = {
    "lineage": ("lineage", "lineage.commit"),
    "extract": ("extract",),
    "ocr": ("extract",),
    "cleanup": ("extract",),
    "sink": ("extract",),
    "doc_metrics": ("doc_metrics",),
    "semantic_prep": ("semantic_prep",),
}


def timed(fn) -> float:
    t = time.perf_counter()
    fn()
    return time.perf_counter() - t


def cpu_steal() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs since boot. Steal is time the
    hypervisor gave this machine's CPUs to someone else: on a shared host
    it is the main source of run-to-run spread."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:9]]
    return v[7], sum(v)


def take_samples(spark, wl, n_min: int, seconds: float) -> tuple[list, list, list]:
    """Closed-loop samples until ``seconds`` of timed work and at least
    ``n_min`` samples. Each sample starts from identical state and its
    Spark jobs run under their own job group, so the same-work guard can
    count them."""
    sc = spark.sparkContext
    secs, jobs, docs = [], [], []
    while len(secs) < n_min or sum(secs) < seconds:
        wl.reset()
        group = f"sample-{len(secs)}-{time.time_ns()}"
        sc.setJobGroup(group, "timed sample")
        t = time.perf_counter()
        n = wl.sample(spark)
        secs.append(time.perf_counter() - t)
        sc.setJobGroup("idle", "between samples")
        # the status store is fed asynchronously by the listener bus; on a
        # loaded host the last job's start event can still be queued
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        jobs.append(len(sc.statusTracker().getJobIdsForGroup(group)))
        docs.append(n)
    return secs, jobs, docs


def same_work_error(wl, jobs: list, docs: list) -> str | None:
    """None when every sample ran the same Spark jobs and committed the
    expected docs; otherwise the run's samples are not comparable and the
    run counts as failed."""
    if len(set(jobs)) != 1 or any(n != wl.pending_docs for n in docs):
        return (
            f"samples did different work: jobs per sample {jobs}, docs per "
            f"sample {docs}, expected {wl.pending_docs} docs each"
        )
    return None


def output_bytes_per_doc(wl, docs: int) -> float:
    if hasattr(wl, "output_bytes"):
        return wl.output_bytes / wl.output_docs
    return (parquet_bytes(wl.out) - wl.base_bytes) / docs


def end_to_end(spark, wl, seconds: float, setup: dict) -> dict:
    steal0 = cpu_steal()
    secs, jobs, docs = take_samples(spark, wl, MIN_SAMPLES, seconds)
    steal1 = cpu_steal()
    return {
        "guard_error": same_work_error(wl, jobs, docs),
        "steal_share": (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1]),
        "samples": secs,
        "jobs_per_sample": jobs,
        "metrics": {
            "docs_per_s": wl.pending_docs / statistics.median(secs),
            "setup_s": setup["start_s"] + setup["warmup_s"],
            "output_bytes_per_doc": output_bytes_per_doc(wl, docs[-1]),
        },
        "counts": {"docs_per_s": len(secs), "setup_s": 1, "output_bytes_per_doc": 1},
    }


# -- traced run -----------------------------------------------------------


def traced_sample(spark, wl, tracer, i: int) -> float:
    wl.reset()
    if wl.name == "corpus_prep":
        t = time.perf_counter()
        with tracer.root(i, "q_corpus_prep_final", "corpus_prep.build"):
            df = wl.build(spark)
        with tracer.root(i, "noop sink", "corpus_prep.force"):
            force(df)
        return time.perf_counter() - t
    t = time.perf_counter()
    with tracer.root(i, "run_extraction", "untagged"):
        n = wl.sample(spark)
    if n != wl.pending_docs:
        raise RuntimeError(f"traced sample committed {n} docs, expected {wl.pending_docs}")
    return time.perf_counter() - t


def probe_diff(a, b) -> float:
    """Wall time of ``a`` minus that of ``b``, each timed after one
    untimed call of both."""
    a(), b()
    return timed(a) - timed(b)


def layer_probes(spark, wl) -> dict:
    """Differential timings of the layers inside the extract action:
    the OCR Python crossing, the cleanup regex and the parquet sink."""
    from pyspark.sql import functions as F

    from ocr_dataset_builder_spark import pipeline, synth
    from ocr_dataset_builder_spark.functions.cleanup import clean_ocr_col

    spark.sparkContext.setJobGroup("probe", "layer probes")
    src = wl.probe_input(spark).persist()
    if src.count() != wl.pending_docs:
        raise RuntimeError("probe input does not hold the sample's pending docs")
    rows = synth.explode_spans(src)
    sink_dir = f"{wl.work}/probe-sink"
    out = {
        "ocr.crossing_s": probe_diff(
            lambda: force(pipeline.extract_spans(src)),
            lambda: force(pipeline.extract_spans(src, use_arrow_ocr=False)),
        ),
        "cleanup.s": probe_diff(
            lambda: force(rows.select(clean_ocr_col(F.col("text")))),
            lambda: force(rows.select("text")),
        ),
        "sink.s": probe_diff(
            lambda: pipeline.extract_spans(src).write.mode("overwrite").parquet(sink_dir),
            lambda: force(pipeline.extract_spans(src)),
        ),
    }
    src.unpersist()
    spark.sparkContext.setJobGroup("idle", "after probes")
    return out


def traced(spark, wl) -> dict:
    """An untraced, a traced and an untraced sample, so that the warm-up
    trend cancels in ``trace.overhead_s``, then the probes; the event log
    is folded by ``fold_traced`` once the session has stopped."""
    tracer = spans.Tracer(spark.sparkContext)
    untraced = take_samples(spark, wl, 1, 0)[0]
    tracer.install()
    try:
        traced_secs = [traced_sample(spark, wl, tracer, 0)]
    finally:
        tracer.uninstall()
    untraced += take_samples(spark, wl, 1, 0)[0]
    state = {
        "untraced": untraced,
        "traced": traced_secs,
        "tracer": tracer,
        "files_read": getattr(wl, "files_read", 0),
    }
    if wl.name != "corpus_prep":
        state["sink_files"] = len(
            [f for f in os.listdir(wl.staged_dir()) if f.endswith(".parquet")]
        )
        state["sink_bytes"] = parquet_bytes(wl.staged_dir())
        state["probes"] = layer_probes(spark, wl)
    return state


def fold_traced(wl, setup: dict, state: dict, event_dir: str) -> dict:
    tracer = state["tracer"]
    samples = {0}  # the traced sample
    n = len(samples)
    layers = spans.by_layer(spans.fold_event_log(event_dir), samples)
    g = lambda name: layers.get(name, spans.GroupStats())  # noqa: E731

    lineage, commit = g("lineage"), g("lineage.commit")
    extract, dm, sem = g("extract"), g("doc_metrics"), g("semantic_prep")
    cp = spans.GroupStats()
    for name, st in layers.items():
        if name.startswith("corpus_prep") or name == "semantic_prep":
            cp.add(st)
    total = spans.GroupStats()
    for st in layers.values():
        total.add(st)
    untagged = g("untagged").run_s
    probes = state.get("probes", {})
    m = {
        "session.start_s": setup["start_s"],
        "session.warmup_s": setup["warmup_s"],
        "lineage.pending_s": tracer.layer_wall("lineage", samples) / n,
        "lineage.files_read": state["files_read"],
        "lineage.pending_ratio": wl.pending_docs / wl.input_docs
        if wl.name != "corpus_prep"
        else 0.0,
        "lineage.commit_s": tracer.layer_wall("lineage.commit", samples) / n,
        "lineage.rows_written": commit.output_records / n,
        "lineage.task_failures": lineage.task_failures + commit.task_failures,
        "extract.task_s": extract.run_s / n,
        "extract.cpu_s": extract.cpu_s / n,
        "extract.rows_out": extract.output_records / n,
        "extract.task_failures": extract.task_failures,
        "ocr.py_bytes_sent": extract.py_sent / n,
        "ocr.py_bytes_returned": extract.py_returned / n,
        "ocr.py_run_s": extract.py_run_s / n,
        "ocr.crossing_s": probes.get("ocr.crossing_s", 0.0),
        "cleanup.s": probes.get("cleanup.s", 0.0),
        "sink.s": probes.get("sink.s", 0.0),
        "sink.bytes_written": state.get("sink_bytes", 0),
        "sink.files_written": state.get("sink_files", 0),
        "doc_metrics.task_s": dm.run_s / n,
        "doc_metrics.shuffle_bytes": dm.shuffle_bytes / n,
        "doc_metrics.fetch_wait_s": dm.fetch_wait_s / n,
        "doc_metrics.task_failures": dm.task_failures,
        "corpus_prep.build_s": tracer.layer_wall("corpus_prep.build", samples) / n,
        "corpus_prep.force_s": tracer.layer_wall("corpus_prep.force", samples) / n,
        "corpus_prep.jobs": cp.jobs / n,
        "corpus_prep.shuffle_bytes": cp.shuffle_bytes / n,
        "corpus_prep.spill_bytes": cp.spill_bytes / n,
        "corpus_prep.peak_exec_mem_mb": cp.peak_exec_mem / 2**20,
        "corpus_prep.fetch_wait_s": cp.fetch_wait_s / n,
        "corpus_prep.task_failures": cp.task_failures,
        "semantic_prep.task_s": sem.run_s / n,
        "semantic_prep.jobs": sem.jobs / n,
        "semantic_prep.shuffle_records": sem.shuffle_records / n,
        "semantic_prep.task_failures": sem.task_failures,
        "trace.overhead_s": statistics.median(state["traced"])
        - statistics.median(state["untraced"]),
        "trace.task_s": total.run_s / n,
        "trace.accounted_share": 1.0 - untagged / total.run_s if total.run_s else 1.0,
        "trace.untagged_layers": len(tracer.untagged_layers()),
    }
    # a layer the tracer cannot attribute is reported as untagged (null),
    # never as a measured zero
    gone = tracer.untagged_layers()
    for prefix, deps in LAYER_DEPS.items():
        if gone.intersection(deps):
            for k in m:
                if k.startswith(prefix + "."):
                    m[k] = None
    return {
        "metrics": m,
        "counts": {k: n for k in m},
        "missing_entry_points": tracer.missing,
        # per traced sample, to compare the layers' shares
        "layer_wall_s": {
            name: tracer.layer_wall(name, samples) / n for name in sorted(layers) if name != "untagged"
        },
        "layer_task_s": {name: st.run_s / n for name, st in sorted(layers.items())},
        "untraced": state["untraced"],
        "traced": state["traced"],
        "account_tolerance": ACCOUNT_TOLERANCE,
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--cores", type=int, required=True)
    ap.add_argument("--result", required=True)
    a = ap.parse_args()
    wl = WORKLOADS[a.workload](a.work, inputs.input_seed(a.seed), a.cores)
    # a fixed pure-Python loop, so a run on a slow or busy host shows it
    res: dict = {"load_before": os.getloadavg(), "calib_s": timed(lambda: sum(range(3_000_000)))}
    res["input_s"] = timed(wl.make_inputs)
    res["digest"] = wl.digest

    from ocr_dataset_builder_spark.session import get_spark

    event_dir = f"{a.work}/events"
    conf = {"spark.ui.showConsoleProgress": "false"}
    if a.trace:
        os.makedirs(event_dir)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": event_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    setup = {}
    t = time.perf_counter()
    spark = get_spark(f"perfbench-{a.workload}", cores=a.cores, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    setup["start_s"] = time.perf_counter() - t
    res["master"] = spark.sparkContext.master
    res["warmup_calls_s"] = [timed(lambda: wl.warmup(spark)) for _ in range(wl.warmup_calls)]
    setup["warmup_s"] = sum(res["warmup_calls_s"])
    res["prepare_s"] = timed(lambda: wl.prepare(spark))
    res.update(setup)

    if a.trace:
        state = traced(spark, wl)
    else:
        res.update(end_to_end(spark, wl, a.seconds, setup))
    spark.stop()
    t = time.perf_counter()
    res["check_error"] = wl.check()
    res["check_s"] = time.perf_counter() - t
    if a.trace:
        res.update(fold_traced(wl, setup, state, event_dir))
        res["attempted"] = len(state["untraced"]) + len(state["traced"])
    else:
        res["attempted"] = len(res["samples"])
    res["load_after"] = os.getloadavg()
    with open(a.result, "w") as f:
        json.dump(res, f)


if __name__ == "__main__":
    main()
