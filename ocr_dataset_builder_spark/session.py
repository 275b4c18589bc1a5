"""SparkSession factory tuned for the extraction workload.

Scale design notes (targets a 1000-executor cluster even though the
sandbox runs local[N]):

* AQE on: post-shuffle coalescing + skew-join splitting cover the join
  skew from long documents (reference analogue: one video directory with
  thousands of frames, /root/reference video/frame_pipeline.py:311-326).
* ``spark.sql.shuffle.partitions`` defaults to 2x cores locally; on a real
  cluster set it ~2-3x total cores — AQE coalesces the excess.
* Arrow is enabled for the vectorized UDF boundary; batch size bounded so
  a skewed group never materializes more than ~10k rows per Arrow batch.
* The generated-code cache holds ``CODEGEN_CACHE_ENTRIES`` classes, not
  Spark's default 100. The cache is one LRU per JVM, and one
  ``corpus_prep_final`` call's working set is 220–246 classes, so at 100
  entries every warm call Janino-compiled its whole set again (245
  classes per call on the sf0.001 fixture). At 1000 a warm call
  compiles 0–6.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Size of Spark's generated-code cache (spark.sql.codegen.cache.maxEntries,
# default 100). Spark builds the cache once per JVM, in CodeGenerator$'s
# static initializer, so this is a static conf set before the session
# starts. Census on sf0.001, classes compiled by the first/second call of
# each registered query in registry order at the default size
# (CodegenMetrics compilation count): corpus_prep_final 245/245,
# corpus_prep_budget 121/111, corpus_prep_substr_text 110/117 and
# corpus_prep_substr 84/89 recompile their whole working set on every warm
# call; semantic_dedup_incremental 99/55, dedup_best_of_cluster 93/37 and
# semantic_dedup_incremental_stats 56/58 recompile part of it. All 126
# second calls together compile 734 classes at the default size and 71 at
# 10k entries. 1000 is about 4x the largest call's 245.
CODEGEN_CACHE_ENTRIES = 1000


def get_spark(
    app_name: str = "ocr-dataset-builder-spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``cores=None`` uses ``local[*]`` locally; on a cluster the master is
    whatever spark-submit provides (we never override an existing master).
    """
    if cores is None:
        cores_env = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cores_env}]" if cores_env else "local[*]"
        n_cores = int(cores_env) if cores_env else (os.cpu_count() or 8)
    else:
        master = f"local[{cores}]"
        n_cores = cores

    if shuffle_partitions is None:
        shuffle_partitions = max(8, 2 * n_cores)

    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
    )
    # Pin BLAS to one thread inside executor Python workers. The arrow
    # GEMM kernels (queries_corpus backend="arrow") get their parallelism
    # from Spark tasks, one GEMM per Arrow batch; an unpinned OpenBLAS
    # (this container's build allows 2 threads/GEMM, typical distro
    # builds allow ncpu) multiplies every concurrent task's kernel by
    # its own thread pool — measured here as anti-scaling at 16+ cores
    # (BENCH_SCALING.md 2026-08-18 adjudication). spark.executorEnv is
    # the only channel that reaches workers on a REAL cluster, where
    # executors do not inherit the driver's environment; local-mode
    # workers inherit the driver env, which bench.py/scaling harnesses
    # pin themselves.
    for blas_var in (
        "OPENBLAS_NUM_THREADS",
        "OMP_NUM_THREADS",
        "MKL_NUM_THREADS",
    ):
        builder = builder.config(f"spark.executorEnv.{blas_var}", "1")
    for key, value in (extra_conf or {}).items():
        builder = builder.config(key, value)
    active = SparkSession.getActiveSession()
    if active is not None:
        # an already-active session wins, but a caller's explicit knobs
        # must not be silently dropped: apply the runtime-settable ones
        # and WARN about static ones that cannot change post-launch
        # (returning with them unapplied is how the bench's
        # showConsoleProgress flag would quietly stop working)
        for key, value in (extra_conf or {}).items():
            # already carrying the requested value (e.g. it was applied
            # at builder time by the call that created this session):
            # nothing to do, and no warning — the knob IS in effect.
            # conf.get always returns a string; normalize the requested
            # value to Spark's string form (bools lowercase) so e.g.
            # False or 32 matches its own in-effect setting instead of
            # falling through to a spurious set + warning.
            try:
                current = active.conf.get(key)
                if isinstance(value, bool):
                    wanted = str(value).lower()
                else:
                    wanted = str(value)
                if current == wanted:
                    continue
            except Exception:
                pass
            applied = False
            try:
                active.conf.set(key, value)
                # conf.set accepting the key is NOT proof it took effect:
                # non-SQL confs (spark.ui.showConsoleProgress, memory,
                # cores...) are stored but ignored after SparkContext
                # launch. Only the runtime-mutable spark.sql.* namespace
                # is known-effective post-launch.
                applied = key.startswith("spark.sql.")
            except Exception:
                applied = False
            if not applied:
                import warnings

                warnings.warn(
                    f"get_spark: conf {key!r} was requested on an "
                    "already-active SparkSession; non-spark.sql.* settings "
                    "do not take effect after SparkContext launch — start "
                    "a fresh session if this knob matters",
                    RuntimeWarning,
                    stacklevel=2,
                )
        return active
    # Under spark-submit the Python driver is launched BY the JVM (the
    # py4j gateway is pre-created and spark.master comes from the submit
    # command); calling .master() there would silently force local mode.
    # Only set a local master when this process owns the JVM launch.
    launched_by_submit = (
        "PYSPARK_GATEWAY_PORT" in os.environ or os.environ.get("SPARK_MASTER")
    )
    if not launched_by_submit:
        builder = builder.master(master)
    return builder.getOrCreate()
