"""Jobs, compiled classes and wall time of one warm query call, per site.

    python scripts/job_census.py <query> [sf_dir]

Runs the query once untimed (the warm-up: Python workers, code
generation), then once more under the census and prints, per site:

* every ``_barrier`` call site (file:line of the caller), counting the
  jobs and the wall time of its eager checkpoint;
* ``schema inference``: jobs a ``spark.read.parquet`` call runs before
  it returns (a read without a declared schema lists and samples the
  files), attributed to the function that read;
* other eager actions the query makes while it builds (a ``collect``
  of a tiny table, ...), attributed to their calling function;
* ``build (driver)``: jobs and wall of building the plan outside all of
  the above — the wall here is driver-side plan building;
* ``final action``: the noop write that forces the returned plan.

Each site runs under its own Spark job group, and jobs are counted after
the listener bus has drained, the same way ``perfbench`` counts jobs per
sample. ``compiles`` counts the generated classes Janino compiled while
the site ran (Spark's ``CodegenMetrics`` compilation count, one counter
per JVM): a warm call whose working set fits the generated-code cache
compiles next to none. ``sf_dir`` defaults to the one
``scripts/crosscheck.py`` uses.
"""

from __future__ import annotations

import os
import sys
import time
import traceback
from collections import defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
PKG = os.path.join(os.path.dirname(HERE), "ocr_dataset_builder_spark")

ACTIONS = ("collect", "count", "take", "head", "first", "isEmpty", "toPandas")


def compiled(sc) -> int:
    """Generated classes compiled so far in this JVM."""
    metrics = sc._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def _caller_site(skip: tuple[str, ...] = ()) -> str:
    """file:line (function) of the innermost package frame on the stack
    whose function is not in ``skip``."""
    for fr in reversed(traceback.extract_stack()):
        if fr.filename.startswith(PKG) and fr.name not in skip:
            return f"{os.path.relpath(fr.filename, os.path.dirname(PKG))}:{fr.lineno} ({fr.name})"
    return "<outside the package>"


class Census:
    """Wraps the eager entry points; every wrapped call runs under a job
    group of its own, restored when the call returns."""

    def __init__(self, sc):
        self.sc = sc
        self.groups: list[tuple[str, str]] = []  # (group id, site)
        self.wall: dict[str, float] = defaultdict(float)
        self.calls: dict[str, int] = defaultdict(int)
        self.compiles: dict[str, int] = defaultdict(int)
        self._undo: list = []
        self._depth = 0  # a wrapped call inside another keeps the outer site

    def _group(self, site: str) -> str:
        gid = f"census-{len(self.groups)}"
        self.groups.append((gid, site))
        return gid

    def _wrap(self, owner, name: str, label) -> None:
        orig = getattr(owner, name)
        census = self

        def wrapped(*a, **kw):
            if census._depth:
                return orig(*a, **kw)
            site = label()
            prev = census.sc.getLocalProperty("spark.jobGroup.id")
            census.sc.setJobGroup(census._group(site), site)
            census._depth += 1
            t = time.perf_counter()
            c = compiled(census.sc)
            try:
                return orig(*a, **kw)
            finally:
                census._depth -= 1
                census.wall[site] += time.perf_counter() - t
                census.compiles[site] += compiled(census.sc) - c
                census.calls[site] += 1
                census.sc.setJobGroup(prev or "census-idle", "census")

        setattr(owner, name, wrapped)
        self._undo.append((owner, name, orig))

    def install(self) -> None:
        from pyspark.sql.classic.dataframe import DataFrame
        from pyspark.sql.readwriter import DataFrameReader

        barrier = lambda: "barrier " + _caller_site(skip=("_barrier",))  # noqa: E731
        self._wrap(DataFrame, "localCheckpoint", barrier)
        self._wrap(DataFrame, "checkpoint", barrier)
        self._wrap(
            DataFrameReader,
            "parquet",
            lambda: "schema inference " + _caller_site().split(" ", 1)[1],
        )
        for name in ACTIONS:
            self._wrap(DataFrame, name, lambda: "action " + _caller_site())

    def uninstall(self) -> None:
        for owner, name, orig in reversed(self._undo):
            setattr(owner, name, orig)
        self._undo.clear()

    def jobs(self) -> dict[str, int]:
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        out: dict[str, int] = defaultdict(int)
        for gid, site in self.groups:
            out[site] += len(self.sc.statusTracker().getJobIdsForGroup(gid))
        return out


def main() -> int:
    if len(sys.argv) not in (2, 3):
        print(__doc__.strip().splitlines()[2], file=sys.stderr)
        return 2
    name = sys.argv[1]
    from crosscheck import SF_DIR

    sf_dir = sys.argv[2] if len(sys.argv) == 3 else SF_DIR

    import __spark_entry__ as entrymod
    from ocr_dataset_builder_spark.session import get_spark

    queries = entrymod.queries()
    if name not in queries:
        print(f"unknown query {name!r}", file=sys.stderr)
        return 2
    fn = queries[name]
    spark = get_spark(
        "job-census",
        cores=int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4)),
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    sc = spark.sparkContext

    sc.setJobGroup("census-warmup", "warm-up call")
    t = time.perf_counter()
    fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
    warm = time.perf_counter() - t
    spark.catalog.clearCache()

    census = Census(sc)
    census.install()
    try:
        sc.setJobGroup(census._group("build (driver)"), "build")
        t0, c0 = time.perf_counter(), compiled(sc)
        df = fn(spark, sf_dir)
        t1, c1 = time.perf_counter(), compiled(sc)
    finally:
        census.uninstall()
    sc.setJobGroup(census._group("final action (noop write)"), "final action")
    df.write.format("noop").mode("overwrite").save()
    t2, c2 = time.perf_counter(), compiled(sc)
    sc.setJobGroup("census-idle", "census")
    census.wall["build (driver)"] = (t1 - t0) - sum(census.wall.values())
    census.compiles["build (driver)"] = (c1 - c0) - sum(census.compiles.values())
    census.calls["build (driver)"] = 1
    census.wall["final action (noop write)"] = t2 - t1
    census.compiles["final action (noop write)"] = c2 - c1
    census.calls["final action (noop write)"] = 1
    jobs = census.jobs()

    seen = list(dict.fromkeys(site for _, site in census.groups))
    w = max(len(s) for s in seen)
    print(f"query {name} over {sf_dir}; warm-up call {warm:.2f} s")
    print(f"{'site':<{w}}  calls  jobs  compiles  wall_s")
    for s in seen:
        print(
            f"{s:<{w}}  {census.calls[s]:>5}  {jobs[s]:>4}"
            f"  {census.compiles[s]:>8}  {census.wall[s]:6.2f}"
        )
    print(
        f"{'total':<{w}}  {'':>5}  {sum(jobs.values()):>4}"
        f"  {c2 - c0:>8}  {t2 - t0:6.2f}"
    )
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
