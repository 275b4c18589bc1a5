"""Layer tracing from the benchmark's side of the program boundary.

``Tracer`` wraps the public entry points the program calls through
module attributes, and the DataFrame actions. Each entry-point call
opens a span (name, layer, sample, parent, wall time) kept in memory and
sets a Spark job group naming the layer, so every job Spark runs is
attributable from its own event log.

Two kinds of entry point:

* *eager* ones run their jobs inside the call (``commit_run``,
  ``q_semantic_prep``'s trainer, ``DataFrame.localCheckpoint``);
* *lazy* ones only build a plan (``read_checkpoint``, ``pending_docs``,
  ``extract_spans``, ``doc_metrics``, ``q_quality_score``,
  ``budget_fill``); the program forces it later with an action.

Jobs run during a call belong to its span; an entry point called inside
another one keeps the outer one's group. The group is reset when the
call returns. An action (``count``, ``collect``, a writer's ``save``,
...) at the top of a traced sample is charged to the most recent lazy
span whose returned plan its own plan contains, found by walking the
action's logical plan through py4j, and the group is reset when the
action returns. Every other job of the sample keeps the sample's root
group, so a step the program adds between two entry points shows as
untagged instead of being charged to the layer before it.

After the session stops, ``fold_event_log`` reads the uncompressed
event log and sums task metrics and SQL accumulables per job group.
"""

from __future__ import annotations

import glob
import importlib
import json
import time
from dataclasses import dataclass, field

# (module, attribute, layer, eager)
ENTRY_POINTS = (
    ("ocr_dataset_builder_spark.pipeline", "read_checkpoint", "lineage", False),
    ("ocr_dataset_builder_spark.pipeline", "pending_docs", "lineage", False),
    ("ocr_dataset_builder_spark.pipeline", "extract_spans", "extract", False),
    ("ocr_dataset_builder_spark.pipeline", "doc_metrics", "doc_metrics", False),
    ("ocr_dataset_builder_spark.pipeline", "commit_run", "lineage.commit", True),
    ("ocr_dataset_builder_spark.queries_final", "q_semantic_prep", "semantic_prep", True),
    ("ocr_dataset_builder_spark.queries_final", "q_quality_score", "corpus_prep.quality", False),
    ("ocr_dataset_builder_spark.queries_final", "budget_fill", "corpus_prep.budget", False),
    # the classic (non-Connect) DataFrame overrides the base-class method
    ("pyspark.sql.classic.dataframe", "DataFrame.localCheckpoint", "corpus_prep.barrier", True),
)
# (module, class, methods, attribute holding the DataFrame or None)
ACTIONS = (
    (
        "pyspark.sql.classic.dataframe",
        "DataFrame",
        ("count", "collect", "take", "head", "first", "isEmpty", "toPandas",
         "toLocalIterator", "show"),
        None,
    ),
    (
        "pyspark.sql.readwriter",
        "DataFrameWriter",
        ("save", "parquet", "json", "csv", "orc", "text", "saveAsTable", "insertInto"),
        "_df",
    ),
)
SEP = "|"


@dataclass
class Span:
    name: str
    layer: str
    sample: int
    parent: int | None
    id: int
    wall: float = 0.0  # the call, plus the actions charged to a lazy span


def _resolve(mod_name: str, attr: str):
    """(owner, leaf, value) of ``mod_name.attr``; value None if missing."""
    try:
        owner = importlib.import_module(mod_name)
    except ImportError:
        return None, None, None
    *path, leaf = attr.split(".")
    for p in path:
        owner = getattr(owner, p, None)
    return owner, leaf, getattr(owner, leaf, None) if owner is not None else None


@dataclass
class Tracer:
    sc: object
    spans: list[Span] = field(default_factory=list)
    missing: list[str] = field(default_factory=list)
    _stack: list[Span] = field(default_factory=list)  # root, then open calls
    _outputs: list = field(default_factory=list)  # (plan id, lazy span)
    _in_action: bool = False
    _saved: list = field(default_factory=list)
    sample: int = -1

    # -- spans and job groups ------------------------------------------
    def _group(self, span: Span) -> None:
        self.sc.setJobGroup(f"{span.layer}{SEP}{span.sample}{SEP}{span.id}", span.name)

    def _plan_id(self, plan) -> int:
        return self.sc._jvm.System.identityHashCode(plan)

    def _plan_ids(self, df) -> set[int]:
        """Identities of every node of ``df``'s logical plan."""
        seen: set[int] = set()
        todo = [df._jdf.queryExecution().logical(), df._jdf.logicalPlan()]
        while todo:
            plan = todo.pop()
            pid = self._plan_id(plan)
            if pid in seen:
                continue
            seen.add(pid)
            children = plan.children()
            todo += [children.apply(i) for i in range(children.size())]
        return seen

    def root(self, sample: int, name: str, layer: str):
        """Context manager for one traced sample (the request root)."""
        tracer = self

        class _Root:
            def __enter__(self):
                tracer.sample = sample
                tracer._outputs.clear()
                span = Span(name, layer, sample, None, len(tracer.spans))
                tracer.spans.append(span)
                tracer._stack.append(span)
                tracer._group(span)
                self.t = time.perf_counter()
                return span

            def __exit__(self, *exc):
                span = tracer._stack.pop()
                span.wall = time.perf_counter() - self.t
                tracer._outputs.clear()
                tracer.sc.setJobGroup("idle", "between traced samples")
                return False

        return _Root()

    def _wrap(self, fn, name: str, layer: str, eager: bool):
        tracer = self

        def traced(*args, **kwargs):
            if not tracer._stack:  # outside a traced sample
                return fn(*args, **kwargs)
            outer = tracer._stack[-1]
            span = Span(name, layer, tracer.sample, outer.id, len(tracer.spans))
            tracer.spans.append(span)
            top = len(tracer._stack) == 1
            if top:
                tracer._group(span)
            tracer._stack.append(span)
            t = time.perf_counter()
            try:
                out = fn(*args, **kwargs)
            finally:
                span.wall += time.perf_counter() - t
                tracer._stack.pop()
                if top:
                    tracer._group(outer)
            if top and not eager and hasattr(out, "_jdf"):
                tracer._outputs.append((tracer._plan_id(out._jdf.logicalPlan()), span))
            return out

        traced.__wrapped__ = fn
        return traced

    def _wrap_action(self, fn, df_attr: str | None):
        tracer = self

        def traced(obj, *args, **kwargs):
            if len(tracer._stack) != 1 or tracer._in_action or not tracer._outputs:
                return fn(obj, *args, **kwargs)
            plans = tracer._plan_ids(getattr(obj, df_attr) if df_attr else obj)
            owners = [span for pid, span in tracer._outputs if pid in plans]
            if not owners:
                return fn(obj, *args, **kwargs)
            owner = owners[-1]
            tracer._group(owner)
            tracer._in_action = True
            t = time.perf_counter()
            try:
                return fn(obj, *args, **kwargs)
            finally:
                owner.wall += time.perf_counter() - t
                tracer._in_action = False
                tracer._group(tracer._stack[-1])

        traced.__wrapped__ = fn
        return traced

    def install(self) -> None:
        """Wrap every entry point and action that exists; list the
        missing ones (their jobs then fall to ``untagged``)."""
        self.missing.clear()
        hooks = [(m, a, self._wrap, (a, layer, eager)) for m, a, layer, eager in ENTRY_POINTS]
        hooks += [
            (m, f"{cls}.{meth}", self._wrap_action, (df_attr,))
            for m, cls, methods, df_attr in ACTIONS
            for meth in methods
        ]
        for mod_name, attr, wrap, extra in hooks:
            owner, leaf, fn = _resolve(mod_name, attr)
            if fn is None:
                self.missing.append(f"{mod_name}.{attr}")
                continue
            self._saved.append((owner, leaf, fn))
            setattr(owner, leaf, wrap(fn, *extra))

    def uninstall(self) -> None:
        for owner, leaf, fn in reversed(self._saved):
            setattr(owner, leaf, fn)
        self._saved.clear()

    def untagged_layers(self) -> set[str]:
        """Layers the tracer cannot attribute jobs to: those of a missing
        entry point, and every lazy layer when an action is missing."""
        out = {layer for m, a, layer, _ in ENTRY_POINTS if f"{m}.{a}" in self.missing}
        if any(f"{m}.{c}.{x}" in self.missing for m, c, xs, _ in ACTIONS for x in xs):
            out |= {layer for _, _, layer, eager in ENTRY_POINTS if not eager}
        return out

    def layer_wall(self, layer: str, samples: set[int]) -> float:
        """Summed span time of ``layer`` over the given samples."""
        return sum(s.wall for s in self.spans if s.sample in samples and s.layer == layer)


# -- event log ---------------------------------------------------------

_PY_SENT = "data sent to Python workers"
_PY_RETURNED = "data returned from Python workers"
_PY_RUN = "time to run Python workers"


@dataclass
class GroupStats:
    jobs: int = 0
    task_failures: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    shuffle_bytes: int = 0
    shuffle_records: int = 0
    fetch_wait_s: float = 0.0
    spill_bytes: int = 0
    peak_exec_mem: int = 0
    output_records: int = 0
    output_bytes: int = 0
    py_sent: int = 0
    py_returned: int = 0
    py_run_s: float = 0.0

    def add(self, o: "GroupStats") -> None:
        for k, v in vars(o).items():
            if k == "peak_exec_mem":
                self.peak_exec_mem = max(self.peak_exec_mem, v)
            else:
                setattr(self, k, getattr(self, k) + v)


def fold_event_log(log_dir: str) -> dict[str, GroupStats]:
    """Per job group id: summed task metrics of every job in the group.
    Jobs without a group are keyed ``""``."""
    files = [f for f in glob.glob(f"{log_dir}/*") if not f.endswith(".inprogress")]
    if len(files) != 1:
        raise RuntimeError(f"expected one finished event log in {log_dir}, found {files}")
    stage_group: dict[int, str] = {}
    stats: dict[str, GroupStats] = {}
    with open(files[0]) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                stats.setdefault(group, GroupStats()).jobs += 1
                for sid in ev["Stage IDs"]:
                    stage_group.setdefault(sid, group)
            elif kind == "SparkListenerTaskEnd":
                st = stats.setdefault(stage_group.get(ev["Stage ID"], ""), GroupStats())
                _fold_task(st, ev)
    return stats


def _fold_task(st: GroupStats, ev: dict) -> None:
    info = ev.get("Task Info") or {}
    if info.get("Failed") or info.get("Killed"):
        st.task_failures += 1
    m = ev.get("Task Metrics") or {}
    st.run_s += m.get("Executor Run Time", 0) / 1e3
    st.cpu_s += m.get("Executor CPU Time", 0) / 1e9
    st.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    st.peak_exec_mem = max(st.peak_exec_mem, m.get("Peak Execution Memory", 0))
    sw = m.get("Shuffle Write Metrics") or {}
    st.shuffle_bytes += sw.get("Shuffle Bytes Written", 0)
    st.shuffle_records += sw.get("Shuffle Records Written", 0)
    sr = m.get("Shuffle Read Metrics") or {}
    st.fetch_wait_s += sr.get("Fetch Wait Time", 0) / 1e3
    out = m.get("Output Metrics") or {}
    st.output_records += out.get("Records Written", 0)
    st.output_bytes += out.get("Bytes Written", 0)
    for acc in info.get("Accumulables") or []:
        name, upd = acc.get("Name"), acc.get("Update")
        if upd is None:
            continue
        if name == _PY_SENT:
            st.py_sent += int(upd)
        elif name == _PY_RETURNED:
            st.py_returned += int(upd)
        elif name == _PY_RUN:
            st.py_run_s += int(upd) / 1e3


def by_layer(stats: dict[str, GroupStats], samples: set[int]) -> dict[str, GroupStats]:
    """Group stats folded to ``layer`` for the given traced samples;
    jobs of those samples outside any entry point land in ``untagged``."""
    out: dict[str, GroupStats] = {}
    for group, st in stats.items():
        parts = group.split(SEP)
        if len(parts) != 3 or not parts[1].lstrip("-").isdigit():
            continue
        if int(parts[1]) in samples:
            out.setdefault(parts[0], GroupStats()).add(st)
    return out
