"""Span tracing and Spark work counters for the traced benchmark run.

Spans are recorded from the benchmark's own process only: ``install``
replaces public engine callables with thin wrappers for the lifetime of
one traced run; the package itself is never edited. Each span keeps
its name, start, end and parent. Spans stay in memory and are written
out once, when the run ends.

Self time of a span is its duration minus the time covered by its
child spans (calls are synchronous on one driver thread, so children
never overlap each other).
"""

from __future__ import annotations

import functools
import json
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    """Collects spans and counters; a disabled tracer records nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.counts: dict[str, float] = defaultdict(float)
        self._stack: list[int] = []
        self._patches: list[tuple] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def count(self, name: str, n: float = 1) -> None:
        if self.enabled:
            self.counts[name] += n

    def wrap(self, owner, attr: str, name: str, after=None) -> None:
        """Replace ``owner.attr`` by a span-recording wrapper; ``after``,
        if given, is called with each result once its span has ended."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with tracer.span(name):
                res = orig(*args, **kwargs)
            if after is not None:
                after(res)
            return res

        # class attributes are looked up on the class __dict__ so that a
        # staticmethod/classmethod descriptor is restored unchanged
        raw = orig
        if isinstance(owner, type):
            raw = owner.__dict__.get(attr, orig)
        self._patches.append((owner, attr, raw))
        setattr(owner, attr, traced)

    def uninstall(self) -> None:
        for owner, attr, raw in reversed(self._patches):
            setattr(owner, attr, raw)
        self._patches.clear()

    # ---------------------------------------------------------- summaries

    def _op_of(self, span: dict) -> str | None:
        """Name of the nearest enclosing benchmark operation span."""
        while span["parent"] is not None:
            span = self.spans[span["parent"]]
            if span["name"].startswith("op."):
                return span["name"]
        return None

    def self_times(self) -> dict:
        """Self times (seconds), one per span, keyed both by span name
        and by (span name, enclosing operation name)."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict = defaultdict(list)
        for s in self.spans:
            if s["end"] is not None:
                t = s["end"] - s["start"] - child[s["id"]]
                out[s["name"]].append(t)
                out[(s["name"], self._op_of(s))].append(t)
        return out

    def durations(self) -> dict[str, list[float]]:
        out: dict[str, list[float]] = defaultdict(list)
        for s in self.spans:
            if s["end"] is not None:
                out[s["name"]].append(s["end"] - s["start"])
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "counts": dict(self.counts)}, f)


# Public callables wrapped in a traced run: (module path, owner attribute
# or None for a module-level function, attribute, span name). A function
# imported by name into another module is wrapped there too, because the
# caller looks it up in its own namespace.
_TARGETS = [
    ("opensearch_jvector_spark.operators.docid", None, "assign_doc_ids",
     "docid.assign"),
    ("opensearch_jvector_spark.streaming.incremental", None, "assign_doc_ids",
     "docid.assign"),
    ("opensearch_jvector_spark.sources.index_store", "IndexStore",
     "write_build_wave", "segment_build.wave"),
    ("opensearch_jvector_spark.operators.merge", None, "merge_segments",
     "merge.segments"),
    ("opensearch_jvector_spark.sources.index_store", "IndexStore",
     "write_dictionary", "merge.dictionary"),
    ("opensearch_jvector_spark.operators.merge", None, "write_merged_delta",
     "merge.delta"),
    ("opensearch_jvector_spark.streaming.incremental", None,
     "write_merged_delta", "merge.delta"),
    ("opensearch_jvector_spark.operators.merge", None, "fold_deltas",
     "merge.fold"),
    ("opensearch_jvector_spark.sources.index_store", "IndexStore", "warm",
     "index_store.warm"),
    ("opensearch_jvector_spark.sources.index_store", "IndexStore",
     "term_dfs_for", "index_store.term_dfs"),
    ("opensearch_jvector_spark.sources.index_store", "IndexStore",
     "read_postings_for_terms", "index_store.postings_frame"),
    ("opensearch_jvector_spark.sources.index_store", "IndexStore",
     "read_postings_arrow", "index_store.read_postings"),
    ("opensearch_jvector_spark.operators.wand", None, "bm25_topk_batch",
     "wand.topk"),
    ("pyspark.sql.session", "SparkSession", "createDataFrame",
     "spark.create_df"),
    ("opensearch_jvector_spark.streaming.incremental", None, "append_index",
     "incremental.append"),
    ("opensearch_jvector_spark.operators.delete", None, "delete_docs",
     "delete.delete"),
    ("opensearch_jvector_spark.operators.delete", None, "compact_deletes",
     "delete.compact"),
    ("opensearch_jvector_spark.operators.similarity", None, "ivf_build",
     "similarity.build"),
    ("opensearch_jvector_spark.operators.similarity", "LocalIvfSearcher",
     "probe", "similarity.probe"),
    ("opensearch_jvector_spark.operators.similarity", "LocalIvfSearcher",
     "query", "similarity.searcher"),
    ("opensearch_jvector_spark.operators.similarity", None, "ivf_query_local",
     "similarity.wrapper"),
    ("opensearch_jvector_spark.operators.similarity", None, "ivf_query_batch",
     "similarity.batch"),
]


def install(tracer: Tracer) -> None:
    """Wrap every target; also count the postings rows read on the
    driver path."""
    import importlib

    def rows_read(tbl):
        tracer.count("index_store.postings_reads")
        tracer.count("index_store.postings_rows_read",
                     tbl.num_rows if tbl is not None else 0)

    for mod_name, owner_name, attr, span_name in _TARGETS:
        mod = importlib.import_module(mod_name)
        owner = getattr(mod, owner_name) if owner_name else mod
        tracer.wrap(owner, attr, span_name,
                    rows_read if attr == "read_postings_arrow" else None)


class JobCounter:
    """Spark jobs, stages and tasks per benchmark operation: each
    operation runs under its own job group, read back through the
    public ``statusTracker``. Disabled outside the traced run."""

    def __init__(self, spark, enabled: bool):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.ops: list[dict] = []
        self._groups: list[tuple[str, str]] = []

    @contextmanager
    def op(self, kind: str):
        if not self.enabled:
            yield
            return
        group = f"perfbench-{len(self._groups)}-{kind}"
        self._groups.append((group, kind))
        self.sc.setJobGroup(group, kind)
        try:
            yield
        finally:
            self.sc.setJobGroup("perfbench-idle", "idle")

    def collect(self) -> None:
        """Read the usage of every operation back from the tracker (done
        once, after the run, so it adds nothing to timed operations)."""
        st = self.sc.statusTracker()
        for group, kind in self._groups:
            jobs = st.getJobIdsForGroup(group)
            stages = tasks = 0
            for jid in jobs:
                info = st.getJobInfo(jid)
                for sid in info.stageIds if info is not None else ():
                    sinfo = st.getStageInfo(sid)
                    if sinfo is not None:
                        stages += 1
                        tasks += sinfo.numTasks
            self.ops.append(
                {"kind": kind, "jobs": len(jobs), "stages": stages,
                 "tasks": tasks}
            )

    def of(self, *kinds: str) -> list[dict]:
        return [o for o in self.ops if o["kind"] in kinds]
