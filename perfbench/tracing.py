"""Traced-run instrumentation, installed from the benchmark's side only.

``Tracer.install`` replaces the public entry points of each engine
module with timing wrappers. Every call records a span (layer, name,
start, end, parent, request id) in memory, and tags the Spark jobs it
launches with a job group ``pb:<request>:<span>`` set on the calling
thread, so each job is attributed to the innermost span that launched
it. After the timed region, ``layer_metrics`` reads the jobs and stages
back from Spark's status store and folds spans and jobs into per-layer
figures. Nothing here runs in an untraced run.
"""

from __future__ import annotations

import functools
import itertools
import json
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

_GROUP = "spark.jobGroup.id"

#: (module, owner attribute or None, function names, layer)
_TARGETS = (
    ("service", "SearchService", (
        "similarity_search", "batch_search", "batch_ingest", "ingest_document",
        "list_documents", "get_collection_info", "delete_documents",
        "collection_stats", "health"), "service"),
    ("catalog", "Catalog", (
        "get_collection", "documents", "add_documents", "delete_documents",
        "collection_stats", "create_collection"), "catalog"),
    ("operators.fts_index", "PostingsStore", (
        "matched_ids", "append", "maybe_compact", "compact_incremental",
        "rewrite"), "postings"),
    ("ingest", None, ("prepare_documents",), "ingest"),
    ("operators.search", None, ("paginate", "paginate_keyset"), "search"),
)


class Tracer:
    """Spans in memory, one stack per client thread."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self.frames: dict[int, list] = defaultdict(list)  # rid -> DataFrames
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    # -- spans ---------------------------------------------------------

    def _stack(self) -> list[dict]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, layer: str, name: str, rid: int | None = None):
        t_in = time.perf_counter()
        stack = self._stack()
        parent = stack[-1] if stack else None
        sp = {"id": next(self._ids), "parent": parent["id"] if parent else None,
              # calls outside a timed operation (set-up) get request 0
              "rid": rid if rid is not None else parent["rid"] if parent else 0,
              "layer": layer, "name": name}
        stack.append(sp)
        self.sc.setLocalProperty(_GROUP, f"pb:{sp['rid']}:{sp['id']}")
        sp["start"] = time.perf_counter()
        try:
            yield sp
        finally:
            sp["end"] = time.perf_counter()
            stack.pop()
            self.sc.setLocalProperty(
                _GROUP, f"pb:{parent['rid']}:{parent['id']}" if parent else None)
            # the tracer's own time inside the request: bookkeeping and
            # the two job-group calls around the wrapped call
            sp["overhead"] = (sp["start"] - t_in) + (time.perf_counter() - sp["end"])
            with self._lock:
                self.spans.append(sp)

    def _wrap(self, owner, attr: str, layer: str, keep_frame: bool = False):
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(layer, attr) as sp:
                out = fn(*args, **kwargs)
            if keep_frame:
                self.frames[sp["rid"]].append(out)
            return out

        setattr(owner, attr, traced)

    def install(self) -> None:
        """Wrap the engine's public functions. Names a module imported
        from another (``service.fts_search``, ``service.ingest_into``,
        each query module's ``load_table``) are wrapped where the caller
        looks them up."""
        import importlib
        import sys

        pkg = "vector_search_service_spark"
        for mod, owner, names, layer in _TARGETS:
            m = importlib.import_module(f"{pkg}.{mod}")
            target = getattr(m, owner) if owner else m
            for name in names:
                self._wrap(target, name, layer)
        service = importlib.import_module(f"{pkg}.service")
        self._wrap(service, "fts_search", "search", keep_frame=True)
        self._wrap(service, "ingest_into", "ingest")
        tables = importlib.import_module(f"{pkg}.sources.tables")
        original = tables.load_table
        for name, m in list(sys.modules.items()):
            if name.startswith(pkg) and getattr(m, "load_table", None) is original:
                self._wrap(m, "load_table", "sources")

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)

    # -- Catalyst ------------------------------------------------------

    def catalyst_ms(self, rids) -> dict[str, list[float]]:
        """Analysis/optimization/planning time of every search or
        registry DataFrame the given requests executed."""
        out: dict[str, list[float]] = defaultdict(list)
        for rid in rids:
            for df in self.frames.get(rid, ()):
                phases = df._jdf.queryExecution().tracker().phases()
                for p in ("analysis", "optimization", "planning"):
                    opt = phases.get(p)
                    out[p].append(opt.get().durationMs() if opt.isDefined() else 0.0)
        return out


def spark_jobs(spark) -> list[dict]:
    """Every job in the status store with its request and span ids
    (from the job group) and the summed metrics of its stages."""
    store = spark.sparkContext._jsc.sc().statusStore()
    jobs = store.jobsList(None)
    out = []
    for i in range(jobs.size()):
        j = jobs.apply(i)
        group = j.jobGroup()
        group = group.get() if group.isDefined() else ""
        if not group.startswith("pb:"):
            continue
        _, rid, sid = group.split(":")
        rec = {"rid": int(rid), "span": int(sid), "tasks": 0, "run_ms": 0,
               "cpu_ms": 0.0, "shuffle_write": 0, "spill": 0, "input_rows": 0}
        ids = j.stageIds()
        for k in range(ids.size()):
            try:
                st = store.lastStageAttempt(ids.apply(k))
            except Exception:  # noqa: BLE001 - skipped stages never ran
                continue
            rec["tasks"] += st.numCompleteTasks()
            rec["run_ms"] += st.executorRunTime()
            rec["cpu_ms"] += st.executorCpuTime() / 1e6
            rec["shuffle_write"] += st.shuffleWriteBytes()
            rec["spill"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
            rec["input_rows"] += st.inputRecords()
        out.append(rec)
    return out


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> duration minus the time its child spans cover."""
    child = defaultdict(float)
    for s in spans:
        if s["parent"] is not None:
            child[s["parent"]] += s["end"] - s["start"]
    return {s["id"]: (s["end"] - s["start"]) - child[s["id"]] for s in spans}


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def layer_metrics(tracer: Tracer, spark, ops: list[dict], state: dict) -> dict[str, float]:
    """Fold the spans and Spark jobs of the timed requests into the
    per-layer metrics (per request unless named otherwise)."""
    rids = {o["rid"] for o in ops}
    spans = [s for s in tracer.spans if s["rid"] in rids]
    jobs = [j for j in spark_jobs(spark) if j["rid"] in rids]
    n = max(1, len(rids))
    selft = self_times(spans)
    by_id = {s["id"]: s for s in spans}

    def dur(name=None, layer=None):
        return [(s["end"] - s["start"]) * 1e3 for s in spans
                if (name is None or s["name"] == name)
                and (layer is None or s["layer"] == layer)]

    def span_jobs(pred):
        return [j for j in jobs if j["span"] in by_id and pred(by_id[j["span"]])]

    m: dict[str, float] = {}
    for layer in ("client", "api", "service", "catalog", "ingest", "postings",
                  "search", "sources", "registry"):
        m[f"{layer}.self_ms"] = sum(
            selft[s["id"]] for s in spans if s["layer"] == layer) * 1e3 / n
    m["trace.wall_ms"] = sum(dur(layer="client")) / n
    m["trace.self_sum_ms"] = sum(selft.values()) * 1e3 / n

    gc = dur("get_collection", "catalog")
    m["catalog.get_collection_calls"] = len(gc) / n
    m["catalog.get_collection_ms"] = sum(gc) / n
    m["catalog.jobs_per_request"] = len(span_jobs(lambda s: s["layer"] == "catalog")) / n
    m["catalog.add_documents_ms"] = _mean(dur("add_documents", "catalog"))
    m["catalog.delete_documents_ms"] = _mean(dur("delete_documents", "catalog"))
    m["catalog.live_files"] = state["live_files"]

    m["ingest.prepare_ms"] = _mean(dur("prepare_documents", "ingest"))
    m["ingest.ingest_into_self_ms"] = _mean(
        selft[s["id"]] * 1e3 for s in spans if s["name"] == "ingest_into")
    m["ingest.chunks_per_doc"] = state["chunks_per_doc"]
    m["ingest.accepted_ratio"] = state["accepted_ratio"]

    m["postings.matched_ids_ms"] = _mean(dur("matched_ids", "postings"))
    m["postings.append_ms"] = _mean(dur("append", "postings"))
    compact = dur("compact_incremental", "postings")
    m["postings.compactions"] = len(compact)
    m["postings.compact_ms"] = sum(compact)
    m["postings.live_files"] = state["postings_files"]

    # the search query's own jobs run in the similarity_search span
    # itself (the collect after fts_search returned its DataFrame)
    sim = [o for o in ops if o["kind"] == "similarity"]
    sim_rids = {o["rid"] for o in sim}
    sjobs = span_jobs(lambda s: s["name"] == "similarity_search" and s["rid"] in sim_rids)
    results = sum(o.get("n_results", 0) for o in sim)
    m["search.rows_scanned_per_result"] = sum(j["input_rows"] for j in sjobs) / max(1, results)
    m["search.scan_tasks"] = sum(j["tasks"] for j in sjobs) / max(1, len(sim))

    loads = dur("load_table", "sources")
    reg = [o for o in ops if o["kind"] == "registry"]
    m["sources.load_table_calls"] = len(loads) / max(1, len(reg))
    m["sources.load_table_ms"] = _mean(loads)
    m["sources.jobs_per_load"] = (
        len(span_jobs(lambda s: s["layer"] == "sources")) / max(1, len(loads)))
    m["registry.construct_ms"] = _mean(dur("construct", "registry"))
    m["registry.eager_jobs"] = len(span_jobs(
        lambda s: s["layer"] in ("registry", "sources"))) / max(1, len(reg))

    cat = tracer.catalyst_ms(
        {o["rid"] for o in ops if o["kind"] in ("similarity", "batch", "registry")})
    for p in ("analysis", "optimization", "planning"):
        m[f"catalyst.{p}_ms"] = _mean(cat[p])

    m["spark.jobs"] = len(jobs) / n
    m["spark.tasks"] = sum(j["tasks"] for j in jobs) / n
    m["spark.executor_run_ms"] = sum(j["run_ms"] for j in jobs) / n
    m["spark.executor_cpu_ms"] = sum(j["cpu_ms"] for j in jobs) / n
    m["spark.shuffle_write_bytes"] = sum(j["shuffle_write"] for j in jobs) / n
    m["spark.spill_bytes"] = sum(j["spill"] for j in jobs) / n
    m["trace.overhead_ms"] = sum(s["overhead"] for s in spans) * 1e3 / n
    return m
