"""Layer tracing for the traced run (``--trace 1``).

Spans are recorded only here, in the benchmark: ``Tracer.instrument``
wraps public functions of the engine's layers so that each call becomes
a span that

- runs its Spark jobs under its own job group, so the status store can
  credit jobs, stages, tasks, CPU, GC, shuffle and spill to it;
- collects the per-operator SQL metrics (MapInPandas python boot/init/
  run time and bytes, Exchange bytes, Sort time and spill) of every query
  it executes, from a query-execution listener that walks each executed
  plan, AQE stages included.

Listener events are delivered asynchronously; every span drains the
listener bus when it closes, so a query's metrics always land in the
innermost span that was open when it ran. Spans are kept in memory and
written to a file when the run ends. Self time is a span's duration
minus its child spans.
"""
from __future__ import annotations

import contextlib
import functools
import statistics
import time

#: layer of each instrumented public function: (module, attribute, layer)
INSTRUMENTED = [
    ("feast_spark.materialize", "MaterializeJob.run", "materialize"),
    ("feast_spark.materialize", "materialize_delta", "materialize"),
    ("feast_spark.materialize", "push_to_online", "materialize"),
    ("feast_spark.materialize", "read_online", "materialize"),
    ("feast_spark.materialize", "latest_per_key", "windows"),
    ("feast_spark.sources.pages", "write_table", "pages"),
    ("feast_spark.sources.pages", "read_table", "pages"),
    ("feast_spark.sources.pages", "read_table_incremental", "pages"),
    ("feast_spark.sources.pages", "buckets_of_keys", "pages"),
    ("feast_spark.plans.retrieval", "plan_retrieval", "retrieval"),
    ("feast_spark.plans.retrieval", "asof_join", "asof"),
    ("feast_spark.registry", "FeatureStore.get_historical_features", "registry"),
    ("feast_spark.registry", "FeatureStore.get_online_features", "registry"),
    ("feast_spark.registry", "FeatureStore.retrieve_online_documents", "registry"),
    ("feast_spark.registry", "FeatureStore.materialize_delta", "registry"),
    ("feast_spark.registry", "FeatureStore.push", "registry"),
    ("feast_spark.server", "FeatureServer.get_online_features", "server"),
    ("feast_spark.server", "FeatureServer.push", "server"),
    ("feast_spark.server", "FeatureServer.retrieve_online_documents", "server"),
    ("feast_spark.operators.similarity", "ann_index_topk", "similarity"),
    ("feast_spark.operators.text", "extract_features_col", "text"),
]
LAYERS = [
    "session", "text", "windows", "materialize", "pages", "retrieval",
    "asof", "registry", "server", "similarity",
]
STRATEGIES = ["broadcast", "cogroup", "union", "sliced"]


def _children(plan):
    name = plan.nodeName()
    if name.startswith("AdaptiveSparkPlan"):
        return [plan.executedPlan()]
    if "QueryStage" in name:
        return [plan.plan()]
    if name.startswith("ReusedExchange"):
        return []
    out, it = [], plan.children().iterator()
    while it.hasNext():
        out.append(it.next())
    return out


#: SQL metric types whose values are durations, and their unit in seconds
_TIME_SCALE = {"timing": 1e-3, "nsTiming": 1e-9}


def plan_metrics(plan, ancestors: tuple = ()) -> list[dict]:
    """One record per physical operator of an executed plan: its name,
    the names of the operators above it, and its non-zero SQL metrics
    (durations in seconds, sizes in bytes)."""
    name = plan.nodeName()
    metrics, it = {}, plan.metrics().iterator()
    while it.hasNext():
        kv = it.next()
        metric = kv._2()
        v = metric.value()
        if v:
            metrics[kv._1()] = v * _TIME_SCALE.get(metric.metricType(), 1)
    out = [{"node": name, "above": list(ancestors), "metrics": metrics}]
    for child in _children(plan):
        out += plan_metrics(child, ancestors + (name,))
    return out


class _QueryListener:
    """py4j implementation of Spark's QueryExecutionListener."""

    def __init__(self, sink: list) -> None:
        self.sink = sink

    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802 — Java API
        try:
            self.sink.append(plan_metrics(qe.executedPlan()))
        except Exception as e:  # a broken walk must not kill the listener bus
            self.sink.append([{"node": "walk-error", "above": [], "metrics": {}, "error": repr(e)}])

    def onFailure(self, func_name, qe, exception):  # noqa: N802 — Java API
        self.sink.append([{"node": "failed-query", "above": [], "metrics": {}}])

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


class Tracer:
    def __init__(self, spark) -> None:
        from pyspark.java_gateway import ensure_callback_server_started

        self.spark = spark
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._queries: list = []
        self._patched: list[tuple] = []
        self.enabled = False
        self.overhead_s = 0.0
        self.files_planned = 0
        self.files_total = 0
        ensure_callback_server_started(self.sc._gateway)
        self._listener = _QueryListener(self._queries)
        spark._jsparkSession.listenerManager().register(self._listener)
        self._bus = self.sc._jsc.sc().listenerBus()

    # -- spans ---------------------------------------------------------
    def _drain(self) -> list:
        self._bus.waitUntilEmpty()
        got = list(self._queries)
        self._queries.clear()
        return got

    def discard(self) -> None:
        """Drop the metrics of queries run while tracing was off."""
        self._drain()

    @contextlib.contextmanager
    def span(self, layer: str, name: str, **attrs):
        """Time one call under its own Spark job group."""
        if not self.enabled:
            yield {}
            return
        t_in = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        if parent is not None:
            parent["queries"] += self._drain()  # queries the parent ran so far
        rec = {
            "id": len(self.spans), "parent": parent["id"] if parent else None,
            "layer": layer, "name": name, "group": f"pitbench-{len(self.spans)}",
            "queries": [], "child_s": 0.0, **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        self.sc.setJobGroup(rec["group"], name, False)
        t0 = time.perf_counter()
        self.overhead_s += t0 - t_in
        try:
            yield rec
        finally:
            t1 = time.perf_counter()
            rec["queries"] += self._drain()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(parent["group"], parent["name"], False)
            else:
                self.sc._jsc.clearJobGroup()
            rec["dur_s"] = t1 - t0
            if parent is not None:
                parent["child_s"] += rec["dur_s"]
            self.overhead_s += time.perf_counter() - t1

    def instrument(self) -> None:
        """Wrap every function in INSTRUMENTED so each call is a span."""
        import importlib

        for mod_name, attr, layer in INSTRUMENTED:
            mod = importlib.import_module(mod_name)
            owner, _, fname = attr.rpartition(".")
            target = getattr(mod, owner) if owner else mod
            orig = getattr(target, fname)
            setattr(target, fname, self._wrap(orig, layer, attr))
            self._patched.append((target, fname, orig))
        from feast_spark.sources import pages

        orig_plan = pages.plan_files

        def plan_files(*a, **kw):
            snap, keep = orig_plan(*a, **kw)
            if self.enabled:
                self.files_planned += len(keep)
                self.files_total += len(snap["files"])
            return snap, keep

        pages.plan_files = plan_files
        self._patched.append((pages, "plan_files", orig_plan))

    def _wrap(self, fn, layer: str, name: str):
        tracer = self

        @functools.wraps(fn)
        def traced(*a, **kw):
            if name == "plan_retrieval" and tracer.enabled and kw.get("decisions") is None:
                kw["decisions"] = []
            with tracer.span(layer, name) as rec:
                out = fn(*a, **kw)
                if tracer.enabled:
                    tracer._annotate(rec, name, a, kw, out)
                return out

        return traced

    def _annotate(self, rec: dict, name: str, a, kw, out) -> None:
        if name == "plan_retrieval":
            rec["strategies"] = [d["strategy"] for d in kw["decisions"]]
        elif name in ("materialize_delta", "push_to_online") and isinstance(out, dict):
            rec["buckets_touched"] = len(out.get("buckets_touched") or [])
        elif name == "MaterializeJob.run" and isinstance(out, dict):
            from feast_spark.sources import pages

            rec["batches"] = out.get("batches_run", 0)
            rec["batch_s"] = sum(
                r.get("wall_ms", 0) for r in pages.list_lineage(a[0].dest) if "buckets" in r
            ) / 1000.0
        elif name == "write_table":
            rec["append"] = kw.get("mode") == "append"

    def restore(self) -> None:
        for target, fname, orig in reversed(self._patched):
            setattr(target, fname, orig)
        self._patched.clear()

    # -- Spark status store ----------------------------------------------
    def _job_stats(self, group: str) -> dict:
        store = self.sc._jsc.sc().statusStore()
        out = dict.fromkeys(
            ["jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
             "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes"], 0)
        for job_id in self.sc.statusTracker().getJobIdsForGroup(group):
            out["jobs"] += 1
            it = store.job(job_id).stageIds().iterator()
            while it.hasNext():
                st = store.lastStageAttempt(it.next())
                if st.status().toString() == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += st.numTasks()
                out["executor_run_s"] += st.executorRunTime() / 1e3
                out["executor_cpu_s"] += st.executorCpuTime() / 1e9
                out["gc_s"] += st.jvmGcTime() / 1e3
                out["shuffle_write_bytes"] += st.shuffleWriteBytes()
                out["shuffle_read_bytes"] += st.shuffleReadBytes()
                out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        return out

    def finish(self) -> None:
        """Attach Spark's per-group counts to every span (after the timed
        pass, so status-store reads are not part of any span)."""
        for rec in self.spans:
            rec["spark"] = self._job_stats(rec["group"])

    # -- per-layer metrics -------------------------------------------------
    def _subtree(self, rec: dict) -> list[dict]:
        kids = {}
        for s in self.spans:
            kids.setdefault(s["parent"], []).append(s)
        out, todo = [], [rec]
        while todo:
            s = todo.pop()
            out.append(s)
            todo += kids.get(s["id"], [])
        return out

    def layer_metrics(self, *, session_s: float, pass_s: float, extra: dict) -> dict:
        spans = self.spans
        by_name: dict[str, list[dict]] = {}
        for s in spans:
            by_name.setdefault(s["name"], []).append(s)

        def nodes(span_list, pred=lambda n: True):
            for s in span_list:
                for q in s["queries"]:
                    for n in q:
                        if pred(n):
                            yield n

        def msum(node_iter, key):
            return sum(n["metrics"].get(key, 0) for n in node_iter)

        def med_ms(name):
            d = [s["dur_s"] * 1e3 for s in by_name.get(name, [])]
            return statistics.median(d) if d else 0.0

        def inclusive_jobs(name):
            return sum(
                t["spark"]["jobs"] for s in by_name.get(name, []) for t in self._subtree(s)
            )

        def under(layer_names):
            """Spans whose own layer, or an ancestor's, is in layer_names."""
            parent = {s["id"]: s for s in spans}
            out = []
            for s in spans:
                cur = s
                while cur is not None:
                    if cur["layer"] in layer_names:
                        out.append(s)
                        break
                    cur = parent.get(cur["parent"])
            return out

        every = spans
        pandas_map = list(nodes(every, lambda n: n["node"] == "MapInPandas"))
        mat_spans = under({"materialize"})
        window_sorts = list(nodes(
            mat_spans, lambda n: n["node"] == "Sort" and any(a.startswith("Window") for a in n["above"])
        ))
        asof_spans = under({"retrieval", "asof"})
        m = {
            "session.start_s": session_s,
            "text.python_boot_s": msum(pandas_map, "pythonBootTime"),
            "text.python_init_s": msum(pandas_map, "pythonInitTime"),
            "text.python_run_s": msum(pandas_map, "pythonTotalTime"),
            "text.bytes_to_python": msum(pandas_map, "pythonDataSent"),
            "text.bytes_from_python": msum(pandas_map, "pythonDataReceived"),
            "windows.sort_s": msum(window_sorts, "sortTime"),
            "windows.spill_bytes": msum(window_sorts, "spillSize"),
            "materialize.batch_s": sum(s.get("batch_s", 0.0) for s in by_name.get("MaterializeJob.run", [])),
            "materialize.batches": sum(s.get("batches", 0) for s in by_name.get("MaterializeJob.run", [])),
            "materialize.delta_s": sum(s["dur_s"] for s in by_name.get("materialize_delta", [])),
            "materialize.buckets_touched": sum(s.get("buckets_touched", 0) for s in spans),
            "materialize.read_online_ms": med_ms("read_online"),
            "materialize.read_online_jobs": inclusive_jobs("read_online"),
            "pages.append_s": sum(s["dur_s"] for s in by_name.get("write_table", []) if s.get("append")),
            "pages.files_planned": self.files_planned,
            "pages.files_total": self.files_total,
            "pages.buckets_of_keys_ms": med_ms("buckets_of_keys"),
            "retrieval.plan_ms": med_ms("plan_retrieval"),
        }
        chosen = [st for s in by_name.get("plan_retrieval", []) for st in s.get("strategies", [])]
        for st in STRATEGIES:
            m[f"retrieval.{st}_plans"] = chosen.count(st)
        cogroup = list(nodes(asof_spans, lambda n: "InPandas" in n["node"]))
        m.update({
            "asof.exec_s": sum(s["dur_s"] for s in by_name.get("asof.execute", [])),
            "asof.shuffle_bytes": msum(nodes(asof_spans, lambda n: n["node"] == "Exchange"), "shuffleBytesWritten"),
            "asof.sort_s": msum(nodes(asof_spans, lambda n: n["node"] == "Sort"), "sortTime"),
            "asof.python_run_s": msum(cogroup, "pythonTotalTime"),
            "registry.get_online_features_ms": med_ms("FeatureStore.get_online_features"),
            "server.http_overhead_ms": extra.get("http_overhead_ms", 0.0),
            "similarity.topk_ms": med_ms("FeatureServer.retrieve_online_documents"),
            "similarity.jobs": inclusive_jobs("FeatureServer.retrieve_online_documents"),
        })
        for key in ["jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
                    "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes"]:
            m[f"spark.{key}"] = sum(s["spark"][key] for s in spans)
        self_s = dict.fromkeys(LAYERS, 0.0)
        self_s["session"] = session_s
        for s in spans:
            if s["layer"] in self_s:
                self_s[s["layer"]] += s["dur_s"] - s["child_s"]
        for layer, v in self_s.items():
            m[f"self.{layer}_s"] = v
        m["trace.overhead_pct"] = 100.0 * self.overhead_s / max(pass_s - self.overhead_s, 1e-9)
        return m
