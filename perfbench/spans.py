"""Spans and per-layer counters for the traced run.

A :class:`Tracer` records one span per call the benchmark makes into a
layer: name, layer, start, end, parent and run id.  Each span gets its own
Spark job group, so the stages its jobs ran can be read back from Spark's
status store afterwards, and the executed plan of every delivered
DataFrame is kept so its Python nodes' SQL metrics can be read.  Spans stay
in memory; :meth:`Tracer.layer_metrics` reads the status store once, at
the end, and :meth:`Tracer.dump` writes spans and layer self times as JSON.

:class:`NullTracer` has the same interface and records nothing; the
untraced runs that give the end-to-end metrics use it.
"""

from __future__ import annotations

import json
import re
import statistics
import time
from contextlib import contextmanager

PYTHON_NODES = ("MapInPandas", "FlatMapGroupsInPandas", "ArrowEvalPython",
                "BatchEvalPython", "FlatMapCoGroupsInPandas",
                "AggregateInPandas", "WindowInPandas", "MapInArrow",
                "PythonMapInArrow", "FlatMapGroupsInArrow")
PYTHON_METRICS = {
    "pythonBootTime": "python.boot_s",
    "pythonInitTime": "python.init_s",
    "pythonTotalTime": "python.total_s",
    "pythonDataSent": "python.data_sent_bytes",
    "pythonDataReceived": "python.data_received_bytes",
    "pythonNumRowsReceived": "python.rows_out",
}
# SQL metric types that hold a duration, and their unit in seconds
TIME_SCALE = {"timing": 1e-3, "nsTiming": 1e-9}


class NullTracer:
    @contextmanager
    def span(self, name: str, layer: str):
        yield None

    def deliver(self, df):
        return df.toPandas()


class Tracer:
    def __init__(self, spark, run_id: str):
        self.spark = spark
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._plans: list = []  # query executions of delivered DataFrames
        self.stream_progress: list[dict] = []
        self.stream_groups: set[str] = set()  # run ids of streaming queries
        self.stream_ended: set[str] = set()

    @contextmanager
    def span(self, name: str, layer: str):
        parent = self._stack[-1] if self._stack else None
        sp = {
            "id": f"{self.run_id}/{len(self.spans)}",
            "name": name,
            "layer": layer,
            "parent": parent["id"] if parent else None,
            "run": self.run_id,
            "start": time.time(),
            "end": None,
        }
        self.spans.append(sp)
        self._stack.append(sp)
        self.sc.setJobGroup(sp["id"], sp["id"])
        try:
            yield sp
        finally:
            sp["end"] = time.time()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(parent["id"], parent["id"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def deliver(self, df):
        """Plan (forced, its own span), then execute and deliver rows to
        pandas.  The delivery span is split into job time and the rest at
        the end, from the status store."""
        qe = df._jdf.queryExecution()
        with self.span("plan", "spark.plan"):
            qe.executedPlan()
        with self.span("toPandas", "spark.exec") as sp:
            pdf = df.toPandas()
            sp["rows"] = len(pdf)
        self._plans.append(qe)
        return pdf

    # ------------------------------------------------------------------
    # read-back at the end of the run
    # ------------------------------------------------------------------

    def _jobs(self, group: str) -> list[dict]:
        store = self.sc._jsc.sc().statusStore()
        conv = self.sc._jvm.scala.jdk.javaapi.CollectionConverters
        out = []
        for jid in self.sc.statusTracker().getJobIdsForGroup(group):
            jd = store.job(jid)
            if not (jd.submissionTime().isDefined() and jd.completionTime().isDefined()):
                continue
            out.append(
                {
                    "job": jid,
                    "start": jd.submissionTime().get().getTime() / 1e3,
                    "end": jd.completionTime().get().getTime() / 1e3,
                    "stages": list(conv.asJava(jd.stageIds())),
                }
            )
        return out

    def _stage_table(self) -> dict[int, dict]:
        store = self.sc._jsc.sc().statusStore()
        jvm = self.sc._jvm
        stages = store.stageList(
            None, False, False, self.sc._gateway.new_array(jvm.double, 0),
            jvm.java.util.ArrayList(),
        )
        out = {}
        for i in range(stages.size()):
            st = stages.apply(i)
            if not st.submissionTime().isDefined():
                continue  # skipped: its shuffle output was reused in-job
            out.setdefault(st.stageId(), []).append(
                {
                    "tasks": st.numTasks(),
                    "failed_tasks": st.numFailedTasks(),
                    "run_s": st.executorRunTime() / 1e3,
                    "cpu_s": st.executorCpuTime() / 1e9,
                    "gc_s": st.jvmGcTime() / 1e3,
                    "shuffle_write": st.shuffleWriteBytes(),
                    "shuffle_read": st.shuffleReadBytes(),
                    "spill": st.memoryBytesSpilled() + st.diskBytesSpilled(),
                    "input": st.inputBytes(),
                }
            )
        return out

    def _python_nodes(self, qe) -> list[dict]:
        """SQL metrics of the Python nodes of one executed (final) plan."""
        conv = self.sc._jvm.scala.jdk.javaapi.CollectionConverters
        found = []

        def walk(p):
            cls = p.getClass().getSimpleName()
            if cls == "AdaptiveSparkPlanExec":
                walk(p.executedPlan())
                return
            if cls.endswith("QueryStageExec"):
                walk(p.plan())
                return
            if cls == "ReusedExchangeExec":
                return  # its subtree ran once, where it was first planned
            if p.nodeName() in PYTHON_NODES:
                ms = p.metrics()
                vals, ids = {}, {}
                for k in conv.asJava(ms.keySet()):
                    metric = ms.apply(k)
                    vals[k] = metric.value() * TIME_SCALE.get(metric.metricType(), 1)
                    ids[k] = metric.id()
                found.append({"node": p.nodeName(), "metrics": vals, "ids": ids})
            ch = p.children()
            for i in range(ch.length()):
                walk(ch.apply(i))

        walk(qe.executedPlan())
        return found

    def _python_tasks(self, metric_ids: list[int], stage_tab: dict) -> int:
        """Tasks that ran a Python node.  The SQL store prints a metric
        summed over several tasks as ``total (min, med, max (stageId:
        taskId))`` and names the stage; a single task's is a bare value."""
        store = self.spark._jsparkSession.sharedState().statusStore()
        execs = store.executionsList()
        tasks = 0
        for i in range(execs.size()):
            m = store.executionMetrics(execs.apply(i).executionId())
            for mid in metric_ids:
                if not m.contains(mid):
                    continue
                stage = re.search(r"\(stage (\d+)\.", m.apply(mid))
                if stage is None:
                    tasks += 1
                else:
                    tasks += sum(a["tasks"] for a in stage_tab.get(int(stage[1]), []))
        return tasks

    def layer_metrics(self, cores: int) -> dict:
        stage_tab = self._stage_table()
        for sp in self.spans:
            sp["jobs"] = self._jobs(sp["id"])
        stream_jobs = [j for g in self.stream_groups for j in self._jobs(g)]
        all_jobs = [j for sp in self.spans for j in sp["jobs"]] + stream_jobs

        def stage_sum(jobs, key):
            seen, tot = set(), 0
            for j in jobs:
                for s in j["stages"]:
                    if s in seen or s not in stage_tab:
                        continue
                    seen.add(s)
                    tot += sum(a[key] for a in stage_tab[s])
            return tot

        def stage_count(jobs):
            return len({s for j in jobs for s in j["stages"] if s in stage_tab})

        def dur(sp):
            return sp["end"] - sp["start"]

        def by_layer(layer):
            return [sp for sp in self.spans if sp["layer"] == layer]

        build_jobs = [j for sp in by_layer("queries") for j in sp["jobs"]]
        m = {
            "queries.build_s": sum(dur(sp) for sp in by_layer("queries")),
            "queries.build_jobs": len(build_jobs),
            "queries.build_tasks": stage_sum(build_jobs, "tasks"),
            "spark.plan_s": sum(dur(sp) for sp in by_layer("spark.plan")),
        }
        exec_s = _union([(j["start"], j["end"]) for j in all_jobs])
        deliver_s, deliver_rows = 0.0, 0
        for sp in by_layer("spark.exec"):
            inside = _union(
                [(max(j["start"], sp["start"]), min(j["end"], sp["end"]))
                 for j in sp["jobs"] if j["end"] > sp["start"]]
            )
            deliver_s += max(dur(sp) - inside, 0.0)
            deliver_rows += sp.get("rows", 0)
        run_s = stage_sum(all_jobs, "run_s")
        m.update(
            {
                "spark.exec_s": exec_s,
                "spark.jobs": len(all_jobs),
                "spark.stages": stage_count(all_jobs),
                "spark.tasks": stage_sum(all_jobs, "tasks"),
                "spark.failed_tasks": stage_sum(all_jobs, "failed_tasks"),
                "spark.executor_run_s": run_s,
                "spark.executor_cpu_s": stage_sum(all_jobs, "cpu_s"),
                "spark.gc_s": stage_sum(all_jobs, "gc_s"),
                "spark.shuffle_write_bytes": stage_sum(all_jobs, "shuffle_write"),
                "spark.shuffle_read_bytes": stage_sum(all_jobs, "shuffle_read"),
                "spark.spill_bytes": stage_sum(all_jobs, "spill"),
                "spark.input_bytes": stage_sum(all_jobs, "input"),
                "spark.core_busy": run_s / (exec_s * cores) if exec_s else 0.0,
                "spark.deliver_s": deliver_s,
                "spark.deliver_rows": deliver_rows,
            }
        )
        py = {name: 0.0 for name in PYTHON_METRICS.values()}
        metric_ids = []
        for qe in self._plans:
            for node in self._python_nodes(qe):
                for k, name in PYTHON_METRICS.items():
                    py[name] += node["metrics"].get(k, 0)
                if "pythonTotalTime" in node["ids"]:
                    metric_ids.append(node["ids"]["pythonTotalTime"])
        py["python.tasks"] = self._python_tasks(metric_ids, stage_tab)
        m.update(py)
        prog = self.stream_progress
        m.update(
            {
                "streaming.batches": len(prog),
                "streaming.batch_s": _median([p["trigger_s"] for p in prog]),
                "streaming.add_batch_s": _median([p["add_batch_s"] for p in prog]),
                "streaming.wal_commit_s": _median([p["wal_commit_s"] for p in prog]),
                "streaming.input_rows": sum(p["input_rows"] for p in prog),
            }
        )
        return m

    def self_times(self) -> dict[str, float]:
        """Per layer: span time minus the part covered by child spans."""
        kids: dict[str, list] = {}
        for sp in self.spans:
            if sp["parent"]:
                kids.setdefault(sp["parent"], []).append(sp)
        out = {}
        for sp in self.spans:
            covered = sum(c["end"] - c["start"] for c in kids.get(sp["id"], []))
            out[sp["layer"]] = out.get(sp["layer"], 0.0) + (
                sp["end"] - sp["start"] - covered
            )
        return out

    def dump(self, path, extra: dict) -> None:
        rec = {"spans": self.spans, "layer_self_s": self.self_times(), **extra}
        with open(path, "w") as f:
            json.dump(rec, f, indent=1, default=str)


def _union(intervals) -> float:
    """Length of the union of ``(start, end)`` intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def stream_listener(tracer: Tracer):
    """A StreamingQueryListener that records each micro-batch's progress
    into ``tracer`` and remembers the query's job group (its run id)."""
    from pyspark.sql.streaming import StreamingQueryListener

    class _Listener(StreamingQueryListener):
        def onQueryStarted(self, event):
            tracer.stream_groups.add(str(event.runId))

        def onQueryProgress(self, event):
            p = event.progress
            d = p.durationMs
            tracer.stream_progress.append(
                {
                    "batch": p.batchId,
                    "input_rows": p.numInputRows,
                    "trigger_s": d.get("triggerExecution", 0) / 1e3,
                    "add_batch_s": d.get("addBatch", 0) / 1e3,
                    "wal_commit_s": d.get("walCommit", 0) / 1e3,
                }
            )

        def onQueryTerminated(self, event):
            tracer.stream_ended.add(str(event.runId))

    return _Listener()


def wait_for_streams(tracer: Tracer, timeout_s: float = 10.0) -> None:
    """Listener events arrive asynchronously; a query's terminated event
    comes after its last progress event, so wait for those."""
    deadline = time.time() + timeout_s
    while tracer.stream_groups - tracer.stream_ended and time.time() < deadline:
        time.sleep(0.05)
