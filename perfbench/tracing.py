"""Traced-run harness: spans, per-layer metrics and the span file.

Driver side, the harness swaps timing wrappers into the engine modules'
namespaces (the ``bench.py`` ``_patch`` technique: the engine's source is
untouched, every module that imported a function by name gets the
wrapper). Execution side, it reads public Spark interfaces only:

- Spark jobs are tied to the op that caused them through
  ``sparkContext.setJobGroup(op_id, ...)``; streaming micro-batch jobs
  carry their query's run id as job group, which the streaming listener
  maps back to the op that started the query. A job with neither is
  attributed by submission time (the loop is closed: one op at a time).
- stage, task and SQL-node metrics come from the UI's REST API
  (``/api/v1/applications/<id>/jobs``, ``/stages``, ``/sql``), turned on
  with the engine's ``SPARK_GRAFT_UI=1`` switch;
- micro-batch metrics come from a ``StreamingQueryListener``.

Spans are kept in memory and written as one JSON file at the end. Levels:
workload → pass → op → wrapped call or Spark job. A span's self time is
its duration minus the time its child spans cover.
"""

from __future__ import annotations

import json
import re
import statistics
import sys
import time
import urllib.request
from collections import defaultdict
from contextlib import contextmanager
from datetime import datetime, timezone

# (module, attribute, span name) of every wrapped engine function
WRAPPED = [
    ("catme_etl_spark.session", "get_spark", "session.get_spark"),
    ("catme_etl_spark.sources.files", "read_auto", "sources.files.read_auto"),
    ("catme_etl_spark.sources.xlsx_lite", "read_workbook", "sources.xlsx_lite.read_workbook"),
    ("catme_etl_spark.operators.pipeline", "run_pipeline", "operators.pipeline.run_pipeline"),
    ("catme_etl_spark.sinks.json_sink", "write_json", "sinks.json_sink.write_json"),
    ("catme_etl_spark.convert", "convert", "convert"),
    ("catme_etl_spark.sources.tables", "load_table", "sources.tables.load_table"),
]

# Per-layer metrics (name, unit, better), in report order.
PER_LAYER = [
    ("session.get_spark_s", "s", "lower"),
    ("operators.import_s", "s", "lower"),
    ("sources.files.read_auto_s", "s", "lower"),
    ("sources.scan_amplification", "ratio", "lower"),
    ("sources.xlsx_lite.read_workbook_s", "s", "lower"),
    ("sources.xlsx_lite.rows", "count", "higher"),
    ("operators.pipeline.run_pipeline_s", "s", "lower"),
    ("sinks.json_sink.write_json_s", "s", "lower"),
    ("exec.output_bytes", "bytes", "lower"),
    ("exec.output_files", "count", "lower"),
    ("convert.self_s", "s", "lower"),
    ("sources.tables.load_table_calls", "count", "lower"),
    ("exec.scan.input_bytes", "bytes", "lower"),
    ("exec.scan.input_rows", "count", "lower"),
    ("operators.plan_s", "s", "lower"),
    ("operators.eager_jobs", "count", "lower"),
    ("shared.df_hits", "count", "higher"),
    ("shared.df_misses", "count", "lower"),
    ("shared.bc_hits", "count", "higher"),
    ("shared.bc_misses", "count", "lower"),
    ("shared.hit_ratio", "ratio", "higher"),
    ("shared.build_self_s", "s", "lower"),
    ("exec.python.bytes_sent", "bytes", "lower"),
    ("exec.python.bytes_returned", "bytes", "lower"),
    ("exec.python.rows", "count", "lower"),
    ("exec.jobs", "count", "lower"),
    ("exec.stages", "count", "lower"),
    ("exec.tasks", "count", "lower"),
    ("exec.executor_run_s", "s", "lower"),
    ("exec.executor_cpu_s", "s", "lower"),
    ("exec.gc_s", "s", "lower"),
    ("exec.core_busy_frac", "ratio", "higher"),
    ("exec.task_skew", "ratio", "lower"),
    ("exec.shuffle.write_bytes", "bytes", "lower"),
    ("exec.shuffle.read_bytes", "bytes", "lower"),
    ("exec.spill.disk_bytes", "bytes", "lower"),
    ("exec.peak_execution_memory", "bytes", "lower"),
    ("stream.batches", "count", "lower"),
    ("stream.trigger_ms", "ms", "lower"),
    ("stream.add_batch_ms", "ms", "lower"),
    ("stream.wal_commit_ms", "ms", "lower"),
    ("stream.commit_offsets_ms", "ms", "lower"),
    ("stream.query_planning_ms", "ms", "lower"),
    ("stream.state.rows", "count", "lower"),
    ("stream.state.memory_bytes", "bytes", "lower"),
    ("stream.state.commit_ms", "ms", "lower"),
]

# ``StreamingQueryProgress.durationMs`` key per stream metric
_STREAM_DURATIONS = {
    "stream.trigger_ms": "triggerExecution",
    "stream.add_batch_ms": "addBatch",
    "stream.wal_commit_ms": "walCommit",
    "stream.commit_offsets_ms": "commitOffsets",
    "stream.query_planning_ms": "queryPlanning",
}


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op_id: str | None = None
        self.sink_start: dict[str, float] = {}
        self.shared: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        self.stream_op: dict[str, str] = {}  # run id -> op id
        self.stream_started: set[str] = set()
        self.stream_done: set[str] = set()
        self.stream_progress: list[dict] = []

    # -- spans -------------------------------------------------------------

    @contextmanager
    def span(self, name: str, **attrs):
        rec = {
            "id": len(self.spans),
            "name": name,
            "start": time.time(),
            "end": None,
            "parent": self._stack[-1] if self._stack else None,
            "op": self.op_id,
        }
        rec.update(attrs)
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()

    @contextmanager
    def op(self, op_id: str, name: str, family: str, spark=None):
        self.op_id = op_id
        if spark is not None:
            spark.sparkContext.setJobGroup(op_id, f"{family}:{name}")
        try:
            with self.span("op", query=name, family=family) as rec:
                yield rec
        finally:
            self.op_id = None

    def mark_sink_start(self) -> None:
        if self.op_id is not None:
            self.sink_start[self.op_id] = time.time()

    # -- namespace-swapped wrappers ---------------------------------------

    def _wrap(self, name: str, fn):
        tracer = self

        def wrapper(*args, **kwargs):
            with tracer.span(name) as rec:
                if name == "sources.tables.load_table" and len(args) >= 3:
                    rec["table"] = args[2]
                out = fn(*args, **kwargs)
                if name == "sources.xlsx_lite.read_workbook" and hasattr(out, "shape"):
                    rec["rows"] = int(out.shape[0])
                return out

        wrapper.__wrapped__ = fn
        return wrapper

    def _wrap_shared(self, kind: str, fn, cache):
        tracer = self

        def wrapper(name, sf_dir, spark, build, *rest, **kwargs):
            key = (name, sf_dir, spark.sparkContext.applicationId)
            stats = tracer.shared[tracer.op_id or "-"]
            if key in cache:
                stats[f"{kind}_hits"] += 1
                return fn(name, sf_dir, spark, build, *rest, **kwargs)
            stats[f"{kind}_misses"] += 1
            with tracer.span("shared.build", artifact=name, kind=kind):
                return fn(name, sf_dir, spark, build, *rest, **kwargs)

        wrapper.__wrapped__ = fn
        return wrapper

    def install(self) -> None:
        """Swap the wrappers into every loaded engine module that holds
        the original function (call after the engine is imported)."""
        import importlib

        from catme_etl_spark.operators import _shared

        swaps = []
        for mod_name, attr, span_name in WRAPPED:
            orig = getattr(importlib.import_module(mod_name), attr)
            swaps.append((orig, self._wrap(span_name, orig)))
        swaps.append((_shared.shared_df, self._wrap_shared("df", _shared.shared_df, _shared._DF_CACHE)))
        swaps.append(
            (_shared.shared_broadcast, self._wrap_shared("bc", _shared.shared_broadcast, _shared._BC_CACHE))
        )
        by_id = {id(o): w for o, w in swaps}
        for mn, mod in list(sys.modules.items()):
            if mod is None or not (mn.startswith("catme_etl_spark") or mn == "__spark_entry__"):
                continue
            for attr, val in list(vars(mod).items()):
                if id(val) in by_id and callable(val):
                    setattr(mod, attr, by_id[id(val)])

    # -- streaming listener -------------------------------------------------

    def add_stream_listener(self, spark):
        from pyspark.sql.streaming import StreamingQueryListener

        tracer = self

        class Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                rid = str(event.runId)
                tracer.stream_started.add(rid)
                if tracer.op_id is not None:
                    tracer.stream_op[rid] = tracer.op_id

            def onQueryProgress(self, event):
                p = event.progress
                tracer.stream_progress.append(
                    {
                        "run_id": str(p.runId),
                        "batch": p.batchId,
                        "durations": dict(p.durationMs),
                        "state_rows": sum(s.numRowsTotal for s in p.stateOperators),
                        "state_bytes": sum(s.memoryUsedBytes for s in p.stateOperators),
                        "state_commit_ms": sum(s.commitTimeMs for s in p.stateOperators),
                    }
                )

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                tracer.stream_done.add(str(event.runId))

        self.listener = Listener()
        spark.streams.addListener(self.listener)

    def drain_stream_events(self, timeout: float = 30.0) -> None:
        """Listener events arrive asynchronously: wait until every started
        query has reported its termination."""
        deadline = time.time() + timeout
        while time.time() < deadline and self.stream_started - self.stream_done:
            time.sleep(0.1)


# ---------------------------------------------------------------------------
# REST collection
# ---------------------------------------------------------------------------

_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}


def _metric_number(value: str) -> float:
    """SQL-metric display value → number (``"1,234"``, ``"12.5 KiB"``,
    or the ``total (min, med, max ...)`` form whose total follows the
    first newline)."""
    text = value.split("\n", 1)[1] if "\n" in value else value
    m = re.match(r"\s*([0-9][0-9,]*(?:\.[0-9]+)?)\s*(B|KiB|MiB|GiB|TiB)?", text)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2) or "B", 1)


def _rest_time(s: str | None) -> float | None:
    if not s:
        return None
    return datetime.strptime(s.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f").replace(
        tzinfo=timezone.utc
    ).timestamp()


def _get(base: str, path: str):
    with urllib.request.urlopen(base + path, timeout=30) as r:
        return json.loads(r.read())


def fetch_rest(spark, timeout: float = 60.0) -> dict:
    """Jobs, stages (with task-time quartiles) and SQL executions of the
    application, once the status store has caught up (no job running and
    the job count stable)."""
    sc = spark.sparkContext
    port = (sc.uiWebUrl or "").rsplit(":", 1)[-1]
    base = f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}"
    deadline = time.time() + timeout
    prev = -1
    while True:
        jobs = _get(base, "/jobs")
        running = any(j["status"] == "RUNNING" for j in jobs)
        if (not running and len(jobs) == prev) or time.time() > deadline:
            break
        prev = len(jobs)
        time.sleep(0.5)
    stages = _get(base, "/stages")
    for st in stages:
        st["task_run_p50_max"] = None
        if st.get("status") == "COMPLETE" and st.get("numCompleteTasks", 0) >= 2:
            try:
                q = _get(
                    base,
                    f"/stages/{st['stageId']}/{st['attemptId']}/taskSummary?quantiles=0.5,1.0",
                )
                st["task_run_p50_max"] = q.get("executorRunTime")
            except Exception:
                pass
    sql = _get(base, "/sql?details=true&planDescription=false&offset=0&length=1000000")
    return {"jobs": jobs, "stages": stages, "sql": sql}


# ---------------------------------------------------------------------------
# attribution and per-layer metrics
# ---------------------------------------------------------------------------


def _self_time(span: dict, children: dict[int, list[dict]]) -> float:
    """Duration minus the union of the children's intervals."""
    iv = sorted(
        (max(c["start"], span["start"]), min(c["end"], span["end"]))
        for c in children.get(span["id"], [])
        if c["end"] is not None
    )
    covered, cur_s, cur_e = 0.0, None, None
    for s, e in iv:
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return max(span["end"] - span["start"] - covered, 0.0)


def attribute(tracer: Tracer, ops: list, rest: dict) -> dict[str, dict]:
    """Group jobs, stages and SQL executions by op id; add one span per
    Spark job under the innermost driver span open at its submission."""
    op_ids = {o.op_id for o in ops}
    windows = sorted((o.start, o.end, o.op_id) for o in ops)
    by_op: dict[str, dict] = {o: {"jobs": [], "stages": [], "sql": [], "by_time": 0} for o in op_ids}
    job_op: dict[int, str] = {}
    op_span = {s["op"]: s for s in tracer.spans if s["name"] == "op"}
    spans_of: dict[str, list[dict]] = defaultdict(list)
    for s in tracer.spans:
        if s["op"] in op_ids and s["end"] is not None:
            spans_of[s["op"]].append(s)
    for j in rest["jobs"]:
        sub = _rest_time(j.get("submissionTime"))
        grp = j.get("jobGroup")
        op = grp if grp in op_ids else tracer.stream_op.get(grp)
        if op not in op_ids and sub is not None:
            op = next((o for s, e, o in windows if s <= sub <= e), None)
            if op is not None:
                by_op[op]["by_time"] += 1
        if op not in op_ids:
            continue
        job_op[j["jobId"]] = op
        by_op[op]["jobs"].append(j)
        end = _rest_time(j.get("completionTime")) or sub
        parent = op_span[op]
        for s in spans_of[op]:  # innermost = latest-opened span covering it
            if s["start"] <= sub <= s["end"] and s["id"] > parent["id"]:
                parent = s
        tracer.spans.append(
            {
                "id": len(tracer.spans),
                "name": "spark.job",
                "start": sub,
                "end": end,
                "parent": parent["id"],
                "op": op,
                "job_id": j["jobId"],
                "stages": j.get("stageIds", []),
            }
        )
    stage_op = {sid: job_op[j["jobId"]] for j in rest["jobs"] if j["jobId"] in job_op for sid in j.get("stageIds", [])}
    for st in rest["stages"]:
        op = stage_op.get(st["stageId"])
        if op is not None and st.get("status") == "COMPLETE":
            by_op[op]["stages"].append(st)
    for ex in rest["sql"]:
        ids = ex.get("successJobIds", []) + ex.get("failedJobIds", []) + ex.get("runningJobIds", [])
        op = next((job_op[i] for i in ids if i in job_op), None)
        if op is not None:
            by_op[op]["sql"].append(ex)
    return by_op


def layer_metrics(
    tracer: Tracer,
    ops: list,
    by_op: dict[str, dict],
    cores: int,
    input_bytes: dict[str, int],
) -> dict[str, float]:
    """Per-layer metrics over ``ops``: counts, bytes and times are means
    per op; ratios are taken over the totals. ``input_bytes[op_id]`` is
    the size of the files the op was given to read."""
    n = max(len(ops), 1)
    ids = {o.op_id for o in ops}
    children: dict[int, list[dict]] = defaultdict(list)
    for s in tracer.spans:
        if s["parent"] is not None:
            children[s["parent"]].append(s)
    tot: dict[str, float] = defaultdict(float)

    for s in tracer.spans:
        if s["op"] not in ids or s["end"] is None:
            continue
        dur = s["end"] - s["start"]
        name = s["name"]
        if name in (
            "sources.files.read_auto",
            "sources.xlsx_lite.read_workbook",
            "operators.pipeline.run_pipeline",
            "sinks.json_sink.write_json",
            "operators.plan",
        ):
            tot[name + "_s"] += dur
            if name == "sources.xlsx_lite.read_workbook":
                tot["sources.xlsx_lite.rows"] += s.get("rows", 0)
        elif name == "convert":
            tot["convert.self_s"] += _self_time(s, children)
        elif name == "sources.tables.load_table":
            tot["sources.tables.load_table_calls"] += 1
        elif name == "shared.build":
            tot["shared.build_self_s"] += _self_time(s, children)

    for op_id in ids:
        for k, v in tracer.shared.get(op_id, {}).items():
            tot[f"shared.{k}"] += v
        d = by_op.get(op_id, {"jobs": [], "stages": [], "sql": []})
        sink = tracer.sink_start.get(op_id)
        tot["exec.jobs"] += len(d["jobs"])
        if sink is not None:
            tot["operators.eager_jobs"] += sum(
                1 for j in d["jobs"] if (_rest_time(j.get("submissionTime")) or sink) < sink
            )
        for st in d["stages"]:
            tot["exec.stages"] += 1
            tot["exec.tasks"] += st.get("numCompleteTasks", 0)
            tot["exec.executor_run_s"] += st.get("executorRunTime", 0) / 1e3
            tot["exec.executor_cpu_s"] += st.get("executorCpuTime", 0) / 1e9
            tot["exec.gc_s"] += st.get("jvmGcTime", 0) / 1e3
            tot["exec.scan.input_bytes"] += st.get("inputBytes", 0)
            tot["exec.scan.input_rows"] += st.get("inputRecords", 0)
            tot["exec.output_bytes"] += st.get("outputBytes", 0)
            tot["exec.shuffle.write_bytes"] += st.get("shuffleWriteBytes", 0)
            tot["exec.shuffle.read_bytes"] += st.get("shuffleReadBytes", 0)
            tot["exec.spill.disk_bytes"] += st.get("diskBytesSpilled", 0)
            tot["exec.peak_execution_memory"] = max(
                tot["exec.peak_execution_memory"], st.get("peakExecutionMemory", 0)
            )
        for ex in d["sql"]:
            for node in ex.get("nodes", []):
                m = {x["name"]: x["value"] for x in node.get("metrics", [])}
                if "data sent to Python workers" in m:
                    tot["exec.python.bytes_sent"] += _metric_number(m["data sent to Python workers"])
                    tot["exec.python.bytes_returned"] += _metric_number(
                        m.get("data returned from Python workers", "0")
                    )
                    tot["exec.python.rows"] += _metric_number(m.get("number of output rows", "0"))

    skews = []
    for op_id in ids:
        for st in by_op.get(op_id, {}).get("stages", []):
            q = st.get("task_run_p50_max")
            if q and q[0] > 0:
                skews.append(q[1] / q[0])
    wall = sum(o.latency for o in ops)
    file_bytes = sum(input_bytes.get(o.op_id, 0) for o in ops)
    out_files = sum(o.extra.get("output_files", 0) for o in ops)

    prog_by_run: dict[str, list[dict]] = defaultdict(list)
    for p in tracer.stream_progress:
        prog_by_run[p["run_id"]].append(p)
    for rid, plist in prog_by_run.items():
        if tracer.stream_op.get(rid) not in ids:
            continue
        plist.sort(key=lambda p: p["batch"])
        tot["stream.batches"] += len(plist)
        for metric, key in _STREAM_DURATIONS.items():
            tot[metric] += sum(p["durations"].get(key, 0) for p in plist)
        tot["stream.state.rows"] += plist[-1]["state_rows"]
        tot["stream.state.memory_bytes"] += plist[-1]["state_bytes"]
        tot["stream.state.commit_ms"] += sum(p["state_commit_ms"] for p in plist)

    out = {}
    for name, _unit, _better in PER_LAYER:
        if name in ("session.get_spark_s", "operators.import_s"):
            span = "session.get_spark" if name.startswith("session") else "operators.import"
            out[name] = sum(s["end"] - s["start"] for s in tracer.spans if s["name"] == span and s["end"])
        elif name == "sources.scan_amplification":
            out[name] = tot["exec.scan.input_bytes"] / file_bytes if file_bytes else 0.0
        elif name == "shared.hit_ratio":
            hits = tot["shared.df_hits"] + tot["shared.bc_hits"]
            calls = hits + tot["shared.df_misses"] + tot["shared.bc_misses"]
            out[name] = hits / calls if calls else 0.0
        elif name == "exec.core_busy_frac":
            out[name] = tot["exec.executor_run_s"] / (wall * cores) if wall else 0.0
        elif name == "exec.task_skew":
            out[name] = statistics.median(skews) if skews else 0.0
        elif name == "exec.peak_execution_memory":
            out[name] = tot[name]
        elif name == "exec.output_files":
            out[name] = out_files / n
        else:
            out[name] = tot[name] / n
    return out


def write_span_file(path: str, tracer: Tracer, meta: dict) -> None:
    children: dict[int, list[dict]] = defaultdict(list)
    for s in tracer.spans:
        if s["parent"] is not None:
            children[s["parent"]].append(s)
    spans = []
    for s in tracer.spans:
        if s["end"] is None:
            continue
        spans.append(dict(s, self_s=_self_time(s, children)))
    with open(path, "w", encoding="utf-8") as f:
        json.dump(dict(meta, spans=spans), f)
