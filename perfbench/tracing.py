"""Per-layer record of a traced run.

Two sources, both read from outside the package:

* **Spans.** ``Tracer.wrap(module, name, span)`` replaces a public
  function of a package module with a wrapper that records a span
  (name, start, end, parent, operation id) around each call. The
  package itself is not edited. Spans are kept in memory and written
  out with the run's record.
* **Spark's status REST API** (``/api/v1/applications/<id>/jobs`` and
  ``/stages`` and ``/sql``). Each job is given to the operation whose
  interval holds its submission time (the traced run has one client,
  so one operation is in flight at a time), and to the module of its
  call site, which PySpark puts in the job name
  (``collect at .../temporal_retriever_spark/pipeline.py:341``).

``TraceSession`` ties both to the operations of a run: ``begin`` and
``end`` bracket one operation and return its per-layer numbers
(``PER_LAYER`` and ``RECORD_ONLY`` name them with their units).
"""

from __future__ import annotations

import datetime as dt
import json
import re
import threading
import time
import urllib.request

#: layer a job's call site belongs to, for ``spark.jobs.<layer>``
JOB_LAYERS = (
    "server",
    "api",
    "ingest",
    "pipeline",
    "aggregate",
    "align",
    "diagnostics",
    "forecast",
    "llm",
    "sources",
    "entry",
    "bench",
    "other",
)

#: batch call-time metric -> the bench.py operation that times it
BATCH_CALLS = {
    "aggregate.bucket_aggregate_s": "B1_bucket_hour",
    "aggregate.bucket_aggregate_multi_s": "B2_grains_aggs",
    "align.align_coalesce_s": "B3_align_coalesce",
    "diagnostics.acf_pacf_s": "B4_acf_pacf",
    "forecast.linear_seasonal_s": "B5_forecast_univariate",
    "forecast.with_covariate_s": "B6_forecast_covariate",
    "llm.text.text_stats_s": "B8_text_stats",
    "llm.dedup.near_dup_pairs_s": "B9_minhash_neardup",
    "llm.similarity.cosine_topk_s": "B10_cosine_topk",
    "entry.revenue_by_nation_month_s": "B11_star_join_month",
    "llm.filters.repetition_stats_s": "S1_repetition_stats",
    "llm.lm.kn_lm_s": "S2_lm_score_kn",
}

#: per-layer metrics of every traced run's result line, with their units:
#: the ones both workloads' paths reach
PER_LAYER = {
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.jobs.forecast": "count",
    "spark.job_wall_s": "s",
    "spark.driver_s": "s",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.python_udf_s": "s",
    "spark.shuffle_read_mb": "MB",
    "spark.shuffle_write_mb": "MB",
    "session.persisted_rdds": "count",
    "trace.ops": "count",
    "trace.overhead_s": "s",
}

#: per-layer metrics kept in the run record and the stderr line only:
#: on at least one workload each reads 0, or a constant of the inputs, on
#: every run (the server, parse, ingest and pipeline numbers exist only on
#: analyze_small, the bench.py call times only on batch_operators, and
#: most modules submit no Spark job of their own on either)
RECORD_ONLY = {
    "server.self_s": "s",
    "server.request_mb": "MB",
    "server.response_kb": "KB",
    "api.parse_s": "s",
    "ingest.documents_df_s": "s",
    "ingest.rows": "count",
    "pipeline.analyze_s": "s",
    "pipeline.self_s": "s",
    **{f"spark.jobs.{layer}": "count" for layer in JOB_LAYERS if layer != "forecast"},
    "spark.spill_mb": "MB",
    **{name: "s" for name in BATCH_CALLS},
}


class Tracer:
    """Span recorder. ``active`` is switched per operation, so one run
    can alternate traced and untraced operations."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.active = False
        self.op_id: int | None = None
        self._lock = threading.Lock()
        self._local = threading.local()
        self._restore: list[tuple[object, str, object]] = []

    def wrap(self, module, attr: str, span: str) -> None:
        original = getattr(module, attr)
        tracer = self

        def traced(*args, **kwargs):
            if not tracer.active:
                return original(*args, **kwargs)
            stack = getattr(tracer._local, "stack", None)
            if stack is None:
                stack = tracer._local.stack = []
            record = {
                "name": span,
                "op": tracer.op_id,
                "parent": stack[-1]["name"] if stack else None,
                "start": time.time(),
                "end": None,
            }
            stack.append(record)
            try:
                return original(*args, **kwargs)
            finally:
                stack.pop()
                record["end"] = time.time()
                with tracer._lock:
                    tracer.spans.append(record)

        traced.__wrapped__ = original
        setattr(module, attr, traced)
        self._restore.append((module, attr, original))

    def unwrap_all(self) -> None:
        for module, attr, original in reversed(self._restore):
            setattr(module, attr, original)
        self._restore.clear()

    def op_spans(self, op_id: int) -> list[dict]:
        with self._lock:
            return [s for s in self.spans if s["op"] == op_id]


# ---- interval arithmetic -------------------------------------------------


def union_length(intervals, lo: float | None = None, hi: float | None = None) -> float:
    """Length of the union of (start, end) intervals, clipped to [lo, hi]."""
    clipped = []
    for a, b in intervals:
        if lo is not None:
            a = max(a, lo)
        if hi is not None:
            b = min(b, hi)
        if b > a:
            clipped.append((a, b))
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted(clipped):
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_time(span: dict, children: list[dict]) -> float:
    """A span's duration minus the part its children cover."""
    covered = union_length(
        [(c["start"], c["end"]) for c in children], span["start"], span["end"]
    )
    return span["end"] - span["start"] - covered


# ---- Spark status REST API -----------------------------------------------

_CALL_SITE = re.compile(r" at (\S+\.py):\d+")
_DURATION = re.compile(r"([\d.]+)\s*(ms|s|m|h)\b")
_UNIT_S = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}


def parse_ui_time(text: str | None) -> float | None:
    """``2026-10-17T04:13:17.945GMT`` -> epoch seconds."""
    if not text:
        return None
    stamp = dt.datetime.strptime(text[:23], "%Y-%m-%dT%H:%M:%S.%f")
    return stamp.replace(tzinfo=dt.timezone.utc).timestamp()


def parse_sql_duration(text: str) -> float:
    """SQL UI timing metric (``2.3 s`` or ``total (min, med, max ...)\\n2.3 s
    (...)``) -> seconds of the total."""
    line = text.split("\n", 1)[1] if text.startswith("total") else text
    m = _DURATION.search(line)
    return float(m.group(1)) * _UNIT_S[m.group(2)] if m else 0.0


def job_layer(job_name: str) -> str:
    """Layer of the module a job's call site is in."""
    m = _CALL_SITE.search(job_name or "")
    if not m:
        return "other"
    path = m.group(1).replace("\\", "/")
    if path.endswith("/bench.py"):
        return "bench"
    if path.endswith("/__spark_entry__.py"):
        return "entry"
    if "/temporal_retriever_spark/" in path:
        rel = path.rsplit("/temporal_retriever_spark/", 1)[1]
        top = rel.split("/", 1)[0].removesuffix(".py")
        if top in JOB_LAYERS:
            return top
    return "other"


class SparkRest:
    """Reads the Spark UI's REST API for one application."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def get(self, path: str):
        with urllib.request.urlopen(f"{self.base}/{path}", timeout=30) as resp:
            return json.loads(resp.read())

    def settled_jobs(self, lo: float, hi: float, timeout: float = 20.0) -> list[dict]:
        """Jobs submitted in [lo, hi], once none of them is still running
        (the UI's listener runs behind the scheduler)."""
        deadline = time.time() + timeout
        while True:
            jobs = [
                j
                for j in self.get("jobs")
                if lo <= (parse_ui_time(j.get("submissionTime")) or 0.0) <= hi
            ]
            if all(j["status"] != "RUNNING" for j in jobs) or time.time() > deadline:
                return jobs
            time.sleep(0.1)

    def stages(self, stage_ids: set[int]) -> list[dict]:
        return [s for s in self.get("stages") if s["stageId"] in stage_ids]

    def python_udf_s(self, job_ids: set[int]) -> float:
        """'time to run Python workers' summed over the SQL executions
        whose jobs are ``job_ids``."""
        total = 0.0
        for ex in self.get("sql?details=true&planDescription=false&length=100000"):
            ids = set(ex.get("successJobIds", [])) | set(ex.get("failedJobIds", []))
            if not ids & job_ids:
                continue
            for node in ex.get("nodes", []):
                for metric in node.get("metrics", []):
                    if metric["name"] == "time to run Python workers":
                        total += parse_sql_duration(metric["value"])
        return total


def _span_layer(spans: list[dict], at: float) -> str:
    """Layer of the innermost span open at time ``at``."""
    open_at = [s for s in spans if s["start"] <= at <= s["end"]]
    if not open_at:
        return "other"
    layer = max(open_at, key=lambda s: s["start"])["name"].split(".", 1)[0]
    return layer if layer in JOB_LAYERS else "other"


def spark_op_metrics(
    rest: SparkRest, lo: float, hi: float, spans: list[dict]
) -> tuple[dict, list]:
    """Job, stage and SQL numbers of the operation that ran in [lo, hi].
    A job whose call site is outside the package's Python files (an eager
    ``localCheckpoint`` reports a JVM frame) goes to the innermost span
    open when it was submitted."""
    jobs = rest.settled_jobs(lo - 0.05, hi + 0.05)
    intervals = []
    out = {f"spark.jobs.{layer}": 0 for layer in JOB_LAYERS}
    stage_ids: set[int] = set()
    for j in jobs:
        a = parse_ui_time(j.get("submissionTime"))
        b = parse_ui_time(j.get("completionTime")) or hi
        layer = job_layer(j.get("name", ""))
        if layer == "other":
            layer = _span_layer(spans, a)
        out[f"spark.jobs.{layer}"] += 1
        stage_ids.update(j.get("stageIds", []))
        intervals.append((a, b))
    stages = [s for s in rest.stages(stage_ids) if s.get("status") != "SKIPPED"]

    def total(*keys: str) -> float:
        return sum(s.get(k, 0) for s in stages for k in keys)

    mb = 1.0 / (1 << 20)
    out.update(
        {
            "spark.jobs": len(jobs),
            "spark.stages": len(stages),
            "spark.tasks": total("numCompleteTasks"),
            "spark.executor_run_s": total("executorRunTime") / 1e3,
            "spark.executor_cpu_s": total("executorCpuTime") / 1e9,
            "spark.gc_s": total("jvmGcTime") / 1e3,
            "spark.shuffle_read_mb": total("shuffleReadBytes") * mb,
            "spark.shuffle_write_mb": total("shuffleWriteBytes") * mb,
            "spark.spill_mb": total("memoryBytesSpilled", "diskBytesSpilled") * mb,
            "spark.python_udf_s": rest.python_udf_s({j["jobId"] for j in jobs}),
        }
    )
    return out, intervals


def op_metrics(
    spans: list[dict], job_intervals: list, lo: float, hi: float
) -> dict:
    """Span-derived numbers of one operation. ``lo``/``hi`` bound the
    operation as its client saw it."""

    def total(name: str) -> float:
        return sum(s["end"] - s["start"] for s in spans if s["name"] == name)

    job_wall = union_length(job_intervals, lo, hi)
    out = {
        "api.parse_s": total("api.parse"),
        "ingest.documents_df_s": total("ingest.documents_df"),
        "pipeline.analyze_s": total("pipeline.analyze"),
        "spark.job_wall_s": job_wall,
        "spark.driver_s": (hi - lo) - job_wall,
    }
    analyze = [s for s in spans if s["name"] == "pipeline.analyze"]
    # the pipeline's own time: what neither ingest nor a Spark job covers
    children = [s for s in spans if s["name"] == "ingest.documents_df"]
    children += [{"start": a, "end": b} for a, b in job_intervals]
    out["pipeline.self_s"] = sum(self_time(a, children) for a in analyze)
    out["server.self_s"] = (hi - lo) - out["pipeline.analyze_s"] if analyze else 0.0
    return out


class TraceSession:
    """The traced run's recorder: wrappers, REST reader, per-op numbers."""

    def __init__(self, spark, wraps) -> None:
        self.spark = spark
        self.tracer = Tracer()
        self.rest = SparkRest(spark)
        for module, attr, span in wraps:
            self.tracer.wrap(module, attr, span)

    def begin(self, k: int) -> None:
        self.tracer.op_id = k
        self.tracer.active = True

    def end(self, k: int, lo: float, hi: float) -> dict:
        self.tracer.active = False
        spans = self.tracer.op_spans(k)
        spark_numbers, intervals = spark_op_metrics(self.rest, lo, hi, spans)
        numbers = {**spark_numbers, **op_metrics(spans, intervals, lo, hi)}
        # cached RDDs still pinned after the operation; growth is a leak
        persisted = self.spark.sparkContext._jsc.getPersistentRDDs()
        numbers["session.persisted_rdds"] = int(persisted.size())
        return numbers

    def close(self) -> list[dict]:
        self.tracer.unwrap_all()
        return self.tracer.spans
