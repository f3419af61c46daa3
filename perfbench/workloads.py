"""The two workloads: ``analyze_small`` and ``batch_operators``.

Each ``run_*`` function gets a started Spark session and returns the
operation records of the timed window plus the set-up and check facts
``run.py`` turns into metrics. An operation record holds its wall
interval (``start``/``end``, epoch seconds), whether it was traced,
whether it failed (and why), and, for traced operations, its per-layer
numbers.
"""

from __future__ import annotations

import itertools
import json
import os
import random
import threading
import time
import urllib.error
import urllib.request
from concurrent.futures import ThreadPoolExecutor

import checks
import gen
import tracing

#: closed-loop clients of the untraced analyze_small run
ANALYZE_CLIENTS = 2


def closed_loop(clients: int, seconds: float, min_ops: int, op) -> list[dict]:
    """``clients`` threads each call ``op(k)`` back to back until
    ``seconds`` have passed and at least ``min_ops`` operations began."""
    counter = itertools.count()
    lock = threading.Lock()
    records: list[dict] = []
    deadline = time.time() + seconds

    def client() -> None:
        while True:
            with lock:
                k = next(counter)
            if k >= min_ops and time.time() >= deadline:
                return
            start = time.time()
            try:
                rec = op(k)
            except Exception as exc:  # the failure counts, the client goes on
                rec = {"k": k, "traced": False, "start": start, "end": time.time()}
                rec["error"] = f"{type(exc).__name__}: {exc}"[:500]
            with lock:
                records.append(rec)

    threads = [threading.Thread(target=client) for _ in range(clients)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    return sorted(records, key=lambda r: r["k"])


# ---- analyze_small --------------------------------------------------------


def _analyze_wraps():
    from temporal_retriever_spark import pipeline, server

    wraps = [
        (server, "parse_analyze_request", "api.parse"),
        (server, "analyze", "pipeline.analyze"),
        (pipeline, "documents_df", "ingest.documents_df"),
        (pipeline, "extract_series", "ingest.extract_series"),
        (pipeline, "bucket_aggregate", "aggregate.bucket_aggregate"),
        (pipeline, "coalesce_actuals", "align.coalesce_actuals"),
    ]
    for name in ("acf_pacf", "granger_causality", "describe"):
        wraps.append((pipeline, name, f"diagnostics.{name}"))
    for name in (
        "forecast_linear_seasonal",
        "forecast_with_covariate",
        "forecast_changepoint",
        "forecast_covariate_changepoint",
    ):
        wraps.append((pipeline, name, f"forecast.{name}"))
    return wraps


def _post(url: str, body: bytes) -> tuple[int, bytes]:
    req = urllib.request.Request(
        url, data=body, headers={"Content-Type": "application/json"}
    )
    try:
        with urllib.request.urlopen(req, timeout=170) as resp:
            return resp.status, resp.read()
    except urllib.error.HTTPError as err:
        return err.code, err.read()


def run_analyze_small(spark, seed: int, seconds: float, trace: bool, mark_setup) -> dict:
    """Closed loop of ``POST /analyze`` against ``server.serve_background``
    on the one shared session."""
    from temporal_retriever_spark.api.models import parse_analyze_request
    from temporal_retriever_spark.pipeline import analyze
    from temporal_retriever_spark.server import serve_background

    bodies = gen.analyze_bodies()
    golden = checks.load_golden(checks.GOLDEN_ANALYZE)
    server, thread = serve_background(spark)
    url = f"http://127.0.0.1:{server.server_address[1]}/analyze"
    references: dict[int, object] = {}

    def reference(i: int) -> None:
        request = parse_analyze_request(json.loads(bodies[i]))
        references[i] = checks.as_json(analyze(spark, request))

    try:
        # the untimed warm-up: one direct call per pool body, from as many
        # threads as the run has clients; their outputs are the references
        # the responses are checked against, next to the recorded ones
        clients = 1 if trace else min(ANALYZE_CLIENTS, len(os.sched_getaffinity(0)))
        with ThreadPoolExecutor(clients) as pool:
            list(pool.map(reference, range(len(bodies))))
        mark_setup()
        tracer = tracing.TraceSession(spark, _analyze_wraps()) if trace else None
        schedule = gen.request_schedule(seed, 10_000)
        observations = [
            sum(len(d["data"]) for d in json.loads(b)["documents"].values()) for b in bodies
        ]

        def op(k: int) -> dict:
            i = schedule[k]
            # traced, untraced, untraced, traced, ...: a warm-up trend
            # weighs on both halves alike
            traced = tracer is not None and k % 4 in (0, 3)
            rec = {"k": k, "body": i, "traced": traced, "request_bytes": len(bodies[i])}
            if traced:
                tracer.begin(k)
            rec["start"] = time.time()
            try:
                rec["status"], rec["response"] = _post(url, bodies[i])
            except (OSError, urllib.error.URLError) as exc:
                rec["status"], rec["response"] = None, repr(exc).encode()
            rec["end"] = time.time()
            if traced:
                rec["layers"] = tracer.end(k, rec["start"], rec["end"])
                rec["layers"]["server.request_mb"] = len(bodies[i]) / (1 << 20)
                rec["layers"]["server.response_kb"] = len(rec["response"]) / 1024
                rec["layers"]["ingest.rows"] = observations[i]
            return rec

        records = closed_loop(clients, seconds, 4 if trace else 1, op)
        spans = tracer.close() if tracer else []
    finally:
        server.shutdown()
        server.server_close()
        thread.join(timeout=30)

    # ---- checks, outside every timed interval ----------------------------
    # the direct calls of the warm-up against the recorded outputs; a
    # difference counts as a failed operation outside the timed window
    setup_errors = [
        f"warm-up body {i}: pipeline.analyze differs from the recorded output: {found}"
        for i in sorted(references)
        if (found := checks.mismatch(references[i], golden[str(i)]))
    ]
    for rec in records:
        if "error" in rec:
            continue
        response = rec.pop("response")
        rec["response_bytes"] = len(response)
        if rec["status"] != 200:
            rec["error"] = f"HTTP {rec['status']}: {response[:300]!r}"
            continue
        got = json.loads(response)
        found = checks.mismatch(got, references[rec["body"]])
        if found:
            rec["error"] = f"response differs from pipeline.analyze: {found}"
            continue
        found = checks.mismatch(got, golden[str(rec["body"])])
        if found:
            rec["error"] = f"response differs from the recorded output: {found}"
    return {
        "ops": records,
        "spans": spans,
        "clients": clients,
        "setup_errors": setup_errors,
    }


# ---- batch_operators ------------------------------------------------------

#: least number of whole timed passes of a batch run; a query's time is
#: the median over the passes. Two keep a run near 70 s on a 4-core
#: machine, where a pass takes 13-17 s after a 25-35 s set-up.
MIN_PASSES = 2

BATCH_WRAPS = (
    ("temporal_retriever_spark.aggregate", "bucket_aggregate"),
    ("temporal_retriever_spark.aggregate", "bucket_aggregate_multi"),
    ("temporal_retriever_spark.align", "align_series"),
    ("temporal_retriever_spark.align", "coalesce_actuals"),
    ("temporal_retriever_spark.diagnostics", "acf_pacf"),
    ("temporal_retriever_spark.forecast", "forecast_linear_seasonal"),
    ("temporal_retriever_spark.forecast", "forecast_with_covariate"),
    ("temporal_retriever_spark.llm.text", "text_stats"),
    ("temporal_retriever_spark.llm.dedup", "near_dup_pairs"),
    ("temporal_retriever_spark.llm.similarity", "cosine_topk"),
    ("temporal_retriever_spark.llm.filters", "repetition_stats"),
    ("temporal_retriever_spark.llm.lm", "train_kn_lm"),
    ("temporal_retriever_spark.llm.lm", "score_kn_lm"),
    ("__spark_entry__", "q_revenue_by_nation_month"),
)


def batch_queries(spark, data_dir: str) -> tuple[object, dict]:
    """bench.py's B-queries and S-probes over the tables in ``data_dir``."""
    # bench.py reads its table directory when imported
    os.environ["SPARK_GRAFT_SF_DIR"] = data_dir
    import bench

    queries = bench.build_queries(spark)
    queries.update(bench.build_scaling_probes(spark))
    return bench, queries


def run_query(bench, build) -> tuple[float, float, dict]:
    """One operation: build the query and run it into bench.py's noop
    sink, observing the checksum of its output on the way."""
    from pyspark.sql import Observation

    start = time.time()
    df = build()
    observation = Observation()
    bench.materialize(df.observe(observation, *checks.checksum_columns(df)))
    end = time.time()
    return start, end, observation.get


def _layer_path(module: str) -> str:
    """``temporal_retriever_spark.llm.dedup`` -> ``llm.dedup``."""
    if module == "__spark_entry__":
        return "entry"
    return module.removeprefix("temporal_retriever_spark.")


def _golden_mismatch(golden: dict, name: str, checksum: dict) -> str | None:
    if name not in golden:
        return f"no golden checksum for {name}"
    return checks.checksum_mismatch(checksum, golden[name])


def run_batch_operators(
    spark, seed: int, seconds: float, trace: bool, mark_setup, data_dir: str
) -> dict:
    """Closed loop, one client: passes over every query, each in a seeded
    order, until the window has passed."""
    import importlib

    gen.write_batch_tables(data_dir)
    golden = checks.load_golden(checks.GOLDEN_BATCH)
    tracer = None
    if trace:  # wrapped before bench.py binds the names
        wraps = [
            (importlib.import_module(m), attr, f"{_layer_path(m)}.{attr}")
            for m, attr in BATCH_WRAPS
        ]
        tracer = tracing.TraceSession(spark, wraps)
    bench, queries = batch_queries(spark, data_dir)
    if tracer:
        # a noop write reports a JVM call site; its span names the caller
        tracer.tracer.wrap(bench, "materialize", "bench.materialize")
    names = sorted(queries)
    # the untimed warm-up pass, checked like the rest; two queries at a
    # time, as a cold JVM leaves cores idle while it compiles (more
    # threads leave the first timed pass colder)
    with ThreadPoolExecutor(2) as pool:
        checksums = pool.map(lambda name: run_query(bench, queries[name])[2], names)
        warm = dict(zip(names, checksums))
    mark_setup()

    rng = random.Random(seed)
    records: list[dict] = []
    deadline = time.time() + seconds
    # whole passes until the window has passed, and at least MIN_PASSES
    # of them, so each query's time is a median of several runs (in the
    # traced run each query runs traced in one pass and untraced in
    # another)
    p = 0
    while p < MIN_PASSES or time.time() < deadline:
        order = names[:]
        rng.shuffle(order)
        for name in order:
            # half the queries are traced, the other half in the next pass
            traced = tracer is not None and (names.index(name) + p) % 2 == 0
            k = len(records)
            rec = {"k": k, "pass": p, "query": name, "traced": traced}
            if traced:
                tracer.begin(k)
            try:
                rec["start"], rec["end"], rec["checksum"] = run_query(bench, queries[name])
            except Exception as exc:  # a failed query counts, the run goes on
                rec["start"] = rec["end"] = time.time()
                rec["error"] = f"{type(exc).__name__}: {exc}"[:500]
            if traced:
                rec["layers"] = tracer.end(k, rec["start"], rec["end"])
            records.append(rec)
        p += 1
    spans = tracer.close() if tracer else []

    # the warm-up pass is checked too; a failure there counts as a failed
    # operation outside the timed window
    setup_errors = [
        f"warm-up {name}: {found}"
        for name, checksum in warm.items()
        if (found := _golden_mismatch(golden, name, checksum))
    ]
    for rec in records:
        if "error" not in rec:
            found = _golden_mismatch(golden, rec["query"], rec["checksum"])
            if found:
                rec["error"] = f"{rec['query']}: {found}"
    return {"ops": records, "spans": spans, "clients": 1, "setup_errors": setup_errors}


def record_golden_batch(spark, data_dir: str) -> dict:
    """Checksums of every batch query on the fixed tables."""
    gen.write_batch_tables(data_dir)
    bench, queries = batch_queries(spark, data_dir)
    return {name: run_query(bench, queries[name])[2] for name in sorted(queries)}


def record_golden_analyze(spark) -> dict:
    """``pipeline.analyze`` of every pool body, as a client decodes it."""
    from temporal_retriever_spark.api.models import parse_analyze_request
    from temporal_retriever_spark.pipeline import analyze

    return {
        str(i): checks.as_json(analyze(spark, parse_analyze_request(json.loads(body))))
        for i, body in enumerate(gen.analyze_bodies())
    }

