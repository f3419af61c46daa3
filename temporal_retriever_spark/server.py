"""S1-S4: the HTTP façade over the Spark pipeline.

The reference is a FastAPI web service (reference app.py:22; GET
``/health`` app.py:25-28, POST ``/analyze`` app.py:96-98, POST
``/saturating-growth`` app.py:490-492, POST
``/saturating-growth/single`` app.py:562-564). This container ships no
FastAPI/uvicorn, so the façade is a stdlib ``ThreadingHTTPServer``
speaking the same wire surface: identical routes, camelCase request
bodies parsed by :mod:`temporal_retriever_spark.api.models`, the same
response shapes, 422 + pydantic-style ``{"detail": [{"loc", "msg",
"type"}, ...]}`` error arrays on validation errors (FastAPI's
RequestValidationError body), 404 on unknown routes.

One shared ``SparkSession`` serves every request — requests become
DataFrame plans, so concurrent POSTs are just concurrent Spark jobs on
the scheduler (thread-per-request is the Spark-idiomatic serving
model; there is no per-request session or process).
"""

from __future__ import annotations

import datetime as _dt
import decimal
import json
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from typing import Any

from pyspark.sql import SparkSession

from temporal_retriever_spark.api.models import (
    RequestValidationError,
    parse_analyze_request,
)
from temporal_retriever_spark.pipeline import (
    analyze,
    saturating_growth,
    saturating_growth_single,
)


def _json_default(value: Any):
    """Match FastAPI's jsonable encoding for the types our records emit."""
    if isinstance(value, (_dt.datetime, _dt.date)):
        return value.isoformat()
    if isinstance(value, decimal.Decimal):
        return float(value)
    try:  # numpy scalars without importing numpy eagerly
        return value.item()
    except AttributeError:
        pass
    raise TypeError(f"not JSON serializable: {type(value).__name__}")


def _dumps(payload: Any) -> bytes:
    return json.dumps(payload, default=_json_default).encode("utf-8")


class _Handler(BaseHTTPRequestHandler):
    """Routes: the reference's four endpoints, nothing else."""

    # set by make_server()
    spark: SparkSession = None  # type: ignore[assignment]

    def log_message(self, fmt, *args):  # quiet by default
        pass

    def _respond(self, status: int, payload: Any) -> None:
        body = _dumps(payload)
        self.send_response(status)
        self.send_header("Content-Type", "application/json")
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)

    def do_GET(self):  # noqa: N802 (stdlib casing)
        if self.path == "/health":
            # FastAPI serializes the handler's None return as JSON null
            self._respond(200, None)
        else:
            self._respond(404, {"detail": "Not Found"})

    def do_POST(self):  # noqa: N802
        length = int(self.headers.get("Content-Length") or 0)
        raw = self.rfile.read(length)
        try:
            body = json.loads(raw or b"null")
        except json.JSONDecodeError as exc:
            # FastAPI's shape for an unparseable body: a single
            # json_invalid entry locating the failure offset
            self._respond(
                422,
                {
                    "detail": [
                        {
                            "loc": ["body", exc.pos],
                            "msg": f"JSON decode error: {exc.msg}",
                            "type": "json_invalid",
                        }
                    ]
                },
            )
            return
        try:
            if self.path == "/analyze":
                result = analyze(self.spark, parse_analyze_request(body))
            elif self.path == "/saturating-growth":
                result = saturating_growth(self.spark, parse_analyze_request(body))
            elif self.path == "/saturating-growth/single":
                result = saturating_growth_single(
                    self.spark, parse_analyze_request(body)
                )
            else:
                self._respond(404, {"detail": "Not Found"})
                return
        except RequestValidationError as exc:
            # pydantic-shaped error array, FastAPI's 422 body
            self._respond(422, {"detail": exc.errors})
            return
        except (ValueError, KeyError, TypeError) as exc:
            # request-shape problems -> FastAPI's validation status,
            # wrapped in the same pydantic-style array shape
            self._respond(
                422,
                {
                    "detail": [
                        {"loc": ["body"], "msg": str(exc), "type": "value_error"}
                    ]
                },
            )
            return
        except Exception as exc:  # engine failure -> 500, never a hang
            self._respond(500, {"detail": f"{type(exc).__name__}: {exc}"})
            return
        self._respond(200, result)


def make_server(
    spark: SparkSession, host: str = "127.0.0.1", port: int = 0
) -> ThreadingHTTPServer:
    """Build (don't start) the server; ``port=0`` picks a free port."""
    handler = type("BoundHandler", (_Handler,), {"spark": spark})
    return ThreadingHTTPServer((host, port), handler)


def serve_background(
    spark: SparkSession, host: str = "127.0.0.1", port: int = 0
) -> tuple[ThreadingHTTPServer, threading.Thread]:
    """Start the façade on a daemon thread; returns (server, thread).

    ``server.server_address[1]`` is the bound port; call
    ``server.shutdown()`` to stop.
    """
    server = make_server(spark, host, port)
    thread = threading.Thread(target=server.serve_forever, daemon=True)
    thread.start()
    return server, thread


def main() -> None:  # pragma: no cover - manual entry point
    import argparse

    from temporal_retriever_spark.session import get_spark

    parser = argparse.ArgumentParser(description="temporal-retriever-spark API")
    parser.add_argument("--host", default="127.0.0.1")
    parser.add_argument("--port", type=int, default=8000)
    args = parser.parse_args()
    server = make_server(get_spark("temporal-retriever-spark-api"), args.host, args.port)
    print(f"serving on http://{args.host}:{server.server_address[1]}")
    server.serve_forever()


if __name__ == "__main__":  # pragma: no cover
    main()
