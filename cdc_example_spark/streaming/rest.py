"""REST ingress for the keyed message state — stdlib only (reference A14).

The reference exposes its write path over HTTP
(``MessageRestController.kt:15-29``): ``POST /api/messages`` upserts via
``MessageService.upsertMessage`` and returns the saved message (with the
server-assigned id/timestamps read back), ``DELETE /api/messages/{id}``
deletes and returns 204. This module is that controller's engine twin on
``http.server`` (this container ships no web framework, same constraint
as ``streaming/websocket.py``):

- ``POST /api/messages`` body ``{"id"?: str, "username": str,
  "message": str}`` → ``KeyedStateSink.upsert_requests`` → 200 with the
  saved row (id, create_time, update_time, message, username);
- ``DELETE /api/messages/<uuid>`` → ``KeyedStateSink.delete_keys`` →
  204 (delete of a missing id is a no-op, like Spring Data's
  ``deleteById``);
- ``GET /api/messages`` → the materialized snapshot ordered by
  create_time — the read side the reference serves from its
  materialized view (A8); handy for smoke tests and demos.
- ``GET /`` and ``GET /debug`` (once ``ws_url`` is attached) → the
  browser live-view twin of the reference's static pages
  (``index.html:87-216`` / ``debug.html:59-90``): a client-side Map
  applying UPSERT/DELETE from the WebSocket feed, rendered
  createTime-descending, and a raw-frame tap. Original
  implementations in ``streaming/static/`` — behavior parity, not
  copied markup.

Update of a non-existent id maps ``KeyNotFoundError`` → **404** with the
error text (the reference's ``MessageNotFoundException`` is an unmapped
RuntimeException → Spring's default 500; a typed status is the honest
HTTP translation of the same contract).

Threading: ``ThreadingHTTPServer`` with requests serialized through one
lock around the sink — the engine analog of the reference's
SERIALIZABLE transaction (``MessageService.kt:18``); Spark sessions are
driver-side objects and the sink's MERGE is not concurrency-safe within
a process.

Scope note: at scale an analytics engine's ingestion API is its source
connectors (Kafka CDC); this endpoint is the low-volume operational
write path the reference ships, not a bulk-load path.
"""

from __future__ import annotations

import datetime as dt
import json
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

from pyspark.sql import SparkSession

from cdc_example_spark.operators.keyed_state import KeyedStateSink, KeyNotFoundError
from cdc_example_spark.session import local_frame


def _static_page(name: str) -> str:
    """Load one of the packaged live-view pages (streaming/static/)."""
    import os

    path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "static", name)
    with open(path, encoding="utf-8") as f:
        return f.read()


def _row_json(row) -> dict:
    def ts(v):
        if v is None:
            return None
        if isinstance(v, dt.datetime):
            return v.isoformat(sep="T") + "Z" if v.tzinfo is None else v.isoformat()
        return str(v)

    return {
        "id": row["id"],
        "createTime": ts(row["create_time"]),
        "updateTime": ts(row["update_time"]),
        "message": row["message"],
        "username": row["username"],
    }


class MessageRestServer:
    """HTTP facade over one KeyedStateSink. ``start()`` binds an
    ephemeral (or given) port; ``port`` attribute is set after start."""

    def __init__(self, spark: SparkSession, sink: KeyedStateSink, clock=None):
        self._spark = spark
        self._sink = sink
        self._lock = threading.Lock()
        # injectable clock, like the reference's java.time.Clock bean
        self._clock = clock or (lambda: dt.datetime.now(dt.timezone.utc))
        self._httpd: ThreadingHTTPServer | None = None
        self._thread: threading.Thread | None = None
        self.port: int | None = None
        # set (e.g. "ws://127.0.0.1:<hub port>") to serve the live-view
        # pages at "/" and "/debug"; the WsHub is started separately and
        # attached here so the page and the API share one origin while
        # only the WebSocket crosses ports (WS handshakes have no CORS).
        self.ws_url: str | None = None

    # -- service twins, serialized like the reference's transaction ----

    def _upsert(self, body: dict) -> dict:
        req_id = body.get("id")
        username = body.get("username")
        message = body.get("message")
        if not isinstance(username, str) or not isinstance(message, str):
            raise ValueError("username and message are required strings")
        now = self._clock().replace(tzinfo=None)  # sink stores naive-UTC
        with self._lock:
            reqs = local_frame(self._spark, [(req_id, username, message)],
                               "id STRING, username STRING, message STRING")
            saved = self._sink.upsert_requests(reqs, now).collect()
        return _row_json(saved[0])

    def _delete(self, message_id: str) -> None:
        with self._lock:
            keys = local_frame(self._spark, [(message_id,)], "id STRING")
            self._sink.delete_keys(keys)

    def _list(self) -> list[dict]:
        with self._lock:
            rows = (
                self._sink.snapshot(self._spark)
                .orderBy("create_time", "id")
                .collect()
            )
        return [_row_json(r) for r in rows]

    # -- server lifecycle ----------------------------------------------

    def start(self, host: str = "127.0.0.1", port: int = 0) -> "MessageRestServer":
        server = self

        class Handler(BaseHTTPRequestHandler):
            def log_message(self, *args):  # quiet test output
                pass

            def _send(self, code: int, payload=None):
                body = b"" if payload is None else json.dumps(payload).encode("utf-8")
                self.send_response(code)
                if body:
                    self.send_header("Content-Type", "application/json")
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                if body:
                    self.wfile.write(body)

            def do_POST(self):
                if self.path.rstrip("/") != "/api/messages":
                    return self._send(404, {"error": "not found"})
                try:
                    n = int(self.headers.get("Content-Length", "0"))
                    body = json.loads(self.rfile.read(n) or b"{}")
                    return self._send(200, server._upsert(body))
                except KeyNotFoundError as e:
                    return self._send(404, {"error": str(e)})
                except (ValueError, json.JSONDecodeError) as e:
                    return self._send(400, {"error": str(e)})

            def do_DELETE(self):
                prefix = "/api/messages/"
                if not self.path.startswith(prefix):
                    return self._send(404, {"error": "not found"})
                server._delete(self.path[len(prefix):])
                return self._send(204)

            def do_GET(self):
                if self.path.rstrip("/") == "/api/messages":
                    return self._send(200, server._list())
                # browser live-view twin of the reference's static pages
                # (index.html / debug.html): serve the engine's own
                # pages with the WebSocket URL substituted. 503 until a
                # hub is attached — the page is meaningless without the
                # change feed it renders.
                page = {"": "liveview.html", "/": "liveview.html",
                        "/debug": "debug.html"}.get(self.path.rstrip("/") or "/")
                if page is None:
                    return self._send(404, {"error": "not found"})
                if server.ws_url is None:
                    return self._send(503, {"error": "no WebSocket hub attached"})
                html = _static_page(page).replace("__WS_URL__", server.ws_url)
                body = html.encode("utf-8")
                self.send_response(200)
                self.send_header("Content-Type", "text/html; charset=utf-8")
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)

        self._httpd = ThreadingHTTPServer((host, port), Handler)
        self.port = self._httpd.server_address[1]
        self._thread = threading.Thread(target=self._httpd.serve_forever, daemon=True)
        self._thread.start()
        return self

    def stop(self) -> None:
        if self._httpd is not None:
            self._httpd.shutdown()
            self._httpd.server_close()
            self._httpd = None
