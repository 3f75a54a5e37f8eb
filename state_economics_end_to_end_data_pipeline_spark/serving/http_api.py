"""HTTP transport for the serving surface (SURVEY.md section 2.8).

The reference serves its tables over Flask with a single POST
``/get_data`` endpoint taking ``{"table": ..., "limit": ...}``
(finalprojectapi.py:17-37) -- building the SQL by string concatenation
against hardcoded live credentials. This shim keeps the same wire
surface on the stdlib ``http.server`` (no web framework in the image,
and 100 lines of transport do not justify one), delegating every data
decision to ``DataService`` -- identifiers resolved against the
catalog, limits bound-checked, never interpolated.

Routes:

- ``POST /get_data``  body ``{"table": str, "limit": int}`` -> columns+rows
  (the reference's endpoint, JSON instead of its f-string prose)
- ``GET  /tables``                      -> V1 table catalog
- ``GET  /columns/<table>``             -> V3 column introspection

Scale note: the serving path is limit-bounded by construction
(``DataService.MAX_LIMIT``); a request is answered from the snapshot
``DataService.register`` took, so no request submits a Spark job and no
full-table collect can be expressed through this surface. The server is
threaded; a request only reads its table's snapshot. Dates and
timestamps go out as ISO-8601 strings, decimals as strings (exact).
"""

from __future__ import annotations

import json
import threading
from datetime import date
from decimal import Decimal
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import unquote

from .service import DataService


def _json_default(value):
    """``json.dumps`` hook for the Spark types JSON has no literal for."""
    if isinstance(value, date):  # datetime is a date subclass
        return value.isoformat()
    if isinstance(value, Decimal):
        return str(value)
    raise TypeError(f"{type(value).__name__} is not JSON serializable")


def _handler_for(service: DataService):
    class Handler(BaseHTTPRequestHandler):
        # quiet: the default handler logs every request to stderr
        def log_message(self, fmt, *args):  # noqa: A003
            pass

        def _send(self, code: int, payload) -> None:
            body = json.dumps(payload, default=_json_default).encode()
            self.send_response(code)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def do_GET(self) -> None:  # noqa: N802
            try:
                if self.path == "/tables":
                    self._send(200, {"tables": service.list_tables()})
                elif self.path.startswith("/columns/"):
                    # percent-encoded table names must resolve to the same
                    # catalog entry a JSON body would
                    table = unquote(self.path[len("/columns/"):])
                    self._send(200, {"table": table, "columns": service.columns(table)})
                else:
                    self._send(404, {"error": f"no route {self.path}"})
            except KeyError as e:
                self._send(404, {"error": str(e)})
            except Exception as e:  # noqa: BLE001
                self._send(400, {"error": str(e)})

        def do_POST(self) -> None:  # noqa: N802
            if self.path != "/get_data":
                self._send(404, {"error": f"no route {self.path}"})
                return
            try:
                n = int(self.headers.get("Content-Length", "0"))
                req = json.loads(self.rfile.read(n) or b"{}")
                if not isinstance(req, dict) or "table" not in req:
                    # malformed REQUEST is the client's 400, distinct from
                    # the 404 of a well-formed request naming no table
                    self._send(400, {"error": "body must be a JSON object with a 'table' key"})
                    return
                table = str(req["table"])
                limit = int(req.get("limit", 10))
                self._send(200, service.get_data(table, limit))
            except KeyError as e:
                self._send(404, {"error": f"unknown table: {e}"})
            except (ValueError, json.JSONDecodeError) as e:
                self._send(400, {"error": str(e)})
            except Exception as e:  # noqa: BLE001
                self._send(500, {"error": str(e)})

    return Handler


class DataServer:
    """Threaded HTTP server wrapping a DataService; binds an ephemeral
    port by default (``port=0``) so tests and co-located services never
    collide. Use as a context manager or call start()/stop()."""

    def __init__(self, service: DataService, host: str = "127.0.0.1", port: int = 0):
        self._httpd = ThreadingHTTPServer((host, port), _handler_for(service))
        self._thread: threading.Thread | None = None

    @property
    def address(self) -> tuple[str, int]:
        return self._httpd.server_address[:2]

    def start(self) -> "DataServer":
        self._thread = threading.Thread(
            target=self._httpd.serve_forever, name="data-server", daemon=True
        )
        self._thread.start()
        return self

    def stop(self) -> None:
        self._httpd.shutdown()
        self._httpd.server_close()
        if self._thread:
            self._thread.join(timeout=5)

    def __enter__(self) -> "DataServer":
        return self.start()

    def __exit__(self, *exc) -> None:
        self.stop()
