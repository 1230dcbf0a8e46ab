"""REST façade: the reference's HTTP surface on the Spark engine.

- GET / with header ``command: sql <dbms> [options] "SELECT ..."`` →
  run the query, return JSON (reference http_server.py:931-1010 +
  native_api.exec_sql_stmt).
- PUT / with headers ``dbms``/``table``/``mode=streaming|file`` and a
  JSON body of rows → ingest: rows are type-inferred, gain system
  columns, and append to the engine's table (reference
  http_server.py:1844-1930 → streaming_data.add_data).

A thin driver-side door into the cluster — query execution and ingest
stay distributed; only command parsing and result rendering live here.

Auth (reference http_server.py runs basic-auth/SSL behind
``run rest server where ... and user = .. and password = ..``): pass
``basic_auth=(user, password)`` and/or ``auth_token=<token>`` — every
request must then carry ``Authorization: Basic ..`` or ``Bearer ..``;
anything else is a 401 before any engine code runs. TLS termination is
a deployment-proxy concern (no cert material in this sandbox).
"""

from __future__ import annotations

import base64
import hmac
import json
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

from edgelake_spark.engine import EdgeLakeEngine
from edgelake_spark.ingest.infer import rows_to_dataframe
from edgelake_spark.localframe import local_frame


class EdgeLakeRestServer:
    def __init__(self, engine: EdgeLakeEngine, host: str = "127.0.0.1", port: int = 0,
                 auth_token: str | None = None,
                 basic_auth: tuple[str, str] | None = None):
        self.engine = engine
        self.auth_token = auth_token
        self.basic_auth = basic_auth
        engine.rest_server = self  # surfaced by `get processes`
        outer = self

        class Handler(BaseHTTPRequestHandler):
            def log_message(self, *args):  # quiet
                pass

            def _authorized(self) -> bool:
                """401-gate every verb when auth is configured;
                constant-time compares (no credential oracles)."""
                if outer.auth_token is None and outer.basic_auth is None:
                    return True
                header = self.headers.get("Authorization", "")
                scheme, _, cred = header.partition(" ")
                # compare as bytes: compare_digest raises TypeError on
                # non-ASCII str (headers arrive latin-1-decoded), which
                # would crash the handler instead of 401ing
                cred_b = cred.strip().encode("latin-1", "replace")
                if outer.auth_token is not None and scheme.lower() == "bearer":
                    if hmac.compare_digest(cred_b, outer.auth_token.encode()):
                        return True
                if outer.basic_auth is not None and scheme.lower() == "basic":
                    want = base64.b64encode(
                        f"{outer.basic_auth[0]}:{outer.basic_auth[1]}".encode()
                    )
                    if hmac.compare_digest(cred_b, want):
                        return True
                self.send_response(401)
                self.send_header("WWW-Authenticate", 'Basic realm="edgelake"')
                self.send_header("Content-Length", "0")
                self.end_headers()
                return False

            def do_GET(self) -> None:
                if not self._authorized():
                    return
                command = self.headers.get("command")
                if not command:
                    self._reply(400, {"error": "missing 'command' header"})
                    return
                try:
                    result = outer.engine.run(command)
                    if isinstance(result, str):
                        self._reply(200, result, raw=True)
                    else:
                        # no format option in the command (any case /
                        # quoting) → the engine returned a DataFrame;
                        # render with the reference's REST default
                        # (format = json) instead of string-splicing
                        # the command text. Pass-through queries stream
                        # via toLocalIterator (reference REST fast path).
                        from edgelake_spark.output import format_result

                        self._reply(
                            200,
                            format_result(
                                result,
                                "json",
                                pass_through=getattr(
                                    outer.engine, "_last_pass_through", False
                                ),
                            ),
                            raw=True,
                        )
                except Exception as exc:  # surface engine errors as 400s
                    self._reply(400, {"error": str(exc)[:500]})

            def do_POST(self) -> None:
                if not self._authorized():
                    return
                # POST with a `topic` header publishes messages into a
                # registered broker consumer's mapping (reference
                # http_server.py:1844-1930 POST+topic →
                # streaming_data.add_data via the MQTT/Kafka mapping);
                # otherwise Grafana JSON-datasource endpoints
                # (al_grafana.py via http_server POST routing): /search
                # lists tables, /query builds+runs dialect SQL per target
                from edgelake_spark.api import grafana

                length = int(self.headers.get("Content-Length", 0))
                raw = self.rfile.read(length)
                topic = self.headers.get("topic")
                if topic:
                    try:
                        self._reply(200, outer.publish(topic, raw))
                    except Exception as exc:
                        self._reply(400, {"error": str(exc)[:500]})
                    return
                try:
                    body = json.loads(raw or b"{}")
                    if self.path.rstrip("/").endswith("search"):
                        self._reply(200, grafana.grafana_search(outer.engine))
                    elif self.path.rstrip("/").endswith("query"):
                        self._reply(200, grafana.grafana_query(outer.engine, body))
                    else:
                        self._reply(404, {"error": f"unknown endpoint {self.path}"})
                except Exception as exc:
                    self._reply(400, {"error": str(exc)[:500]})

            def do_PUT(self) -> None:
                if not self._authorized():
                    return
                dbms = self.headers.get("dbms", "")
                table = self.headers.get("table", "")
                if not table:
                    self._reply(400, {"error": "missing 'table' header"})
                    return
                length = int(self.headers.get("Content-Length", 0))
                try:
                    payload = json.loads(self.rfile.read(length) or b"[]")
                except json.JSONDecodeError as exc:
                    self._reply(400, {"error": f"malformed JSON body: {exc}"})
                    return
                try:
                    rows = payload if isinstance(payload, list) else [payload]
                    spark = outer.engine.spark
                    name = outer.engine.ingest(
                        table, len(rows),
                        lambda first: rows_to_dataframe(spark, rows, first_row_id=first),
                        dbms=dbms,
                    )
                    self._reply(200, {"ingested": len(rows), "table": name})
                except Exception as exc:
                    self._reply(400, {"error": str(exc)[:500]})

            def _reply(self, code: int, body, raw: bool = False) -> None:
                data = (body if raw else json.dumps(body)).encode()
                self.send_response(code)
                self.send_header("Content-Type", "application/json")
                self.send_header("Content-Length", str(len(data)))
                self.end_headers()
                self.wfile.write(data)

        self._server = ThreadingHTTPServer((host, port), Handler)
        self.host = host
        self.port = self._server.server_port
        self._thread: threading.Thread | None = None

    def publish(self, topic: str, raw: bytes) -> dict:
        """Route POSTed messages through the topic's registered broker
        mapping (shared with the Kafka/MQTT consumer), appending typed
        rows to the target table's ingest view — REST publish and broker
        consume produce identical rows because they compile the same
        mapping policy."""
        from edgelake_spark.ingest.mapping import apply_mapping_policy

        cfg = self.engine.broker_consumers.get(topic)
        if cfg is None:
            raise ValueError(f"no consumer registered for topic '{topic}'")
        tm = cfg["topic"]
        payload = json.loads(raw or b"[]")
        msgs = payload if isinstance(payload, list) else [payload]
        spark = self.engine.spark
        raw_df = local_frame(spark, [(json.dumps(m),) for m in msgs], "value string")
        name = self.engine.ingest(
            tm.table, len(msgs),
            lambda _first: apply_mapping_policy(spark, raw_df, tm.to_mapping_policy()),
            dbms=tm.dbms,
        )
        return {"ingested": len(msgs), "table": name, "topic": topic}

    def start(self) -> "EdgeLakeRestServer":
        self._thread = threading.Thread(target=self._server.serve_forever, daemon=True)
        self._thread.start()
        return self

    def stop(self) -> None:
        self._server.shutdown()
        self._server.server_close()
