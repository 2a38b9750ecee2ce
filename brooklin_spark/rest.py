"""HTTP facade over PipelineManager — the DatastreamResources analog.

The reference exposes its control plane as a Rest.li resource
(datastream-server-restli DatastreamResources.java: CRUD at
/datastreams/{name} plus entity actions pause/stop/resume at
DatastreamResources.java:358,462,554 and pauseSourcePartitions /
resumeSourcePartitions at :604,682). This module maps the same surface
onto the stdlib http.server so the engine is driveable over HTTP with no
extra dependencies:

    GET    /datastreams                         list
    POST   /datastreams                         create (spec JSON body)
    GET    /datastreams/{name}                  fetch spec
    DELETE /datastreams/{name}                  delete
    POST   /datastreams/{name}/pause            action; {"force": true}
                                                pauses the whole dedup
                                                group (the shared query
                                                stops only when no member
                                                remains READY)
    POST   /datastreams/{name}/resume           action; {"force": true}
                                                resumes the whole group
    POST   /datastreams/{name}/stop             action
    POST   /datastreams/{name}/rewind           action (offset-rewind
                                                surface; explicit here,
                                                implicit in the reference)
    POST   /datastreams/{name}/pauseSourcePartitions   {"partitions": [..]}
    POST   /datastreams/{name}/resumeSourcePartitions  {"partitions": [..]}
    GET    /datastreams/{name}/pausedSourcePartitions
    GET    /health                              diagnostics scatter-gather
                                                (DiagnosticsAware /health)
    GET    /metrics                             cluster metrics reduce
                                                (ServerComponentHealthAggregator)

Status mapping mirrors the Rest.li error semantics the reference uses:
404 for unknown datastreams (HttpStatus.S_404_NOT_FOUND), 400 for invalid
specs/transitions (S_400_BAD_REQUEST), 403 for authorizer denials
(S_403_FORBIDDEN), 409 for duplicate create. The caller principal rides
the X-Principal header (the reference reads it from the Rest.li request
context for Authorizer checks).

movePartitions / getTaskAssignment are non-goals per SURVEY §2.9: Spark's
scheduler owns task placement, there is no host-level assignment to move.
"""

from __future__ import annotations

import json
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import urlparse

from brooklin_spark.manager import PipelineManager
from brooklin_spark.model import PipelineSpec


class _Handler(BaseHTTPRequestHandler):
    manager: PipelineManager  # injected by DatastreamRestServer
    registry = None  # optional SchemaRegistry (schemas routes 404 without)
    lock: threading.Lock

    # ------------------------------------------------------------ plumbing
    def log_message(self, *a):  # quiet: tests assert on responses, not logs
        pass

    def _send(self, code: int, payload) -> None:
        body = json.dumps(payload).encode()
        self.send_response(code)
        self.send_header("Content-Type", "application/json")
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)

    def _body(self) -> dict:
        n = int(self.headers.get("Content-Length") or 0)
        if n == 0:
            return {}
        return json.loads(self.rfile.read(n).decode())

    def _principal(self) -> str:
        return self.headers.get("X-Principal", "anonymous")

    def _spec_out(self, spec: PipelineSpec) -> dict:
        return json.loads(spec.to_json())

    # ------------------------------------------------------------- routing
    # Every verb computes (code, payload) under the control-plane lock and
    # WRITES THE RESPONSE AFTER RELEASING IT — a stalled client socket
    # must not block other mutations (review r3 #7). Unexpected exceptions
    # become a 500 JSON error on every verb, never a dropped connection
    # (review r3 #2).

    def do_GET(self):  # noqa: N802 (http.server API)
        self._send(*self._dispatch(self._get_routes))

    def do_POST(self):  # noqa: N802
        self._send(*self._dispatch(self._post_routes))

    def do_PUT(self):  # noqa: N802
        self._send(*self._dispatch(self._put_routes))

    def do_DELETE(self):  # noqa: N802
        self._send(*self._dispatch(self._delete_routes))

    def _dispatch(self, routes):
        path = urlparse(self.path).path.rstrip("/")
        parts = [p for p in path.split("/") if p]
        try:
            body = self._body()
            with self.lock:
                out = routes(parts, body)
            if out is not None:
                return out
            return 404, {"error": f"no such route: {path}"}
        except PermissionError as e:
            return 403, {"error": str(e)}
        except KeyError as e:
            return 404, {"error": str(e)}
        except (ValueError, RuntimeError) as e:
            return 400, {"error": str(e)}
        except Exception as e:  # defensive: surface, don't drop the socket
            return 500, {"error": repr(e)}

    # ----------------------------------------------------------- GET
    def _get_routes(self, parts, _body):
        if parts == ["health"]:
            return 200, self.manager.diagnostics()
        if parts == ["metrics"]:
            # ServerComponentHealthAggregator analog: pipeline counts plus
            # the listener's reduce of engine-pushed progress events
            return 200, self.manager.metrics_summary()
        if len(parts) == 2 and parts[0] == "schemas" and self.registry is not None:
            return 200, {
                "id": parts[1],
                "schema": json.loads(self.registry.get(parts[1])),
            }
        if parts == ["datastreams"]:
            return 200, [self._spec_out(s) for s in self.manager.list()]
        if len(parts) == 2 and parts[0] == "datastreams":
            return 200, self._spec_out(self.manager.get(parts[1]))
        if (
            len(parts) == 3
            and parts[0] == "datastreams"
            and parts[2] == "pausedSourcePartitions"
        ):
            name = parts[1]
            return 200, {
                "paused": self.manager.paused_source_partitions(name),
                "autoPaused": self.manager.auto_paused_partitions(name),
            }
        return None

    # ----------------------------------------------------------- POST
    def _post_routes(self, parts, body):
        if parts == ["schemas"] and self.registry is not None:
            # register an Avro schema; the returned id is the hex digest
            # framed into messages (serde.py MAGIC + digest)
            return 201, {"id": self.registry.register(json.dumps(body))}
        if parts == ["datastreams"]:
            spec = PipelineSpec.from_json(json.dumps(body))
            if any(s.name == spec.name for s in self.manager.list()):
                return 409, {"error": f"datastream exists: {spec.name}"}
            self.manager.create(spec, principal=self._principal())
            return 201, self._spec_out(self.manager.get(spec.name))
        if len(parts) == 3 and parts[0] == "datastreams":
            name, action = parts[1], parts[2]
            if action == "pause":
                self.manager.pause(
                    name,
                    principal=self._principal(),
                    force=bool(body.get("force", False)),
                )
            elif action == "resume":
                self.manager.resume(
                    name,
                    principal=self._principal(),
                    force=bool(body.get("force", False)),
                )
            elif action == "stop":
                self.manager.stop(name)
            elif action == "rewind":
                self.manager.rewind(name, principal=self._principal())
            elif action == "pauseSourcePartitions":
                self.manager.pause_source_partitions(
                    name, [int(p) for p in body.get("partitions", [])]
                )
            elif action == "resumeSourcePartitions":
                parts_arg = body.get("partitions")
                self.manager.resume_source_partitions(
                    name,
                    [int(p) for p in parts_arg] if parts_arg is not None else None,
                )
            else:
                return 404, {"error": f"no such action: {action}"}
            return 200, self._spec_out(self.manager.get(name))
        return None

    # ----------------------------------------------------------- PUT
    def _put_routes(self, parts, body):
        if len(parts) == 2 and parts[0] == "datastreams":
            spec = PipelineSpec.from_json(json.dumps(body))
            if spec.name != parts[1]:
                return 400, {
                    "error": f"name mismatch: {spec.name!r} vs {parts[1]!r}"
                }
            self.manager.update(spec, principal=self._principal())
            return 200, self._spec_out(self.manager.get(parts[1]))
        return None

    # ----------------------------------------------------------- DELETE
    def _delete_routes(self, parts, _body):
        if len(parts) == 2 and parts[0] == "datastreams":
            self.manager.delete(parts[1], principal=self._principal())
            return 200, {"deleted": parts[1]}
        return None


class DatastreamRestServer:
    """Embedded control-plane HTTP server (one per PipelineManager).

    Serialized through a lock because PipelineManager mutates shared
    lifecycle state — the reference funnels the same mutations through
    its coordinator thread.
    """

    def __init__(
        self,
        manager: PipelineManager,
        host: str = "127.0.0.1",
        port: int = 0,
        schema_registry=None,
    ):
        handler = type(
            "_BoundHandler",
            (_Handler,),
            {
                "manager": manager,
                "registry": schema_registry,
                "lock": threading.Lock(),
            },
        )
        self._httpd = ThreadingHTTPServer((host, port), handler)
        self._thread = threading.Thread(target=self._httpd.serve_forever, daemon=True)

    @property
    def address(self) -> str:
        h, p = self._httpd.server_address[:2]
        return f"http://{h}:{p}"

    def start(self) -> "DatastreamRestServer":
        self._thread.start()
        return self

    def stop(self) -> None:
        self._httpd.shutdown()
        self._httpd.server_close()
        self._thread.join(timeout=5)
