"""REST API layer mirroring the reference's Flask surface
(code/api.py:91-92, endpoints :581-1074; SURVEY.md §3) on the stdlib
ThreadingHTTPServer — no web-framework dependency.

Endpoints (JSON in/out):

* ``PUT  /recipes/<name>/run``   — start the recipe as a background job
  (the reference forks a multiprocessing job, code/api.py:1000-1023;
  here a thread drives one Spark action — Spark parallelizes inside).
* ``PUT  /recipes/<name>/test``  — run on a 30-row sample, return rows
  (reference test entry point, code/api.py:975-999).
* ``POST /recipes/<name>/apply`` — apply the recipe to uploaded
  CSV/JSONL rows in the request body, return transformed rows
  (reference live apply, code/api.py:940-963).
* ``GET  /jobs``                 — job registry with status up/done/down
  (reference code/api.py:862-879, :1040-1074).
* ``POST /datasets/<name>``      — sample rows + dtypes of a dataset
  (reference code/api.py:581-623).
* ``GET  /recipes``              — all recipe confs (reference
  code/api.py:814-825).
* ``GET  /recipes/<name>``       — one recipe conf (code/api.py:827-837).
* ``GET  /recipes/<name>/status``— up/done/down from the job registry
  (code/api.py:851-877).
* ``GET  /recipes/<name>/log``   — last job log; while the job runs the
  response is a Server-Sent-Events tail like the reference's
  ``tailLog`` (code/api.py:878-932).
* ``POST /datasets/<name>/_search`` and ``/_update/<id>`` — HTTP proxy
  to the dataset's Elasticsearch index (code/api.py:745-812); requires
  an ``elasticsearch``-format dataset conf and a reachable ``url``.
* ``GET  /health``               — liveness (always unauthenticated).

Auth: pass ``security=SecurityConf(...)`` (``backend_spark.security``)
to enable the reference's users/groups/roles rights model over HTTP
Basic or Bearer tokens (the post-OAuth credential shape) — project GETs
need ``read``, run/test/apply/_update need ``update``, mirroring the
reference's ``@authorize`` decorators; bare list routes are
authenticated-only like its ``@login_required``; ``no_auth`` or
``security=None`` disables the layer (code/security.py:16-21).
"""

from __future__ import annotations

import io
import json
import threading
import time
import traceback
import urllib.error
import urllib.request
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

from pyspark.sql import SparkSession

from backend_spark.plans import RecipeBook


class JobRegistry:
    """In-memory job table (reference: config.jobs + log-file polling)."""

    def __init__(self):
        self._jobs: dict[str, dict] = {}
        self._lock = threading.Lock()
        self._n = 0

    def log(self, job_id: str, line: str) -> None:
        with self._lock:
            if job_id in self._jobs:
                self._jobs[job_id]["log"].append(line)

    def start(self, recipe: str, fn) -> str:
        with self._lock:
            self._n += 1
            job_id = f"{recipe}-{self._n}"
            self._jobs[job_id] = {
                "recipe": recipe, "status": "up", "rows": None, "error": None,
                "log": [f"start {job_id}"],
            }

        def _run():
            try:
                rows = fn()
                with self._lock:
                    self._jobs[job_id].update(status="done", rows=rows)
                    self._jobs[job_id]["log"].append(f"done {job_id}: {rows} rows")
            except Exception as e:  # job failure -> status down (reference semantics)
                with self._lock:
                    self._jobs[job_id].update(status="down", error=f"{type(e).__name__}: {e}")
                    self._jobs[job_id]["log"].append(f"error {job_id}: {e}")

        threading.Thread(target=_run, name=job_id, daemon=True).start()
        return job_id

    def snapshot(self) -> dict:
        with self._lock:
            return {k: dict(v) for k, v in self._jobs.items()}

    def latest_for(self, recipe: str) -> dict | None:
        with self._lock:
            jobs = [
                {**v, "log": list(v["log"]), "id": k}
                for k, v in self._jobs.items()
                if v["recipe"] == recipe
            ]
        return jobs[-1] if jobs else None


class ApiServer:
    def __init__(
        self,
        spark: SparkSession,
        book: RecipeBook,
        host: str = "127.0.0.1",
        port: int = 0,
        security=None,
    ):
        self.spark = spark
        self.book = book
        self.jobs = JobRegistry()
        self.security = security  # SecurityConf | None; None == no auth layer
        outer = self

        class Handler(BaseHTTPRequestHandler):
            def log_message(self, *a):  # quiet
                pass

            def _auth(self, right: str | None = None, project: str | None = None) -> bool:
                """Reference @login_required + @authorize(right=...)
                (code/api.py route decorators; rights walk
                code/security.py:16-47).  Sends 401/403 and returns
                False when the request may not proceed.  ``right=None``
                is the list routes' bare ``@login_required`` (no project
                authorize, code/api.py list routes): any authenticated
                user may enumerate — a user granted rights on one
                project must not 403 on every listing for lacking an
                _all grant."""
                sec = outer.security
                if sec is None or sec.no_auth:
                    return True
                user = sec.authenticate(self.headers.get("Authorization"))
                if user is None:
                    # RFC 7235: a 401 must carry the challenge, or
                    # reactive-auth clients never retry with credentials
                    self._reply(
                        401,
                        {"error": "authentication required"},
                        headers=[("WWW-Authenticate", 'Basic realm="backend_spark"')],
                    )
                    return False
                if right is not None and not sec.check_rights(user, project, right):
                    self._reply(403, {"error": f"user {user} lacks {right} on {project}"})
                    return False
                return True

            def _reply(self, code: int, body, ctype: str = "application/json", headers=()):
                """Write one complete response.  A ``str`` body goes out
                as is; anything else is serialized as JSON."""
                data = (body if isinstance(body, str) else json.dumps(body, default=str)).encode()
                self.send_response(code)
                for name, value in (*headers, ("Content-Type", ctype)):
                    self.send_header(name, value)
                self.send_header("Content-Length", str(len(data)))
                self.end_headers()
                self.wfile.write(data)

            def _body(self) -> bytes:
                n = int(self.headers.get("Content-Length") or 0)
                return self.rfile.read(n) if n else b""

            def do_GET(self):
                if self.path == "/health":  # liveness stays unauthenticated
                    return self._reply(200, {"status": "up"})
                if self.path == "/jobs":
                    if not self._auth():
                        return None
                    return self._reply(200, outer.jobs.snapshot())
                parts = self.path.strip("/").split("/")
                if len(parts) == 1:  # bare listing: authenticated-only
                    if not self._auth():
                        return None
                elif not self._auth("read", parts[1]):
                    return None
                if parts[0] == "recipes":
                    if len(parts) == 1:  # conf of every recipe
                        return self._reply(200, outer.book.recipes)
                    name = parts[1]
                    if name not in outer.book.recipes:
                        return self._reply(404, {"error": f"unknown recipe {name}"})
                    if len(parts) == 2:  # conf of one recipe
                        return self._reply(200, outer.book.recipes[name])
                    action = parts[2]
                    job = outer.jobs.latest_for(name)
                    if action == "status":
                        return self._reply(
                            200, {"recipe": name, "status": job["status"] if job else "down"}
                        )
                    if action == "log":
                        if job is None:
                            return self._reply(200, "", "text/plain")
                        if job["status"] != "up":  # finished -> full log, plain
                            return self._reply(200, "\n".join(job["log"]), "text/plain")
                        # running -> SSE tail (reference tailLog,
                        # code/api.py:908-929): replay, poll, close
                        self.send_response(200)
                        self.send_header("Content-Type", "text/event-stream")
                        self.send_header("X-Accel-Buffering", "no")
                        self.end_headers()
                        sent = 0
                        wait = 0.0
                        self.wfile.write(b"retry: 3000\n")
                        while wait < 5.0:
                            job = outer.jobs.latest_for(name) or job
                            lines = job["log"]
                            for line in lines[sent:]:
                                self.wfile.write(
                                    f"event: message\ndata: {line}\n\n".encode()
                                )
                            self.wfile.flush()
                            sent = len(lines)
                            if job["status"] != "up":
                                break
                            time.sleep(0.1)
                            wait += 0.1
                        self.wfile.write(b"event: close\ndata: end\n\n")
                        return None
                return self._reply(404, {"error": "not found"})

            def do_PUT(self):
                parts = self.path.strip("/").split("/")
                if len(parts) == 3 and parts[0] == "recipes":
                    name, action = parts[1], parts[2]
                    # reference run/test routes carry @authorize(right="update")
                    if not self._auth("update", name):
                        return None
                    if name not in outer.book.recipes:
                        return self._reply(404, {"error": f"unknown recipe {name}"})
                    try:
                        if action == "test":
                            df = outer.book.run(name, test=True)
                            rows = [r.asDict(recursive=True) for r in df.limit(30).collect()]
                            steps = outer.book.trace(name)
                            return self._reply(
                                200,
                                {"rows": rows, "schema": df.schema.simpleString(), "steps": steps},
                            )
                        if action == "run":
                            job_id = outer.jobs.start(
                                name, lambda: outer.book.run(name).count()
                            )
                            return self._reply(202, {"job": job_id, "status": "up"})
                    except Exception as e:
                        return self._reply(500, {"error": str(e), "trace": traceback.format_exc()[-2000:]})
                return self._reply(404, {"error": "not found"})

            def do_POST(self):
                parts = self.path.strip("/").split("/")
                try:
                    if len(parts) == 3 and parts[0] == "recipes" and parts[2] == "apply":
                        name = parts[1]
                        if not self._auth("update", name):
                            return None
                        if name not in outer.book.recipes:
                            return self._reply(404, {"error": f"unknown recipe {name}"})
                        ctype = self.headers.get("Content-Type", "application/json")
                        raw = self._body().decode()
                        import pandas as pd

                        if "csv" in ctype:
                            pdf = pd.read_csv(io.StringIO(raw), dtype=str, keep_default_na=False)
                        else:
                            pdf = pd.DataFrame(json.loads(raw))
                        df = outer.spark.createDataFrame(pdf)
                        out = outer.book.compile(name)(df)
                        rows = [r.asDict(recursive=True) for r in out.collect()]
                        return self._reply(200, {"rows": rows})
                    if len(parts) >= 3 and parts[0] == "datasets" and parts[2] in ("_search", "_update"):
                        # ES API proxy (reference code/api.py:745-812):
                        # forward the JSON body to the dataset's index
                        name, action = parts[1], parts[2]
                        if not self._auth(
                            "update" if action == "_update" else "read", name
                        ):
                            return None
                        conf = outer.book.dataset_conf.get(name) or {}
                        if conf.get("format") != "elasticsearch":
                            return self._reply(403, {"error": "not an elasticsearch dataset"})
                        base = conf["url"].rstrip("/")
                        index = conf.get("table", name)
                        if action == "_search":
                            url = f"{base}/{index}/_search"
                        else:
                            if len(parts) < 4:
                                return self._reply(403, {"error": "_update needs a doc id"})
                            url = f"{base}/{index}/_update/{parts[3]}"
                        req = urllib.request.Request(
                            url, data=self._body() or b"{}",
                            headers={"Content-Type": "application/json"}, method="POST",
                        )
                        try:
                            with urllib.request.urlopen(req, timeout=30) as resp:
                                return self._reply(
                                    resp.status, resp.read().decode(), "application/json"
                                )
                        except urllib.error.HTTPError as e:
                            return self._reply(e.code, e.read().decode(), "application/json")
                    if len(parts) == 2 and parts[0] == "datasets":
                        if not self._auth("read", parts[1]):
                            return None
                        df = outer.book.dataset(parts[1])
                        opts = json.loads(self._body() or b"{}")
                        n = int(opts.get("size", 10))
                        rows = [r.asDict(recursive=True) for r in df.limit(n).collect()]
                        return self._reply(200, {"rows": rows, "schema": dict(df.dtypes)})
                except KeyError as e:
                    return self._reply(404, {"error": str(e)})
                except Exception as e:
                    return self._reply(500, {"error": str(e), "trace": traceback.format_exc()[-2000:]})
                return self._reply(404, {"error": "not found"})

        self.httpd = ThreadingHTTPServer((host, port), Handler)
        self.port = self.httpd.server_address[1]
        self._thread: threading.Thread | None = None

    def start(self):
        self._thread = threading.Thread(target=self.httpd.serve_forever, daemon=True)
        self._thread.start()
        return self

    def stop(self):
        self.httpd.shutdown()
        self.httpd.server_close()
