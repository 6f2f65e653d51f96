"""HTTP API surface tests: every reference /api route served end-to-end
over a real socket (stdlib urllib client against ThreadingHTTPServer)."""

from __future__ import annotations

import json
import urllib.error
import urllib.request

import pytest

from radmapper_spark import server as S
from radmapper_spark.sources import readers


@pytest.fixture()
def srv(tmp_path, monkeypatch):
    monkeypatch.setattr(readers, "CATALOG_PATH", str(tmp_path / "catalog.json"))
    s = S.RMServer()  # language-only mode: no route below needs Spark
    port = s.start()
    yield f"http://127.0.0.1:{port}"
    s.stop()


def _get(url: str):
    with urllib.request.urlopen(url, timeout=10) as r:
        return r.status, json.loads(r.read().decode())


def _post(url: str, body: dict):
    req = urllib.request.Request(
        url, data=json.dumps(body).encode(),
        headers={"Content-Type": "application/json"}, method="POST")
    with urllib.request.urlopen(req, timeout=10) as r:
        return r.status, json.loads(r.read().decode())


def test_health(srv):
    status, out = _get(srv + "/api/health")
    assert status == 200 and "time" in out and "up_since" in out


def test_process_rm(srv):
    status, out = _post(srv + "/api/process-rm",
                        {"code": "[1..3].($ * 10)"})
    assert status == 200 and out["result"] == [10, 20, 30]


def test_process_rm_with_data(srv):
    status, out = _post(srv + "/api/process-rm",
                        {"code": "$.a + 1", "data": {"a": 41}})
    assert status == 200 and out["result"] == 42


def test_process_rm_no_code_is_400(srv):
    req = urllib.request.Request(srv + "/api/process-rm", data=b"{}",
                                 method="POST")
    with pytest.raises(urllib.error.HTTPError) as e:
        urllib.request.urlopen(req, timeout=10)
    assert e.value.code == 400


def test_graph_put_then_get_roundtrip(srv):
    status, out = _post(srv + "/api/graph-put", {
        "put-ident-type": "schema/name", "put-ident-val": "urn:x",
        "put-obj": {"schema/name": "urn:x", "schema/sdo": "oagi", "n": 3}})
    assert status == 200 and out == "success"
    status, out = _get(srv + "/api/graph-get?ident-type=schema/name"
                       "&ident-val=urn:x&request-objs=schema/sdo|n")
    assert status == 200 and out == {"schema/sdo": "oagi", "n": 3}


def test_graph_get_missing_is_empty(srv):
    status, out = _get(srv + "/api/graph-get?ident-type=schema/name"
                       "&ident-val=urn:none&request-objs=a")
    assert status == 200 and out == {}


def test_datalog_query_over_posted_data(srv):
    status, out = _post(srv + "/api/datalog-query", {
        "qforms": "[[?e :schema/name ?n] [?e :schema/sdo \"oagi\"]]",
        "data": [{"schema/name": "urn:a", "schema/sdo": "oagi"},
                 {"schema/name": "urn:b", "schema/sdo": "qif"}]})
    assert status == 200 and out == [{"n": "urn:a"}]


def test_datalog_query_over_catalog_store(srv):
    _post(srv + "/api/graph-put", {
        "put-ident-type": "schema/name", "put-ident-val": "urn:c",
        "put-obj": {"schema/name": "urn:c", "schema/sdo": "qif"}})
    status, out = _post(srv + "/api/datalog-query",
                        {"qforms": "[[?e :schema/sdo ?sdo]]"})
    assert status == 200 and out == [{"sdo": "qif"}]


def test_llm_match_fallback(srv):
    status, out = _post(srv + "/api/llm-match", {
        "src": {"customer_name": "%", "addr": "%"},
        "tar": {"CustomerName": "%", "Address": "%"}})
    assert status == 200 and isinstance(out, dict) and out


def test_llm_extract_heuristic(srv):
    status, out = _get(srv + "/api/llm-extract?source="
                       + urllib.parse.quote("The zip code is 20899.")
                       + "&seek=" + urllib.parse.quote("zip code"))
    assert status == 200 and "20899" in str(out["result"])


def test_save_and_fetch_code(srv):
    status, out = _post(srv + "/api/save-code", {"code": "1 + 1"})
    assert status == 200 and out["save-id"]
    status, back = _get(srv + "/api/fetch-code?save-id=" + out["save-id"])
    assert status == 200 and back["code"] == "1 + 1"


def test_unknown_route_404(srv):
    with pytest.raises(urllib.error.HTTPError) as e:
        _get(srv + "/api/nope")
    assert e.value.code == 404


def test_qforms_translation_rejects_garbage():
    with pytest.raises(ValueError):
        S.qforms_to_rm("[]")
    with pytest.raises(ValueError):
        S.qforms_to_rm("[[?only-one]]")
    assert S.qforms_to_rm("[[?e :a/b \"x's\"]]") == "query{[?e :a/b 'x\\'s']}"


def test_concurrent_graph_puts_and_gets(srv):
    """Two writer threads and one reader on the threaded server: every
    put succeeds, every get parses the catalog, and no key is lost."""
    import threading

    n_puts, errors = 60, []

    def writer(w):
        for i in range(n_puts):
            try:
                _post(srv + "/api/graph-put", {
                    "put-ident-type": "schema/name",
                    "put-ident-val": f"urn:w{w}:{i}",
                    "put-obj": {"schema/name": f"urn:w{w}:{i}", "i": i}})
            except Exception as exc:
                errors.append(("put", repr(exc)))

    def reader(stop):
        while not stop.is_set():
            try:
                _get(srv + "/api/graph-get?ident-type=schema/name"
                     "&ident-val=urn:w0:0&request-objs=i")
            except Exception as exc:
                errors.append(("get", repr(exc)))

    stop = threading.Event()
    writers = [threading.Thread(target=writer, args=(w,)) for w in (0, 1)]
    rd = threading.Thread(target=reader, args=(stop,))
    rd.start()
    for t in writers:
        t.start()
    for t in writers:
        t.join()
    stop.set()
    rd.join()
    assert not errors, errors[:5]
    with open(readers.CATALOG_PATH) as f:
        cat = json.load(f)
    assert len(cat) == 2 * n_puts
