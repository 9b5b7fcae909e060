"""REST job-control service (service/NutchServer.java + resources/)."""

import json
import sys
import threading
import time
import urllib.request

import pytest

sys.path.insert(0, "tools")

from server import make_server  # noqa: E402


@pytest.fixture()
def server(tmp_path):
    calls = []

    def runner(argv):
        calls.append(list(argv))
        if argv and argv[0] == "slow":
            time.sleep(2.0)
        return 0 if "fail" not in argv else 1

    srv = make_server(port=0, seed_root=str(tmp_path / "seeds"), runner=runner)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    base = f"http://127.0.0.1:{srv.server_address[1]}"
    yield base, calls, srv
    srv.shutdown()


def _get(base, path):
    try:
        with urllib.request.urlopen(base + path) as r:
            return r.status, json.loads(r.read())
    except urllib.error.HTTPError as e:
        return e.code, json.loads(e.read())


def _post(base, path, obj):
    req = urllib.request.Request(
        base + path, data=json.dumps(obj).encode(),
        headers={"Content-Type": "application/json"}, method="POST",
    )
    try:
        with urllib.request.urlopen(req) as r:
            return r.status, json.loads(r.read())
    except urllib.error.HTTPError as e:
        return e.code, json.loads(e.read())


def _wait_state(base, job_id, timeout=5.0):
    deadline = time.time() + timeout
    while time.time() < deadline:
        _, info = _get(base, f"/job/{job_id}")
        if info["state"] in ("FINISHED", "FAILED", "KILLED"):
            return info
        time.sleep(0.05)
    raise AssertionError("job did not settle")


def test_job_create_runs_the_cli(server):
    base, calls, _ = server
    st, info = _post(base, "/job/create", {
        "type": "INJECT", "confId": "default",
        "args": {"crawldb": "/tmp/db", "url_dir": "/tmp/seeds"},
    })
    assert st == 200
    assert info["id"].startswith("default-INJECT-")
    info = _wait_state(base, info["id"])
    assert info["state"] == "FINISHED"
    assert calls == [["inject", "/tmp/db", "/tmp/seeds"]]
    # flags map to --options
    _post(base, "/job/create", {
        "type": "GENERATE",
        "args": {"crawldb": "c/crawldb", "flags": {"top-n": 5}},
    })
    # the crawl steps name the crawl dir's crawldb and segment; parse
    # takes its docs table as a required flag
    _post(base, "/job/create", {
        "type": "PARSE", "args": {"segment": "c/segment_0001", "docs": "d"},
    })
    _post(base, "/job/create", {
        "type": "UPDATEDB", "args": {"crawldb": "c/crawldb", "segment": "c/segment_0001"},
    })
    assert _post(base, "/job/create", {
        "type": "PARSE", "args": {"segment": "c/segment_0001"},
    }) == (400, "PARSE args missing ['docs']")
    time.sleep(0.3)
    assert ["generate", "c/crawldb", "--top-n", "5"] in calls
    assert ["parse", "c/segment_0001", "--docs", "d"] in calls
    assert ["updatedb", "c/crawldb", "c/segment_0001"] in calls


def test_job_states_list_and_errors(server):
    base, _, _ = server
    st, info = _post(base, "/job/create", {
        "type": "READDB", "crawlId": "c1", "args": {"argv": ["fail"]},
    })
    assert st == 200 and info["id"].startswith("c1-default-READDB-")
    assert _wait_state(base, info["id"])["state"] == "FAILED"
    st, jobs = _get(base, "/job?crawlId=c1")
    assert len(jobs) == 1
    st, jobs = _get(base, "/job?crawlId=other")
    assert jobs == []
    # unsupported type / unknown conf -> 400 (CLASS is rejected by design)
    assert _post(base, "/job/create", {"type": "CLASS"})[0] == 400
    assert _post(base, "/job/create", {"type": "READDB", "confId": "nope",
                                       "args": {"crawldb": "x"}})[0] == 400
    assert _post(base, "/job/create", {"type": "INJECT", "args": {}})[0] == 400
    assert _get(base, "/job/doesnotexist")[0] == 404


def test_job_stop_and_abort(server):
    base, _, _ = server
    _, info = _post(base, "/job/create", {"type": "READDB",
                                          "args": {"argv": ["slow"]}})
    _, stopped = _get(base, f"/job/{info['id']}/abort")
    assert stopped is True
    assert _wait_state(base, info["id"])["state"] == "KILLED"
    # signalling a settled job returns false
    _, again = _get(base, f"/job/{info['id']}/stop")
    assert again is False


def test_config_resource(server):
    base, _, _ = server
    assert _get(base, "/config")[1] == ["default"]
    _post(base, "/config/myconf", {"fetcher.threads": "7"})
    assert _get(base, "/config")[1] == ["default", "myconf"]
    assert _get(base, "/config/myconf")[1] == {"fetcher.threads": "7"}
    assert _get(base, "/config/myconf/fetcher.threads")[1] == "7"
    req = urllib.request.Request(base + "/config/myconf", method="DELETE")
    with urllib.request.urlopen(req) as r:
        assert json.loads(r.read()) is True
    assert _get(base, "/config")[1] == ["default"]


def test_seed_and_admin(server, tmp_path):
    base, _, srv = server
    st, path = _post(base, "/seed/create", {
        "name": "batch1",
        "seedUrls": [{"url": "http://a.example.com/"}, "http://b.example.com/"],
    })
    assert st == 200
    with open(path + "/urls") as f:
        assert f.read() == "http://a.example.com/\nhttp://b.example.com/\n"
    st, admin = _get(base, "/admin")
    assert st == 200 and "default" in admin["configuration"]
    assert admin["runningJobs"] == 0
    # admin/stop with a running job is refused without force
    _post(base, "/job/create", {"type": "READDB", "args": {"argv": ["slow"]}})
    time.sleep(0.2)
    try:
        urllib.request.urlopen(base + "/admin/stop")
        raise AssertionError("expected 409")
    except urllib.error.HTTPError as e:
        assert e.code == 409


def test_end_to_end_inject_via_rest(spark, tmp_path):
    # the default runner is the real tools/nutch.py CLI
    from nutch_spark.catalog import SnapshotCatalog

    seeds = tmp_path / "seeds.txt"
    seeds.write_text("http://a.example.com/\nhttp://b.example.com/\n")
    db = str(tmp_path / "crawldb")
    srv = make_server(port=0, seed_root=str(tmp_path / "sr"))
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    base = f"http://127.0.0.1:{srv.server_address[1]}"
    try:
        _, info = _post(base, "/job/create", {
            "type": "INJECT",
            "args": {"crawldb": db, "url_dir": str(seeds)},
        })
        info = _wait_state(base, info["id"], timeout=120)
        assert info["state"] == "FINISHED"
        assert SnapshotCatalog(str(tmp_path)).read(spark, "crawldb").count() == 2
    finally:
        srv.shutdown()


def test_reader_schemas_and_fetchdb(server):
    base, _, srv = server
    code, schema = _get(base, "/reader/link")
    assert code == 200 and schema["key_url"] == "string" and "linktype" in schema
    code, schema = _get(base, "/reader/node")
    assert code == 200 and "inlink_score" in schema

    # empty registry -> empty list (FetchNodeDb before any fetch)
    code, nodes = _get(base, "/db/fetchdb")
    assert code == 200 and nodes == []

    srv.nutch_state.register_fetch_nodes(
        [
            {"url": "http://a/", "status": 33, "outlinks": ["http://a/1", "http://a/2"]},
            {"url": "http://b/", "status": 34, "outlinks": []},
            {"url": "http://c/", "status": 33, "outlinks": ["http://c/1"]},
        ]
    )
    code, nodes = _get(base, "/db/fetchdb")
    assert [n["url"] for n in nodes] == ["http://a/", "http://b/", "http://c/"]
    assert nodes[0]["numOfOutlinks"] == 2
    code, nodes = _get(base, "/db/fetchdb?from=2&to=2")
    assert [n["url"] for n in nodes] == ["http://b/"]


def test_db_crawldb_end_to_end(spark, tmp_path, tmp_path_factory):
    """POST /db/crawldb stats/topN/dump/url over a real injected
    crawldb at <crawlId>/crawldb — the DbResource.readdb decision tree
    delegating to operators/stats (end-to-end like the INJECT test)."""
    seeds = tmp_path / "seeds.txt"
    seeds.write_text("http://a.example.com/\nhttp://b.example.com/\n")
    crawl_id = tmp_path / "crawl"
    crawl_id.mkdir()
    db = str(crawl_id / "crawldb")
    srv = make_server(
        port=0, seed_root=str(tmp_path / "sr"), data_root=str(tmp_path)
    )
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    base = f"http://127.0.0.1:{srv.server_address[1]}"
    try:
        _, info = _post(base, "/job/create", {
            "type": "INJECT",
            "args": {"crawldb": db, "url_dir": str(seeds)},
        })
        assert _wait_state(base, info["id"], timeout=120)["state"] == "FINISHED"

        code, out = _post(base, "/db/crawldb", {"crawlId": str(crawl_id), "type": "stats"})
        assert code == 200 and out["type"] == "stats" and out["result"]

        code, out = _post(base, "/db/crawldb", {"crawlId": str(crawl_id), "type": "topN",
                                                "args": {"topN": 1}})
        assert code == 200 and len(out["result"]) == 1

        code, out = _post(base, "/db/crawldb", {"crawlId": str(crawl_id), "type": "dump"})
        assert code == 200 and len(out["result"]) == 2 and out["truncated"] is False

        code, out = _post(base, "/db/crawldb", {
            "crawlId": str(crawl_id), "type": "url",
            "args": {"url": "http://a.example.com/"},
        })
        assert code == 200 and len(out["result"]) == 1
        assert out["result"][0]["url"] == "http://a.example.com/"

        # bad requests: missing type / unknown type
        code, _ = _post(base, "/db/crawldb", {"crawlId": str(crawl_id)})
        assert code == 400
        code, _ = _post(base, "/db/crawldb", {"crawlId": str(crawl_id), "type": "nope"})
        assert code == 400

        # /reader/sequence/read over the same parquet: head, slice,
        # count — the performRead decision tree
        code, out = _post(base, "/reader/sequence/read?count=true", {"path": db})
        assert code == 200 and out["count"] == 2
        code, out = _post(base, "/reader/sequence/read?nrows=1", {"path": db})
        assert code == 200 and len(out["result"]) == 1
        code, out = _post(base, "/reader/sequence/read?start=1&end=2", {"path": db})
        assert code == 200 and len(out["result"]) == 1
        code, out = _post(base, "/reader/sequence/read", {"path": db})
        assert code == 200 and len(out["result"]) == 2
        code, _ = _post(base, "/reader/sequence/read", {"path": str(tmp_path / "nope")})
        assert code == 400
        code, _ = _post(base, "/reader/sequence/read", {})
        assert code == 400

        # data-root confinement: absolute path outside the root, a
        # ../-escape, and a db query whose crawlId escapes — all 400,
        # even when the target parquet actually exists
        code, _ = _post(base, "/reader/sequence/read", {"path": "/etc"})
        assert code == 400
        code, _ = _post(
            base, "/reader/sequence/read", {"path": "crawl/../../outside"}
        )
        assert code == 400
        code, _ = _post(base, "/db/crawldb", {"crawlId": "/", "type": "stats"})
        assert code == 400
        # glob escapes: resolve() keeps "{../}" and "\.." as literal
        # names under the root, but spark.read expands them to ".."
        outside = tmp_path_factory.mktemp("outside")
        spark.range(1).write.parquet(str(outside / "db"))
        for escape in (
            f"{{../}}{outside.name}/db",
            f"crawl/{{../}}{{../}}{outside.name}/db",
            f"crawl/\\../\\../{outside.name}/db",
            "crawl/{..}/{..}/outside",
        ):
            code, _ = _post(base, "/reader/sequence/read?count=true", {"path": escape})
            assert code == 400, escape
        # relative path under the root still resolves
        code, out = _post(
            base, "/reader/sequence/read?count=true", {"path": "crawl/crawldb"}
        )
        assert code == 200 and out["count"] == 2
        # a catalog table under the root whose metadata points a snapshot
        # outside it is refused, not followed
        meta_path = crawl_id / "crawldb" / "metadata.json"
        meta = json.loads(meta_path.read_text())
        meta["snapshots"][-1]["path"] = f"../../../{outside.name}/db"
        meta_path.write_text(json.dumps(meta))
        code, _ = _post(base, "/reader/sequence/read?count=true", {"path": "crawl/crawldb"})
        assert code == 400
        code, _ = _post(base, "/db/crawldb", {"crawlId": str(crawl_id), "type": "stats"})
        assert code == 400
    finally:
        srv.shutdown()
