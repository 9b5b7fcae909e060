#!/usr/bin/env python3
"""NutchServer-equivalent REST job-control service (the last
VERDICT-r02 "missing" item, #1).

Mirrors the reference's service layer
(``src/java/org/apache/nutch/service/``):

- ``NutchServer.java``: the embedded HTTP server (theirs CXF/JAX-RS,
  ours stdlib ``ThreadingHTTPServer`` — no new dependencies).
- ``resources/JobResource.java``: ``GET /job``, ``GET /job/{id}``,
  ``GET /job/{id}/stop``, ``GET /job/{id}/abort``,
  ``POST /job/create`` with JobConfig ``{type, confId, crawlId,
  args}`` — job types INJECT GENERATE FETCH PARSE UPDATEDB INDEX
  READDB INVERTLINKS DEDUP (``JobManager.JobType``; CLASS is rejected:
  arbitrary-class loading is a JVM concept and a remote-code hole).
- ``impl/JobWorker.java``: job ids ``[crawlId-]confId-TYPE-<hash>``,
  state machine IDLE RUNNING FINISHED FAILED KILLED (:54-90), each job
  on its own worker thread.
- ``resources/ConfigResource.java``: ``GET /config``,
  ``GET /config/{id}``, ``GET /config/{id}/{prop}``,
  ``POST /config/{id}``, ``DELETE /config/{id}`` over an in-memory
  ConfManager seeded with a ``default`` configuration.
- ``resources/SeedResource.java``: ``POST /seed/create`` writes the
  posted url list to a seed directory and returns its path.
- ``resources/AdminResource.java``: ``GET /admin`` (server info),
  ``GET /admin/stop`` (refused while jobs run unless ``?force=true``,
  like NutchServer.canStop).
- ``resources/DbResource.java``: ``POST /db/crawldb`` with DbQuery
  ``{crawlId, type: stats|dump|topN|url, args}`` delegating to the
  ``operators/stats`` readers over ``<crawlId>/crawldb``, the catalog
  table the CLI's inject and updatedb commit (the reference's
  CrawlDbReader.query path convention), and
  ``GET /db/fetchdb?from=&to=`` over the in-process fetch-node
  registry (FetchNodeDb is likewise an in-JVM singleton that is empty
  unless the REST-driven fetcher ran).
- ``resources/ReaderResouce.java``: ``GET /reader/link`` /
  ``GET /reader/node`` (schema maps, field names kept verbatim) and
  ``POST /reader/{sequence|link|node}/read`` with
  ``{path}`` + ``?nrows=&start=&end=&count=`` — the reference's
  performRead decision tree (count > slice(start,end) > head(nrows) >
  read-all) over a catalog table or parquet dir, with a hard
  ``MAX_READ_ROWS`` cap on any driver-side collect (a REST endpoint must never materialize O(data);
  responses carry ``truncated: true`` when the cap bites — a
  deliberate, visible deviation from the reference's unbounded
  stream).

Jobs execute the repo's operator CLI (``tools/nutch.py``) in-process —
the same thin-shell layer a terminal user drives, so the REST surface
adds job control without a second code path: INJECT, GENERATE, FETCH,
PARSE and UPDATEDB run ``Crawler``'s stages over the crawl dir their
``crawldb``/``segment`` args name, as ``run_cycle`` does. Typed args map
to the tool signatures (``_JOB_ARGV``); ``args.argv`` passes any
command verbatim.
"""

from __future__ import annotations

import json
import threading
import time
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from pathlib import Path
from urllib.parse import parse_qs, urlparse

# hard ceiling on rows any /db or /reader endpoint will collect to the
# driver: REST reads are for inspection, not extraction — a 10^10-row
# crawldb must never be streamed through a JSON response
MAX_READ_ROWS = 10_000
# Hadoop glob metacharacters (and its escape), refused by _confined
_GLOB_CHARS = frozenset("{}[]*?,\\")

# JobType -> (command, arg keys) over tools/nutch.py: a key is a
# positional argument, a ``--key`` a flag that takes args[key]; further
# optional keys go under ``flags``. The crawl steps name the crawl dir's
# tables as the CLI does (crawldb: ``<crawl>/crawldb``, segment:
# ``<crawl>/segment_NNNN``), and parse reads the pages from the docs
# table; key names follow the reference's tool arg maps.
_JOB_ARGV = {
    "INJECT": ("inject", ["crawldb", "url_dir"]),
    "GENERATE": ("generate", ["crawldb"]),
    "FETCH": ("fetch", ["segment"]),
    "PARSE": ("parse", ["segment", "--docs"]),
    "UPDATEDB": ("updatedb", ["crawldb", "segment"]),
    "INDEX": ("index", ["pages", "out"]),
    "READDB": ("readdb", ["crawldb"]),
    "INVERTLINKS": ("invertlinks", ["linkdb", "outlinks"]),
    "DEDUP": ("dedup", ["crawldb"]),
}
JOB_TYPES = tuple(_JOB_ARGV)


class JobWorker(threading.Thread):
    """impl/JobWorker.java: one thread per job, IDLE -> RUNNING ->
    FINISHED/FAILED; stop/abort flip the state (best-effort, like the
    reference's NutchTool.stopJob/killJob signals)."""

    def __init__(self, job_id: str, config: dict, argv: list[str], runner):
        super().__init__(daemon=True)
        self.info = {
            "id": job_id,
            "type": config.get("type"),
            "confId": config.get("confId", "default"),
            "crawlId": config.get("crawlId"),
            "args": config.get("args", {}),
            "state": "IDLE",
            "msg": "idle",
            "result": None,
        }
        self._argv = argv
        self._runner = runner
        self._killed = threading.Event()

    def run(self) -> None:
        self.info["state"] = "RUNNING"
        self.info["msg"] = "OK"
        try:
            rc = self._runner(self._argv)
            if self._killed.is_set():
                self.info["state"] = "KILLED"
            else:
                self.info["state"] = "FINISHED" if rc == 0 else "FAILED"
                self.info["result"] = rc
        except Exception as exc:  # JobWorker.run catches Exception
            self.info["state"] = "FAILED"
            self.info["msg"] = f"ERROR: {exc}"

    def signal(self, state: str) -> bool:
        if self.info["state"] in ("FINISHED", "FAILED", "KILLED"):
            return False
        self._killed.set()
        self.info["state"] = state
        return True


class NutchServerState:
    """ConfManager + JobManager + SeedManager state, shared across
    handler threads."""

    def __init__(
        self,
        seed_root: str | None = None,
        runner=None,
        data_root: str | None = None,
    ):
        if runner is None:
            import nutch as nutch_cli  # tools/nutch.py

            runner = nutch_cli.main
        self.runner = runner
        self.started_ms = int(time.time() * 1000)
        self.configs: dict[str, dict] = {"default": {}}
        self.jobs: dict[str, JobWorker] = {}
        self.seed_root = Path(seed_root or "/tmp/nutch_seeds")
        # DbResource/ReaderResouce read confinement: every
        # caller-supplied parquet path must resolve under this root
        # (default: the server's cwd) — without it any local process
        # could read any parquet-readable file through the REST API.
        self.data_root = Path(data_root or Path.cwd()).resolve()
        self.lock = threading.Lock()
        self._seq = 0
        # FetchNodeDb.getInstance() twin: in-process only, populated by
        # register_fetch_nodes (e.g. after a REST-driven fetch job)
        self.fetch_nodes: dict[int, dict] = {}

    # --- jobs ---------------------------------------------------------
    def create_job(self, config: dict) -> dict:
        jtype = str(config.get("type", "")).upper()
        if jtype not in JOB_TYPES:
            raise ValueError(f"unsupported job type: {jtype!r}")
        conf_id = config.get("confId", "default")
        if conf_id not in self.configs:
            raise ValueError(f"unknown confId: {conf_id!r}")
        args = config.get("args") or {}
        if "argv" in args:
            argv = [str(a) for a in args["argv"]]
        else:
            cmd, keys = _JOB_ARGV[jtype]
            missing = [k.lstrip("-") for k in keys if k.lstrip("-") not in args]
            if missing:
                raise ValueError(f"{jtype} args missing {missing}")
            argv = [cmd]
            for k in keys:
                argv += [k, str(args[k[2:]])] if k.startswith("--") else [str(args[k])]
            for flag, val in (args.get("flags") or {}).items():
                argv += [f"--{flag}", str(val)]
        with self.lock:
            self._seq += 1
            parts = [config.get("crawlId"), conf_id, jtype, str(self._seq)]
            job_id = "-".join(p for p in parts if p)
            worker = JobWorker(job_id, {**config, "type": jtype}, argv, self.runner)
            self.jobs[job_id] = worker
        worker.start()
        return worker.info

    def running(self) -> int:
        return sum(1 for w in self.jobs.values() if w.info["state"] == "RUNNING")

    # --- db + reader reads (DbResource / ReaderResouce) ---------------
    @staticmethod
    def _read(path: str):
        """A catalog table or a plain parquet dir, as the CLI reads it."""
        import nutch as nutch_cli  # tools/nutch.py

        return nutch_cli._read(nutch_cli._spark(), path)

    @staticmethod
    def _rows(df, limit):
        limit = min(limit, MAX_READ_ROWS) if limit >= 0 else MAX_READ_ROWS
        rows = [r.asDict(recursive=True) for r in df.limit(limit + 1).collect()]
        truncated = len(rows) > limit
        return rows[:limit], truncated

    def _confined(self, path: str) -> str:
        """Resolve ``path`` (relative paths against data_root) and
        reject anything escaping data_root — symlinks and ``..``
        included, since resolve() normalizes both. Hadoop glob syntax
        is rejected first: spark.read expands ``{../}`` and unescapes
        ``\\..`` into ``..`` after this check has passed them as literal
        names."""
        if any(c in _GLOB_CHARS for c in path):
            raise ValueError(f"glob characters not allowed in path: {path!r}")
        p = Path(path)
        if not p.is_absolute():
            p = self.data_root / p
        p = p.resolve()
        if p != self.data_root and self.data_root not in p.parents:
            raise ValueError(f"path escapes the server data root: {path!r}")
        return str(p)

    def db_query(self, body: dict):
        """DbResource.readdb (:44-75): DbQuery {crawlId, type, args};
        crawldb lives at <crawlId>/crawldb exactly like
        CrawlDbReader.query's path convention. Paths are confined to
        data_root (see _confined)."""
        from nutch_spark.operators import stats

        crawl_id = body.get("crawlId")
        qtype = (body.get("type") or "").lower()
        if not crawl_id or not qtype:
            raise ValueError("crawlId and type are required")
        args = body.get("args") or {}
        db = self._read(self._confined(str(Path(crawl_id) / "crawldb")))
        if qtype == "stats":
            rows, _ = self._rows(stats.crawldb_stats(db), -1)
            return {"type": "stats", "result": rows}
        if qtype == "dump":
            df = stats.dump(
                db,
                status=args.get("status"),
                regex=args.get("regex"),
                jexl=args.get("expr"),
            )
            rows, truncated = self._rows(df, int(args.get("nrows", -1)))
            return {"type": "dump", "result": rows, "truncated": truncated}
        if qtype == "topn":
            n = int(args.get("topN", args.get("topn", 10)))
            rows, _ = self._rows(stats.top_n(db, n), n)
            return {"type": "topN", "result": rows}
        if qtype == "url":
            url = args.get("url")
            if not url:
                raise ValueError("url arg required for type=url")
            rows, _ = self._rows(stats.read_url(db, url), -1)
            return {"type": "url", "result": rows}
        raise ValueError(f"unsupported db query type: {qtype!r}")

    def fetchdb(self, frm: int, to: int) -> list[dict]:
        """DbResource.fetchDb (:76-101): inclusive [from, to] slice of
        the fetch-node registry; to=0 or past-the-end means all."""
        nodes = self.fetch_nodes
        if to == 0 or to > len(nodes):
            to = len(nodes)
        out = []
        for i in range(frm, to + 1):
            node = nodes.get(i)
            if node is None:
                continue
            out.append(
                {
                    "url": node.get("url"),
                    "status": node.get("status"),
                    "numOfOutlinks": len(node.get("outlinks") or []),
                    "childNodes": node.get("outlinks") or [],
                }
            )
        return out

    def register_fetch_nodes(self, nodes) -> None:
        with self.lock:
            base = len(self.fetch_nodes)
            for i, node in enumerate(nodes, start=base + 1):
                self.fetch_nodes[i] = dict(node)

    def reader_read(self, body: dict, q: dict):
        """ReaderResouce.performRead (:160-175): count, else
        slice(start, end), else head(nrows), else read-all — over the
        parquet path in ReaderConfig (our sequence-file equivalent),
        capped at MAX_READ_ROWS."""
        path = (body or {}).get("path")
        if not path:
            raise ValueError("path is required")
        df = self._read(self._confined(path))

        def qi(name, default):
            return int(q.get(name, [default])[0])

        count = q.get("count", ["false"])[0].lower() == "true"
        nrows, start, end = qi("nrows", -1), qi("start", -1), qi("end", 0)
        if count:
            return {"count": df.count()}
        if start > -1 and end > 0:
            rows, truncated = self._rows(df, end)
            return {"result": rows[start:end], "truncated": truncated}
        if nrows > -1:
            rows, truncated = self._rows(df, nrows)
            return {"result": rows, "truncated": truncated}
        rows, truncated = self._rows(df, -1)
        return {"result": rows, "truncated": truncated}

    # --- seeds --------------------------------------------------------
    def create_seed(self, body: dict) -> str:
        name = body.get("name") or f"seed-{int(time.time() * 1000)}"
        urls = [
            u["url"] if isinstance(u, dict) else str(u)
            for u in body.get("seedUrls", [])
        ]
        seed_dir = self.seed_root / name
        seed_dir.mkdir(parents=True, exist_ok=True)
        (seed_dir / "urls").write_text("".join(f"{u}\n" for u in urls))
        return str(seed_dir)


def make_handler(state: NutchServerState, server_holder: dict):
    class Handler(BaseHTTPRequestHandler):
        def log_message(self, *a):  # quiet
            pass

        def _json(self, obj, code: int = 200) -> None:
            body = json.dumps(obj, default=str).encode()
            self.send_response(code)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def _body(self) -> dict:
            n = int(self.headers.get("Content-Length") or 0)
            return json.loads(self.rfile.read(n) or b"{}")

        def do_GET(self) -> None:  # noqa: N802
            u = urlparse(self.path)
            parts = [p for p in u.path.split("/") if p]
            q = parse_qs(u.query)
            if parts == ["admin"]:
                return self._json(
                    {
                        "startDate": state.started_ms,
                        "configuration": sorted(state.configs),
                        "jobs": [w.info for w in state.jobs.values()],
                        "runningJobs": state.running(),
                    }
                )
            if parts == ["admin", "stop"]:
                force = q.get("force", ["false"])[0].lower() == "true"
                if state.running() and not force:
                    return self._json("Can't stop server: jobs running", 409)
                threading.Thread(
                    target=server_holder["server"].shutdown, daemon=True
                ).start()
                return self._json("Stopping in server!")
            if parts == ["db", "fetchdb"]:
                frm = int(q.get("from", ["0"])[0])
                to = int(q.get("to", ["0"])[0])
                return self._json(state.fetchdb(frm, to))
            if parts == ["reader", "link"]:
                # ReaderResouce.linkRead schema — field names verbatim
                return self._json(
                    {
                        "key_url": "string",
                        "timestamp": "int",
                        "score": "float",
                        "anchor": "string",
                        "linktype": "string",
                        "url": "string",
                    }
                )
            if parts == ["reader", "node"]:
                return self._json(
                    {
                        "key_url": "string",
                        "num_inlinks": "int",
                        "num_outlinks": "int",
                        "inlink_score": "float",
                        "outlink_score": "float",
                        "metadata": "string",
                    }
                )
            if parts == ["config"]:
                return self._json(sorted(state.configs))
            if len(parts) == 2 and parts[0] == "config":
                return self._json(state.configs.get(parts[1]))
            if len(parts) == 3 and parts[0] == "config":
                conf = state.configs.get(parts[1]) or {}
                return self._json(conf.get(parts[2]))
            if parts == ["job"]:
                crawl = q.get("crawlId", [None])[0]
                jobs = [
                    w.info
                    for w in state.jobs.values()
                    if crawl is None or w.info["crawlId"] == crawl
                ]
                return self._json(jobs)
            if len(parts) >= 2 and parts[0] == "job":
                worker = state.jobs.get(parts[1])
                if worker is None:
                    return self._json(f"job not found: {parts[1]}", 404)
                if len(parts) == 2:
                    return self._json(worker.info)
                if parts[2] == "stop":
                    return self._json(worker.signal("STOPPING"))
                if parts[2] == "abort":
                    return self._json(worker.signal("KILLED"))
            return self._json(f"no such resource: {u.path}", 404)

        def do_POST(self) -> None:  # noqa: N802
            u = urlparse(self.path)
            parts = [p for p in u.path.split("/") if p]
            try:
                body = self._body()
                if parts == ["job", "create"]:
                    return self._json(state.create_job(body))
                if len(parts) == 2 and parts[0] == "config":
                    state.configs[parts[1]] = {
                        str(k): str(v) for k, v in body.items()
                    }
                    return self._json(parts[1])
                if parts == ["seed", "create"]:
                    return self._json(state.create_seed(body))
                if parts == ["db", "crawldb"]:
                    try:
                        return self._json(state.db_query(body))
                    except Exception as exc:
                        if isinstance(exc, ValueError):
                            raise
                        return self._json(str(exc), 500)
                if (
                    len(parts) == 3
                    and parts[0] == "reader"
                    and parts[1] in ("sequence", "link", "node")
                    and parts[2] == "read"
                ):
                    q = parse_qs(u.query)
                    try:
                        return self._json(state.reader_read(body, q))
                    except ValueError:
                        raise
                    except Exception:
                        # performRead's catch arm: BAD_REQUEST "File
                        # not found" for unreadable paths
                        return self._json("File not found", 400)
            except ValueError as exc:
                return self._json(str(exc), 400)
            return self._json(f"no such resource: {u.path}", 404)

        def do_DELETE(self) -> None:  # noqa: N802
            parts = [p for p in urlparse(self.path).path.split("/") if p]
            if len(parts) == 2 and parts[0] == "config":
                if parts[1] == "default":
                    return self._json("cannot delete default config", 400)
                state.configs.pop(parts[1], None)
                return self._json(True)
            return self._json("no such resource", 404)

    return Handler


def make_server(
    port: int = 8081,
    seed_root: str | None = None,
    runner=None,
    data_root: str | None = None,
) -> ThreadingHTTPServer:
    state = NutchServerState(seed_root=seed_root, runner=runner, data_root=data_root)
    holder: dict = {}
    server = ThreadingHTTPServer(("127.0.0.1", port), make_handler(state, holder))
    holder["server"] = server
    server.nutch_state = state  # for tests/introspection
    return server


def main() -> int:
    import argparse

    ap = argparse.ArgumentParser(description="Nutch-equivalent REST job server")
    ap.add_argument("--port", type=int, default=8081)  # NutchServer default
    ap.add_argument("--seed-root", default=None)
    ap.add_argument(
        "--data-root",
        default=None,
        help="root directory /db and /reader parquet reads are confined "
        "to (default: the server's cwd)",
    )
    args = ap.parse_args()
    server = make_server(
        port=args.port, seed_root=args.seed_root, data_root=args.data_root
    )
    print(f"NutchServer listening on 127.0.0.1:{args.port}")
    try:
        server.serve_forever()
    except KeyboardInterrupt:
        pass
    return 0


if __name__ == "__main__":
    import sys

    sys.path.insert(0, str(Path(__file__).resolve().parent))
    sys.exit(main())
