"""The STAC API workload ``api_interactive``.

The server is the repo's ``api.app.create_app`` on werkzeug's threaded
server (the one ``api.app.run()`` uses), in this process, with the Spark
driver on ``local[nproc]``. Load comes from ``loadgen.py`` in a child
process, so client-side JSON work never competes with the server for
this interpreter's GIL.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import random
import subprocess
import sys
import threading
import time

import loadgen
import layers as lm
import stac_catalog as sc
from spans import Tracer
from util import SETUPS, engine_cpu_s, finish, median, mix_latency, quantile

# requests per 19-request block, weights 35/20/20/15/5; the target mix also
# gives 5% to search_dt_scoped, which is probed apart (see KNOWN_DEFECT)
INTERACTIVE_MIX = (
    ("item", 7),
    ("search_bbox", 4),
    ("search_cql2", 4),
    ("items_page", 3),
    ("aggregate", 1),
)
INTERACTIVE_BLOCKS = 8
ABSENT_ITEM_SHARE = 0.10
# A datetime search on the instant-only collection answers HTTP 500 until
# operators/datetime_filter.py handles collections without interval
# columns. It is not in the timed mix, where every operation must be able
# to succeed; each run sends PROBES of it untimed and reports the outcome.
KNOWN_DEFECT = "search_dt_scoped"
PROBES = 2
ROUTE_METRICS = tuple(kind for kind, _ in INTERACTIVE_MIX)
MIX_LATENCY_WEIGHTS = {kind: float(n) for kind, n in INTERACTIVE_MIX}


def _iso(ts) -> str | None:
    if ts is None:
        return None
    return ts.astimezone(dt.timezone.utc).replace(tzinfo=None).isoformat() + "Z"


def _window(rng: random.Random, months: int) -> tuple[str, dt.datetime, dt.datetime]:
    """A ``months``-long window starting on a random month boundary."""
    first = rng.randrange(0, 60 - months)
    lo = dt.datetime(2019 + first // 12, 1 + first % 12, 1, tzinfo=dt.timezone.utc)
    last = first + months
    hi = dt.datetime(2019 + last // 12, 1 + last % 12, 1, tzinfo=dt.timezone.utc)
    text = lo.strftime("%Y-%m-%dT%H:%M:%SZ") + "/" + hi.strftime("%Y-%m-%dT%H:%M:%SZ")
    return text, lo, hi


def _page_expect(oracle: sc.Oracle, limit: int = 10, offset: int = 0, **kw) -> dict:
    matched, ids = oracle.page(limit=limit, offset=offset, **kw)
    return {"kind": "page", "matched": matched, "ids": ids, "next": matched > offset + limit}


def _block_order() -> list[str]:
    """The kinds of one 20-request block in smooth weighted round-robin
    order: every stretch of the sequence holds close to the nominal mix,
    so a short run's realized mix barely depends on where it stops."""
    total = sum(count for _, count in INTERACTIVE_MIX)
    credit = dict.fromkeys((kind for kind, _ in INTERACTIVE_MIX), 0)
    order = []
    for _ in range(total):
        for kind, count in INTERACTIVE_MIX:
            credit[kind] += count
        pick = max(credit, key=credit.get)
        credit[pick] -= total
        order.append(pick)
    return order


def interactive_pool(oracle: sc.Oracle, sizes: dict[str, int], seed: int) -> list[dict]:
    """Request sequence with seeded parameters, each request with its
    oracle answer; the kinds repeat ``_block_order()``."""
    rng = random.Random(seed)
    cids = list(sizes)
    return [_interactive_request(kind, rng, oracle, sizes, cids)
            for _ in range(INTERACTIVE_BLOCKS) for kind in _block_order()]


def probe_requests(oracle: sc.Oracle, sizes: dict[str, int], seed: int) -> list[dict]:
    """The known defect's requests, seeded apart from the timed pool."""
    rng = random.Random(f"{seed}-{KNOWN_DEFECT}")
    return [_interactive_request(KNOWN_DEFECT, rng, oracle, sizes, list(sizes))
            for _ in range(PROBES)]


def _interactive_request(kind, rng, oracle, sizes, cids) -> dict:
    if kind == "item":
        cid = rng.choice(cids)
        iid = f"{cid}-{rng.randrange(sizes[cid]):07d}"
        if rng.random() < ABSENT_ITEM_SHARE:
            # sorts between two real ids: the lookup has to read a row group
            return {"kind": kind, "path": f"/collections/{cid}/items/{iid}x",
                    "expect": {"status": 404}}
        row = oracle.item(cid, iid)
        return {"kind": kind, "path": f"/collections/{cid}/items/{iid}",
                "expect": {"kind": "item", "id": iid, "collection": cid, "bbox": row["bbox"],
                           "datetime": _iso(row["datetime"]), "cloud_cover": row["cloud_cover"]}}
    if kind == "search_bbox":
        w, s = rng.uniform(-175.0, 165.0), rng.uniform(-75.0, 65.0)
        bbox = [round(w, 3), round(s, 3), round(w + 10.0, 3), round(s + 10.0, 3)]
        text, lo, hi = _window(rng, 6)
        return {"kind": kind, "path": "/search",
                "query": {"bbox": ",".join(map(str, bbox)), "datetime": text, "limit": 10},
                "expect": _page_expect(oracle, collections=None, bbox=bbox, interval=(lo, hi))}
    if kind == "search_cql2":
        colls = rng.sample(cids, rng.choice((1, 2)))
        cap, plat = rng.randrange(5, 60), rng.choice(sc.PLATFORMS)
        field, desc = rng.choice((("cloud_cover", True), ("datetime", False)))
        order = f"{field} {'DESC' if desc else 'ASC'} NULLS LAST, id ASC"
        expect = _page_expect(oracle, collections=colls, order=order,
                              extra=("cloud_cover <= ? AND platform = ?", [cap, plat]))
        if rng.random() < 0.5:
            body = {"collections": colls, "limit": 10, "filter-lang": "cql2-json",
                    "filter": {"op": "and", "args": [
                        {"op": "<=", "args": [{"property": "cloud_cover"}, cap]},
                        {"op": "=", "args": [{"property": "platform"}, plat]}]},
                    "sortby": [{"field": field, "direction": "desc" if desc else "asc"}]}
            return {"kind": kind, "method": "POST", "path": "/search", "body": body,
                    "expect": expect}
        query = {"collections": ",".join(colls), "limit": 10, "filter-lang": "cql2-text",
                 "filter": f"cloud_cover <= {cap} AND platform = '{plat}'",
                 "sortby": ("-" if desc else "+") + field}
        return {"kind": kind, "path": "/search", "query": query, "expect": expect}
    if kind == "items_page":
        cid = rng.choice(cids)
        page = rng.randrange(0, 21)
        query = {"token": str(page * 10)} if page else {}
        return {"kind": kind, "path": f"/collections/{cid}/items", "query": query,
                "expect": _page_expect(oracle, collections=[cid], offset=page * 10)}
    if kind == "aggregate":
        colls = rng.sample(cids, 2)
        query = {"aggregations": "total_count,datetime_frequency", "collections": ",".join(colls)}
        total, buckets = oracle.month_buckets(colls)
        return {"kind": kind, "path": "/aggregate", "query": query,
                "expect": {"kind": "aggregate", "total": total, "buckets": buckets}}
    if kind == "search_dt_scoped":
        text, lo, hi = _window(rng, 6)
        return {"kind": kind, "path": "/search",
                "query": {"collections": sc.INSTANT_ONLY, "datetime": text, "limit": 10},
                "expect": _page_expect(oracle, collections=[sc.INSTANT_ONLY], interval=(lo, hi))}
    raise ValueError(kind)


# --------------------------------------------------------------------- server
class Server:
    """One set-up of the service: Spark session, catalog with its
    manifest indexes, the Flask app on werkzeug, warmed up.

    The first set-up of a run starts the session (and the JVM); later
    ones open a fresh session on the same context with
    ``newSession()``, so a repeat re-does everything the application
    builds but not the JVM launch."""

    def __init__(self, cat: dict, warm: list[dict], previous: "Server | None" = None) -> None:
        from werkzeug.serving import make_server

        from stac_fastapi_duckdb_spark.api.app import create_app
        from stac_fastapi_duckdb_spark.session import get_spark
        from stac_fastapi_duckdb_spark.sources.catalog import CollectionCatalog

        t0 = time.perf_counter()
        if previous is None:
            self.spark = get_spark("perfbench")
            self.spark.sparkContext.setLogLevel("ERROR")
        else:
            self.spark = previous.spark.newSession()
        t1 = time.perf_counter()
        self.catalog = CollectionCatalog(self.spark, cat["urls"], cat["docs"])
        for cid in cat["urls"]:
            self.catalog.items_df(cid)
            self.catalog.build_item_index(cid)
        t2 = time.perf_counter()
        self.app = create_app(self.catalog)
        self.httpd = make_server("127.0.0.1", 0, self.app, threaded=True)
        self.port = self.httpd.server_port
        self.thread = threading.Thread(target=self.httpd.serve_forever, daemon=True)
        self.thread.start()
        client = loadgen.Client("127.0.0.1", self.port, "warmup")
        for spec in warm:
            client.send(*loadgen.request_of(spec))
        client.close()
        t3 = time.perf_counter()
        self.timings = {"session_s": t1 - t0, "catalog_build_s": t2 - t1,
                        "warmup_s": t3 - t2, "setup_s": t3 - t0}

    def close(self) -> None:
        self.httpd.shutdown()
        self.httpd.server_close()
        self.thread.join()


def warm_requests(pool: list[dict]) -> list[dict]:
    """One request of every kind the workload sends."""
    seen: dict[str, dict] = {}
    for spec in pool:
        seen.setdefault(spec["kind"], spec)
    return list(seen.values())


def drive(server: Server, clients: int, pool: list[dict], seconds: float, workdir: str,
          tag: str) -> dict:
    """Run ``loadgen.py`` against the server → its recorded operations."""
    plan = {"host": "127.0.0.1", "port": server.port, "clients": clients, "seconds": seconds,
            "pool": pool}
    plan_path = os.path.join(workdir, f"plan-{tag}.json")
    out_path = os.path.join(workdir, f"ops-{tag}.json")
    with open(plan_path, "w") as f:
        json.dump(plan, f)
    here = os.path.dirname(os.path.abspath(__file__))
    subprocess.run([sys.executable, os.path.join(here, "loadgen.py"), plan_path, out_path],
                   check=True, timeout=seconds + 150)
    with open(out_path) as f:
        return json.load(f)


def summarize(result: dict) -> dict:
    """Client-side end-to-end numbers of one load segment."""
    ops = result["ops"]
    ok = [op for op in ops if op[4] == "ok"]
    lat = [(op[2] - op[1]) * 1000.0 for op in ok]
    window = result["end"] - result["start"]
    out = {
        "attempted": len(ops),
        "failed": len(ops) - len(ok),
        "wrong": sum(op[4] == "wrong" for op in ops),
        "errors_by_kind": {},
        "throughput_ops_s": len(ok) / window if window > 0 else 0.0,
        "latency_p50_ms": quantile(lat, 0.50),
        "latency_p95_ms": quantile(lat, 0.95),
        "latency_samples": len(lat),
    }
    for op in ops:
        if op[4] != "ok":
            out["errors_by_kind"][op[0]] = out["errors_by_kind"].get(op[0], 0) + 1
    per_kind = {kind: median([(op[2] - op[1]) * 1000.0 for op in ok if op[0] == kind])
                for kind in {op[0] for op in ok}}
    for kind in ROUTE_METRICS:
        out[f"{kind}_p50_ms"] = per_kind.get(kind, 0.0)
    out["mix_latency_ms"] = mix_latency(per_kind, MIX_LATENCY_WEIGHTS)
    return out


def run(args, workdir: str, cache: str, nproc: int) -> tuple[dict, dict, dict]:
    """One API run → (end-to-end metrics, per-layer metrics, report)."""
    with open(os.path.join(os.path.dirname(os.path.abspath(__file__)), "spec.json")) as f:
        size = json.load(f)["workloads"][args.workload]["catalog"]["items_per_collection"]
    cat = sc.build_catalog(cache, args.seed, size)
    oracle = sc.Oracle(cat["urls"])
    clients = min(4, nproc)
    pool = interactive_pool(oracle, cat["sizes"], args.seed)
    probes = probe_requests(oracle, cat["sizes"], args.seed)
    oracle.con.close()
    warm = warm_requests(pool)

    setups = []
    server = None
    for _ in range(SETUPS):
        if server is not None:
            server.close()
        server = Server(cat, warm, server)
        setups.append(server.timings)

    known = probe(server, probes)
    # a traced run drives the loop twice, untraced and then traced
    cpu_start = engine_cpu_s(server.spark)
    base = summarize(drive(server, clients, pool, args.seconds, workdir, "untraced"))
    base["cpu_ms_per_op"] = (engine_cpu_s(server.spark) - cpu_start) * 1000.0 \
        / (base["attempted"] - base["failed"])
    layers: dict = {}
    if args.trace:
        layers, traced = _traced_api(server, clients, pool, workdir, base, args.seconds)
        for k in ("attempted", "failed", "wrong"):
            base[k] += traced[k]
        for kind, n in traced["errors_by_kind"].items():
            base["errors_by_kind"][kind] = base["errors_by_kind"].get(kind, 0) + n
    server.close()
    base["wrong"] += known["outcomes"].count("wrong")
    return finish(server.spark, base, setups, layers,
                  {"clients": clients, "catalog_sizes": cat["sizes"], "known_defect": known})


def probe(server: Server, probes: list[dict]) -> dict:
    """Send the known defect's requests, untimed → their statuses and
    outcomes. ``open`` stays true while any of them fails with an error
    status; a delivered answer that disagrees with the oracle is wrong
    like any other."""
    client = loadgen.Client("127.0.0.1", server.port, "probe")
    statuses, outcomes = [], []
    for spec in probes:
        status, payload, _ = client.send(*loadgen.request_of(spec))
        statuses.append(status)
        outcomes.append(loadgen.check(spec, status, payload))
    client.close()
    return {"kind": KNOWN_DEFECT, "statuses": statuses, "outcomes": outcomes,
            "open": "error" in outcomes}


def _traced_api(server, clients, pool, workdir, base, seconds):
    """Traced segment: wrap the engine and the WSGI app, drive the same
    loop again → (per-layer metrics, the segment's summary)."""
    tracer = Tracer()
    tracer.install_engine()
    inner = server.app.wsgi_app

    def traced_wsgi(environ, start_response):
        rid = environ.get("HTTP_X_REQUEST_ID")
        tracer.set_request(rid)
        tracer.begin_group(rid)
        rec = tracer.begin("api", "handler")
        body = inner(environ, start_response)
        try:
            data = b"".join(body)
        finally:
            if hasattr(body, "close"):
                body.close()
        tracer.end(rec, {"bytes": len(data)})
        tracer.end_group(rid)
        tracer.set_request(None)
        return [data]

    server.app.wsgi_app = traced_wsgi
    tracer.start_groups(server.spark.sparkContext)
    try:
        result = drive(server, clients, pool, seconds, workdir, "traced")
    finally:
        tracer.finish_groups()
        server.app.wsgi_app = inner
        tracer.uninstall()
    traced = summarize(result)
    tracer.dump(os.path.join(workdir, "spans.json"))
    return lm.api_layers(tracer, result, traced, base), traced
