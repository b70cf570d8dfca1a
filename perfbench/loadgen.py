"""Closed-loop HTTP load generator, run as its own process.

    python3 loadgen.py PLAN.json RESULT.json

The plan names the server, the client count, the run length and the
request pool with each request's expected answer (precomputed by the
DuckDB oracle). Each client owns one keep-alive connection and sends
one request at a time.

Every operation is recorded as ``[kind, start, end, status, outcome,
bytes, request_id]`` where ``outcome`` is ``ok``, ``error`` (non-2xx
other than an expected 404, a timeout or a broken connection) or
``wrong`` (an answer that disagrees with the oracle). Latency stops
when the body has been read; checking happens afterwards.
"""

from __future__ import annotations

import http.client
import json
import sys
import threading
import time
from urllib.parse import urlencode

TIMEOUT_S = 60.0


class Client:
    def __init__(self, host: str, port: int, name: str) -> None:
        self.host, self.port, self.name = host, port, name
        self.conn: http.client.HTTPConnection | None = None
        self.seq = 0

    def send(self, method: str, path: str, body: dict | None = None):
        """→ (status, payload bytes, request id); status 0 on a
        transport failure."""
        self.seq += 1
        rid = f"{self.name}-{self.seq}"
        headers = {"X-Request-Id": rid}
        data = None
        if body is not None:
            data = json.dumps(body).encode()
            headers["Content-Type"] = "application/json"
        for attempt in (0, 1):
            if self.conn is None:
                self.conn = http.client.HTTPConnection(self.host, self.port, timeout=TIMEOUT_S)
            try:
                self.conn.request(method, path, body=data, headers=headers)
                resp = self.conn.getresponse()
                payload = resp.read()
                if resp.will_close:
                    self.close()
                return resp.status, payload, rid
            except (http.client.RemoteDisconnected, ConnectionResetError, BrokenPipeError):
                # a keep-alive socket the server closed between requests
                self.close()
                if attempt:
                    return 0, b"", rid
            except (OSError, http.client.HTTPException):
                self.close()
                return 0, b"", rid
        return 0, b"", rid

    def close(self) -> None:
        if self.conn is not None:
            self.conn.close()
            self.conn = None


def request_of(spec: dict) -> tuple[str, str, dict | None]:
    path = spec["path"]
    if spec.get("query"):
        path += "?" + urlencode(spec["query"])
    return spec.get("method", "GET"), path, spec.get("body")


def check(spec: dict, status: int, payload: bytes) -> str:
    exp = spec["expect"]
    if status != exp.get("status", 200):
        return "wrong" if status in (200, 404) else "error"
    if status == 404:
        return "ok"
    try:
        doc = json.loads(payload)
    except ValueError:
        return "wrong"
    kind = exp["kind"]
    if kind == "item":
        props = doc.get("properties", {})
        same = (doc.get("id") == exp["id"] and doc.get("collection") == exp["collection"]
                and doc.get("bbox") == exp["bbox"] and props.get("datetime") == exp["datetime"]
                and props.get("cloud_cover") == exp["cloud_cover"])
        return "ok" if same else "wrong"
    if kind == "page":
        ids = [f.get("id") for f in doc.get("features", [])]
        has_next = any(link.get("rel") == "next" for link in doc.get("links", []))
        same = (doc.get("numMatched") == exp["matched"] and ids == exp["ids"]
                and doc.get("numReturned") == len(ids) and has_next == exp["next"])
        return "ok" if same else "wrong"
    if kind == "aggregate":
        aggs = {a["name"]: a for a in doc.get("aggregations", [])}
        total = aggs.get("total_count", {}).get("value")
        freq = aggs.get("datetime_frequency", {})
        buckets = sorted([b["key"], b["frequency"]] for b in freq.get("buckets", [])
                         if b["key"] is not None)
        buckets += [[None, b["frequency"]] for b in freq.get("buckets", []) if b["key"] is None]
        same = total == exp["total"] and buckets == exp["buckets"] and freq.get("overflow") is False
        return "ok" if same else "wrong"
    return "wrong"


def run_interactive(plan: dict, client: Client, index: int, deadline: float, out: list) -> None:
    """Each client walks the request sequence from its own offset (a
    quarter-block apart, so the clients are out of phase)."""
    pool = plan["pool"]
    pos = index * (len(pool) // plan["clients"] + 5)
    while time.perf_counter() < deadline:
        spec = pool[pos % len(pool)]
        pos += 1
        method, path, body = request_of(spec)
        t0 = time.perf_counter()
        status, payload, rid = client.send(method, path, body)
        t1 = time.perf_counter()
        out.append([spec["kind"], t0, t1, status, check(spec, status, payload), len(payload), rid])


def main() -> None:
    with open(sys.argv[1]) as f:
        plan = json.load(f)
    results: list[list] = []
    per_client: list[list] = [[] for _ in range(plan["clients"])]
    start = time.perf_counter()
    deadline = start + plan["seconds"]
    threads = []
    clients = [Client(plan["host"], plan["port"], f"c{i}") for i in range(plan["clients"])]
    for i, client in enumerate(clients):
        th = threading.Thread(target=run_interactive,
                              args=(plan, client, i, deadline, per_client[i]))
        th.start()
        threads.append(th)
    for th in threads:
        th.join()
    end = time.perf_counter()
    for client in clients:
        client.close()
    for ops in per_client:
        results.extend(ops)
    with open(sys.argv[2], "w") as f:
        json.dump({"start": start, "end": end, "ops": results}, f)


if __name__ == "__main__":
    main()
