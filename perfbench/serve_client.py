"""Closed-loop HTTP clients for the refresh workload's serving batch, and
the check each response must pass. Run as its own process
(``python3 perfbench/serve_client.py``), so the clients' CPU and
interpreter lock stay out of the measured server; standard library only.
"""

from __future__ import annotations

import json
import random
import sys
import threading
import time
import urllib.error
import urllib.request

LIMITS = (10, 100, 1000, 10000)
N_CLIENTS = 2


def check_response(kind: str, table: str | None, limit: int | None, payload, expected: dict) -> str | None:
    """Why the response is wrong, or None. ``expected`` holds the served
    tables' sorted names, sorted columns and row counts."""
    if kind == "tables":
        if payload.get("tables") != expected["tables"]:
            return f"/tables returned {payload.get('tables')}"
        return None
    if sorted(payload.get("columns", ())) != expected["columns"][table]:
        return f"{kind} {table}: columns {payload.get('columns')}"
    if kind == "get_data":
        want = min(limit, expected["rows"][table])
        if len(payload.get("rows", ())) != want:
            return f"get_data {table} limit {limit}: {len(payload['rows'])} rows, want {want}"
    return None


def _one(rng: random.Random, base: str, expected: dict) -> tuple[str, float, str | None]:
    """Send one request of the mix: 80% POST /get_data (table uniform,
    limit from LIMITS), 10% GET /tables, 10% GET /columns/<t>."""
    x = rng.random()
    table = rng.choice(expected["tables"])
    limit = None
    if x < 0.8:
        kind, limit = "get_data", rng.choice(LIMITS)
        body = json.dumps({"table": table, "limit": limit}).encode()
        req = urllib.request.Request(f"{base}/get_data", data=body, method="POST")
    elif x < 0.9:
        kind, table = "tables", None
        req = urllib.request.Request(f"{base}/tables")
    else:
        kind = "columns"
        req = urllib.request.Request(f"{base}/columns/{table}")
    t0 = time.perf_counter()
    try:
        with urllib.request.urlopen(req, timeout=60) as resp:
            raw = resp.read()
        latency = time.perf_counter() - t0
        problem = check_response(kind, table, limit, json.loads(raw), expected)
    except (urllib.error.URLError, OSError, ValueError) as e:
        latency, problem = time.perf_counter() - t0, f"{kind} {table}: {e}"
    return kind, latency, problem


def run_clients(base: str, expected: dict, seed: str, n_requests: int) -> list:
    """N_CLIENTS closed-loop clients; each sends its next request when its
    last one returns, until they have sent ``n_requests`` between them.
    Returns ``(kind, latency_s, problem)`` per request."""
    results: list = []
    sent = [0]
    lock = threading.Lock()

    def client(k: int) -> None:
        rng = random.Random(f"{seed}:{k}")
        while True:
            with lock:
                if sent[0] >= n_requests:
                    return
                sent[0] += 1
            r = _one(rng, base, expected)
            with lock:
                results.append(r)

    threads = [threading.Thread(target=client, args=(k,)) for k in range(N_CLIENTS)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    return results


def main() -> None:
    """Client process: the first stdin line is ``{"base": url, "expected":
    {...}}``; each later line ``[seed, n_requests]`` runs one batch and
    answers with one stdout line, the JSON list of results. Exits at EOF."""
    setup = json.loads(sys.stdin.readline())
    for line in sys.stdin:
        seed, n_requests = json.loads(line)
        results = run_clients(setup["base"], setup["expected"], seed, n_requests)
        print(json.dumps(results), flush=True)


if __name__ == "__main__":
    main()
