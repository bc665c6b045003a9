"""Serve traffic: seeded request sequences and the generator that sends them.

Requests come from an endless seeded sequence: ops from a fixed mix
shuffled by the seed, search query texts drawn Zipf from a seeded pool
(so queries repeat within a session), document and status lookups and
chunks-for-doc on seeded doc ids, and uploads of corpus texts under
seeded filenames. The mix shares, the pool size and the Zipf exponent
are chosen, not taken from a measured trace; the run reports the share
of search requests that repeat an earlier query. One generator process
sends requests either closed-loop (each client sends its next request
when its previous reply arrives, for a fixed time) or open-loop (a
finite plan with Poisson due times, each request at its due time). It
uses at most `nproc` threads, with one connection each.
"""

from __future__ import annotations

import http.client
import itertools
import json
import re
import threading
import time
from collections.abc import Iterator
from dataclasses import dataclass, field

import numpy as np

# share of requests per op, chosen: search holds the median so p50 sits
# inside one op's latency mode rather than between two
MIX = {"search": 0.55, "lookup": 0.10, "status": 0.10, "chunks": 0.15,
       "upload": 0.10}  # shares of 20
POOL = 64      # distinct query texts
ZIPF_S = 1.1   # query popularity skew
K = 10


@dataclass
class Request:
    due: float  # seconds after the window opens
    op: str
    arg: dict
    rid: str | None = None  # set on traced requests
    sent: float = 0.0
    done: float = 0.0
    status: int = 0
    body: dict = field(default_factory=dict)
    error: str = ""


def query_pool(rng, texts: list[str]) -> list[str]:
    words = sorted({w for t in texts for w in re.findall(r"[a-z]{4,}", t.lower())})
    return [" ".join(rng.choice(words, size=rng.integers(2, 6)))
            for _ in range(POOL)]


def request_stream(seed: int, stream: int, docs: dict) -> Iterator[Request]:
    """Endless seeded requests, ops in blocks of 20 that each hold the
    exact MIX, so heavy ops cannot bunch up by chance; `stream`
    separates the warm-up, closed-loop and open-loop sequences of one
    seed."""
    rng = np.random.default_rng([seed, stream])
    doc_ids = sorted(docs)
    pool = query_pool(np.random.default_rng([seed, 0]),
                      [docs[d]["text"] for d in doc_ids[:500]])
    zipf = 1.0 / np.arange(1, POOL + 1) ** ZIPF_S
    zipf /= zipf.sum()
    block = [op for op, share in MIX.items() for _ in range(round(20 * share))]
    i = 0
    while True:
        for op in rng.permutation(block):
            if op == "search":
                arg = {"query": pool[rng.choice(POOL, p=zipf)], "k": K}
            elif op == "upload":
                src = int(rng.choice(doc_ids))
                arg = {"source": src, "filename": f"s{seed}-{stream}-u{i}.txt",
                       "payload": docs[src]["text"].encode("utf-8")}
            else:
                arg = {"doc_id": int(rng.choice(doc_ids))}
            yield Request(0.0, op, arg)
            i += 1


def make_plan(seed: int, stream: int, seconds: float, rate: float,
              docs: dict) -> list[Request]:
    """The first requests of `stream`, due at the arrivals of a Poisson
    process at `rate` over [0, seconds)."""
    rng = np.random.default_rng([seed, stream, 1])
    # a Poisson process conditioned on its count: sorted uniform times
    due = np.sort(rng.uniform(0.0, seconds, round(rate * seconds)))
    plan = list(itertools.islice(request_stream(seed, stream, docs), len(due)))
    for req, d in zip(plan, due):
        req.due = float(d)
    return plan


def send(port: int, req: Request) -> None:
    """One HTTP exchange; fills status/body/error and sent/done times."""
    headers = {"Content-Type": "application/json"}
    if req.rid:
        headers["X-Request-Id"] = req.rid
    a = req.arg
    if req.op == "search":
        method, path = "POST", "/api/v1/documents/search"
        payload = json.dumps({"query": a["query"], "k": a["k"]}).encode()
    elif req.op == "upload":
        method, path = "POST", f"/api/v1/documents/?filename={a['filename']}"
        payload = a["payload"]
    else:
        suffix = {"lookup": "", "status": "/status", "chunks": "/chunks"}[req.op]
        method, path, payload = "GET", f"/api/v1/documents/{a['doc_id']}{suffix}", None
    req.sent = time.perf_counter()
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=120)
    try:
        conn.request(method, path, body=payload, headers=headers)
        resp = conn.getresponse()
        req.status = resp.status
        req.body = json.loads(resp.read() or b"{}")
    except (OSError, ValueError, http.client.HTTPException) as exc:
        req.error = f"{type(exc).__name__}: {exc}"
    finally:
        conn.close()
        req.done = time.perf_counter()


def run_open_loop(port: int, plan: list[Request], threads: int) -> float:
    """Send each request at its due time (or as soon as a thread frees
    up); returns the window's perf_counter origin."""
    lock = threading.Lock()
    nxt = [0]
    t0 = time.perf_counter() + 0.05

    def worker():
        while True:
            with lock:
                i = nxt[0]
                nxt[0] += 1
            if i >= len(plan):
                return
            req = plan[i]
            wait = t0 + req.due - time.perf_counter()
            if wait > 0:
                time.sleep(wait)
            send(port, req)

    pool = [threading.Thread(target=worker) for _ in range(threads)]
    for th in pool:
        th.start()
    for th in pool:
        th.join()
    return t0


def run_closed_loop(port: int, requests: Iterator[Request], seconds: float,
                    clients: int = 1) -> list[Request]:
    """`clients` clients each take the next request and send it as soon
    as their previous reply arrives, until `seconds` have passed or
    `requests` ends; returns the requests sent, in the order taken."""
    end = time.perf_counter() + seconds
    lock = threading.Lock()
    sent: list[Request] = []

    def client():
        while time.perf_counter() < end:
            with lock:
                req = next(requests, None)
                if req is None:
                    return
                sent.append(req)
            send(port, req)

    pool = [threading.Thread(target=client) for _ in range(clients)]
    for th in pool:
        th.start()
    for th in pool:
        th.join()
    return sent
