"""Feed server and event generator, run as one child process of the
benchmark so the generator's schedule never shares the interpreter lock
with the Spark driver's ``foreachBatch`` callbacks and listener.

The server is ``tests/feed_server.py`` (its ``FeedState`` log and GET
handler, unchanged, with the stub's default page of 100 events). This
module adds a bounded worker pool, per-GET counters, and the generator.
The process runs at most ``nproc`` threads: the control/generator
thread, the accept loop, and ``nproc - 2`` request handlers.

Control protocol, one JSON object per line on stdin, one reply per line
on stdout (the first line printed is ``{"url": ...}``):

  {"cmd": "live", "seed": s, "n": n, "subjects": k, "delete_frac": f}
      generate n aggregate events (deterministic in s) and keep them ready
  {"cmd": "publish", "rate": r}          publish the ready events, at r
      events/s on a fixed schedule, or all at once when r is 0
  {"cmd": "docs", "docs": [[subject, data, method], ...]}  make ready
  {"cmd": "stats"}                       server counters
  {"cmd": "quit"}

``publish`` replies with one ``[seq, scheduled, sent, subject, method,
data]`` row per event; times are ``time.time()`` seconds.
"""

from __future__ import annotations

import json
import os
import random
import re
import resource
import sys
import threading
import time
from concurrent.futures import ThreadPoolExecutor
from http.server import ThreadingHTTPServer
from urllib.parse import parse_qs, urlparse

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tests"))

import feed_server as fs  # noqa: E402

EVENT_TYPE = "org.example.aggregate"
_LAST_ID = re.compile(rb'"id": "(\d+)::')


def live_events(seed: int, n: int, subjects: int, delete_frac: float) -> list[list]:
    """An aggregate feed: subjects drawn from a skewed key space (low keys
    are hot, so most events update an existing subject) and about
    ``delete_frac`` DELETE tombstones. Deterministic in ``seed``."""
    rng = random.Random(seed)
    out = []
    for i in range(n):
        key = min(int(subjects ** rng.random()), subjects - 1)
        if rng.random() < delete_frac:
            out.append([str(key), None, "DELETE"])
        else:
            out.append([str(key), {"k": key, "v": i, "w": rng.randrange(1 << 30)}, None])
    return out


class Counters:
    """Per-GET counters kept at the server. A consumer is followed across
    GETs by its cursor: a GET whose ``lastEventId`` equals the position
    where an earlier response left a consumer continues that consumer."""

    def __init__(self):
        self.lock = threading.Lock()
        self.gets = self.empty_gets = self.failed_gets = 0
        self.events_served = self.bytes_served = 0
        self.server_s = 0.0
        self.gaps: list[float] = []
        self._chains: dict[str | None, list[float]] = {}

    def record(self, cursor, end, n_events, n_bytes, status, t0, t1):
        with self.lock:
            self.gets += 1
            self.server_s += t1 - t0
            self.bytes_served += n_bytes
            if status != 200:
                self.failed_gets += 1
                return
            self.events_served += n_events
            self.empty_gets += n_events == 0
            waiting = self._chains.get(cursor)
            if waiting:
                self.gaps.append(t0 - waiting.pop())
            self._chains.setdefault(end, []).append(t1)

    def snapshot(self) -> dict:
        with self.lock:
            return {
                "gets": self.gets,
                "empty_gets": self.empty_gets,
                "failed_gets": self.failed_gets,
                "events_served": self.events_served,
                "bytes_served": self.bytes_served,
                "server_s": self.server_s,
                "gaps": list(self.gaps),
                "maxrss_kb": resource.getrusage(resource.RUSAGE_SELF).ru_maxrss,
            }


class _CountingWriter:
    def __init__(self, raw):
        self.raw, self.n, self.body = raw, 0, b""

    def write(self, b):
        self.n += len(b)
        self.body = b
        return self.raw.write(b)

    def flush(self):
        self.raw.flush()


def make_handler(state: fs.FeedState, counters: Counters):
    base = type("BoundHandler", (fs._Handler,), {"state": state})

    class Handler(base):
        def send_response(self, code, message=None):
            self._status = code
            super().send_response(code, message)

        def do_GET(self):
            t0 = time.monotonic()
            self._status = 0
            self.wfile = _CountingWriter(self.wfile)
            cursor = parse_qs(urlparse(self.path).query).get("lastEventId", [None])[0]
            try:
                super().do_GET()
            finally:
                body = self.wfile.body
                n_events = body.count(b'"specversion"') if self._status == 200 else 0
                ids = _LAST_ID.findall(body) if n_events else []
                end = fs.make_id(int(ids[-1])) if ids else cursor
                counters.record(cursor, end, n_events, self.wfile.n, self._status,
                                t0, time.monotonic())
                self.wfile = self.wfile.raw

    return Handler


class PooledServer(ThreadingHTTPServer):
    """ThreadingHTTPServer with a fixed pool instead of a thread per
    connection, so the process never exceeds its thread budget."""

    def __init__(self, addr, handler, workers: int):
        self.request_queue_size = workers
        super().__init__(addr, handler)
        self.pool = ThreadPoolExecutor(max_workers=workers)

    def process_request(self, request, client_address):
        self.pool.submit(self.process_request_thread, request, client_address)

    def server_close(self):
        super().server_close()
        self.pool.shutdown(wait=True, cancel_futures=True)


def publish(state: fs.FeedState, events: list[list], rate: float) -> list[list]:
    """Append ``events`` on an open-loop schedule: event i is due at
    start + i / rate whatever the consumer is doing."""
    rows = []
    start = time.time() + 0.05
    for i, (subject, data, method) in enumerate(events):
        due = start + i / rate if rate else start
        delay = due - time.time()
        if delay > 0:
            time.sleep(delay)
        e = state.append(EVENT_TYPE, subject, data, method=method)
        rows.append([fs.seq_of(e["id"]), due, time.time(), subject, method, data])
    return rows


def main() -> None:
    state = fs.FeedState()
    counters = Counters()
    srv = PooledServer(("127.0.0.1", 0), make_handler(state, counters),
                       workers=max(1, len(os.sched_getaffinity(0)) - 2))
    accept = threading.Thread(target=srv.serve_forever, daemon=True)
    accept.start()
    out = sys.stdout
    out.write(json.dumps({"url": f"http://127.0.0.1:{srv.server_address[1]}/feed",
                          "page_size": fs.BATCH_SIZE}) + "\n")
    out.flush()
    ready: list[list] = []
    try:
        for line in sys.stdin:
            msg = json.loads(line)
            cmd = msg["cmd"]
            if cmd == "live":
                ready = live_events(msg["seed"], msg["n"], msg["subjects"], msg["delete_frac"])
                reply = {"n": len(ready)}
            elif cmd == "docs":
                ready = msg["docs"]
                reply = {"n": len(ready)}
            elif cmd == "publish":
                reply = {"rows": publish(state, ready, msg["rate"])}
                ready = []
            elif cmd == "stats":
                reply = counters.snapshot()
            elif cmd == "quit":
                break
            else:
                reply = {"error": f"unknown command {cmd!r}"}
            out.write(json.dumps(reply) + "\n")
            out.flush()
    finally:
        srv.shutdown()
        srv.server_close()
        accept.join(timeout=10)


if __name__ == "__main__":
    main()
