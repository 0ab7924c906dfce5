"""Loopback REST stub for the rest_enrich workload.

Serves GET /item/<id>?iter=<n>&kind=<k> from a seeded plan: each id has a
service time, a planned status (200, 404, or 503-then-200) and a body.
A fixed pool of worker threads handles connections one request each
(`Connection: close`), so the stub's concurrency is bounded. Per-iteration
counts (statuses, requests, retries, in-flight time integral) are kept
for the checks and the per-layer metrics.
"""
import json
import queue
import socket
import threading
import time
from collections import defaultdict
from http.server import BaseHTTPRequestHandler, HTTPServer
from urllib.parse import parse_qs, urlparse


class IterStats:
    def __init__(self):
        self.status = defaultdict(int)
        self.requests = 0
        self.retries = 0
        self.unplanned = 0
        self.inflight = 0
        self.busy_integral = 0.0  # sum over time of in-flight count, s
        self.last_change = None


class Stub:
    def __init__(self, plan, workers):
        self.plan = plan
        self.lock = threading.Lock()
        self.iters = defaultdict(IterStats)
        self.attempts = defaultdict(int)  # (iter, id) -> attempts seen
        self.server = HTTPServer(("127.0.0.1", 0), self._handler(), bind_and_activate=True)
        # accept() polls so stop() is never stuck behind a blocked accept
        self.server.socket.settimeout(0.2)
        self.port = self.server.server_address[1]
        self.jobs = queue.Queue()
        self.workers = [threading.Thread(target=self._work, daemon=True)
                        for _ in range(workers)]
        self.acceptor = threading.Thread(target=self._accept, daemon=True)
        self.stopping = False

    def _handler(self):
        stub = self

        class H(BaseHTTPRequestHandler):
            protocol_version = "HTTP/1.0"

            def log_message(self, *a):
                pass

            def do_GET(self):
                u = urlparse(self.path)
                q = parse_qs(u.query)
                it = q.get("iter", ["?"])[0]
                key = u.path.rsplit("/", 1)[-1]
                entry = stub.plan.get(key)
                now = time.time()
                with stub.lock:
                    st = stub.iters[it]
                    st.requests += 1
                    stub._change(st, now, +1)
                    n = stub.attempts[(it, key)] = stub.attempts[(it, key)] + 1
                    if n > 1:
                        st.retries += 1
                if entry is None:
                    code, body = 500, b'{"error": "unplanned id"}'
                    with stub.lock:
                        st.unplanned += 1
                else:
                    time.sleep(entry["ms"] / 1000.0)
                    planned = entry["status"]
                    code = 404 if planned == 404 else (503 if planned == 503 and n == 1 else 200)
                    if code == 200:
                        body = json.dumps({"id": int(key), "kind": q.get("kind", [""])[0],
                                           "label": entry["label"],
                                           "score": entry["score"]}).encode()
                    else:
                        body = b'{"error": "planned"}'
                self.send_response(code)
                self.send_header("Content-Type", "application/json")
                self.send_header("Content-Length", str(len(body)))
                self.send_header("Connection", "close")
                self.end_headers()
                self.wfile.write(body)
                with stub.lock:
                    st.status[code] += 1
                    stub._change(st, time.time(), -1)

        return H

    def _change(self, st, now, delta):
        if st.last_change is not None:
            st.busy_integral += st.inflight * (now - st.last_change)
        st.last_change = now
        st.inflight += delta

    def _accept(self):
        while not self.stopping:
            try:
                conn, addr = self.server.socket.accept()
            except socket.timeout:
                continue
            except OSError:
                break
            conn.settimeout(None)
            self.jobs.put((conn, addr))

    def _work(self):
        while True:
            job = self.jobs.get()
            if job is None:
                return
            conn, addr = job
            try:
                self.server.finish_request(conn, addr)
            except Exception:  # noqa: BLE001 - a broken client must not kill the worker
                pass
            finally:
                try:
                    conn.shutdown(socket.SHUT_WR)
                except OSError:
                    pass
                conn.close()

    def start(self):
        for w in self.workers:
            w.start()
        self.acceptor.start()
        return self

    def stop(self):
        self.stopping = True
        self.acceptor.join()
        self.server.socket.close()
        for _ in self.workers:
            self.jobs.put(None)
        for w in self.workers:
            w.join()

    def snapshot(self):
        with self.lock:
            return {it: {"status": dict(st.status), "requests": st.requests,
                         "retries": st.retries, "unplanned": st.unplanned,
                         "busy_s": st.busy_integral}
                    for it, st in self.iters.items()}
