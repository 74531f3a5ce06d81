"""Local LLM stub: an OpenAI chat-completions endpoint on 127.0.0.1.

Each request waits a fixed service delay and gets a reply that is a pure
function of its prompt. A seeded share of prompts gets HTTP 500 on its
first attempt within a pass, which exercises the executor's retries.
The stub counts requests, failures and requests in flight; it serves at
most ``max_conns`` connections at once, the rest wait in the listen
queue as they would at a rate-limited API.
"""

from __future__ import annotations

import hashlib
import json
import threading
import time
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer


def reply_for(prompt: str) -> str:
    """The stub's deterministic completion for ``prompt``."""
    digest = hashlib.sha256(prompt.encode("utf-8")).hexdigest()[:16]
    return f"Stub summary {digest} of a {len(prompt)}-char prompt."


def fails_first(seed: int, prompt: str, share: float) -> bool:
    """Whether ``prompt`` is in the seeded share that fails once."""
    h = hashlib.sha256(f"{seed}:{prompt}".encode("utf-8")).digest()
    return int.from_bytes(h[:8], "big") / 2**64 < share


class _Server(ThreadingHTTPServer):
    daemon_threads = True

    def __init__(self, stub: "LLMStub", max_conns: int):
        self.stub = stub
        self._slots = threading.BoundedSemaphore(max_conns)
        super().__init__(("127.0.0.1", 0), _Handler)

    def process_request(self, request, client_address):
        self._slots.acquire()
        try:
            super().process_request(request, client_address)
        except BaseException:
            self._slots.release()
            raise

    def process_request_thread(self, request, client_address):
        try:
            super().process_request_thread(request, client_address)
        finally:
            self._slots.release()


class _Handler(BaseHTTPRequestHandler):
    def do_POST(self):  # noqa: N802 - http.server naming
        stub = self.server.stub
        body = json.loads(self.rfile.read(int(self.headers["Content-Length"])))
        prompt = body["messages"][-1]["content"]
        fail = stub._enter(prompt)
        try:
            time.sleep(stub.delay_s)
            if fail:
                payload, status = {"error": {"message": "injected"}}, 500
            else:
                payload = {"choices": [{"message": {
                    "role": "assistant", "content": reply_for(prompt)}}]}
                status = 200
            data = json.dumps(payload).encode("utf-8")
            self.send_response(status)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(data)))
            self.end_headers()
            self.wfile.write(data)
        finally:
            stub._leave()

    def log_message(self, format, *args):  # noqa: A002 - silence access log
        pass


class LLMStub:
    """Start with ``start()``, stop with ``stop()``; ``url`` is the
    chat-completions endpoint. ``begin_pass()`` starts a fresh pass:
    first-attempt failures apply again and the counters restart."""

    def __init__(self, seed: int, delay_s: float = 0.010,
                 fail_share: float = 0.02, max_conns: int = 4):
        self.seed = seed
        self.delay_s = delay_s
        self.fail_share = fail_share
        self.max_conns = max_conns
        self._lock = threading.Lock()
        self._server: _Server | None = None
        self._thread: threading.Thread | None = None
        self.begin_pass()

    # -- lifecycle -----------------------------------------------------
    def start(self) -> "LLMStub":
        self._server = _Server(self, self.max_conns)
        self._thread = threading.Thread(
            target=self._server.serve_forever, name="llm-stub", daemon=True
        )
        self._thread.start()
        return self

    def stop(self) -> None:
        if self._server is not None:
            self._server.shutdown()
            self._server.server_close()
            self._thread.join(timeout=30)
            self._server = self._thread = None

    @property
    def url(self) -> str:
        host, port = self._server.server_address[:2]
        return f"http://{host}:{port}/v1/chat/completions"

    # -- counters ------------------------------------------------------
    def begin_pass(self) -> None:
        with self._lock:
            self._attempted: set[str] = set()
            self.requests = 0
            self.failed_requests = 0
            self.in_flight = 0
            self.max_in_flight = 0
            self._t_last = time.perf_counter()
            self._busy_integral = 0.0  # in-flight request-seconds
            self._idle = 0.0  # seconds with nothing in flight

    def _advance(self, now: float) -> None:
        dt = now - self._t_last
        self._busy_integral += self.in_flight * dt
        if self.in_flight == 0:
            self._idle += dt
        self._t_last = now

    def _enter(self, prompt: str) -> bool:
        with self._lock:
            self._advance(time.perf_counter())
            self.requests += 1
            self.in_flight += 1
            self.max_in_flight = max(self.max_in_flight, self.in_flight)
            fail = (prompt not in self._attempted
                    and fails_first(self.seed, prompt, self.fail_share))
            self._attempted.add(prompt)
            if fail:
                self.failed_requests += 1
            return fail

    def _leave(self) -> None:
        with self._lock:
            self._advance(time.perf_counter())
            self.in_flight -= 1

    def snapshot(self) -> dict:
        """Counters since ``begin_pass()``; the in-flight figures cover
        the window from ``begin_pass()`` to now."""
        with self._lock:
            self._advance(time.perf_counter())
            return {
                "requests": self.requests,
                "failed_requests": self.failed_requests,
                "max_in_flight": self.max_in_flight,
                "busy_integral_s": self._busy_integral,
                "idle_s": self._idle,
            }
