"""Runs the package's HTTP server in its own process for the serve
workloads.

    python3 hbench/server_main.py --root STORE --jwks JWKS.json [--trace-out SPANS.json]

Prints ``PORT <n>`` once listening. The store uses the package
defaults (no auto-compaction, automatic lock provider). With
``--trace-out`` the handler entry points, the token verifier, the
store calls and the per-stream lock are wrapped in spans, and SIGUSR1
writes the spans to that file. SIGTERM stops the server.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import sys
import time
from contextlib import contextmanager

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from hbench.common import Tracer, wrap_method  # noqa: E402
from hbench.tokens import AUDIENCE, ISSUER  # noqa: E402
from hematite_spark.api import server as api_server  # noqa: E402
from hematite_spark.api.es384 import ES384Verifier  # noqa: E402
from hematite_spark.store import EventStore  # noqa: E402
from hematite_spark.store.locks import LockProvider, resolve_lock_provider  # noqa: E402

REQUEST_HEADER = "X-Bench-Request"


class TimedLocks(LockProvider):
    """The default lock provider, with the wait to enter recorded."""

    def __init__(self, inner: LockProvider, tracer: Tracer) -> None:
        self._inner = inner
        self._tracer = tracer

    @contextmanager
    def exclusive(self, stream_dir: str):
        t0 = time.perf_counter_ns()
        with self._inner.exclusive(stream_dir):
            self._tracer.record("store.locks.wait", t0, time.perf_counter_ns())
            yield


def instrument(tracer: Tracer) -> LockProvider:
    def request_id(handler):
        return handler.headers.get(REQUEST_HEADER)

    wrap_method(api_server._Handler, "do_GET", tracer, "api.server.handler", request_id)
    wrap_method(api_server._Handler, "do_POST", tracer, "api.server.handler", request_id)
    wrap_method(ES384Verifier, "__call__", tracer, "api.es384.verify")
    for name in ("append", "get_event", "query", "streams"):
        wrap_method(EventStore, name, tracer, f"store.store.{name}")
    return TimedLocks(resolve_lock_provider(None), tracer)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--root", required=True)
    ap.add_argument("--jwks", required=True)
    ap.add_argument("--trace-out", default="")
    args = ap.parse_args()

    with open(args.jwks) as f:
        jwks = json.load(f)
    tracer = Tracer() if args.trace_out else None
    locks = instrument(tracer) if tracer else None
    store = EventStore(None, args.root, lock_provider=locks)
    verifier = ES384Verifier(jwks, issuer=ISSUER, audience=AUDIENCE)
    httpd = api_server.HematiteServer(store, port=0, verifier=verifier)

    def stop(*_):
        raise SystemExit(0)

    signal.signal(signal.SIGTERM, stop)
    if tracer:
        signal.signal(signal.SIGUSR1, lambda *_: tracer.dump(args.trace_out))
    print(f"PORT {httpd.server_address[1]}", flush=True)
    try:
        httpd.serve_forever(poll_interval=0.05)
    finally:
        httpd.server_close()


if __name__ == "__main__":
    main()
