"""The serve workloads: the package's HTTP server in its own process,
load from this process over keep-alive connections.

* ``serve-post-and-read``: closed loop, one client per core, each
  with its own tenant and token. An iteration makes a new stream,
  POSTs 100 single events, then makes 1,000 GETs: point reads of the
  new stream, 50-event pages, and point reads near position 50,000 of
  a 100,000-event stream loaded before the server boots.
* ``serve-multitenant``: an open loop at a fixed offered rate (each
  request timed from when it was due), then a closed-loop saturation
  segment. Single-event POSTs to a random stream of a tenant drawn
  from a skewed popularity over a population several times the
  verifier's token cache; a small share are stream listings. Before
  the timer the token cache is cycled through one clear-on-full.
"""

from __future__ import annotations

import bisect
import http.client
import json
import os
import random
import signal
import subprocess
import sys
import threading
import time

from hbench import common
from hbench.server_main import REQUEST_HEADER
from hbench.tokens import IdentityProvider

CLIENTS = os.cpu_count() or 4
BOOTS = 3  # set-up is repeated this many times; setup_s is the median

# serve-post-and-read
POSTS_PER_ITER = 100
GETS_PER_ITER = 1000
PAGE_SHARE = 0.10
BIG_SHARE = 0.10
BIG_EVENTS = 100_000
BIG_BATCH = 1000
BIG_CENTER = 50_000

# serve-multitenant
TENANTS = 4096  # the verifier caches 1,024 tokens
ZIPF_S = 1.4
STREAMS_PER_TENANT = 8
LIST_SHARE = 0.05
OPEN_RATE = 25.0  # offered requests/s in the open-loop segment
OPEN_SHARE = 0.25  # share of the run spent in the open loop
WARM_TENANTS = 16  # hottest tenants whose tokens the warm-up verifies
CACHE_MAX = 1024  # ES384Verifier's token cache, cleared whole when full
CACHE_FILL = 32  # tokens cached after its first clear when the timer starts

FLUSH_POLICY = "write + rename, no fsync; a process kill leaves the OS cache intact"


# ---------------------------------------------------------------- server


class Server:
    """One server process: spawn, wait until /health answers, stop."""

    def __init__(self, root: str, jwks_path: str, trace_out: str) -> None:
        cmd = [sys.executable, "-u", os.path.join("hbench", "server_main.py"),
               "--root", root, "--jwks", jwks_path]
        if trace_out:
            cmd += ["--trace-out", trace_out]
        self.trace_out = trace_out
        self.proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True)
        line = self.proc.stdout.readline()
        if not line.startswith("PORT "):
            self.kill()
            raise RuntimeError(f"server did not start: {line!r}")
        self.port = int(line.split()[1])
        deadline = time.monotonic() + 30
        while True:
            try:
                conn = http.client.HTTPConnection("127.0.0.1", self.port, timeout=5)
                conn.request("GET", "/health")
                resp = conn.getresponse()
                resp.read()
                conn.close()
                if resp.status == 200:
                    return
            except OSError:
                pass
            if time.monotonic() > deadline:
                self.kill()
                raise RuntimeError("server /health never answered")
            time.sleep(0.01)

    def dump_spans(self) -> list:
        self.proc.send_signal(signal.SIGUSR1)
        deadline = time.monotonic() + 30
        while not os.path.exists(self.trace_out):
            if time.monotonic() > deadline:
                raise RuntimeError("server never wrote its spans")
            time.sleep(0.02)
        with open(self.trace_out) as f:
            return json.load(f)

    def stop(self) -> None:
        if self.proc.poll() is None:
            self.proc.terminate()
        self._reap()

    def kill(self) -> None:
        if self.proc.poll() is None:
            self.proc.kill()
        self._reap()

    def _reap(self) -> None:
        try:
            self.proc.wait(timeout=20)
        except subprocess.TimeoutExpired:
            self.proc.kill()
            self.proc.wait()
        self.proc.stdout.close()


class Client:
    """One keep-alive connection. Every request carries a request id
    header so the traced server can join its spans to this RTT."""

    def __init__(self, port: int, name: str) -> None:
        self.port = port
        self.name = name
        self.n = 0
        self.conn = http.client.HTTPConnection("127.0.0.1", port, timeout=60)

    def request(self, method: str, path: str, token: str, body: bytes | None = None):
        """Returns (status, body, request_id, t_send_ns, t_done_ns)."""
        self.n += 1
        rid = f"{self.name}-{self.n}"
        headers = {"Authorization": f"Bearer {token}", REQUEST_HEADER: rid}
        if body is not None:
            headers["Content-Type"] = "application/json"
        t0 = time.perf_counter_ns()
        try:
            self.conn.request(method, path, body=body, headers=headers)
            resp = self.conn.getresponse()
            data = resp.read()
            status = resp.status
        except (OSError, http.client.HTTPException):
            self.conn.close()
            self.conn = http.client.HTTPConnection("127.0.0.1", self.port, timeout=60)
            status, data = 0, b""
        return status, data, rid, t0, time.perf_counter_ns()

    def close(self) -> None:
        self.conn.close()


def make_event(rng: random.Random, tenant: str, seq: int) -> dict:
    return {
        "specversion": "1.0",
        "type": "com.hbench.posted",
        "id": "%032x" % rng.getrandbits(128),
        "source": f"/hbench/{tenant}",
        "data": {"seq": seq},
    }


class Ledger:
    """What the load generator saw: per-request samples and every
    acknowledged append."""

    def __init__(self) -> None:
        self.lock = threading.Lock()
        self.samples: list[tuple] = []  # (kind, ms, ok, request_id)
        self.acks: list[tuple] = []  # (tenant, stream, revision, event)

    def add(self, kind: str, ms: float, ok: bool, rid: str) -> None:
        with self.lock:
            self.samples.append((kind, ms, ok, rid))

    def ack(self, tenant: str, stream: str, revision: int, event: dict) -> None:
        with self.lock:
            self.acks.append((tenant, stream, revision, event))


def post(client: Client, token: str, tenant: str, stream: str, event: dict, ledger: Ledger,
         t_due_ns: int | None = None) -> tuple[bool, str, int, int]:
    status, body, rid, t0, t1 = client.request(
        "POST", f"/streams/{stream}/events", token, json.dumps(event).encode()
    )
    ok = status == 201
    if ok:
        ledger.ack(tenant, stream, json.loads(body)["revision"] - 1, event)
    start = t0 if t_due_ns is None else t_due_ns
    ledger.add("append", (t1 - start) / 1e6, ok, rid)
    return ok, rid, t0, t1


def run_threads(targets) -> None:
    threads = [threading.Thread(target=t, daemon=True) for t in targets]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=120)
        if t.is_alive():
            raise RuntimeError("load thread did not finish")


# ------------------------------------------------------------ set-up


def boot(work: str, jwks_path: str, trace_out: str, warm_tokens: list[str]) -> tuple[Server, float]:
    """Boot a server and verify each warm-up token once. Returns the
    server and the seconds from spawn to the end of the warm-up."""
    t0 = time.perf_counter()
    server = Server(os.path.join(work, "store"), jwks_path, trace_out)
    client = Client(server.port, "warm")
    for tok in warm_tokens:
        status = client.request("GET", "/streams?sort=-revision", tok)[0]
        if status != 200:
            server.kill()
            raise RuntimeError(f"warm-up listing returned {status}")
    client.close()
    return server, time.perf_counter() - t0


def setup(work: str, idp: IdentityProvider, trace: bool, warm_tokens: list[str], res) -> Server:
    res.info("store settings", common.store_defaults())
    jwks_path = os.path.join(work, "jwks.json")
    with open(jwks_path, "w") as f:
        json.dump(idp.jwks, f)
    trace_out = os.path.join(work, "spans.json") if trace else ""
    times = []
    for i in range(BOOTS):
        server, secs = boot(work, jwks_path, trace_out, warm_tokens)
        times.append(secs)
        if i + 1 < BOOTS:
            server.stop()
    res.put("setup_s", common.median(times), "s")
    res.info("setup_s per boot", [round(t, 4) for t in times])
    return server


# ------------------------------------------------------------- checks


def check_store(server: Server, work: str, ledger: Ledger, tokens: dict[str, str],
                listed_tenants: list[str], extra_streams: dict, plant: bool, res) -> None:
    """Correctness outside the timers: a stale expected_revision gets
    409, listings match the acknowledged counts, then the server is
    killed and a fresh store on the same root must hold every
    acknowledged write at its revision with identical JSON."""
    from hematite_spark.store import EventStore

    per_stream: dict[tuple[str, str], dict[int, dict]] = {}
    for tenant, stream, rev, ev in ledger.acks:
        revs = per_stream.setdefault((tenant, stream), {})
        res.check(rev not in revs, f"revision {rev} acknowledged twice on {tenant}/{stream}")
        revs[rev] = ev
    for (tenant, stream), revs in per_stream.items():
        res.check(sorted(revs) == list(range(len(revs))), f"revision gap on {tenant}/{stream}")
    res.check(bool(per_stream), "no append was acknowledged")
    if plant and per_stream:
        # planted mismatch: expect a payload the server was never sent
        key = sorted(per_stream)[0]
        per_stream[key][0] = dict(per_stream[key][0], data={"seq": -1})

    client = Client(server.port, "check")
    if per_stream:
        tenant, stream = sorted(per_stream)[0]
        status = client.request(
            "POST", f"/streams/{stream}/events?expected_revision=0", tokens[tenant],
            json.dumps(make_event(random.Random(0), tenant, -2)).encode(),
        )[0]
        res.check(status == 409, f"stale expected_revision returned {status}, not 409")
    for tenant in listed_tenants:
        status, body, *_ = client.request("GET", "/streams?sort=-revision", tokens[tenant])
        rows = json.loads(body) if status == 200 else []
        res.check(status == 200, f"listing of {tenant} returned {status}")
        listed = {r["id"]: r["revision"] for r in rows}
        order = [r["revision"] for r in rows]
        res.check(order == sorted(order, reverse=True), f"listing of {tenant} not sorted by -revision")
        for (t, stream), acked in per_stream.items():
            if t == tenant:
                res.check(listed.get(stream) == len(acked),
                          f"listing says {tenant}/{stream} has {listed.get(stream)}, acked {len(acked)}")
    client.close()

    server.kill()
    res.info("flush policy", FLUSH_POLICY)
    t0 = time.perf_counter()
    store = EventStore(None, os.path.join(work, "store"))
    for tenant, stream in per_stream:
        store.revision(tenant, stream)
    res.info("reopen_s (fresh store, footers of every written stream)",
             round(time.perf_counter() - t0, 4))
    for (tenant, stream), revs in per_stream.items():
        got = []
        for start in range(0, len(revs), 1000):
            got.extend(store.query(tenant, stream, start=start, limit=1000))
        res.check(len(got) == len(revs), f"{tenant}/{stream}: {len(got)} events after restart, acked {len(revs)}")
        for ev in got:
            rev = ev.pop("_revision")
            if revs.get(rev) != ev:
                res.check(False, f"{tenant}/{stream}@{rev} reads back different JSON after restart")
                break
    listed_all: dict[str, dict] = {}
    for tenant in {t for t, _ in per_stream}:
        listed_all[tenant] = {s["id"]: s["revision"] for s in store.streams(tenant)}
    for (tenant, stream), revs in per_stream.items():
        res.check(listed_all[tenant].get(stream) == len(revs),
                  f"store listing of {tenant}/{stream} after restart differs from acked count")
    for (tenant, stream), n in extra_streams.items():
        res.check(store.revision(tenant, stream) == n, f"{tenant}/{stream} lost events")


# -------------------------------------------------------- per-layer


def layer_metrics(spans: list, ledger: Ledger, res) -> None:
    rtt = {rid: ms for _k, ms, ok, rid in ledger.samples if ok}
    timed = [s for s in spans if s[5] in rtt]
    by = {}
    for s in timed:
        by.setdefault(s[0], []).append(s)

    def durs(name):
        return [(s[2] - s[1]) / 1e6 for s in by.get(name, [])]

    handler = durs("api.server.handler")
    handler_by_rid = {s[5]: (s[2] - s[1]) / 1e6 for s in by.get("api.server.handler", [])}
    verify = durs("api.es384.verify")
    get_event_ids = {s[3] for s in by.get("store.store.get_event", [])}
    query = [(s[2] - s[1]) / 1e6 for s in by.get("store.store.query", []) if s[4] not in get_event_ids]
    res.put("api.server.handler_ms.p50", common.pct(handler, 50), "ms")
    res.put("api.server.handler_ms.p95", common.pct(handler, 95), "ms")
    res.put("api.server.self_ms.p50", common.pct(common.self_times_ms(timed, {"api.server.handler"}), 50), "ms")
    res.put("api.server.outside_handler_ms.p50",
            common.pct([rtt[r] - h for r, h in handler_by_rid.items()], 50), "ms")
    res.put("api.es384.verify_ms.mean", common.mean(verify), "ms")
    res.put("api.es384.verify_busy_share", sum(verify) / sum(handler) if handler else 0.0, "share")
    res.put("api.es384.slow_verify_share",
            sum(v > 1.0 for v in verify) / len(verify) if verify else 0.0, "share")
    res.put("store.store.append_ms.p50", common.pct(durs("store.store.append"), 50), "ms")
    res.put("store.store.append_ms.p95", common.pct(durs("store.store.append"), 95), "ms")
    res.put("store.store.get_event_ms.p50", common.pct(durs("store.store.get_event"), 50), "ms")
    res.put("store.store.get_event_ms.p95", common.pct(durs("store.store.get_event"), 95), "ms")
    res.put("store.store.query_ms.p50", common.pct(query, 50), "ms")
    res.put("store.store.streams_ms.p50", common.pct(durs("store.store.streams"), 50), "ms")
    res.put("store.locks.wait_ms.p95", common.pct(durs("store.locks.wait"), 95), "ms")


def store_shape(work: str, ledger: Ledger, streams: set, res) -> None:
    """Bytes stored per user byte over the streams written while timed,
    and file counts per stream on disk."""
    root = os.path.join(work, "store")
    stored = sum(common.dir_bytes(common.stream_dir(root, t, s)) for t, s in streams)
    user = sum(len(json.dumps(ev)) for *_k, ev in ledger.acks)
    ratio = stored / user if user else 0.0
    files = common.files_per_stream(root)
    res.info("bytes_per_user_byte", round(ratio, 3))
    res.put("store.store.bytes_per_user_byte", ratio, "ratio")
    res.put("store.store.files_per_stream.mean", common.mean(files), "count")
    res.put("store.store.files_per_stream.max", max(files, default=0), "count")


def report(ledger: Ledger, kinds: set[str], elapsed_s: float, host: dict, res) -> None:
    lat = [ms for k, ms, ok, _ in ledger.samples if ok and k in kinds]
    res.put("op_p50_ms", common.pct(lat, 50), "ms")
    res.put("op_p95_ms", common.pct(lat, 95), "ms")
    res.info("host", host)
    for kind in sorted({k for k, *_ in ledger.samples}):
        xs = [ms for k, ms, ok, _ in ledger.samples if ok and k == kind]
        res.info(f"{kind} latency ms (n={len(xs)})",
                 {"p50": round(common.pct(xs, 50), 3), "p95": round(common.pct(xs, 95), 3)})
    res.info("timed segment s", round(elapsed_s, 3))


# ---------------------------------------------------- post-and-read


def post_and_read(args, res) -> None:
    from hematite_spark.store import EventStore

    idp = IdentityProvider(args.seed)
    tenants = [f"reader-{i}" for i in range(CLIENTS)]
    tokens = {t: idp.token(t) for t in tenants}
    with common.work_dir("serve-post-and-read") as work:
        # data generation: the 100,000-event stream, once, then linked
        # into every tenant (identical files, identical revisions)
        rng = random.Random(f"big-{args.seed}")
        loader = EventStore(None, os.path.join(work, "store"))
        for start in range(0, BIG_EVENTS, BIG_BATCH):
            loader.append(tenants[0], "big",
                          [make_event(rng, tenants[0], start + i) for i in range(BIG_BATCH)])
        src = common.stream_dir(os.path.join(work, "store"), tenants[0], "big")
        for t in tenants[1:]:
            dst = common.stream_dir(os.path.join(work, "store"), t, "big")
            os.makedirs(dst)
            for f in os.listdir(src):
                if f.endswith(".parquet"):
                    os.link(os.path.join(src, f), os.path.join(dst, f))

        server = setup(work, idp, args.trace, list(tokens.values()), res)
        try:
            ledger = Ledger()
            host = common.HostWindow()
            t_start = time.perf_counter()
            deadline = t_start + args.seconds

            def client_loop(ci: int) -> None:
                tenant, token = tenants[ci], tokens[tenants[ci]]
                crng = random.Random(f"client-{args.seed}-{ci}")
                client = Client(server.port, f"c{ci}")
                it = 0
                while time.perf_counter() < deadline:
                    stream = f"s{ci}-{it}"
                    for i in range(POSTS_PER_ITER):
                        if time.perf_counter() >= deadline:
                            break
                        post(client, token, tenant, stream, make_event(crng, tenant, i), ledger)
                    for j in range(GETS_PER_ITER):
                        if time.perf_counter() >= deadline:
                            break
                        r = crng.random()
                        if r < PAGE_SHARE:
                            path, kind = f"/streams/{stream}/events?page[offset]={crng.randrange(POSTS_PER_ITER - 49)}&page[limit]=50", "page"
                        elif r < PAGE_SHARE + BIG_SHARE:
                            path, kind = f"/streams/big/events/{BIG_CENTER + crng.randrange(-500, 500)}", "big_read"
                        else:
                            path, kind = f"/streams/{stream}/events/{j % POSTS_PER_ITER}", "read"
                        status, body, rid, t0, t1 = client.request("GET", path, token)
                        ledger.add(kind, (t1 - t0) / 1e6, status == 200, rid)
                    it += 1
                client.close()

            with common.TreeRssSampler(server.proc.pid) as rss:
                run_threads([lambda ci=ci: client_loop(ci) for ci in range(CLIENTS)])
            elapsed = time.perf_counter() - t_start
            n_ok = sum(ok for _k, _ms, ok, _r in ledger.samples)
            res.attempted = len(ledger.samples)
            res.failed = len(ledger.samples) - n_ok
            res.put("throughput_per_s", n_ok / elapsed, "1/s")
            # single-event operations only: a 50-event page costs a
            # 50-file read, and mixing it in puts p95 on a mode boundary
            report(ledger, {"append", "read", "big_read"}, elapsed, host.report(), res)
            rss.report(res)
            spans = server.dump_spans() if args.trace else None
            check_store(server, work, ledger, tokens, tenants,
                        {(t, "big"): BIG_EVENTS for t in tenants}, args.plant_mismatch, res)
            written = {(t, s) for t, s, _r, _e in ledger.acks}
            store_shape(work, ledger, written, res)
            if args.trace:
                layer_metrics(spans, ledger, res)
        finally:
            server.kill()


# ------------------------------------------------------- multitenant


class Popularity:
    """Seeded Zipf-like tenant popularity: tenant k has weight
    1 / (k + 1) ** ZIPF_S."""

    def __init__(self) -> None:
        acc, self.cdf = 0.0, []
        for k in range(TENANTS):
            acc += 1.0 / (k + 1) ** ZIPF_S
            self.cdf.append(acc)

    def draw(self, rng: random.Random) -> int:
        return min(bisect.bisect_left(self.cdf, rng.random() * self.cdf[-1]), TENANTS - 1)


def cycle_ranks(pop: Popularity) -> list[int]:
    """The ranks that reach the verifier as cache misses while Zipf
    traffic runs until its cache has been cleared once and holds
    ``CACHE_FILL`` tokens again. A mirror of the cache follows the
    draws: a hit leaves a clear-on-full cache as it was, so sending
    only the misses brings the server's cache to the same state."""
    rng = random.Random("cache-cycle")
    cached = set(range(WARM_TENANTS))  # verified during set-up
    misses, cleared = [], False
    while not (cleared and len(cached) >= CACHE_FILL):
        k = pop.draw(rng)
        if k in cached:
            continue
        if len(cached) >= CACHE_MAX:
            cached.clear()
            cleared = True
        cached.add(k)
        misses.append(k)
    return misses


def multitenant(args, res) -> None:
    idp = IdentityProvider(args.seed)
    # the sequence of popularity ranks is the same for every seed, so
    # every run has the same pattern of token-cache misses; the seed
    # decides which tenant holds each rank, the key and the payloads
    tenants = [f"tenant-{k:04d}" for k in range(TENANTS)]  # indexed by rank
    random.Random(f"tenants-{args.seed}").shuffle(tenants)
    tokens = {t: idp.token(t) for t in tenants}
    pop = Popularity()
    open_s = args.seconds * OPEN_SHARE
    closed_s = args.seconds - open_s
    srng = random.Random("schedule")
    schedule = []
    for i in range(int(open_s * OPEN_RATE)):
        k = pop.draw(srng)
        schedule.append((k, srng.random() < LIST_SHARE, srng.randrange(STREAMS_PER_TENANT)))

    with common.work_dir("serve-multitenant") as work:
        server = setup(work, idp, args.trace, [tokens[t] for t in tenants[:WARM_TENANTS]], res)
        try:
            # before the timer, outside setup_s: Zipf traffic until the
            # token cache has cycled, so timed misses follow its bound
            # and clear-on-full policy rather than first touches
            misses = cycle_ranks(pop)
            failed = []

            def cycle_worker(wi: int) -> None:
                # a fresh connection per request: its first segments are
                # acknowledged at once, so no delayed-ACK stall
                for k in misses[wi::CLIENTS]:
                    client = Client(server.port, f"cycle{wi}")
                    status = client.request("GET", "/streams?sort=-revision", tokens[tenants[k]])[0]
                    client.close()
                    if status != 200:
                        failed.append(status)

            t_cycle = time.perf_counter()
            run_threads([lambda wi=wi: cycle_worker(wi) for wi in range(CLIENTS)])
            if failed:
                raise RuntimeError(f"cache warm-up listings returned {sorted(set(failed))}")
            res.info("token cache cycled before the timer",
                     {"verified": len(misses), "seconds": round(time.perf_counter() - t_cycle, 3)})
            host = common.HostWindow()

            def send(client, ledger, erng, k, listing, stream_no, due_ns=None) -> int:
                """One request; returns when it was sent."""
                tenant = tenants[k]
                if listing:
                    status, _b, rid, t0, t1 = client.request("GET", "/streams?sort=-revision", tokens[tenant])
                    ledger.add("list", (t1 - (t0 if due_ns is None else due_ns)) / 1e6, status == 200, rid)
                    return t0
                ev = make_event(erng, tenant, 0)
                return post(client, tokens[tenant], tenant, f"m{stream_no}", ev, ledger, due_ns)[2]

            # open loop: request i is due at t0 + i / rate, whatever
            # happened to the ones before it
            opened = Ledger()
            lock = threading.Lock()
            nxt = iter(range(len(schedule)))
            lateness: list[tuple[int, float]] = []
            t_open = time.perf_counter_ns() + 20_000_000

            def open_worker(wi: int) -> None:
                client = Client(server.port, f"o{wi}")
                erng = random.Random(f"open-{args.seed}-{wi}")
                while True:
                    with lock:
                        i = next(nxt, None)
                    if i is None:
                        break
                    due = t_open + int(i * 1e9 / OPEN_RATE)
                    wait = (due - time.perf_counter_ns()) / 1e9
                    if wait > 0:
                        time.sleep(wait)
                    sent = send(client, opened, erng, *schedule[i], due_ns=due)
                    with lock:
                        lateness.append((i, (sent - due) / 1e6))
                client.close()

            rss = common.TreeRssSampler(server.proc.pid).start()
            run_threads([lambda wi=wi: open_worker(wi) for wi in range(CLIENTS)])

            # closed loop: saturation throughput
            closed = Ledger()
            t_closed = time.perf_counter()
            deadline = t_closed + closed_s

            def closed_worker(wi: int) -> None:
                client = Client(server.port, f"k{wi}")
                crng = random.Random(f"closed-{wi}")
                erng = random.Random(f"closed-{args.seed}-{wi}")
                while time.perf_counter() < deadline:
                    k = pop.draw(crng)
                    send(client, closed, erng, k, crng.random() < LIST_SHARE,
                         crng.randrange(STREAMS_PER_TENANT))
                client.close()

            run_threads([lambda wi=wi: closed_worker(wi) for wi in range(CLIENTS)])
            closed_elapsed = time.perf_counter() - t_closed
            rss.stop()
            closed_ok = sum(ok for _k, _ms, ok, _r in closed.samples)

            merged = Ledger()
            merged.samples = opened.samples + closed.samples
            merged.acks = opened.acks + closed.acks
            res.attempted = len(merged.samples)
            res.failed = sum(not ok for _k, _ms, ok, _r in merged.samples)
            res.put("throughput_per_s", closed_ok / closed_elapsed, "1/s")
            # the gated latencies come from the closed loop: the open
            # loop's 5-8 ms requests swing by a quarter with 1-3 % CPU
            # steal, so they are printed for the reader only
            report(closed, {"append", "list"}, open_s + closed_elapsed, host.report(), res)
            late = [ms for _i, ms in sorted(lateness)]
            q = max(1, len(late) // 4)
            growing = common.mean(late[-q:]) > common.mean(late[:q]) + 50.0
            open_ms = [ms for _k, ms, ok, _r in opened.samples if ok]
            p95_open = common.pct(open_ms, 95)
            res.info("open loop", {
                "offered_per_s": OPEN_RATE, "sent": len(late),
                "latency_from_due_ms_p50": round(common.pct(open_ms, 50), 3),
                "latency_from_due_ms_p95": round(p95_open, 3),
                "lateness_ms_p50": round(common.pct(late, 50), 3),
                "lateness_ms_max": round(max(late, default=0.0), 3),
                "backlog_growing": growing})
            res.info("highest offered rate meeting p95 < 50 ms (rates tried: one)",
                     OPEN_RATE if (p95_open < 50.0 and not growing) else f"below {OPEN_RATE}")
            res.info("closed loop", {"clients": CLIENTS, "completed": closed_ok,
                                     "seconds": round(closed_elapsed, 3)})
            rss.report(res)
            spans = server.dump_spans() if args.trace else None

            acked = {}
            for t, s, _r, _e in merged.acks:
                acked[t] = acked.get(t, 0) + 1
            hot = sorted(acked, key=lambda t: -acked[t])[:WARM_TENANTS]
            check_store(server, work, merged, tokens, hot, {}, args.plant_mismatch, res)
            store_shape(work, merged, {(t, s) for t, s, _r, _e in merged.acks}, res)
            if args.trace:
                layer_metrics(spans, merged, res)
        finally:
            server.kill()
