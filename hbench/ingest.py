"""The ingest-stream workload: a seeded backlog of CloudEvents NDJSON
files fed through ``streaming.stream_append_to_store`` into a fresh
store, one micro-batch per file.

Each file spreads its events over a fixed set of streams, and a share
of its events replay an earlier ``(source, id)`` of the same stream.
The backlog is fed into the source directory two files ahead of the
last finished batch until the run's seconds are used and at least
``MIN_BATCHES`` batches have finished; the query then drains what was
fed and stops.
"""

from __future__ import annotations

import json
import os
import random
import shutil
import time
from datetime import datetime

from hbench import common, sparkenv

STREAMS = 16
EVENTS_PER_FILE = 320
DUP_SHARE = 0.10
BACKLOG_FILES = 80
AHEAD = 2  # files fed beyond the last finished batch
WARM_FILES = 2  # warm-up micro-batches, into a throwaway store
MIN_BATCHES = 8  # timed micro-batches, even past the run's seconds
USER = "ingest"


def make_backlog(dirpath: str, seed: int, n_files: int, tag: str) -> list[str]:
    """Write ``n_files`` NDJSON files; returns their paths in feed order."""
    os.makedirs(dirpath, exist_ok=True)
    rng = random.Random(f"{tag}-{seed}")
    seen: dict[str, list[tuple[str, str]]] = {}
    order = 0
    paths = []
    base = time.time() - 10 * n_files
    for i in range(n_files):
        lines = []
        for _ in range(EVENTS_PER_FILE):
            stream = f"st{rng.randrange(STREAMS)}"
            prior = seen.setdefault(stream, [])
            if prior and rng.random() < DUP_SHARE:
                source, eid = prior[rng.randrange(len(prior))]
            else:
                source, eid = f"/hbench/ingest/{stream}", "%032x" % rng.getrandbits(128)
                prior.append((source, eid))
            order += 1
            lines.append(json.dumps({
                "user_id": USER, "stream_id": stream, "specversion": "1.0", "id": eid,
                "source": source, "type": "com.hbench.ingested",
                "data": json.dumps({"order": order}), "ingest_order": order,
            }))
        path = os.path.join(dirpath, f"b{i:05d}.json")
        with open(path, "w") as f:
            f.write("\n".join(lines) + "\n")
        # the file source takes the oldest file first
        os.utime(path, (base + 10 * i, base + 10 * i))
        paths.append(path)
    return paths


def expected_streams(paths: list[str]) -> dict[str, list[dict]]:
    """Per stream, the events a correct sink keeps: first occurrence of
    each (source, id), in ingest order."""
    out: dict[str, list[dict]] = {}
    seen: set[tuple[str, str, str]] = set()
    for path in paths:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                key = (ev["stream_id"], ev["source"], ev["id"])
                if key not in seen:
                    seen.add(key)
                    out.setdefault(ev["stream_id"], []).append(ev)
    return out


def start_query(spark, src: str, store, ckpt: str, trigger_seconds):
    from pyspark.sql import types as T

    from hematite_spark.streaming import stream_append_to_store

    schema = T.StructType([
        T.StructField("user_id", T.StringType()), T.StructField("stream_id", T.StringType()),
        T.StructField("specversion", T.StringType()), T.StructField("id", T.StringType()),
        T.StructField("source", T.StringType()), T.StructField("type", T.StringType()),
        T.StructField("data", T.StringType()), T.StructField("ingest_order", T.LongType()),
    ])
    df = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).json(src)
    return stream_append_to_store(df, store, ckpt, trigger_seconds=trigger_seconds)


def run(args, res) -> None:
    from hematite_spark.store import EventStore

    res.info("store settings", common.store_defaults())
    phases = common.Phases()
    with common.work_dir("ingest-stream") as work:
        log_dir = sparkenv.configure(work, args.trace)
        backlog = make_backlog(os.path.join(work, "backlog"), args.seed, BACKLOG_FILES, "backlog")
        warm = make_backlog(os.path.join(work, "warm-src"), args.seed, WARM_FILES, "warm")
        phases.mark("datagen")

        spark, start_s = sparkenv.start_session()
        phases.mark("session")
        try:
            # set-up: the session, then warm-up micro-batches into a
            # throwaway store (python workers, codegen, first jobs)
            t0 = time.perf_counter()
            wq = start_query(spark, os.path.dirname(warm[0]),
                             EventStore(spark, os.path.join(work, "warm-store")),
                             os.path.join(work, "warm-ckpt"), None)
            wq.awaitTermination(120)
            res.put("setup_s", start_s + time.perf_counter() - t0, "s")
            res.put("session.start_s", start_s, "s")
            phases.mark("warm-up")

            root = os.path.join(work, "store")
            store = EventStore(spark, root)
            src = os.path.join(work, "src")
            os.makedirs(src)
            fed = []

            def feed(n: int) -> None:
                while len(fed) < min(n, len(backlog)):
                    path = backlog[len(fed)]
                    os.rename(path, os.path.join(src, os.path.basename(path)))
                    fed.append(os.path.join(src, os.path.basename(path)))

            feed(AHEAD)
            host = common.HostWindow()
            rss = common.TreeRssSampler().start()
            query = start_query(spark, src, store, os.path.join(work, "ckpt"), 0)
            deadline = time.perf_counter() + args.seconds
            done = 0  # batches finished, as last seen

            def poll() -> None:
                nonlocal done
                last = query.lastProgress
                if last and last["numInputRows"]:  # idle triggers report no rows
                    done = max(done, last["batchId"] + 1)

            while time.perf_counter() < deadline or done < MIN_BATCHES:
                if time.perf_counter() > deadline + 120:
                    raise RuntimeError(f"only {done} micro-batches finished")
                poll()
                feed(done + AHEAD)
                time.sleep(0.05)
            poll()
            timed_batches = done  # batches past this ran after the timed segment
            rss.stop()
            host_report = host.report()
            phases.mark("timed")
            query.processAllAvailable()
            query.stop()
            phases.mark("drain")
            done_batches = [p for p in query.recentProgress
                            if p["numInputRows"] > 0 and p["batchId"] < timed_batches]
            query_id = query.id

            # replay one consumed file through a fresh checkpoint
            replay_src = os.path.join(work, "replay-src")
            os.makedirs(replay_src)
            shutil.copy(fed[len(fed) // 2], replay_src)
            before = {s: store.revision(USER, s) for s in (f"st{k}" for k in range(STREAMS))}
            rq = start_query(spark, replay_src, store, os.path.join(work, "replay-ckpt"), None)
            rq.awaitTermination(120)
            replayed = sum(p["numInputRows"] for p in rq.recentProgress)
            phases.mark("replay")
        finally:
            sparkenv.stop_session(spark)
        phases.mark("stop")

        # ---- metrics (timed segment only)
        trig = [p["durationMs"]["triggerExecution"] for p in done_batches]
        rows = sum(p["numInputRows"] for p in done_batches)
        first = datetime.fromisoformat(done_batches[0]["timestamp"])
        last = datetime.fromisoformat(done_batches[-1]["timestamp"])
        wall_s = (last - first).total_seconds() + trig[-1] / 1e3
        res.attempted = rows
        res.put("throughput_per_s", rows / wall_s, "1/s")
        res.put("op_p50_ms", common.pct(trig, 50), "ms")
        res.put("op_p95_ms", common.pct(trig, 95), "ms")
        rss.report(res)
        res.info("host", host_report)
        res.info("micro-batches", {"n": len(done_batches), "events": rows, "seconds": round(wall_s, 3),
                                   "trigger_ms": trig})

        # ---- correctness, outside the timers
        reopened = EventStore(None, root)
        expected = expected_streams(fed)
        if args.plant_mismatch:
            expected["st0"] = expected["st0"] + [expected["st0"][0]]
        stored_bytes = 0
        for stream in (f"st{k}" for k in range(STREAMS)):
            want = expected.get(stream, [])
            n = reopened.revision(USER, stream)
            res.check(n == len(want), f"{stream}: revision {n}, generated {len(want)} unique events")
            got = []
            for start in range(0, n, 1000):
                got.extend(reopened.query(USER, stream, start=start, limit=1000))
            res.check([e["_revision"] for e in got] == list(range(len(got))), f"{stream}: revision gap")
            keys = [(e["source"], e["id"]) for e in got]
            res.check(len(set(keys)) == len(keys), f"{stream}: a (source, id) repeats")
            res.check(keys == [(e["source"], e["id"]) for e in want], f"{stream}: events differ from the backlog")
            res.check(before[stream] == n, f"{stream}: replaying a batch appended {n - before[stream]} events")
            stored_bytes += common.dir_bytes(common.stream_dir(root, USER, stream))
        res.check(replayed > 0, "the replay batch read no rows")
        user_bytes = sum(
            len(json.dumps({k: ev[k] for k in ("specversion", "id", "source", "type")}
                           | {"data": json.loads(ev["data"])}))
            for evs in expected.values() for ev in evs
        )
        ratio = stored_bytes / user_bytes if user_bytes else 0.0
        res.info("bytes_per_user_byte", round(ratio, 3))
        files = common.files_per_stream(root)
        phases.mark("checks")
        res.info("phase seconds", phases.laps)

        if args.trace:
            res.put("store.store.bytes_per_user_byte", ratio, "ratio")
            res.put("streaming.append.files_per_stream.max", max(files, default=0), "count")
            durs = [p["durationMs"] for p in done_batches]
            add = [d.get("addBatch", 0) for d in durs]
            q = max(1, len(add) // 4)
            res.put("streaming.append.trigger_ms.p50", common.pct(trig, 50), "ms")
            res.put("streaming.append.add_batch_ms.p50", common.pct(add, 50), "ms")
            res.put("streaming.append.offsets_ms.p50",
                    common.pct([d.get("walCommit", 0) + d.get("commitOffsets", 0) for d in durs], 50), "ms")
            res.put("streaming.append.planning_ms.p50",
                    common.pct([d.get("queryPlanning", 0) for d in durs], 50), "ms")
            res.put("streaming.append.add_batch_growth",
                    common.mean(add[-q:]) / common.mean(add[:q]) if common.mean(add[:q]) else 0.0, "ratio")
            log = sparkenv.EventLog(log_dir)
            timed_ids = {str(p["batchId"]) for p in done_batches}
            jobs = log.select(lambda p: p.get("sql.streaming.queryId") == query_id
                              and p.get("streaming.sql.batchId") in timed_ids)
            tot = log.totals(jobs)
            res.put("streaming.append.jobs_per_batch", tot["jobs"] / len(done_batches), "count")
            res.put("streaming.append.task_cpu_s", tot["task_cpu_s"] / len(done_batches), "s")
