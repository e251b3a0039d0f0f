"""The olap workload: catalog queries from ``__spark_entry__.queries()``
over seeded tables, in two fixed families.

* ``scan``: single-pass scans, joins and aggregates;
* ``iterative``: queries that run eager jobs (checkpoints, size
  gates) while their plan is built.

Set-up is the session start plus warm-up passes: the first collects
every query's rows, which are compared with the query's DuckDB oracle
after the timers; the others let the JVM compile the hot paths, so the
timed passes do not speed up as they go. Timed passes then run each
query to a ``noop`` write until the run's seconds are used, and at
least ``MIN_PASSES`` times. An operation is one pass over both
families, its time the sum over queries of each query's median over
the passes. Between queries, outside the timers, the runner releases
checkpoints and asks the JVM for a GC.
"""

from __future__ import annotations

import gc
import os
import re
import time
from decimal import Decimal

from hbench import common, sparkenv

FAMILIES = {
    "scan": ["q1_pricing_summary", "es_stream_metadata"],
    "iterative": ["dedup_connected_components"],
}
WARM_PASSES = 2
MIN_PASSES = 5
GROUP_KEY = "spark.jobGroup.id"


class _Collected:
    """Rows already collected, in the shape ``oracle.compare`` reads."""

    def __init__(self, rows, columns) -> None:
        self.rows, self.columns = rows, columns

    def collect(self):
        return self.rows


def _tie_proof(tables_dir: str, sql: str, columns, rows) -> tuple[str | None, int]:
    """Re-run the oracle in exact decimal arithmetic. The generated
    DOUBLE columns hold two-decimal values, so as DECIMAL(18, 2) every
    sum is exact; each ``round`` is evaluated twice, once with an exact
    half rounded up and once down. A value that is no rounding tie
    comes out the same both times and Spark must match it; a value
    that is exactly half a unit may take either neighbour, because a
    float sum lands on either side of it depending on the order of the
    additions. Returns (mismatch or None, number of ties)."""
    import duckdb

    from hematite_spark.io import TABLES
    from hematite_spark.oracle import norm_val

    con = duckdb.connect()
    try:
        con.execute("SET threads = 1")  # the same plan yields the same row order
        con.execute("CREATE MACRO hb_hi(x, d) AS round(x + 0.000000001, d)")
        con.execute("CREATE MACRO hb_lo(x, d) AS round(x - 0.000000001, d)")
        for t in TABLES:
            path = os.path.join(tables_dir, f"{t}.parquet")
            cols = con.execute(f"DESCRIBE SELECT * FROM '{path}'").fetchall()
            money = [c for c, typ, *_ in cols if typ == "DOUBLE"]
            for c in money:
                lossy = con.execute(
                    f"SELECT count(*) FROM '{path}' WHERE CAST({c} AS DECIMAL(18, 2)) <> {c}"
                ).fetchone()[0]
                if lossy:
                    return f"{t}.{c} has values with more than two decimals", 0
            sel = ", ".join(
                f"CAST({c} AS DECIMAL(18, 2)) AS {c}" if c in money else c for c, *_ in cols
            )
            con.execute(f"CREATE VIEW {t} AS SELECT {sel} FROM '{path}'")
        hi = con.execute(re.sub(r"\bround\(", "hb_hi(", sql, flags=re.I))
        dcols = [d[0] for d in hi.description]
        hi_rows = hi.fetchall()
        lo_rows = con.execute(re.sub(r"\bround\(", "hb_lo(", sql, flags=re.I)).fetchall()
    finally:
        con.close()
    if sorted(dcols) != sorted(columns):
        return f"columns {sorted(columns)} != exact oracle {sorted(dcols)}", 0
    if not (len(rows) == len(hi_rows) == len(lo_rows)):
        return f"{len(rows)} rows, exact oracle {len(hi_rows)}/{len(lo_rows)}", 0

    def norm(v):
        return norm_val(float(v) if isinstance(v, Decimal) else v)

    s_order = sorted(range(len(columns)), key=lambda i: columns[i])
    d_order = sorted(range(len(dcols)), key=lambda i: dcols[i])
    cands = [[{norm(a[i]), norm(b[i])} for i in d_order] for a, b in zip(hi_rows, lo_rows)]
    ties = sum(len(c) > 1 for row in cands for c in row)
    unused = list(range(len(cands)))
    for r in rows:
        vals = [norm_val(r[i]) for i in s_order]
        hit = next((j for j in unused if all(v in c for v, c in zip(vals, cands[j]))), None)
        if hit is None:
            return f"row {vals} matches no exact oracle row", ties
        unused.remove(hit)
    return None, ties


def _release(spark) -> None:
    from hematite_spark.queries._shared import release_all_checkpoints

    gc.collect()
    release_all_checkpoints(spark)
    spark.sparkContext._jvm.System.gc()


def run(args, res) -> None:
    from hbench.datagen import make_tables
    from hematite_spark import oracle

    names_all = [n for ns in FAMILIES.values() for n in ns]
    phases = common.Phases()
    with common.work_dir("olap") as work:
        log_dir = sparkenv.configure(work, args.trace)
        tables_dir = os.path.join(work, "tables")
        make_tables(tables_dir, args.seed)
        import __spark_entry__ as entry

        queries, oracles = entry.queries(), entry.oracle_sql()
        phases.mark("datagen")

        spark, start_s = sparkenv.start_session()
        phases.mark("session")
        sc = spark.sparkContext
        try:
            # set-up: session + warm-up passes (first pass's rows kept
            # for the oracle)
            warm_rows = {}
            warm_s = 0.0
            for w in range(WARM_PASSES):
                for name in names_all:
                    sc.setJobGroup(f"hbench:warm{w}:{name}", name)
                    t0 = time.perf_counter()
                    df = queries[name](spark, tables_dir)
                    if w == 0:
                        warm_rows[name] = (df.collect(), df.columns)
                    else:
                        df.write.format("noop").mode("overwrite").save()
                    warm_s += time.perf_counter() - t0
                    del df
                    _release(spark)
            res.put("setup_s", start_s + warm_s, "s")
            res.put("session.start_s", start_s, "s")
            phases.mark("warm-up")

            # timed passes
            host = common.HostWindow()
            rss = common.TreeRssSampler().start()
            walls: dict[str, list[tuple[float, float]]] = {n: [] for n in names_all}
            kept: dict[str, list[tuple[int, float]]] = {n: [] for n in walls}
            passes: list[float] = []
            spent = 0.0
            while len(passes) < MIN_PASSES or spent < args.seconds:
                p = len(passes)
                pass_s = 0.0
                for fam, names in FAMILIES.items():
                    for name in names:
                        sc.setJobGroup(f"hbench:{fam}:{name}:{p}:build", name)
                        t0 = time.perf_counter()
                        df = queries[name](spark, tables_dir)
                        t1 = time.perf_counter()
                        sc.setJobGroup(f"hbench:{fam}:{name}:{p}:action", name)
                        df.write.format("noop").mode("overwrite").save()
                        t2 = time.perf_counter()
                        walls[name].append((t1 - t0, t2 - t1))
                        pass_s += t2 - t0
                        if args.trace:
                            kept[name].append(_retained(sc))
                        del df
                        _release(spark)
                passes.append(pass_s)
                spent += pass_s
            rss.stop()
            host_report = host.report()
            phases.mark("timed")
        finally:
            sparkenv.stop_session(spark)
        phases.mark("stop")

        med = {n: common.median(b + a for b, a in walls[n]) for n in names_all}
        n_queries = sum(len(v) for v in walls.values())
        res.attempted = n_queries
        res.put("throughput_per_s", n_queries / spent, "1/s")
        res.put("op_p50_ms", 1e3 * sum(med.values()), "ms")
        res.put("op_p95_ms", 1e3 * common.pct(passes, 95), "ms")
        rss.report(res)
        res.info("host", host_report)
        res.info("passes (s)", [round(x, 3) for x in passes])
        for fam, names in FAMILIES.items():
            res.info(f"{fam}_s (sum of per-query medians)", round(sum(med[n] for n in names), 4))
            for n in names:
                res.info(f"  {n} s", [round(b + a, 3) for b, a in walls[n]])

        # correctness: the first warm-up pass against the DuckDB oracle,
        # value for value as the package's own gate compares them
        con = oracle.duck_connection(tables_dir)
        for name, (rows, columns) in warm_rows.items():
            if args.plant_mismatch and name == FAMILIES["scan"][0]:
                rows = rows[1:]
            why = oracle.compare(_Collected(rows, columns), con, oracles[name])
            if why is not None:
                proof, ties = _tie_proof(tables_dir, oracles[name], columns, rows)
                if proof is None and ties:
                    res.info(f"{name} oracle", f"exact only up to {ties} half-unit rounding tie(s): {why}")
                    why = None
            res.check(why is None, f"{name}: {why}")
        con.close()
        phases.mark("checks")
        res.info("phase seconds", phases.laps)

        if args.trace:
            _layers(res, log_dir, walls, kept, len(passes))


def _retained(sc) -> tuple[int, float]:
    """Persisted RDDs left by the query just run, and their MB."""
    infos = sc._jsc.sc().getRDDStorageInfo()
    mb = sum(i.memSize() + i.diskSize() for i in infos) / 1e6
    return sc._jsc.getPersistentRDDs().size(), mb


def _layers(res, log_dir, walls, kept, n_passes) -> None:
    log = sparkenv.EventLog(log_dir)
    cores = os.cpu_count() or 1
    for fam, names in FAMILIES.items():
        def group(p, phase=None, fam=fam):
            g = p.get(GROUP_KEY, "")
            parts = g.split(":")
            return len(parts) == 5 and parts[1] == fam and (phase is None or parts[4] == phase)

        wall = sum(common.median(b + a for b, a in walls[n]) for n in names)
        tot = log.totals(log.select(lambda p: group(p)))
        pre = f"queries.{fam}."
        res.put(pre + "wall_s", wall, "s")
        res.put(pre + "build_s", sum(common.median(b for b, _ in walls[n]) for n in names), "s")
        res.put(pre + "action_s", sum(common.median(a for _, a in walls[n]) for n in names), "s")
        res.put(pre + "eager_jobs", len(log.select(lambda p: group(p, "build"))) / n_passes, "count")
        for k, unit in (("jobs", "count"), ("tasks", "count"), ("task_run_s", "s"),
                        ("task_cpu_s", "s"), ("gc_s", "s"), ("shuffle_write_mb", "MB"),
                        ("spill_mb", "MB")):
            res.put(pre + k, tot[k] / n_passes, unit)
        res.put(pre + "idle_share", 1.0 - (tot["task_run_s"] / n_passes) / (wall * cores), "share")
        res.put(pre + "checkpoints", sum(c for n in names for c, _ in kept[n]) / n_passes, "count")
        res.put(pre + "retained_mb", sum(mb for n in names for _, mb in kept[n]) / n_passes, "MB")
