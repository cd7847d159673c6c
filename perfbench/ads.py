"""``ads_dashboard``: one closed-loop client loading the publisher dashboard.

Each dashboard load starts a fresh ``serving.serve()`` shim, because the
shim caches every route's payload for its lifetime: a fresh shim stands
in for a dashboard read after the DWS tables changed, so every one of
the 24 routes executes its catalog query (15 distinct queries; the shim
caches by path, not by query).
"""

from __future__ import annotations

import hashlib
import http.client
import json
import math
import threading
import time

import duckdb
import numpy as np

import datagen
from flink_spark import serving
from flink_spark.registry import all_queries, oracles, release_persisted
from measure import median, tail

SCALE = 0.01        # ≈ TPC-H sf of the generated star schema
SECONDS_PER_LOAD = 10  # a run makes one dashboard load per 10 s of --seconds
RESTARTS = 8  # about 0.5 s each: a median of eight at little run time
# restarts time the dashboard's headline number, the same route every run
RESTART_ROUTE = "/gmall/realtime/trade/total"
DIRECT_PASSES = 3   # traced run: direct catalog passes per query


def canonical_hash(body: bytes) -> str:
    """Hash of a response with record lists in sorted order, so a query
    that returns the same rows in another order hashes the same."""
    def canon(v):
        if isinstance(v, dict):
            return {k: canon(x) for k, x in v.items()}
        if isinstance(v, list):
            items = [canon(x) for x in v]
            if items and all(isinstance(x, dict) for x in items):
                items.sort(key=lambda x: json.dumps(x, sort_keys=True))
            return items
        return v
    doc = canon(json.loads(body))
    return hashlib.sha256(json.dumps(doc, sort_keys=True).encode()).hexdigest()


def _cell(v):
    if hasattr(v, "isoformat"):
        return v.isoformat(timespec="milliseconds")
    return v


def _rowset(cols, rows):
    """Rows in column-name order, sorted on a float-rounded key."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_cell(r[i]) for i in order) for r in rows]
    return sorted(out, key=lambda t: repr(tuple(
        f"{x:.6e}" if isinstance(x, float) else x for x in t)))


def _same_rows(a, b) -> bool:
    """Equal row sets; floats may differ in the last bits between engines."""
    return len(a) == len(b) and all(
        len(x) == len(y) and all(
            math.isclose(u, v, rel_tol=1e-9, abs_tol=1e-12)
            if isinstance(u, float) and isinstance(v, float) else u == v
            for u, v in zip(x, y))
        for x, y in zip(a, b))


class Shim:
    """A fresh publisher shim on the benchmark's session."""

    def __init__(self, spark, data_dir):
        self.server = serving.serve(spark, data_dir)
        self.port = self.server.server_address[1]
        self.thread = threading.Thread(target=self.server.serve_forever,
                                       kwargs={"poll_interval": 0.05})
        self.thread.start()

    def get(self, path: str) -> tuple[int, bytes]:
        conn = http.client.HTTPConnection("127.0.0.1", self.port, timeout=120)
        try:
            conn.request("GET", path)
            resp = conn.getresponse()
            return resp.status, resp.read()
        finally:
            conn.close()

    def close(self) -> None:
        self.server.shutdown()
        self.server.server_close()
        self.thread.join()


def run(ctx) -> dict:
    tr = ctx.tracer
    res = {"attempted": 0, "failed": 0, "e2e": {}, "notes": []}

    def check(ok: bool, what: str) -> None:
        res["attempted"] += 1
        if not ok:
            res["failed"] += 1
            res["notes"].append(f"FAILED {what}")

    spark = ctx.start_session()
    data = f"{ctx.work}/ads"
    datagen.write_ads_tables(ctx.seed, SCALE, data)
    rng = np.random.default_rng([ctx.seed, 4])
    routes = sorted(serving.ENDPOINTS)
    catalog = all_queries()
    distinct = sorted({serving.ENDPOINTS[r][0] for r in routes})

    # warm-up 1: every distinct query once, checked against its oracle
    t_warm = time.time()
    t_oracle = 0.0  # the benchmark's own DuckDB work, not set-up
    con = duckdb.connect()
    for name in datagen.ADS_TABLES:
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{data}/{name}.parquet'")
    sql = oracles()
    for q in distinct:
        df = catalog[q].fn(spark, data)
        cols, rows = df.columns, df.collect()
        release_persisted()
        a = time.time()
        d = con.execute(sql[q])
        want = _rowset([c[0] for c in d.description], d.fetchall())
        check(_same_rows(_rowset(cols, rows), want), f"oracle {q}")
        t_oracle += time.time() - a
    con.close()

    # warm-up 2: one dashboard load; its payloads are the reference
    ref = {}
    shim = Shim(spark, data)
    try:
        for r in routes:
            status, body = shim.get(r)
            ok = status == 200 and json.loads(body)["status"] == 0
            check(ok, f"warm GET {r}")
            ref[r] = canonical_hash(body) if ok else None
    finally:
        shim.close()
    warm = time.time() - t_warm - t_oracle
    ctx.layers["session.warm_s"] = warm
    res["setup_s"] = ctx.session_ready_s + warm

    # timed: a fixed number of loads, each over all routes in seeded order
    loads = max(2, round(ctx.seconds / SECONDS_PER_LOAD))
    lat, payload_bytes = [], []
    t0 = time.time()
    for _ in range(loads):
        with tr.span("ads.load") as load_span:
            shim = Shim(spark, data)
            nbytes = 0
            try:
                for r in rng.permutation(routes):
                    a = time.time()
                    status, body = shim.get(r)
                    b = time.time()
                    tr.add(f"serving.get:{r}", a, b, load_span)
                    lat.append((b - a) * 1e3)
                    nbytes += len(body)
                    check(status == 200 and canonical_hash(body) == ref[r],
                          f"GET {r}")
            finally:
                shim.close()
        payload_bytes.append(nbytes)
    wall = time.time() - t0
    p50 = median(lat)
    tval, tpct, n = tail(lat)
    thr = loads * len(routes) / wall
    res["e2e"].update(latency_p50_ms=p50, latency_tail_ms=tval,
                      throughput_per_s=thr)
    res["notes"].append(f"latency_tail_ms is p{tpct:.1f} of {n} GETs "
                        f"({loads} loads)")

    if ctx.trace:
        _trace_layers(ctx, spark, catalog, distinct, routes, data,
                      payload_bytes)
        ctx.layers["trace.latency_p50_ms"] = p50
        ctx.layers["trace.throughput_per_s"] = thr

    # restarts: stop the session, start a new one and a fresh shim, time
    # until the first route is served again
    restart, r = [], RESTART_ROUTE
    for _ in range(RESTARTS):
        spark.stop()
        a = time.time()
        spark = ctx.start_session(timed=False)
        shim = Shim(spark, data)
        try:
            status, body = shim.get(r)
        finally:
            shim.close()
        restart.append(time.time() - a)
        check(status == 200 and canonical_hash(body) == ref[r],
              f"restart GET {r}")
    res["e2e"]["restart_s"] = median(restart)
    return res


def _trace_layers(ctx, spark, catalog, distinct, routes, data,
                  payload_bytes) -> None:
    """Per-layer numbers for plans and serving, timed from outside."""
    tr, L = ctx.tracer, ctx.layers
    sc = spark.sparkContext
    st = sc.statusTracker()
    build, execm = {q: [] for q in distinct}, {q: [] for q in distinct}
    for p in range(DIRECT_PASSES):
        for q in distinct:
            group = f"perfbench-{q}-{p}"
            sc.setJobGroup(group, group)
            with tr.span(f"plans.query:{q}") as parent:
                a = time.time()
                df = catalog[q].fn(spark, data)
                b = time.time()
                df.collect()
                c = time.time()
                release_persisted()
            sc.setLocalProperty("spark.jobGroup.id", None)
            tr.add(f"plans.build:{q}", a, b, parent)
            tr.add(f"plans.collect:{q}", b, c, parent)
            build[q].append((b - a) * 1e3)
            execm[q].append((c - b) * 1e3)
            if p == 0:
                jobs = st.getJobIdsForGroup(group)
                tasks = 0
                for j in jobs:
                    info = st.getJobInfo(j)
                    for s in info.stageIds if info else ():
                        si = st.getStageInfo(s)
                        tasks += si.numTasks if si else 0
                L[f"plans.jobs.{q}"] = len(jobs)
                L[f"plans.tasks.{q}"] = tasks
    for q in distinct:
        L[f"plans.build_ms.{q}"] = median(build[q])
        L[f"plans.exec_ms.{q}"] = median(execm[q])

    # jobs of one full load (handler threads run with no job group)
    before = set(st.getJobIdsForGroup(None))
    shim = Shim(spark, data)
    try:
        for r in routes:
            shim.get(r)
        jobs_load = len(set(st.getJobIdsForGroup(None)) - before)
        hits = {}
        for r in routes:  # repeated GETs: answered from the shim's cache
            a = time.time()
            shim.get(r)
            hits[r] = (time.time() - a) * 1e3
    finally:
        shim.close()
    L["serving.jobs_per_load"] = jobs_load
    L["serving.jobs_distinct_queries"] = sum(L[f"plans.jobs.{q}"]
                                            for q in distinct)
    L["serving.hit_ms"] = median(hits.values())
    L["serving.payload_bytes"] = median(payload_bytes)

    # what the layers account for: per route, cache-hit round trip plus
    # the query's build and collect, against the route's median GET
    per_route = {}
    for s in tr.spans:
        if s.name.startswith("serving.get:"):
            per_route.setdefault(s.name.split(":", 1)[1], []).append(s.dur * 1e3)
    got = sum(median(v) for v in per_route.values())
    acc = sum(hits[r] + L[f"plans.build_ms.{serving.ENDPOINTS[r][0]}"]
              + L[f"plans.exec_ms.{serving.ENDPOINTS[r][0]}"]
              for r in per_route)
    L["trace.unaccounted_frac"] = (got - acc) / got
