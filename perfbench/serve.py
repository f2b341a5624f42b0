"""serve_mixed: a live `/api/v0` server over a seeded sf0.01 store, one
closed-loop client in the same process.

A cycle is CYCLE_UPDATES `/update` batches of UPDATE_LINES GTS lines
(new `bench.*` series and last-write-wins corrections of base
`events.*` points); after each update one `/fetch` of a written
series, one `/fetch` of a corrected base series and one `/exec`
(FETCH → BUCKETIZE → MAP) over one day of a base class that no update
touches; then `Store.checkpoint()`.  One server restart per run, after
the first checkpoint, rebuilds `make_server` on the same store
directory and session.  After the timed cycles one read of every
acknowledged point.  Every response is checked against the client's
own model of acknowledged writes: a stale or wrong read is a failed
operation.

serve_defects (not a BENCHMARK.json workload) runs the same sequence
with the restart in the middle of the first cycle, while buffers exist,
and `/exec` over a written series.  Both hit known store defects, so
it prints "correct": false; it exists to show them as counts."""

from __future__ import annotations

import http.client
import json
import os
import random
import statistics
import threading
import time
import urllib.parse

import pyarrow.parquet as pq

import datagen
import stats

SF = 0.01
# three short cycles rather than one long one (see NOTES.md, "Design
# limits"): the median cycle is taken over three, and the request
# latencies, which grow with the overlay depth, stay in a narrower band
CYCLE_UPDATES = 3
UPDATE_LINES = 100
NEW_LINES = 70  # per update, on bench.* series; the rest correct base points
BENCH_SERIES = [f"host=h{i:02d}" for i in range(10)]
BENCH_CLASS = "bench.load"
MIN_CYCLES = 3
DAY = 86_400_000_000
HOUR = 3_600_000_000
# the day the bench series are written into
DAY0 = datagen.EVENTS_T0_US + 9 * DAY  # 2024-01-10
# FETCH one day, hourly means, then a 5-bucket moving mean, as in
# examples/hourly_mean_smoothed.mc2; the FETCH range is (end - 24h, end],
# the exact extent of the 24 buckets
EXEC_SCRIPT = (
    "[ '{cls}' {{ {labels} }} {start} {end} ] FETCH\n"
    "[ SWAP bucketizer.mean {end} 3600000000 24 ] BUCKETIZE\n"
    "[ SWAP mapper.mean 2 2 0 ] MAP\n"
)


class Client:
    """One keep-alive-free HTTP client (the server closes each response)."""

    def __init__(self, port: int):
        self.port = port

    def request(self, method: str, path: str, body: str | None = None) -> tuple[int, dict, str]:
        conn = http.client.HTTPConnection("127.0.0.1", self.port, timeout=170)
        try:
            conn.request(method, path, body=body.encode() if body is not None else None)
            r = conn.getresponse()
            data = r.read().decode()
            return r.status, dict(r.getheaders()), data
        finally:
            conn.close()


def base_series(sf_dir: str) -> dict[tuple[str, str], dict[int, float]]:
    """The base store as the client knows it: (class, labels) → {tick: value}."""
    t = pq.read_table(f"{sf_dir}/events.parquet", columns=["ts", "user_id", "event_type", "value"])
    ts = t.column("ts").cast("int64").to_numpy()
    out: dict = {}
    for tick, uid, et, v in zip(ts, t.column("user_id").to_numpy(), t.column("event_type").to_pylist(),
                                t.column("value").to_numpy()):
        out.setdefault((f"events.{et}", f"user={uid}"), {})[int(tick)] = float(v)
    return out


def parse_fetch_text(body: str) -> dict[tuple[str, str], dict[int, float]]:
    out: dict = {}
    for line in body.splitlines():
        line = line.strip()
        if not line:
            continue
        head, _, value = line.rpartition(" ")
        tick = int(head.split("/", 1)[0])
        cls_labels = head.split(" ", 1)[1]
        cls, labels = cls_labels[:-1].split("{", 1)
        out.setdefault((cls, labels), {})[tick] = float(value)
    return out


def expected_exec(points: dict[int, float], end: int) -> list[tuple[int, float]]:
    """FETCH (end-24h, end] → BUCKETIZE mean (span 1h, 24 buckets ending
    at `end`, bucket b holds ticks in (b-1h, b]) → MAP mean over the 2
    buckets before and after each bucket."""
    start = end - 24 * HOUR
    sums: dict[int, list[float]] = {}
    for t, v in points.items():
        if start < t <= end:
            b = end - ((end - t) // HOUR) * HOUR
            sums.setdefault(b, []).append(v)
    ticks = sorted(sums)
    means = [sum(sums[b]) / len(sums[b]) for b in ticks]
    out = []
    for i, b in enumerate(ticks):
        win = means[max(0, i - 2): i + 3]
        out.append((b, sum(win) / len(win)))
    return out


def exec_result(body: str) -> dict[tuple[str, str], list[tuple[int, float]]]:
    """The series on top of the stack: (class, labels) → sorted (tick, value)."""
    stack = json.loads(body)
    top = stack[0] if stack else []
    series = top if isinstance(top, list) else [top]
    out: dict = {}
    for s in series:
        labels = ",".join(f"{k}={v}" for k, v in sorted(s.get("l", {}).items()))
        rows = out.setdefault((s.get("c"), labels), [])
        rows.extend((int(row[0]), float(row[-1])) for row in s.get("v", []))
    return {k: sorted(v) for k, v in out.items() if v}


def exec_ok(got: dict, want: dict) -> bool:
    return got.keys() == want.keys() and all(_close(got[k], want[k]) for k in want)


def _close(a: list[tuple[int, float]], b: list[tuple[int, float]]) -> bool:
    return len(a) == len(b) and all(
        ta == tb and abs(va - vb) <= 1e-9 * max(1.0, abs(vb)) for (ta, va), (tb, vb) in zip(a, b)
    )


class Model:
    """Acknowledged writes and the reads they imply."""

    def __init__(self, base: dict):
        self.base = base
        self.base_keys = sorted((c, l, t) for (c, l), pts in base.items() for t in pts)
        self.acked: dict[tuple[str, str, int], float] = {}

    def series(self, cls: str, labels: str) -> dict[int, float]:
        pts = dict(self.base.get((cls, labels), {}))
        for (c, l, t), v in self.acked.items():
            if c == cls and l == labels:
                pts[t] = v
        return pts


def _fmt(v: float) -> str:
    s = repr(float(v))
    return s if "." in s or "e" in s else s + ".0"


def make_batch(rng: random.Random, model: Model, used: set,
               base_keys: list[tuple[str, str, int]]) -> list[tuple[str, str, int, float]]:
    """NEW_LINES new points on the bench series, then corrections of
    points drawn from `base_keys`."""
    pts = []
    keys = set()
    while len(pts) < NEW_LINES:
        labels = rng.choice(BENCH_SERIES)
        tick = DAY0 + rng.randrange(0, 24 * 3600) * 1_000_000 + rng.randrange(1, 1_000_000)
        if (labels, tick) in used:
            continue
        used.add((labels, tick))
        pts.append((BENCH_CLASS, labels, tick, round(rng.uniform(0.0, 100.0), 3)))
    while len(pts) < UPDATE_LINES:
        cls, labels, tick = base_keys[rng.randrange(len(base_keys))]
        if (cls, labels, tick) in keys:
            continue
        keys.add((cls, labels, tick))
        pts.append((cls, labels, tick, round(rng.uniform(0.0, 500.0), 2)))
    return pts


def run(ctx, probe_defects: bool = False) -> dict:
    import shutil

    from run import setup_seconds

    ctx.start_spark()
    spark = ctx.spark
    from warp10_platform_spark import server
    from warp10_platform_spark.sources.tables import canonical_points

    def start_server(sf_dir: str, store_dir: str):
        srv = server.make_server(spark, sf_dir, store_dir)
        th = threading.Thread(target=srv.serve_forever, daemon=True, name="perfbench-server")
        th.start()
        ctx.servers.append(srv)
        return srv, Client(srv.server_address[1])

    def stop_server(srv) -> None:
        srv.shutdown()
        srv.server_close()
        ctx.servers.remove(srv)

    # process warm-up: the first /update of a process pays the parse and
    # write paths' JIT and codegen; a throwaway store takes it (an update
    # reads no base data, so the store needs no inputs)
    t_warm = time.perf_counter()
    srv, cli = start_server(ctx.path("warm"), ctx.path("warm-store"))
    status, _, _ = cli.request("POST", "/api/v0/update", f"{DAY0 + 1}// {BENCH_CLASS}{{host=warm}} 1.0\n")
    stop_server(srv)
    if status != 200:
        raise RuntimeError(f"warm-up /update returned {status}")
    shutil.rmtree(ctx.path("warm-store"), ignore_errors=True)
    ctx.layer["server.warmup_s"] = time.perf_counter() - t_warm

    sf_dir = ctx.path("data")
    store_dir = ctx.path("store")
    t0 = time.perf_counter()
    datagen.generate(sf_dir, ctx.seed, SF)
    ctx.layer["datagen.write_s"] = time.perf_counter() - t0
    t0 = time.perf_counter()
    canonical_points(spark, sf_dir)
    ctx.layer["sources.layout_build_s"] = time.perf_counter() - t0
    setup_s = setup_seconds()

    model = Model(base_series(sf_dir))
    rng = random.Random(ctx.seed)
    if probe_defects:
        # in the middle of the first cycle (after its 1st or 2nd update),
        # while buffers exist: the next /update overwrites buffer b000001
        restart_after = rng.randint(CYCLE_UPDATES // 2, CYCLE_UPDATES // 2 + 1)
    else:
        # after the first checkpoint, when the buffer is empty
        restart_after = CYCLE_UPDATES
    # /exec reads one class of the base data: FETCH reads the base tables,
    # not the store, so no update corrects a point of that class
    exec_class = f"events.{rng.choice(datagen.EVENT_TYPES)}"
    base_keys = [k for k in model.base_keys if k[0] != exec_class]

    hooks = _Hooks(ctx, spark, server, store_dir) if ctx.trace else None
    srv, cli = start_server(sf_dir, store_dir)
    lat: dict[str, list[float]] = {"update": [], "fetch": [], "exec": []}
    ckpt_s: list[float] = []
    cycles: list[float] = []
    attempted = failed = stale_exec = 0
    used: set = set()
    written_bench: list[str] = []
    corrected: list[tuple[str, str]] = []
    n_req = 0
    restart_s = 0.0

    def call(kind: str, method: str, path: str, body: str | None, cycle: int):
        nonlocal n_req
        n_req += 1
        rid = f"c{cycle}/{kind}{n_req}"
        if hooks:
            hooks.before()
        with ctx.span(f"http.{kind}", request=rid):
            t0 = time.perf_counter()
            out = cli.request(method, path, body)
            dt = time.perf_counter() - t0
        if hooks:
            hooks.after(kind)
        lat[kind].append(dt)
        return out

    def restart() -> None:
        nonlocal srv, cli, restart_s
        t0 = time.perf_counter()
        stop_server(srv)
        srv, cli = start_server(sf_dir, store_dir)
        restart_s = time.perf_counter() - t0

    def fetch_ok(cls: str, labels: str, cycle: int) -> bool:
        sel = urllib.parse.quote(f"{cls}{{{labels}}}")
        status, _, body = call("fetch", "GET", f"/api/v0/fetch?selector={sel}&format=text", None, cycle)
        if status != 200:
            return False
        got = parse_fetch_text(body).get((cls, labels), {})
        return got == model.series(cls, labels)

    t_end = time.perf_counter() + ctx.seconds
    cycle = 0
    while cycle < MIN_CYCLES or time.perf_counter() < t_end:
        tc = time.perf_counter()
        for u in range(CYCLE_UPDATES):
            batch = make_batch(rng, model, used, base_keys)
            body = "".join(f"{t}// {c}{{{l}}} {_fmt(v)}\n" for c, l, t, v in batch)
            status, headers, _ = call("update", "POST", "/api/v0/update", body, cycle)
            attempted += 1
            if status == 200 and headers.get("X-Warp10-Ingested") == str(len(batch)):
                for c, l, t, v in batch:
                    model.acked[(c, l, t)] = v
                for c, l, t, v in batch:
                    if c == BENCH_CLASS and l not in written_bench:
                        written_bench.append(l)
                corrected.extend((c, l) for c, l, t, v in batch if c != BENCH_CLASS)
            else:
                failed += 1
            # reads: a written series, a corrected base series, /exec
            w = rng.choice(written_bench)
            attempted += 2
            failed += not fetch_ok(BENCH_CLASS, w, cycle)
            c, l = rng.choice(corrected)
            failed += not fetch_ok(c, l, cycle)
            if probe_defects:
                k, v = w.split("=", 1)
                cls, labels, end = BENCH_CLASS, f"'{k}' '{v}'", DAY0 + DAY
                series = [(BENCH_CLASS, w)]
            else:
                cls, labels = exec_class, ""
                end = datagen.EVENTS_T0_US + rng.randint(1, 30) * DAY
                series = [key for key in model.base if key[0] == exec_class]
            want = {key: expected_exec(model.series(*key), end) for key in series}
            want = {key: rows for key, rows in want.items() if rows}
            script = EXEC_SCRIPT.format(cls=cls, labels=labels, start=end - DAY + 1, end=end)
            status, _, body = call("exec", "POST", "/api/v0/exec", script, cycle)
            attempted += 1
            if status != 200 or not exec_ok(exec_result(body), want):
                failed += 1
                stale_exec += status == 200
            if probe_defects and cycle == 0 and u + 1 == restart_after:
                restart()
        store = srv.RequestHandlerClass.store
        attempted += 1
        t0 = time.perf_counter()
        try:
            with ctx.span("store.checkpoint", request=f"c{cycle}/checkpoint"):
                store.checkpoint()
        except Exception as e:  # noqa: BLE001 — counted as a failed operation
            failed += 1
            print(f"checkpoint failed: {type(e).__name__}: {e}"[:500], flush=True)
        ckpt_s.append(time.perf_counter() - t0)
        cycles.append(time.perf_counter() - tc)
        if hooks:
            hooks.end_cycle()
        if not probe_defects and cycle == 0:
            restart()
        cycle += 1

    # final read of every acknowledged point, in one fetch of all series
    attempted += 1
    status, _, body = cli.request("GET", f"/api/v0/fetch?selector={urllib.parse.quote('~.*{}')}&format=text")
    got = parse_fetch_text(body) if status == 200 else {}
    observed = {(c, l, t): got.get((c, l), {}).get(t) for (c, l, t) in model.acked}
    lost = stats.lost_points(model.acked, observed)
    failed += status != 200 or lost > 0
    stop_server(srv)

    all_ops = lat["update"] + lat["fetch"] + lat["exec"]
    tail, tail_p = stats.tail(all_ops, n_design=MIN_CYCLES * CYCLE_UPDATES * 4)
    report = {
        "op_tail_pct": tail_p,
        "checkpoint_s": statistics.median(ckpt_s),
        "lost_points": lost,
        "stale_exec_reads": stale_exec,
        "acknowledged_points": len(model.acked),
        "cycles": len(cycles),
        "restart_after_update": restart_after,
        "restart_s": restart_s,
    }
    units = {"op_tail_pct": "pct", "checkpoint_s": "s", "lost_points": "count", "stale_exec_reads": "count",
             "acknowledged_points": "count", "cycles": "count", "restart_after_update": "count", "restart_s": "s"}
    for kind, xs in lat.items():
        t, p = stats.tail(xs, n_design=MIN_CYCLES * CYCLE_UPDATES * (2 if kind == "fetch" else 1))
        report[f"{kind}_p50_ms"] = stats.p50(xs) * 1e3
        report[f"{kind}_tail_ms"] = t * 1e3
        report[f"{kind}_tail_pct"] = p
        units.update({f"{kind}_p50_ms": "ms", f"{kind}_tail_ms": "ms", f"{kind}_tail_pct": "pct"})
    layer = ctx.layer
    layer["store.lost_points"] = lost
    layer["store.checkpoint_s"] = report["checkpoint_s"]
    for kind in lat:
        layer[f"server.{kind}_p50_ms"] = report[f"{kind}_p50_ms"]
        layer[f"server.{kind}_tail_ms"] = report[f"{kind}_tail_ms"]
    layer["run.failed_frac"] = stats.failed_frac(attempted, failed)
    detail = hooks.finish() if hooks else {}
    return {
        "e2e": {
            "setup_s": setup_s,
            "first_pass_s": cycles[0],
            "pass_s": statistics.median(cycles),
            "op_p50_ms": stats.p50(all_ops) * 1e3,
            "op_tail_ms": tail * 1e3,
        },
        "report": report,
        "report_units": units,
        "attempted": attempted,
        "failed": failed,
        "detail": detail,
    }


class _Hooks:
    """Traced-run instrumentation of the serving path: wraps the store's
    read/write/compaction entry points, the GTS text parser, the
    WarpScript evaluator and the /exec renderer from outside the package,
    and reads Spark's counters around each request."""

    def __init__(self, ctx, spark, server, store_dir: str):
        from pyspark.sql import DataFrameWriter

        import warp10_platform_spark.__main__ as cli_main
        from tracing import SparkProbe, Tracer
        from warp10_platform_spark.sources import gts_text
        from warp10_platform_spark.warpscript import WarpScriptStack

        self.ctx = ctx
        self.tracer = ctx.tracer = Tracer()
        self.probe = SparkProbe(spark)
        self.requests: list[dict] = []
        self.plan_by_depth: dict[int, int] = {}
        self.cycle_counters: list[dict] = []
        self._cycle_jvm = self.probe.jvm_counters()
        buf = os.path.join(store_dir, "buffer")

        def points_after(rec, df):
            depth = sum(os.path.exists(os.path.join(buf, d, "_SUCCESS")) for d in os.listdir(buf))
            nodes = len(df._jdf.queryExecution().analyzed().numberedTreeString().splitlines())
            rec["attrs"].update(depth=depth, plan_nodes=nodes)
            self.plan_by_depth.setdefault(depth, nodes)

        tr = self.tracer
        tr.wrap(server.Store, "points", "store.points", after=points_after)
        tr.wrap(server.Store, "append_update", "store.append_update")
        tr.wrap(gts_text, "parse", "gts_text.parse")
        tr.wrap(DataFrameWriter, "parquet", "spark.write_parquet")
        tr.wrap(WarpScriptStack, "exec", "warpscript.exec")
        tr.wrap(cli_main, "_jsonable", "render.jsonable")

    def before(self) -> None:
        self.probe.sql_counters()  # attribute nothing earlier to this request

    def after(self, kind: str) -> None:
        rec = {"kind": kind, "req": self.tracer.spans[-1]["req"] if self.tracer.spans else None}
        rec.update(self.probe.sql_counters(with_jobs=True))
        self.requests.append(rec)

    def end_cycle(self) -> None:
        now = self.probe.jvm_counters()
        self.cycle_counters.append({k: now[k] - self._cycle_jvm[k] for k in now})
        self._cycle_jvm = now

    def finish(self) -> dict:
        tr, layer = self.tracer, self.ctx.layer
        spans = tr.spans
        by_id = {s["id"]: s for s in spans}

        def dur(s):
            return s["end_ms"] - s["start_ms"]

        def under(s, name):
            p = s["parent"]
            while p is not None:
                if by_id[p]["name"] == name:
                    return True
                p = by_id[p]["parent"]
            return False

        def med(xs):
            xs = list(xs)
            return statistics.median(xs) if xs else 0.0

        pts = [s for s in spans if s["name"] == "store.points"]
        layer["store.points_build_ms"] = med(dur(s) for s in pts)
        layer["store.overlay_depth"] = max((s["attrs"]["depth"] for s in pts), default=0)
        layer["store.plan_nodes"] = max((s["attrs"]["plan_nodes"] for s in pts), default=0)
        depths = sorted(self.plan_by_depth)
        growth = [self.plan_by_depth[b] / self.plan_by_depth[a] for a, b in zip(depths, depths[1:]) if b == a + 1]
        layer["store.plan_nodes_growth"] = med(growth)
        layer["gts_text.parse_ms"] = med(dur(s) for s in spans if s["name"] == "gts_text.parse")
        writes = [s for s in spans if s["name"] == "spark.write_parquet" and under(s, "store.append_update")]
        layer["store.update_write_ms"] = med(dur(s) for s in writes)
        layer["store.update_jobs"] = med(r["sql.executions"] for r in self.requests if r["kind"] == "update")
        layer["warpscript.eval_ms"] = med(dur(s) for s in spans if s["name"] == "warpscript.exec")
        renders = [s for s in spans if s["name"] == "render.jsonable" and not under(s, "render.jsonable")]
        per_exec: dict = {}
        for s in renders:
            per_exec[s["req"]] = per_exec.get(s["req"], 0.0) + dur(s)
        layer["warpscript.render_ms"] = med(per_exec.values())
        fetches = [r for r in self.requests if r["kind"] == "fetch"]
        for k in fetches[0] if fetches else ():
            if k not in ("kind", "req"):
                layer[k] = med(r[k] for r in fetches)
        if self.cycle_counters:
            first = self.cycle_counters[0]
            layer["codegen.compiles"] = first["codegen.compiles"]
            layer["codegen.compile_ms"] = first["codegen.compile_ms"]
            layer["jvm.gc_ms"] = med(c["jvm.gc_ms"] for c in self.cycle_counters)
        return {
            "plan_nodes_by_depth": {str(d): self.plan_by_depth[d] for d in depths},
            "requests": self.requests,
            "cycle_jvm_counters": self.cycle_counters,
        }
