"""Batch workloads: named queries through `QUERIES[name](spark, sf_dir)`.

The first pass in the process collects every result and compares it
with the query's DuckDB oracle (the comparison is not timed); after
WARMUP_PASSES untimed passes, steady passes run each query with the
noop-sink action for the run length.  The seed sets the data and each pass's query order."""

from __future__ import annotations

import math
import random
import statistics
import time

import datagen
import stats

SF = 0.01

GTS_QUERIES = [
    "tpch_q1", "tpch_q3", "tpch_q5", "tpch_q6", "fetch_range", "fetch_last_n",
    "bucketize_mean", "gts_bucketize_reduce", "map_moving_mean", "map_time_range_sum",
    "apply_div", "fill_previous", "sessionize", "zscoretest", "topk_per_series",
    "rollup_daily_profile",
]
NEARDUP_QUERIES = ["doc_exact_dedup", "doc_minhash_lsh", "doc_simhash", "emb_cosine_topk", "emb_semantic_dedup"]

# steady passes every run makes, whatever the run length: batch_gts
# 48 query latencies, batch_neardup 40, so the tail rule gives p75 on both
# (see stats.tail)
MIN_STEADY_PASSES = {"batch_gts": 3, "batch_neardup": 8}

# untimed noop passes between the first pass and the steady ones: the
# JIT is still warming after the first pass, and the pass that follows
# it runs about 20% slower than later ones
WARMUP_PASSES = 1

# per-layer counters are summed per pass; the run reports their median
# over the steady passes, except codegen, taken over the first pass
# (where compilation happens)
FIRST_PASS_COUNTERS = ("codegen.compiles", "codegen.compile_ms")


def _layouts(spark, sf_dir: str, names: list[str]) -> float:
    """Build the storage layouts the queries read (timed), so no pass
    pays a layout build."""
    t0 = time.perf_counter()
    if names is GTS_QUERIES:
        from warp10_platform_spark.sources.rollup import HOUR_US, rollup_points
        from warp10_platform_spark.sources.tables import canonical_points

        canonical_points(spark, sf_dir)
        rollup_points(spark, sf_dir, HOUR_US)
    return time.perf_counter() - t0


def same_rows(sp, du) -> bool:
    """Bit-exact comparison after sorting columns and rows by name/value
    (NaN equals NaN, None equals None), as the engine's oracle gate."""
    cols = sorted(sp.columns)
    if cols != sorted(du.columns) or len(sp) != len(du):
        return False
    if not cols:
        return True
    sp = sp[cols].sort_values(cols).reset_index(drop=True)
    du = du[cols].sort_values(cols).reset_index(drop=True)
    for c in cols:
        for x, y in zip(sp[c].tolist(), du[c].tolist()):
            if x is None and y is None:
                continue
            if isinstance(x, float) and isinstance(y, float) and math.isnan(x) and math.isnan(y):
                continue
            if x != y:
                return False
    return True


def action(df, collect: bool):
    if collect:
        return df.toPandas()
    df.write.format("noop").mode("overwrite").save()
    return None


def run(ctx) -> dict:
    from run import setup_seconds

    names = GTS_QUERIES if ctx.workload == "batch_gts" else NEARDUP_QUERIES
    ctx.start_spark()
    spark = ctx.spark
    from warp10_platform_spark.queries import ORACLES, QUERIES

    for n in names:
        QUERIES[n]  # import the owning query modules now, as part of set-up
    sf_dir = ctx.path("data")
    t0 = time.perf_counter()
    datagen.generate(sf_dir, ctx.seed, SF)
    ctx.layer["datagen.write_s"] = time.perf_counter() - t0
    ctx.layer["sources.layout_build_s"] = _layouts(spark, sf_dir, names)
    setup_s = setup_seconds()

    probe = None
    if ctx.trace:
        from tracing import SparkProbe, Tracer

        ctx.tracer = Tracer()
        probe = SparkProbe(spark)
    rng = random.Random(ctx.seed)
    attempted = failed = 0
    detail: list[dict] = []

    def one(name: str, tag: str, counters: dict, check: bool) -> float:
        """Build and run one query; the timed action is the noop sink, or
        (check) collecting the result, which is then compared with the
        oracle outside the timed region."""
        nonlocal attempted, failed
        attempted += 1
        group = f"{tag}/{name}"
        if probe is not None:
            spark.sparkContext.setJobGroup(group, group)
            before = probe.jvm_counters()
            probe.sql_counters()  # skip anything that ran before this query
        t0 = time.perf_counter()
        try:
            with ctx.span("query", request=group, query=name):
                with ctx.span("queries.build"):
                    df = QUERIES[name](spark, sf_dir)
                t1 = time.perf_counter()
                with ctx.span("spark.exec"):
                    got = action(df, check)
        except Exception as e:  # noqa: BLE001 — a failing query is counted, not fatal
            failed += 1
            print(f"query {name} failed: {type(e).__name__}: {e}"[:500], flush=True)
            return time.perf_counter() - t0
        t2 = time.perf_counter()
        if check and not same_rows(got, con.sql(ORACLES[name]).df()):
            failed += 1
            mismatched.append(name)
        if probe is not None:
            rec = {"queries.build_s": t1 - t0, "spark.exec_s": t2 - t1}
            rec.update(probe.job_counts(group))
            rec.update(probe.sql_counters())
            after = probe.jvm_counters()
            rec.update({k: after[k] - before[k] for k in after})
            detail.append(dict(rec, query=name, **{"pass": tag}))
            for k, v in rec.items():
                counters[k] = counters.get(k, 0.0) + v
        return t2 - t0

    def one_pass(tag: str, check: bool = False) -> tuple[float, list[float], dict]:
        order = list(names)
        rng.shuffle(order)
        counters: dict = {}
        t0 = time.perf_counter()
        lat = [one(n, tag, counters, check) for n in order]
        return time.perf_counter() - t0, lat, counters

    # the oracles read the same parquet files through DuckDB
    import duckdb

    con = duckdb.connect()
    con.execute("SET threads TO 1")
    for t in datagen.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    mismatched: list[str] = []
    # first pass: an analyst's first run, results collected and checked
    first_s, _, first_counters = one_pass("cold", check=True)
    for i in range(WARMUP_PASSES):
        one_pass(f"w{i}")
    steady, op_lat, pass_counters = [], [], []
    t_end = time.perf_counter() + ctx.seconds
    min_passes = MIN_STEADY_PASSES[ctx.workload]
    while time.perf_counter() < t_end or len(steady) < min_passes:
        s, lat, counters = one_pass(f"p{len(steady)}")
        steady.append(s)
        op_lat += lat
        pass_counters.append(counters)

    con.close()
    if mismatched:
        print("oracle mismatches: " + " ".join(mismatched), flush=True)

    if probe is not None:
        for k in pass_counters[0]:
            ctx.layer[k] = statistics.median(c.get(k, 0.0) for c in pass_counters)
        for k in FIRST_PASS_COUNTERS:
            ctx.layer[k] = first_counters.get(k, 0.0)

    tail, tail_p = stats.tail(op_lat, n_design=min_passes * len(names))
    return {
        "e2e": {
            "setup_s": setup_s,
            "first_pass_s": first_s,
            "pass_s": statistics.median(steady),
            "op_p50_ms": stats.p50(op_lat) * 1e3,
            "op_tail_ms": tail * 1e3,
        },
        "report": {"op_tail_pct": tail_p, "steady_passes": len(steady), "ops_timed": len(op_lat),
                   "pass_min_s": min(steady), "pass_max_s": max(steady)},
        "report_units": {"op_tail_pct": "pct", "steady_passes": "count", "ops_timed": "count",
                         "pass_min_s": "s", "pass_max_s": "s"},
        "attempted": attempted,
        "failed": failed,
        "detail": {"queries": detail, "steady_pass_s": steady, "first_pass_s": first_s},
    }
