"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout.  Workloads (see perfbench/NOTES.md):
batch_neardup and serve_mixed.  Two probes run the same way but are not
BENCHMARK.json workloads: batch_gts, the GTS and TPC-H queries, and
serve_defects, which shows known store defects.  Inputs are generated from the
seed inside a fresh work directory under the checkout, which is removed
at the end together with every storage layout the run built under
.cache/.  The last stdout line is one JSON object
{"correct", "attempted", "failed", "metrics"}; the lines before it
print every metric by name and unit, the host state and, with
--trace 1, where the span artifact was written.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import importlib.util  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import resource  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import stats  # noqa: E402

WORKLOADS = ("batch_neardup", "serve_mixed")
PROBES = ("batch_gts", "serve_defects")
DRIVER_MEMORY = "1g"  # the inputs are sf0.01; a fixed heap keeps peak RSS comparable


def load_spec(root: str = ROOT) -> dict:
    """BENCHMARK.json: the metric names and units this command prints."""
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        return json.load(f)


def final_line(spec: dict, trace: bool, e2e: dict, layer: dict, attempted: int, failed: int) -> dict:
    """The result object printed as the last stdout line: every
    end-to-end metric (trace off) or every per-layer metric (trace on).
    A per-layer metric a workload does not exercise reads 0."""
    if trace:
        metrics = {m["name"]: {"value": float(layer.get(m["name"], 0.0)), "unit": m["unit"]}
                   for m in spec["per_layer"]}
    else:
        metrics = {m["name"]: {"value": float(e2e[m["name"]]), "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    stats.failed_frac(attempted, failed)  # validates the counts
    return {"correct": failed == 0, "attempted": int(attempted), "failed": int(failed), "metrics": metrics}


def _steal_reader():
    """scripts/bench_cores.py's /proc/stat steal reading, reused."""
    path = os.path.join(ROOT, "scripts", "bench_cores.py")
    spec = importlib.util.spec_from_file_location("_bench_cores", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod._steal


def _vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


class Context:
    """Everything a workload needs: the Spark session, the data dir of
    this run, the tracer (traced runs only) and the set-up timings.
    close() stops every process the run started and removes its files."""

    def __init__(self, workload: str, seed: int, seconds: int, trace: bool):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.work = os.path.join(ROOT, ".perfbench_work", f"{workload}-{os.getpid()}")
        self.cache_dir = os.path.join(ROOT, ".cache")
        self._cache_before = set(os.listdir(self.cache_dir)) if os.path.isdir(self.cache_dir) else None
        self._warehouse_existed = os.path.exists(os.path.join(ROOT, "spark-warehouse"))
        os.makedirs(os.path.join(self.work, "tmp"), exist_ok=True)
        os.makedirs(os.path.join(self.work, "spark-local"), exist_ok=True)
        self.spark = None
        self.tracer = None
        self.servers: list = []
        self.layer: dict[str, float] = {}
        self.jvm_pid = None
        self.jvm_hwm_mb = 0.0

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def span(self, name: str, request: str | None = None, **attrs):
        """A tracer span in traced runs, nothing otherwise."""
        if self.tracer is None:
            return contextlib.nullcontext()
        return self.tracer.span(name, request=request, **attrs)

    def start_spark(self) -> None:
        os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
        os.environ["SPARK_LOCAL_DIRS"] = self.path("spark-local")
        os.environ["TMPDIR"] = self.path("tmp")
        tmp = self.path("tmp")
        # heap committed up front (-Xms = the driver memory), so peak RSS
        # tracks what the run touches rather than when G1 grew the heap
        os.environ["PYSPARK_SUBMIT_ARGS"] = (
            f'--driver-java-options "-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{DRIVER_MEMORY}" '
            "--conf spark.ui.showConsoleProgress=false pyspark-shell"
        )
        if ROOT not in sys.path:
            sys.path.insert(0, ROOT)
        from warp10_platform_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark(f"perfbench-{self.workload}")
        self.layer["session.get_spark_s"] = time.perf_counter() - t0
        self.spark.sparkContext.setLogLevel("ERROR")
        self.jvm_pid = int(self.spark._jvm.java.lang.ProcessHandle.current().pid())

    def peak_rss_mb(self) -> float:
        py = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
        if self.jvm_pid is not None:
            try:
                self.jvm_hwm_mb = max(self.jvm_hwm_mb, _vm_hwm_mb(self.jvm_pid))
            except OSError:
                pass
        return py + self.jvm_hwm_mb

    def close(self) -> None:
        for srv in self.servers:
            srv.shutdown()
            srv.server_close()
        self.servers.clear()
        if self.tracer is not None:
            self.tracer.restore()
        if self.spark is not None:
            self.peak_rss_mb()
            sc = self.spark.sparkContext
            gateway, proc = sc._gateway, getattr(sc._gateway, "proc", None)
            self.spark.stop()
            gateway.shutdown()
            if proc is not None:
                if proc.stdin is not None:
                    proc.stdin.close()
                try:
                    proc.wait(timeout=60)
                except Exception:  # noqa: BLE001 — never leave the JVM behind
                    proc.kill()
                    proc.wait(timeout=60)
            self.spark = None
        shutil.rmtree(self.work, ignore_errors=True)
        parent = os.path.dirname(self.work)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)
        if os.path.isdir(self.cache_dir):
            for name in set(os.listdir(self.cache_dir)) - (self._cache_before or set()):
                shutil.rmtree(os.path.join(self.cache_dir, name), ignore_errors=True)
            if self._cache_before is None and not os.listdir(self.cache_dir):
                os.rmdir(self.cache_dir)
        wh = os.path.join(ROOT, "spark-warehouse")
        if not self._warehouse_existed and os.path.isdir(wh) and not os.listdir(wh):
            os.rmdir(wh)


def setup_seconds() -> float:
    """setup_s: process start to the first timed operation — imports, the
    JVM and session, the workload's warm-up, the inputs written from the
    seed and the storage layouts built from scratch (the run's data dir
    is new, so no layout cached by an earlier run is ever reused)."""
    return time.perf_counter() - T_PROCESS


def host_state(steal) -> dict:
    s, c = steal()
    return {
        "cores": len(os.sched_getaffinity(0)),
        "spark_graft_cpus": os.environ.get("SPARK_GRAFT_CPUS"),
        "loadavg_1m": os.getloadavg()[0],
        "_steal": (s, c),
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="perfbench/run.py")
    ap.add_argument("--workload", required=True, choices=WORKLOADS + PROBES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--artifact", default=None,
                    help="with --trace 1: write the spans and per-request counters here")
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "warp10_platform_spark", "__init__.py")):
        print(f"perfbench: no warp10_platform_spark package under {ROOT}; run from a full checkout",
              file=sys.stderr)
        return 2
    try:
        spec = load_spec()
    except OSError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2

    # one Spark core per usable CPU (the engine's default is local[32])
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    steal = _steal_reader()
    host0 = host_state(steal)
    ctx = Context(args.workload, args.seed, int(args.seconds), bool(args.trace))
    try:
        if args.workload.startswith("serve_"):
            import serve

            res = serve.run(ctx, probe_defects=args.workload == "serve_defects")
        else:
            import batch

            res = batch.run(ctx)
        rss = ctx.peak_rss_mb()
        if ctx.tracer is not None and args.artifact:
            _write_artifact(args.artifact, ctx, res, args, spec)
    finally:
        t_close = time.perf_counter()
        ctx.close()
        print(f"perfbench: measured phase ended at {t_close - T_PROCESS:.1f} s, "
              f"teardown {time.perf_counter() - t_close:.1f} s", file=sys.stderr)
    rss = max(rss, ctx.peak_rss_mb())
    s1, c1 = steal()
    s0, c0 = host0.pop("_steal")
    host = dict(host0, loadavg_1m_end=os.getloadavg()[0],
                steal_frac=round((s1 - s0) / max(1, c1 - c0), 4))

    e2e = dict(res["e2e"])
    e2e["peak_rss_mb"] = rss
    report = dict(e2e, **res["report"])
    report["failed_frac"] = stats.failed_frac(res["attempted"], res["failed"])
    units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    units.update(res["report_units"], failed_frac="ratio")
    for name in sorted(report):
        print(f"metric {name} = {report[name]:.6g} {units.get(name, '')}")
    print("host " + json.dumps(host, sort_keys=True))
    if ctx.tracer is not None and args.artifact:
        print(f"trace artifact: {args.artifact}")
    print(json.dumps(final_line(spec, bool(args.trace), e2e, ctx.layer, res["attempted"], res["failed"])))
    return 0


def _write_artifact(path: str, ctx: Context, res: dict, args, spec: dict) -> None:
    tr = ctx.tracer
    doc = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "per_layer": {m["name"]: ctx.layer.get(m["name"], 0.0) for m in spec["per_layer"]},
        "e2e_traced": res["e2e"],
        "report_traced": res["report"],
        "self_ms": tr.self_times_ms(),
        "detail": res.get("detail", {}),
        "spans": tr.spans,
    }
    os.makedirs(os.path.dirname(os.path.abspath(path)), exist_ok=True)
    with open(path, "w") as f:
        json.dump(doc, f, indent=None, separators=(",", ":"), default=float)
        f.write("\n")


if __name__ == "__main__":
    raise SystemExit(main())
