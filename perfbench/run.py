"""Benchmark entry point.

  python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. Generates the workload's key tables from the
seed, materializes the input through the engine's writers SETUP_REPS times in
one session (the first set-up also starts the session; setup_s is the
median), computes DuckDB references, warms up, then runs a
closed loop with one client thread on local[nproc] for S seconds, checking
every result. The last line of stdout is one JSON object:
{"correct", "attempted", "failed", "metrics"}.
With --trace 0 the metrics are the end-to-end ones; with --trace 1 the
per-layer ones (spans, decode micro-pass, layer probes, event log, local[1]
scaling pass). All scratch data stays under .perfbench_work/ and span files
go to .perfbench_traces/.
"""

from __future__ import annotations

import argparse
import dataclasses
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
SETUP_REPS = 3


def fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


@dataclasses.dataclass
class Ctx:
    root: str
    work: str
    seed: int
    cores: int
    tracer: object
    sizes: object
    tables_dir: str
    keys: dict
    oracle: object = None
    spark: object = None


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def make_ctx(root, work, seed, cores, tracer, sizes, name):
    import pyarrow.parquet as pq

    from inputs import generate
    from oracle import Oracle

    tables_dir = f"{work}/{name}/tables"
    paths = generate(seed, tables_dir, sizes)
    keys = {t: pq.read_table(p).column(0).to_numpy() for t, p in paths.items()}
    ctx = Ctx(root, work, seed, cores, tracer, sizes, tables_dir, keys)
    ctx.oracle = Oracle(paths, f"{work}/tmp")
    return ctx


def run_cycle(ops, stats) -> None:
    """One pass over the workload's op kinds, recorded into stats."""
    for kind, fn in ops:
        stats["attempted"] += 1
        t0 = time.perf_counter()
        try:
            ok, items = fn()
        except Exception as exc:  # noqa: BLE001 - an operation failure is a result
            log(f"{kind} raised {type(exc).__name__}: {exc}")
            ok, items = False, 0
        dt = time.perf_counter() - t0
        if not ok:
            stats["failed"] += 1
            log(f"{kind} result differs from the reference")
        stats["lat"].append(dt)
        stats["kinds"].append(kind)
        stats["items"] += items if ok else 0


def closed_loop(ops, seconds: float, stats) -> float:
    """Whole cycles until `seconds` have passed; returns loop wall time."""
    t0 = time.perf_counter()
    while True:
        run_cycle(ops, stats)
        if time.perf_counter() - t0 >= seconds:
            return time.perf_counter() - t0


def fmt_ops(stats) -> str:
    return " ".join(f"{k}={t:.2f}" for k, t in zip(stats["kinds"], stats["lat"]))


def new_stats():
    return {"attempted": 0, "failed": 0, "lat": [], "kinds": [], "items": 0}


def setup(ctx, wl, reps: int, trace: bool) -> tuple[str, list[float]]:
    """`reps` materializations of the workload's input in one session; the
    first also starts the session (and its JVM). Returns the live dest and
    the set-up times."""
    from sparkrun import start_session

    times, dest = [], None
    for rep in range(reps):
        new_dest = f"{ctx.work}/{wl.name}/setup{rep}"
        t0 = time.perf_counter()
        if ctx.spark is None:
            with ctx.tracer.span("session.start"):
                ctx.spark = start_session(ctx.work, ctx.cores, f"perfbench-{wl.name}", trace)
        wl.materialize(ctx, new_dest)
        times.append(time.perf_counter() - t0)
        if dest is not None:
            shutil.rmtree(dest, ignore_errors=True)
        dest = new_dest
    return dest, times


def probe(ctx, wl_cls, facts: dict, stats: dict) -> object:
    """One op cycle of another workload at probe size, so that every layer
    has spans in this traced run. Its results are checked like the loop's."""
    tracer = ctx.tracer
    tracer.part = "probe"
    wl = wl_cls()
    pctx = make_ctx(ctx.root, ctx.work, ctx.seed, ctx.cores, tracer, wl.probe_sizes, f"probe-{wl.name}")
    pctx.spark = ctx.spark
    try:
        dest = f"{ctx.work}/probe-{wl.name}/data"
        wl.materialize(pctx, dest)
        wl.prepare(pctx, dest)
        probe_stats = new_stats()
        run_cycle(wl.ops(), probe_stats)
        stats["attempted"] += probe_stats["attempted"]
        stats["failed"] += probe_stats["failed"]
        for k, v in wl.layer_facts(pctx).items():
            facts.setdefault(k, v)
    finally:
        pctx.oracle.close()
        tracer.part = "main"
    return wl


def layer_metrics(wl, facts: dict, tracer, extra: dict) -> dict:
    from layers import PER_LAYER, PLAN_QUERIES

    def med(name, scale=1.0):
        d = tracer.durations(name)
        if not d:
            raise RuntimeError(f"no span recorded for {name}")
        return statistics.median(d) * scale

    m = {
        "session.start_s": med("session.start"),
        "images.write_s": med("images.write"),
        "images.by_cell_write_s": med("images.by_cell_write"),
        "images.mb_on_disk": du(wl.images_path) / 1e6,
        "chunks.tiles_write_s": med("chunks.tiles_write"),
        "pipeline.decode_s": med("pipeline.decode"),
        "chunks.explode_s": med("chunks.explode"),
        "chunks.cover_s": med("chunks.cover"),
        "pipeline.join_agg_s": med("pipeline.join_agg"),
        "spatial.pip_ms": med("spatial.pip", 1e3),
        "spatial.knn_ms": med("spatial.knn", 1e3),
        "spatial.within_ms": med("spatial.within", 1e3),
        "skew.pip_salted_ms": med("skew.pip_salted", 1e3),
        "window.read_ms": med("window.read", 1e3),
        "zonal.window_ms": med("zonal.window", 1e3),
    }
    for step in ("write", "resume", "verify", "read", "merge", "compact"):
        m[f"checkpoint.{step}_s"] = med(f"checkpoint.{step}")
    for q in PLAN_QUERIES:
        shuffles, broadcasts = facts.pop(f"plans.{q}")
        m[f"plans.shuffles.{q}"] = shuffles
        m[f"plans.broadcast.{q}"] = broadcasts
    m.update(facts)
    m.update(extra)
    missing = sorted(set(PER_LAYER) - set(m))
    unknown = sorted(set(m) - set(PER_LAYER))
    if missing or unknown:
        raise RuntimeError(f"per-layer metrics missing {missing}, unknown {unknown}")
    return {k: {"value": float(m[k]), "unit": PER_LAYER[k][0]} for k in PER_LAYER}


def span_overhead(tracer, t0_ms: float, t1_ms: float, n: int = 20000) -> float:
    """Span recorder cost over the loop: (spans recorded in the loop x cost
    of one span measured here) / loop wall time. Plan inspection and the
    other traced-only work run outside the loop, so this is all the traced
    loop does beyond the untraced one."""
    from spans import Tracer

    probe = Tracer(True, "overhead")
    t = time.perf_counter()
    for _ in range(n):
        with probe.span("x"):
            pass
    per_span = (time.perf_counter() - t) / n
    t0, t1 = t0_ms / 1e3, t1_ms / 1e3
    wall0 = time.time() - time.perf_counter()  # perf_counter -> epoch offset
    in_loop = sum(1 for s in tracer.spans if t0 <= s["start"] + wall0 <= t1)
    return in_loop * per_span / (t1 - t0)


def du(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    if not (os.path.isdir(f"{root}/aira_spark") and os.path.isfile(f"{root}/__spark_entry__.py")):
        fail(f"engine sources (aira_spark/, __spark_entry__.py) not found in {root}")
    if args.seconds <= 0:
        fail("--seconds must be positive")

    sys.path[:0] = [root, HERE]
    from sparkrun import DRIVER_MEM

    cores = len(os.sched_getaffinity(0))
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    work = f"{root}/.perfbench_work/{run_id}"
    # everything the engine, Spark and its Python workers write stays in work;
    # the engine reads these at import time
    os.environ.update(
        {
            "TMPDIR": f"{work}/tmp",
            "PYTHONPATH": os.pathsep.join(p for p in (root, os.environ.get("PYTHONPATH")) if p),
            "SPARK_GRAFT_CPUS": str(cores),
            "SPARK_GRAFT_IMG_SCALE": "1",
            "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
            # the launcher JVM, like the driver JVM, keeps no /tmp perf file
            "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
        }
    )
    from metrics import latency_summary
    from sparkrun import RssSampler, shutdown_jvm
    from spans import Tracer
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        fail(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
    os.makedirs(f"{work}/tmp", exist_ok=True)
    import tempfile

    tempfile.tempdir = f"{work}/tmp"
    wl = WORKLOADS[args.workload]()
    tracer = Tracer(bool(args.trace), run_id)
    ctx = make_ctx(root, work, args.seed, cores, tracer, wl.sizes, wl.name)
    stats = new_stats()
    try:
        with RssSampler() as rss:
            log(f"{wl.name} seed={args.seed} local[{cores}] setup x{SETUP_REPS}")
            dest, setup_times = setup(ctx, wl, SETUP_REPS, bool(args.trace))
            t0 = time.perf_counter()
            wl.prepare(ctx, dest)
            log(f"setup {[round(t, 2) for t in setup_times]}; references {time.perf_counter() - t0:.2f}s")
            warm = new_stats()
            t0 = time.perf_counter()
            for _ in range(wl.warmup_cycles):
                run_cycle(wl.ops(), warm)
            log(f"warm-up {time.perf_counter() - t0:.2f}s: {fmt_ops(warm)}")
            stats["attempted"] += warm["attempted"]
            stats["failed"] += warm["failed"]
            t_loop0 = time.time() * 1000
            wall = closed_loop(wl.ops(), args.seconds, stats)
            t_loop1 = time.time() * 1000
            log(f"loop {wall:.2f}s, failed={stats['failed']}: {fmt_ops(stats)}")
            lat = latency_summary(stats["lat"])
            metrics = {
                "setup_s": {"value": statistics.median(setup_times), "unit": "s"},
                "op_p50_ms": {"value": lat["p50"] * 1e3, "unit": "ms"},
                "items_per_s": {"value": stats["items"] / wall, "unit": "1/s"},
            }
            if args.trace:
                metrics = traced_extras(ctx, wl, stats, lat, t_loop0, t_loop1)
        if not args.trace:
            metrics["peak_rss_mb"] = {"value": rss.peak_mb, "unit": "MB"}
    finally:
        spark, ctx.spark = ctx.spark, None
        shutdown_jvm(spark)
        ctx.oracle.close()
        if args.trace:
            os.makedirs(f"{root}/.perfbench_traces", exist_ok=True)
            tracer.write(f"{root}/.perfbench_traces/{run_id}.jsonl")
            self_s = tracer.self_time_by_name()
            with open(f"{root}/.perfbench_traces/{run_id}.self_time.json", "w") as f:
                json.dump(self_s, f, indent=1, sort_keys=True)
            log("self time (s): " + " ".join(f"{k}={v:.2f}" for k, v in sorted(self_s.items())))
        shutil.rmtree(work, ignore_errors=True)
    correct = stats["failed"] == 0 and stats["attempted"] > 0
    print(json.dumps({"correct": correct, "attempted": stats["attempted"],
                      "failed": stats["failed"], "metrics": metrics}))


def traced_extras(ctx, wl, stats, lat, t_loop0: float, t_loop1: float) -> dict:
    """Per-layer metrics: everything the traced run measures after its loop."""
    from metrics import failed_frac
    from micro import decode_layers
    from sparkrun import cached_mb, event_log_file, event_log_metrics, start_session
    from workloads import WORKLOADS, TileJoin

    tracer = ctx.tracer
    extra = {
        "spark.cached_mb": cached_mb(ctx.spark),
        "trace.overhead_frac": span_overhead(tracer, t_loop0, t_loop1),
    }
    facts = wl.layer_facts(ctx)
    probes = {}
    for name, other in WORKLOADS.items():
        if name != wl.name:
            log(f"layer probe: {name}")
            probes[name] = probe(ctx, other, facts, stats)

    log("decode micro-pass")
    extra.update(decode_layers(wl.images_path, ctx.seed))

    app_id = ctx.spark.sparkContext.applicationId
    ctx.spark.stop()
    extra.update(event_log_metrics(event_log_file(ctx.work, app_id), t_loop0, t_loop1, ctx.cores))

    log("local[1] scaling pass")
    tj = wl if isinstance(wl, TileJoin) else probes["tile_join"]
    tracer.part = "scaling"
    ctx.spark = start_session(ctx.work, 1, "perfbench-scaling", False)
    t0 = time.perf_counter()
    ok = tj.scaling_pass(ctx.spark)
    t1 = time.perf_counter() - t0
    stats["attempted"] += 1
    stats["failed"] += 0 if ok else 1
    tracer.part = "main"
    tn = statistics.median(tracer.durations("op.tile_pass"))
    extra["spark.scaling_eff_1to4"] = t1 / (ctx.cores * tn)
    extra.update(
        {
            "loop.samples": lat["n"],
            "loop.tail_ms": lat["tail"] * 1e3,
            "loop.tail_pct": lat["tail_pct"],
            "loop.failed_frac": failed_frac(stats["attempted"], stats["failed"]),
        }
    )
    return layer_metrics(wl, facts, tracer, extra)


if __name__ == "__main__":
    main()
