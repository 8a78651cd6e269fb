"""Benchmark entry point: one workload, one seed, one JSON result line.

Run from the repository root:

    python3 perfbench/run.py --workload pip_points --seed 1 --seconds 20 --trace 0

The last line of standard output is ``{"correct", "attempted", "failed",
"metrics"}``; with ``--trace 0`` the metrics are the end-to-end ones of
BENCHMARK.json, with ``--trace 1`` its per-layer ones. The line before it
is a ``{"perfbench": ...}`` record with the host shape, load averages,
session sizing and every raw sample. See perfbench/README.md.
"""

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
SETUPS = 3        # set-ups per run; setup_s is their median
MIN_REPEATS = 3   # timed repeats per run, even past --seconds


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True,
                   choices=("pip_points", "image_tiles", "skew_checkpoint"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", type=float, default=1.0,
                   help="multiply the input size (tests use small scales)")
    return p.parse_args(argv)


def median(xs):
    return statistics.median(xs) if xs else 0.0


def measure(bench, tr, seconds: float) -> list[tuple[float, bool]]:
    """Closed loop of timed repeats for ``seconds`` (at least MIN_REPEATS)."""
    reps = []
    end = time.perf_counter() + seconds
    while len(reps) < MIN_REPEATS or time.perf_counter() < end:
        t0 = time.perf_counter()
        ok = bench.job(tr)
        reps.append((time.perf_counter() - t0, ok))
    return reps


def tally(reps: list[tuple[float, bool]]) -> tuple[int, int]:
    """(attempted, failed): a repeat whose output fails its oracle failed."""
    return len(reps), sum(1 for _, ok in reps if not ok)


def traced(bench, tr, seconds: float, rows: int):
    """Per-layer chains, then alternating untraced/traced repeats.

    The SQL-metric walk runs after each traced repeat, outside its timing
    and outside every span.
    """
    from perfbench import trace as trace_mod

    layer_m, chains, chain_ok = bench.layers(tr)
    off = trace_mod.Tracer(False)
    sql = trace_mod.SqlMetrics(bench.spark)
    plain, spanned, nodes = [], [], []
    end = time.perf_counter() + seconds
    while len(spanned) < 2 or time.perf_counter() < end:
        legs = ((plain, off), (spanned, tr))
        # alternate which leg runs first, so warming favours neither
        for sink, t in legs if len(spanned) % 2 == 0 else legs[::-1]:
            sql.mark()
            t0 = time.perf_counter()
            ok = bench.job(t)
            sink.append((time.perf_counter() - t0, ok))
            if t is tr:
                nodes = sql.nodes()
    layer_m.update(trace_mod.fold(nodes, rows))
    layer_m["trace.overhead_s"] = (median([s for s, _ in spanned])
                                   - median([s for s, _ in plain]))
    return layer_m, chains, chain_ok, plain, spanned, nodes


def shutdown_jvm() -> None:
    """Stop the py4j gateway and wait for the JVM to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF of its stdin
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def main(argv=None) -> int:
    args = parse_args(argv)
    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not (os.path.isdir(os.path.join(ROOT, "gis_shapefile_spark"))
            and os.path.isfile(spec_path)):
        print("perfbench: run from a checkout of the repository "
              "(gis_shapefile_spark/ and BENCHMARK.json not found)", file=sys.stderr)
        return 2
    with open(spec_path) as fh:
        spec = json.load(fh)
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]

    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # every JVM, spark-submit's launcher too, keeps its files in the checkout
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    sys.path.insert(0, ROOT)

    from perfbench import host, inputs, trace
    from perfbench import workloads as W

    load_before = host.loadavg()
    ticks_before = host.cpu_ticks()
    rows = max(int(inputs.SIZES[args.workload] * args.scale), 1000)
    os.makedirs(os.path.join(WORK, "cache"), exist_ok=True)
    meta = inputs.materialize(os.path.join(WORK, "cache"), args.workload, args.seed, rows)
    conf = host.session_conf(run_dir)
    tr = trace.Tracer(bool(args.trace))
    bench = W.WORKLOADS[args.workload](meta, conf, run_dir)

    detail = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
              "rows": rows, "digest": meta["digest"], "gen_s": meta["gen_s"],
              "host": host.shape(), "load_before": load_before,
              "master": conf["master"], "shuffle_partitions": conf["shuffle_partitions"],
              "driver_memory": conf["extra_conf"]["spark.driver.memory"]}
    try:
        with host.RssSampler() as rss:
            setups, steps = [], []
            for k in range(SETUPS):
                if k:
                    bench.teardown()
                t0 = time.perf_counter()
                with tr.span("setup", k=k):
                    steps.append(bench.setup(tr))
                # the first set-up runs from process start, less input generation
                start = T_START + meta["gen_s"] if k == 0 else t0
                setups.append(time.perf_counter() - start)
            if args.trace:
                layer_m, chains, chain_ok, plain, reps, nodes = traced(
                    bench, tr, args.seconds, rows)
                reps = plain + reps
            else:
                reps = measure(bench, tr, args.seconds)
        job_s = median([s for s, _ in reps])
        attempted, failed = tally(reps)
        if args.trace:
            attempted += 1
            failed += 0 if chain_ok else 1
            metrics = dict(layer_m)
            metrics["session.start_s"] = median([s["session"] for s in steps])
            metrics["spatial_join.index_build_s"] = median([s["index"] for s in steps])
            detail.update(chains=chains, traced_job_s=[s for s, _ in reps[len(plain):]],
                          untraced_job_s=[s for s, _ in plain], plan_nodes=len(nodes))
        else:
            metrics = {"setup_s": median(setups), "job_s": job_s,
                       "items_per_s": rows / job_s, "peak_rss_mb": rss.peak_mb}
        detail.update(setups_s=setups, job_samples_s=[s for s, _ in reps],
                      job_ok=[ok for _, ok in reps], rss_samples=rss.samples,
                      peak_largest_mb=rss.peak_largest_mb)
    finally:
        descendants = host.tree(os.getpid())[1:]
        bench.teardown()
        shutdown_jvm()
        left = host.reap(descendants)
        shutil.rmtree(run_dir, ignore_errors=True)
    detail["load_after"] = host.loadavg()
    total, steal = (a - b for a, b in zip(host.cpu_ticks(), ticks_before))
    detail["steal_frac"] = steal / total if total else 0.0
    detail["unreaped"] = left

    missing = [m["name"] for m in wanted if m["name"] not in metrics]
    if missing:
        raise RuntimeError(f"metrics not produced: {missing}")
    out = {m["name"]: {"value": float(metrics[m["name"]]), "unit": m["unit"]} for m in wanted}
    if args.trace:
        tr.write(os.path.join(WORK, f"trace-{args.workload}-s{args.seed}.json"))
    print(json.dumps({"perfbench": detail}))
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": out}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
