"""Engine benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload dag_build --seed 1 --seconds 5 --trace 0

Run from the repository root. The run generates its inputs from ``--seed``
under ``.perfbench_work/`` (and reads and writes nothing outside the
checkout), starts one ``local[<cores>]`` session, re-lays the corpus out,
runs one untimed warm-up pass, then timed passes until ``--seconds`` have
passed and at least one is done, and checks every result. The last stdout
line is

    {"correct": .., "attempted": .., "failed": .., "metrics": {name: {"value", "unit"}}}

with the end-to-end metrics (``--trace 0``) or the per-layer metrics
(``--trace 1``: the same timed passes untraced, then traced, so the
difference between the two is the tracing overhead). Reported times are
unstolen: each timed interval less the hypervisor's steal share of it
(``host.Interval``). The full run record, with the walls as they passed and
with host-noise context, lands in ``.perfbench_work/records/``; a traced
run also writes its spans and jobs there. See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import collections
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark import SparkContext  # noqa: E402

from perfbench import gen, host  # noqa: E402
from perfbench.stats import self_times, summarize  # noqa: E402

#: corpus scale factor (lineitem ~6k rows): large enough that every model
#: has rows in every branch, small enough that a pass is bound by plan
#: construction and job scheduling, the costs a 4-core host exposes
SF = 0.001
#: driver heap, fixed at this size; the inputs are a few MB
DRIVER_MEM = "2g"
#: corpus re-layouts per run; ``setup_s`` takes their median
PRESPLIT_REPEATS = 2
#: tables re-laid out into one file per core; the rest are copied
SPLIT_TABLES = ("lineitem", "orders", "events", "documents", "embeddings", "customer", "part")


def declared_metrics(root: str) -> dict[str, dict[str, str]]:
    """``{"end_to_end": {name: unit}, "per_layer": {name: unit}}`` as
    BENCHMARK.json declares them: the run reports exactly these."""
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return {
        kind: {m["name"]: m["unit"] for m in spec[kind]}
        for kind in ("end_to_end", "per_layer")
    }


#: span name -> per-layer time metric it adds to
SPAN_METRICS = {
    "plans.ref": "plans.ref_s",
    "plans.action": "plans.action_s",
    "operators.dedup_inc": "operators.dedup_inc_s",
    "operators.dedup_pairs": "operators.dedup_inc_s",
    "tableformat.create": "tableformat.merge_s",
    "tableformat.merge": "tableformat.merge_s",
    "tableformat.append": "tableformat.append_s",
    "tableformat.compact": "tableformat.compact_s",
    "tableformat.snapshot": "tableformat.snapshot_s",
    "report": "tableformat.read_s",
}


class Bench:
    """What a workload needs from the run: session, tracer, seed, cores,
    directories, and a log on stderr."""

    def __init__(self, spark, tracer, seed: int, nproc: int, work: str):
        self.spark = spark
        self.tracer = tracer
        self.seed = seed
        self.nproc = nproc
        self.work = work
        self.gen_dir = os.path.join(work, "corpus")
        self.data_dir = ""
        self.driver_pids = [os.getpid(), SparkContext._gateway.proc.pid]

    @staticmethod
    def log(msg: str) -> None:
        print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def _isolate(work: str, nproc: int) -> None:
    """Pin the engine's settings and keep every temp file in the checkout."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ.pop("SPARK_GRAFT_SHUFFLE_PARTITIONS", None)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    # the status store must keep every job of a pass for the join to spans;
    # the heap starts at its full size with every page touched, so the
    # JVM's resident memory is the fixed heap plus what the pass adds off
    # it, not how many heap regions G1 happened to cycle through (that
    # moved peak_rss_mb by up to 15% between runs of the same code);
    # neither the launcher JVM nor the driver JVM writes an hsperfdata
    # file, which would land in /tmp whatever the tmpdir
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--conf spark.ui.retainedJobs=1000000 --driver-java-options "
        f'"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch -XX:-UsePerfData '
        f'-Djava.io.tmpdir={tmp}" pyspark-shell'
    )
    tempfile.tempdir = None  # re-read TMPDIR


def _presplit(spark, src: str, dst: str, n_files: int) -> None:
    """Re-lay the single-file corpus out as ``n_files`` files per table, the
    way a warehouse ingests raw files before querying them."""
    os.makedirs(dst)
    for t in SPLIT_TABLES:
        spark.read.parquet(f"{src}/{t}.parquet").repartition(n_files).write.parquet(
            f"{dst}/{t}.parquet"
        )
    for f in os.listdir(src):
        if f.removesuffix(".parquet") not in SPLIT_TABLES:
            shutil.copyfile(os.path.join(src, f), os.path.join(dst, f))


def _stop(spark) -> None:
    """Stop the session and wait until the JVM has exited."""
    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is None:
        return
    gateway.shutdown()
    proc.stdin.close()  # the JVM exits on EOF of its stdin
    try:
        proc.wait(timeout=60)
    except Exception:
        proc.kill()
        proc.wait()


SPARK_SUMS = ("input_mb", "output_mb", "shuffle_read_mb", "shuffle_write_mb", "spill_mb")


def _spark_metrics(jobs: list[dict], spans: list[dict], wall: float, nproc: int) -> dict:
    """Per-layer Spark figures of one traced pass."""
    by_id = {s["id"]: s for s in spans}
    out = dict.fromkeys(
        ["plans.ref_jobs", "plans.action_jobs", "spark.cpu_s.ref", "spark.cpu_s.action"]
        + [f"spark.{k}" for k in ("jobs", "stages", "tasks", "busy_frac", "gc_s")]
        + [f"spark.{k}" for k in SPARK_SUMS]
        + ["spark.peak_exec_mem_mb"],
        0.0,
    )
    windowed = 0
    for j in jobs:
        windowed += j["by_window"]
        span = by_id.get(j["span"])
        # the nearest enclosing span that is a plans phase, if any
        while span is not None and span["name"] not in ("plans.ref", "plans.action"):
            span = by_id.get(span["parent"])
        phase = span["name"].split(".")[1] if span is not None else None
        if phase:
            out[f"plans.{phase}_jobs"] += 1
        out["spark.jobs"] += 1
        for st in j["stages"]:
            if phase:
                out[f"spark.cpu_s.{phase}"] += st["cpu_s"]
            out["spark.stages"] += 1
            out["spark.tasks"] += st["tasks"]
            out["spark.busy_frac"] += st["run_s"]
            out["spark.gc_s"] += st["gc_s"]
            out["spark.peak_exec_mem_mb"] = max(out["spark.peak_exec_mem_mb"], st["peak_exec_mem_mb"])
            for k in SPARK_SUMS:
                out[f"spark.{k}"] += st[k]
    out["spark.busy_frac"] /= wall * nproc
    out["trace.window_jobs_frac"] = windowed / len(jobs) if jobs else 0.0
    return out


def _layer_metrics(wl, b: Bench, res: dict, spans: list[dict]) -> dict:
    m = collections.defaultdict(float)
    m.update(_spark_metrics(res["jobs"], spans, res["wall"], b.nproc))
    selfs = self_times(spans)
    for s in spans:
        if s["name"] in SPAN_METRICS:
            m[SPAN_METRICS[s["name"]]] += s["end"] - s["start"]
        if s["name"] in ("pass", "op"):
            m["bench.self_s"] += selfs[s["id"]]
    m.update(wl.layer_metrics(b, res))
    m["plans.ref_share"] = m["plans.ref_s"] / res["wall"]
    return m


def _timed_passes(wl, b: Bench, store, seconds: float, tag: str) -> list[dict]:
    passes: list[dict] = []
    start = time.perf_counter()
    while not passes or time.perf_counter() - start < seconds:
        b.spark.catalog.clearCache()
        store.new_jobs()
        first_span = len(b.tracer.spans)
        with host.PeakRss(b.driver_pids) as rss, host.Interval() as iv:
            res = wl.run_pass(b, f"{tag}{len(passes)}")
        # the pass's steal share applies to each of its ops
        res["unstolen"] = iv.unstolen_s / iv.wall_s
        res["jobs"] = store.new_jobs()
        res["spans"] = b.tracer.spans[first_span:]
        res["peak_rss_mb"] = rss.peak_mb
        res["cpu_s"] = sum(st["cpu_s"] for j in res["jobs"] for st in j["stages"])
        wl.finish(b, res)
        passes.append(res)
    return passes


def run(args) -> dict:
    from perfbench import workloads
    from perfbench.trace import StatusStore, Tracer, attribute

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "dbt_tpch_spark")):
        raise SystemExit("perfbench: run from the repository root (no dbt_tpch_spark/ here)")
    declared = declared_metrics(root)
    nproc = os.cpu_count() or 1
    work = os.path.join(root, ".perfbench_work", f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    records = os.path.join(root, ".perfbench_work", "records")
    os.makedirs(records, exist_ok=True)
    shutil.rmtree(work, ignore_errors=True)
    _isolate(work, nproc)

    clock = {"begin": time.perf_counter()}
    context = {"loadavg_before": host.loadavg(), **host.calibrate(nproc)}
    ticks = host.cpu_ticks()

    from dbt_tpch_spark.plans import import_all_models
    from dbt_tpch_spark.session import get_spark

    with host.Interval() as start:
        import_all_models()
        spark = get_spark("perfbench")
    clock["session"] = time.perf_counter()
    try:
        wl = workloads.make(args.workload)
        tracer = Tracer(spark, args.workload, enabled=False)
        b = Bench(spark, tracer, args.seed, nproc, work)
        store = StatusStore(spark)

        presplit = []
        if wl.uses_corpus:
            gen.write_corpus(gen.corpus(args.seed, SF), b.gen_dir)
            for i in range(PRESPLIT_REPEATS):
                with host.Interval() as iv:
                    _presplit(spark, b.gen_dir, os.path.join(work, f"split{i}"), nproc)
                presplit.append(iv)
            b.data_dir = os.path.join(work, "split0")
        clock["corpus"] = time.perf_counter()

        with host.Interval() as warmup:
            warm = wl.run_pass(b, "warmup")
        store.new_jobs()
        wl.finish(b, warm)
        clock["warmup"] = time.perf_counter()
        bad = wl.check_warmup(b, warm)
        clock["check_warmup"] = time.perf_counter()

        passes = _timed_passes(wl, b, store, args.seconds, "timed")
        traced = []
        if args.trace:
            tracer.enabled = True
            traced = _timed_passes(wl, b, store, args.seconds, "traced")
            for res in traced:
                attribute(res["jobs"], res["spans"], wl.name)
            tracer.write(
                os.path.join(records, os.path.basename(work) + ".trace.json"),
                [j for p in traced for j in p["jobs"]],
            )
        clock["timed"] = time.perf_counter()
        attempted = failed = 0
        for res in passes + traced:
            wrong = bad | wl.check_timed(b, res, warm)
            attempted += len(res["ops"])
            failed += len(wrong & set(res["ops"]))
            res["failed_ops"] = sorted(wrong & set(res["ops"]))
        clock["checks"] = time.perf_counter()
    finally:
        _stop(spark)
    clock["stop"] = time.perf_counter()

    # every time below is unstolen (``host.Interval``); the record keeps
    # the walls as they passed
    presplit_s = statistics.median(iv.unstolen_s for iv in presplit) if presplit else 0.0
    setup_s = start.unstolen_s + presplit_s + warmup.unstolen_s
    op_lat = [sec * p["unstolen"] for p in passes for sec in p["ops"].values()]
    if args.trace:
        units = declared["per_layer"]
        layer = [_layer_metrics(wl, b, p, p["spans"]) for p in traced]
        # a layer the workload does not exercise reads 0
        metrics = {k: statistics.median(m.get(k, 0.0) for m in layer) for k in units}
        metrics["session.start_s"] = start.unstolen_s
        metrics["sources.presplit_s"] = presplit_s
        metrics["trace.overhead_frac"] = (
            statistics.median(p["wall"] * p["unstolen"] for p in traced)
            / statistics.median(p["wall"] * p["unstolen"] for p in passes)
            - 1.0
        )
    else:
        units = declared["end_to_end"]
        metrics = {
            "setup_s": setup_s,
            "wall_s": statistics.median(p["wall"] * p["unstolen"] for p in passes),
            "op_p50_s": statistics.median(op_lat),
            "cpu_s": statistics.median(p["cpu_s"] for p in passes),
            "peak_rss_mb": max(p["peak_rss_mb"] for p in passes),
            "ok_frac": (attempted - failed) / attempted,
        }
    context.update(
        loadavg_after=host.loadavg(),
        steal_pct=host.steal_pct(ticks, host.cpu_ticks()),
        cores=nproc,
        sf=SF,
    )
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "context": context,
        "setup_wall_s": {
            "start_s": start.wall_s,
            "presplit_s": [iv.wall_s for iv in presplit],
            "warmup_s": warmup.wall_s,
        },
        "run_clock_s": {k: v - clock["begin"] for k, v in clock.items()},
        "warmup_ops": warm["ops"],
        "warmup_failed_ops": sorted(bad),
        "op_latency_s": summarize(op_lat),
        "passes": [
            {k: p[k] for k in ("wall", "unstolen", "ops", "cpu_s", "peak_rss_mb", "failed_ops")}
            for p in passes + traced
        ],
        "metrics": metrics,
    }
    with open(os.path.join(records, os.path.basename(work) + ".json"), "w") as fh:
        json.dump(record, fh, indent=1, default=str)
    shutil.rmtree(work, ignore_errors=True)
    for name in units:
        print(f"{args.workload} {name} = {metrics[name]:.6g} {units[name]}")
    print(
        f"{args.workload} context: steal {context['steal_pct']}% "
        f"wall as passed {statistics.median(p['wall'] for p in passes):.6g} s "
        f"loadavg {context['loadavg_before']} -> {context['loadavg_after']} "
        f"effective_cores {context['effective_cores']:.2f}"
    )
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
    }


def main(argv=None) -> int:
    from perfbench.workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    result = run(ap.parse_args(argv))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
