"""Benchmark for bloomspark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload bulk_membership --seed 1 --seconds 8 --trace 0

Run from the repository root.  One driver process starts a Spark session
at ``local[<nproc>]``, writes the workload's seeded inputs to parquet
(three times; set-up time takes the median), warms up with one full
round, then repeats timed rounds of public bloomspark calls until
``--seconds`` have passed and at least two rounds ran, each call issued
after the previous one completed.  Every round's outputs are checked
against a single-process oracle.

Human-readable lines (every metric by name and unit, the checks, the
noise covariates) come first; the last line of standard output is the
JSON result.  ``--trace 0`` reports the end-to-end metrics; ``--trace 1``
alternates untraced and traced rounds and reports the per-layer metrics
read from Spark's status stores, plus the tracing overhead.  Full
records, spans included, go to ``.perfbench/``.  A failed check makes the
command exit with code 1.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

ROOT = os.getcwd()
OUT = os.path.join(ROOT, ".perfbench")
WORK = os.path.join(OUT, "work")
SETUP_REPS = 3
MIN_ROUNDS = 2
HASH_METHODS = ("Murmur3KirschMitzenmacher", "Murmur3", "MD5", "FNVWithLCG", "XXHash64KM")
HASH_SAMPLE = 20_000

END_TO_END = {  # name -> unit; the metrics every workload reports
    "setup_s": "s",
    "wall_s": "s",
    "build_keys_per_s": "1/s",
    "probe_keys_per_s": "1/s",
    "fpp_ratio": "ratio",
    "driver_peak_rss_mb": "MiB",
}
SPARK_LAYERS = {  # summed over the program's calls in a traced round
    "scan.ms": "ms",
    "scan.rows": "count",
    "exchange.shuffle_bytes": "B",
    "exchange.write_ms": "ms",
    "python.init_ms": "ms",
    "python.run_ms": "ms",
    "python.run_ms.partial": "ms",
    "python.run_ms.udf": "ms",
    "python.bytes_sent": "B",
    "python.bytes_returned": "B",
}
PER_LAYER = {
    **SPARK_LAYERS,
    "driver.ms": "ms",
    "tasks.skew": "ratio",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    **{f"hashing.keys_per_s.{m}": "1/s" for m in HASH_METHODS},
    "trace.overhead_ratio": "ratio",
    "trace.coverage": "ratio",
}


def parse_args():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args()


def covariates() -> dict:
    """Hypervisor steal (jiffies, /proc/stat) and the 1-minute load."""
    with open("/proc/stat") as f:
        steal = int(f.readline().split()[8])
    with open("/proc/loadavg") as f:
        load = float(f.read().split()[0])
    return {"steal_jiffies": steal, "loadavg_1m": load}


def peak_rss_mb() -> float:
    with open("/proc/self/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM not found")


def make_spark(cores: int):
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("bloomspark-perfbench")
        .config("spark.driver.memory", "2g")
        .config("spark.local.dir", os.environ["SPARK_LOCAL_DIRS"])
        .config("spark.sql.shuffle.partitions", str(cores))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.ui.retainedExecutions", "100000")
        .config("spark.ui.retainedJobs", "100000")
        .config("spark.ui.retainedStages", "100000")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def children(tracer, span):
    return [s for s in tracer.spans if s.parent == span.sid]


def calls(tracer, round_span):
    return [s for s in children(tracer, round_span) if s.attrs.get("call")]


def round_metrics(tracer, round_span, quality) -> dict:
    """One round's figures for the end-to-end metrics."""
    rates = {}
    for kind in ("build", "probe"):
        spans = [s for s in calls(tracer, round_span) if s.attrs[kind]]
        rates[f"{kind}_keys_per_s"] = (
            sum(s.attrs[kind] for s in spans) / sum(s.seconds for s in spans))
    return {"wall_s": round_span.seconds, **rates, "fpp_ratio": quality["fpp_ratio"]}


def layer_totals(tracer, round_span) -> dict:
    """Per-layer totals of one traced round, over the program's calls."""
    tot = {k: 0.0 for k in SPARK_LAYERS}
    tot.update({"driver.ms": 0.0, "spark.jobs": 0, "spark.stages": 0, "spark.tasks": 0})
    skew = [1.0]
    for s in calls(tracer, round_span):
        sp = s.spark
        for k in SPARK_LAYERS:
            tot[k] += sp["layers"].get(k, 0.0)
        for k in ("jobs", "stages", "tasks"):
            tot[f"spark.{k}"] += sp[k]
        tot["driver.ms"] += 1e3 * (s.seconds - sp["busy_s"])
        skew.extend(sp["skew"])
    tot["tasks.skew"] = max(skew)
    covered = sum(s.seconds for s in children(tracer, round_span))
    tot["trace.coverage"] = covered / round_span.seconds
    return tot


def hashing_rates(workload) -> dict:
    """numpy hash-kernel throughput, no Spark, on the workload's keys."""
    from bloomspark.hashing import hash_positions

    from perfbench import oracle

    keys = oracle.read_keys(workload.key_path())
    keys = keys.take(range(min(HASH_SAMPLE, len(keys))))
    cfg = workload.cfg
    out = {}
    for method in HASH_METHODS:
        times = []
        for _ in range(3):
            t0 = time.perf_counter()
            hash_positions(keys, cfg.m, cfg.k, method)
            times.append(time.perf_counter() - t0)
        out[f"hashing.keys_per_s.{method}"] = len(keys) / median(times)
    return out


def span_table(tracer, traced_rounds) -> list:
    """Per span name over the traced rounds: median self time and layers."""
    from perfbench.trace import self_seconds

    by_name = {}
    for r in traced_rounds:
        for s in children(tracer, r):
            by_name.setdefault(s.name, []).append(s)
    rows = []
    for name, spans in by_name.items():
        row = {"name": name,
               "self_ms": 1e3 * median([self_seconds(s, tracer.spans) for s in spans])}
        layers = {}
        for s in spans:
            for k, v in s.spark["layers"].items():
                layers.setdefault(k, []).append(v)
        row.update({k: median(v) for k, v in sorted(layers.items())})
        for k in ("jobs", "stages", "tasks"):
            row[k] = median([s.spark[k] for s in spans])
        row["task_skew"] = max(max(s.spark["skew"], default=1.0) for s in spans)
        rows.append(row)
    return rows


def main() -> int:
    args = parse_args()
    sys.path.insert(0, ROOT)
    try:
        import bloomspark  # noqa: F401  the program under test, from this checkout
    except ImportError as exc:
        print(f"perfbench: cannot import bloomspark from {ROOT}: {exc}", file=sys.stderr)
        return 2
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    shutil.rmtree(WORK, ignore_errors=True)
    tmp = os.path.join(WORK, "spark-local")
    os.makedirs(tmp)
    # Python workers import bloomspark from this checkout; every temp file
    # (Spark local dirs, JVM and Python temp dirs) stays inside it
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["TMPDIR"] = os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    cov0 = covariates()

    cores = len(os.sched_getaffinity(0))  # nproc
    t0 = time.perf_counter()
    spark = make_spark(cores)
    session_s = time.perf_counter() - t0
    try:
        return run(args, spark, cores, WORKLOADS[args.workload], session_s, cov0)
    finally:
        for q in spark.streams.active:
            q.stop()
        stop_spark(spark)
        shutil.rmtree(WORK, ignore_errors=True)


def descendants(pid: int) -> set:
    """Every live process below ``pid``, from /proc."""
    found, todo = set(), [pid]
    while todo:
        p = todo.pop()
        try:
            tasks = os.listdir(f"/proc/{p}/task")
        except FileNotFoundError:
            continue
        for t in tasks:
            try:
                with open(f"/proc/{p}/task/{t}/children") as f:
                    kids = {int(c) for c in f.read().split()}
            except FileNotFoundError:
                continue
            todo.extend(kids - found)
            found |= kids
    return found


def _running(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"  # zombies have ended
    except FileNotFoundError:
        return False


def stop_spark(spark, timeout_s: float = 60.0) -> None:
    """Stop the session, then the JVM (it exits on EOF of its stdin), and
    wait until it and every Python worker it started have ended."""
    children = descendants(os.getpid())
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=timeout_s)
    deadline = time.monotonic() + timeout_s
    while any(_running(p) for p in children):
        if time.monotonic() > deadline:
            raise RuntimeError(f"processes still running: {sorted(children)}")
        time.sleep(0.05)


def run(args, spark, cores, workload_cls, session_s, cov0) -> int:
    from perfbench.trace import SparkHarvester, Tracer, attach

    tracer = Tracer()
    w = workload_cls(spark, tracer, cores, WORK)
    materialize = []
    for _ in range(SETUP_REPS):
        t0 = time.perf_counter()
        w.materialize(args.seed)
        materialize.append(time.perf_counter() - t0)
    # warm-up: one full round over the same inputs, so worker pools, imports
    # and JIT-compiled paths are warm before the first timed call (a round
    # over smaller inputs left the first timed round ~25 % slow)
    with tracer.span("bench.warmup") as ws:
        warm_out = w.run_round("warmup")
    setup_s = session_s + median(materialize) + ws.seconds

    harvester = SparkHarvester(spark) if args.trace else None
    rounds, outs, errors = [], [], []
    t_start = time.perf_counter()
    while len(rounds) < MIN_ROUNDS or time.perf_counter() - t_start < args.seconds:
        i = len(rounds)
        traced = bool(args.trace) and i % 2 == 1
        if traced:
            harvester.mark()
        try:
            with tracer.span("bench.round", index=i, traced=traced) as rs:
                out = w.run_round(i)
                if traced:
                    with tracer.span("bench.harvest"):
                        executions = harvester.executions()
            if traced:
                attach([s for s in tracer.spans if s.start >= rs.start], executions)
        except Exception as exc:  # a failed call is a failed operation
            traceback.print_exc()
            errors.append(f"FAILED round {i}: {type(exc).__name__}: {exc}")
            break
        outs.append(out)
        rounds.append(rs)
    rss = peak_rss_mb()
    finish = w.finish() if not errors else {}

    # checks: every round's outputs against the oracle; in traced rounds
    # also that each call scanned at least its whole input (a cached or
    # skipped read scans fewer rows)
    attempted, failed, failures, qualities = len(errors), len(errors), list(errors), []
    expect = w.oracle()
    for out in [warm_out] + outs:
        checks, quality = w.check(out, expect)
        if out is not warm_out:
            qualities.append(quality)
        attempted += len(checks)
        failures += [f"FAILED {name}: {detail}" for name, ok, detail in checks if not ok]
    for rs in rounds:
        if rs.attrs["traced"]:
            for s in calls(tracer, rs):
                need = max(s.attrs["build"], s.attrs["probe"])
                scanned = s.spark["layers"].get("scan.rows", 0)
                attempted += 1
                if scanned < need:
                    failures.append(f"FAILED {s.name} scanned {scanned:.0f} rows < {need}")
    if "scaling_md5_equal" in finish:
        attempted += 1
        if not finish["scaling_md5_equal"]:
            failures.append("FAILED scaling builds md5-equal")
    failed = len(failures)
    attempted = max(attempted, 1)

    untraced = [(r, q) for r, q in zip(rounds, qualities) if not r.attrs["traced"]]
    figures = [round_metrics(tracer, r, q) for r, q in untraced]
    e2e = {k: median([f[k] for f in figures]) for k in figures[0]} if figures else {}
    e2e.update(setup_s=setup_s, driver_peak_rss_mb=rss)
    extra = {"error_rate": failed / attempted, "session_s": session_s,
             "materialize_s": median(materialize), "warmup_s": ws.seconds,
             "round_walls_s": [round(r.seconds, 3) for r in rounds], **finish}
    if qualities and "sketch_rel_error" in qualities[0]:
        extra["sketch_rel_error"] = median([q["sketch_rel_error"] for q in qualities])
    if outs:
        extra.update(w.summary(outs))

    layers, table = {}, []
    traced_rounds = [r for r in rounds if r.attrs["traced"]]
    if traced_rounds and untraced:
        totals = [layer_totals(tracer, r) for r in traced_rounds]
        layers = {k: median([t[k] for t in totals]) for k in totals[0]}
        layers.update(hashing_rates(w))
        layers["trace.overhead_ratio"] = (
            median([r.seconds for r in traced_rounds])
            / median([r.seconds for r, _q in untraced]))
        table = span_table(tracer, traced_rounds)

    cov1 = covariates()
    record = {
        "workload": args.workload, "seed": args.seed, "cores": cores,
        "seconds": args.seconds, "trace": args.trace,
        "end_to_end": e2e, "extra": extra, "layers": layers, "span_table": table,
        "failures": failures,
        "covariates": {"steal_jiffies": cov1["steal_jiffies"] - cov0["steal_jiffies"],
                       "loadavg_1m_start": cov0["loadavg_1m"],
                       "loadavg_1m_end": cov1["loadavg_1m"]},
        "spans": [s.to_json() for s in tracer.spans],
    }
    with open(os.path.join(
            OUT, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"), "w") as f:
        json.dump(record, f, indent=1, default=str)

    print(f"# {args.workload} seed={args.seed} cores={cores} rounds={len(rounds)}")
    for k, unit in END_TO_END.items():
        print(f"{k} {e2e.get(k, float('nan')):.6g} {unit}")
    for k, v in extra.items():
        print(f"{k} {v}")
    for k, v in record["covariates"].items():
        print(f"covariate.{k} {v}")
    for k, unit in (PER_LAYER.items() if layers else ()):
        print(f"{k} {layers[k]:.6g} {unit}")
    for row in table:
        print("span " + " ".join(f"{k}={v:.4g}" if isinstance(v, float) else f"{k}={v}"
                                 for k, v in row.items()))
    for line in failures:
        print(line)
    metrics, units = (layers, PER_LAYER) if args.trace else (e2e, END_TO_END)
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": metrics.get(k, 0.0), "unit": u} for k, u in units.items()},
    }))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
