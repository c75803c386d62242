"""End-to-end benchmark of the engine: one workload, one seed, one closed loop.

    python3 perfbench/run.py --workload weekly_dag --seed 1 --seconds 10 --trace 0

Run from the repository root. The command generates the workload's inputs
from the seed, starts a session through ``session.get_spark`` on
``local[4]`` (``SPARK_GRAFT_CPUS=4``) and runs ops one after another from
one driver thread until ``--seconds`` of op time have passed, and at least
the cold first op and one warm op (plus one traced op with ``--trace 1``).
Every op is timed from the builder call through materialization and its
output is checked. The environment is the default one (the scoped cache stays on);
there is no warm-up, no min-of-N, no retry and no cache clearing between
ops.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` is the traced
run: from the second op on, every other op runs with spans around the
layers' public functions, and Spark's status store is read after every op;
it prints the per-layer metrics, including the tracing overhead (traced
minus untraced median op time).

Every metric is printed by name with its unit; the last line of standard
output is one JSON object with ``correct``, ``attempted``, ``failed`` and
the metrics that BENCHMARK.json lists for the mode. A record of the run
(provenance, every op, every span) is written under ``.perfbench_out/``.
Inputs and the lake live under ``.perfbench_work/`` and are removed at the
end.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import time

from probes import PACKAGE

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CPUS = "4"
TAIL_PERCENTILES = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
# end-to-end metrics printed every run but not gated, so not in BENCHMARK.json
PRINTED_ONLY = {"cold_op_s": "s", "op_s_p50": "s", "op_s_tail": "s",
                "ops_per_min": "1/min", "peak_rss_mb": "MB", "failed_share": "ratio"}


def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(xs: list[float]) -> tuple[float, float, int] | None:
    """(percentile, value, samples beyond it) for the highest percentile
    with at least 10 samples beyond it, or None when there are too few."""
    for p in TAIL_PERCENTILES:
        beyond = int(len(xs) * (100.0 - p) / 100.0)
        if beyond >= 10:
            k = len(xs) - beyond - 1  # nearest-rank index of the percentile
            return p, sorted(xs)[k], beyond
    return None


def source_hash() -> str:
    """sha256 over the package's and the oracle tool's Python sources."""
    h = hashlib.sha256()
    files = [os.path.join(ROOT, "tools", "verify_contract.py")]
    for d, _, names in os.walk(os.path.join(ROOT, PACKAGE)):
        files += [os.path.join(d, n) for n in names if n.endswith(".py")]
    for path in sorted(files):
        h.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def provenance(args, workload) -> dict:
    def out(cmd):
        try:
            r = subprocess.run(cmd, capture_output=True, text=True, timeout=30, cwd=ROOT)
            return (r.stdout or r.stderr).strip() or None
        except (OSError, subprocess.SubprocessError):
            return None

    import pyspark

    java = out(["java", "-version"])
    return {
        "git_sha": out(["git", "rev-parse", "HEAD"]) if os.path.isdir(
            os.path.join(ROOT, ".git")) else None,
        # identifies the code in a checkout that is not a git repository
        "package_sha256": source_hash(),
        "nproc": os.cpu_count(),
        "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
        "pyspark": pyspark.__version__,
        "java": next((ln for ln in (java or "").splitlines() if " version " in ln), None),
        "python": platform.python_version(),
        "date": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "size": args.size,
        "inputs": workload.input_summary(),
    }


def stop_spark(spark) -> None:
    """Stop the session, then close the JVM's stdin (the gateway exits on
    EOF) and wait until every process the run started has ended."""
    from probes import descendants

    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.monotonic() + 30
    while descendants(os.getpid()) and time.monotonic() < deadline:
        time.sleep(0.2)
    for pid in descendants(os.getpid()):
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass


def run_ops(args, wl, spark, tracer, counters) -> list[dict]:
    from probes import tree_cpu_s

    min_ops = 3 if args.trace else 2
    ops: list[dict] = []
    timed = 0.0
    i = 0
    while timed < args.seconds or i < min_ops:
        op = wl.next_input(i)
        traced = bool(args.trace) and i % 2 == 1
        group = f"perfbench-op-{i}"
        if counters:
            counters.begin(group)
        if tracer:
            tracer.op, tracer.active = i, traced
            root = tracer.open("op") if traced else None
        cpu0 = tree_cpu_s()
        t0 = time.perf_counter()
        try:
            result, error = wl.run(spark, op, tracer), None
        except Exception as e:  # noqa: BLE001 -- an op that raises is a failed op
            result, error = None, f"{type(e).__name__}: {e}"
        dt = time.perf_counter() - t0
        cpu = tree_cpu_s() - cpu0
        if tracer:
            if root is not None:
                tracer.close(root)
            tracer.active = False
        spark_c = counters.read(group) if counters else None
        if error is None:
            try:
                error = wl.check(spark, op, result)
            except Exception as e:  # noqa: BLE001 -- a check that raises fails the op
                error = f"check raised {type(e).__name__}: {e}"
        ops.append({
            "i": i, "label": op.label, "module": op.module,
            "seconds": dt, "cpu_s": cpu, "traced": traced, "error": error,
            "layers": op.layers, "spark": vars(spark_c) if spark_c else None,
        })
        status = "ok" if error is None else f"FAILED {error}"
        print(f"op {i:3d} {op.label:<40s} {dt:8.3f} s  cpu {cpu:7.2f} s"
              f"{'  traced' if traced else ''}  {status}", flush=True)
        timed += dt
        i += 1
    return ops


def end_to_end(setup_s: float, ops: list[dict], peak_rss_mb: float) -> tuple[dict, list[str]]:
    plain = [o for o in ops if not o["traced"]]
    secs = [o["seconds"] for o in plain[1:]]
    failed = sum(o["error"] is not None for o in ops)
    m = {
        "setup_s": setup_s,
        "cold_op_s": ops[0]["seconds"],
        "op_s_p50": median(secs),
        "ops_per_min": 60.0 * len(plain) / sum(o["seconds"] for o in plain),
        # over the cold op and the warm ones together: the JVM's background
        # JIT compiles and the Python workers' start-up land in whichever op
        # is running, and the share each op gets differs from run to run
        "cpu_s_per_op": sum(o["cpu_s"] for o in plain) / len(plain),
        "peak_rss_mb": peak_rss_mb,
        "failed_share": failed / len(ops),
    }
    notes = []
    t = tail(secs)
    if t is None:
        notes.append(f"op_s_tail omitted: {len(secs)} warm ops, 20 needed for p50")
    else:
        p, v, beyond = t
        m["op_s_tail"] = v
        notes.append(f"op_s_tail is p{p:g} of {len(secs)} warm ops, {beyond} beyond it")
    return m, notes


# spans the traced run records, named after the layer function they wrap
SPAN_NAMES = (
    "sources.write_snapshot", "sources.apply_retention",
    "operators.validation.validate", "operators.profile.quality_profile",
    "pipeline.run_training", "ml.forecast.fit_per_group",
    "ml.registry.register_model", "querydefs.corpus.gate",
    "querydefs.corpus.exact", "querydefs.corpus.neardup",
    "operators.dedup.lsh_candidate_pairs", "operators.dedup.connected_components",
    "querydefs.corpus.decontam", "querydefs.build", "querydefs.materialize",
)


def per_layer(setup_s: float, ops: list[dict], tracer, declared: list[str]) -> dict:
    """Medians over ops: Spark counters, RunReport, lake and builder numbers
    from the warm untraced ops, span numbers from the traced ops. A layer
    the workload never reaches reads 0."""
    plain = [o for o in ops[1:] if not o["traced"]]
    traced = [o for o in ops if o["traced"]]

    def med(key_fn, rows):
        return median([key_fn(o) for o in rows])

    m: dict[str, float] = {"session.start_s": setup_s}
    for k in ("jobs", "stages", "tasks", "executor_cpu_s", "gc_s", "executor_run_s",
              "shuffle_read_mb", "shuffle_write_mb", "spill_mb"):
        m[f"spark.{k}"] = med(lambda o: o["spark"][k], plain)
    m["spark.slot_busy_share"] = med(
        lambda o: o["spark"]["executor_run_s"] / (o["seconds"] * int(CPUS)), plain)
    m["spark.failed_tasks"] = sum(o["spark"]["failed_tasks"] for o in ops)
    m["spark.storage_mb"] = max(o["spark"]["storage_mb"] for o in ops)
    for name in declared:
        if name.startswith("callsite."):
            mod = name[len("callsite."):-len(".run_s")]
            m[name] = med(lambda o: o["spark"]["run_s_by_module"].get(mod, 0.0), plain)
    for k in ("orchestrate.extract_s", "orchestrate.prepare_s",
              "orchestrate.quality_summary_s", "orchestrate.train_s",
              "orchestrate.register_s", "orchestrate.cleanup_s",
              "sources.bytes_written_per_input_byte", "sources.lake_mb",
              "sources.files_deleted", "querydefs.build_s", "querydefs.build_jobs",
              "querydefs.materialize_s"):
        m[k] = med(lambda o: o["layers"].get(k, 0.0), plain)
    m["orchestrate.retries"] = sum(o["layers"].get("orchestrate.retries", 0) for o in ops)
    m["querydefs.corpus.op_s"] = med(
        lambda o: o["seconds"], [o for o in plain if o["module"] == "querydefs.corpus"])

    totals = [tracer.sums(o["i"], lambda s: s.end - s.start) for o in traced]
    counts = [tracer.sums(o["i"], lambda s: s.count or 0) for o in traced]
    jobs = [tracer.sums(o["i"], lambda s: s.jobs) for o in traced]
    selfs = [tracer.self_times(o["i"]) for o in traced]
    for name in SPAN_NAMES:
        m[f"self.{name}_s"] = median([s.get(name, 0.0) for s in selfs])
    m["trace.unattributed_s"] = median([s.get("op", 0.0) for s in selfs])
    m["trace.overhead_s"] = med(lambda o: o["seconds"], traced) - med(
        lambda o: o["seconds"], plain)

    def span_total(n):
        return median([t.get(n, 0.0) for t in totals])

    def span_count(n):
        return median([c.get(n, 0) for c in counts])

    m["sources.write_s"] = span_total("sources.write_snapshot")
    m["operators.validation.s"] = span_total("operators.validation.validate")
    m["ml.forecast.fit_s"] = span_total("ml.forecast.fit_per_group")
    m["ml.forecast.windows"] = span_count("ml.forecast.fit_per_group")
    m["ml.registry.register_s"] = span_total("ml.registry.register_model")
    for stage in ("gate", "exact", "neardup", "decontam"):
        m[f"querydefs.corpus.{stage}_s"] = span_total(f"querydefs.corpus.{stage}")
    cand = span_count("operators.dedup.lsh_candidate_pairs")
    verified = span_count("querydefs.corpus.neardup")
    m["operators.dedup.lsh_candidates"] = cand
    m["operators.dedup.lsh_verified"] = verified
    m["operators.dedup.lsh_precision"] = verified / cand if cand else 0.0
    m["operators.dedup.cc_jobs"] = median(
        [j.get("operators.dedup.connected_components", 0) for j in jobs])
    return m


def load_config() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def prepare_env(work: str) -> None:
    """Pin the core count and keep every scratch file of Spark, the JVM
    and Python inside the run's work directory."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = CPUS
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("bench", "smoke"), default="bench",
                    help="input sizes; smoke is the smallest that runs every check")
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "orchestrate.py")):
        print(f"perfbench: package {PACKAGE} not found under {ROOT}", file=sys.stderr)
        return 2
    config = load_config()
    names = {w["name"] for w in config["workloads"]}
    if args.workload not in names:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(names)}",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    try:
        prepare_env(work)
        record = run(args, work, config)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return report(args, config, record)


def run(args, work: str, config: dict) -> dict:
    from probes import PeakRss, SparkCounters, Tracer
    from workloads import SIZES, WORKLOADS

    wl = WORKLOADS[args.workload](os.path.join(work, "inputs"), args.seed, SIZES[args.size])
    prov = provenance(args, wl)
    print("provenance " + json.dumps(prov, sort_keys=True), flush=True)
    from electricity_forecast_pipeline_airflow_k8s_spark.session import get_spark

    with PeakRss() as rss:
        t0 = time.perf_counter()
        spark = get_spark()
        spark.range(1).count()
        setup_s = time.perf_counter() - t0
        try:
            counters = tracer = None
            if args.trace:
                counters = SparkCounters(spark)
                tracer = Tracer(lambda: counters.job_count(f"perfbench-op-{tracer.op}"))
                wl.install_tracing(tracer)
            ops = run_ops(args, wl, spark, tracer, counters)
        finally:
            stop_spark(spark)
    e2e, notes = end_to_end(setup_s, ops, rss.peak_mb)
    declared = [m["name"] for m in config["per_layer"]]
    layers = per_layer(setup_s, ops, tracer, declared) if args.trace else {}
    return {"provenance": prov, "ops": ops, "end_to_end": e2e, "notes": notes,
            "per_layer": layers, "spans": tracer.dump() if tracer else []}


def report(args, config: dict, record: dict) -> int:
    ops = record["ops"]
    failed = sum(o["error"] is not None for o in ops)
    for note in record["notes"]:
        print(note)
    units = {m["name"]: m["unit"] for m in config["end_to_end"] + config["per_layer"]}
    units.update(PRINTED_ONLY)
    for k, v in record["end_to_end"].items():
        print(f"end_to_end {k} = {v:.6g} {units[k]}")
    for k, v in sorted(record["per_layer"].items()):
        print(f"per_layer {k} = {v:.6g} {units[k]}")
    declared = config["per_layer"] if args.trace else config["end_to_end"]
    values = record["per_layer"] if args.trace else record["end_to_end"]
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(path, "w") as f:
        json.dump(record, f, indent=1, default=str)
    print(f"record written to {os.path.relpath(path, ROOT)}")
    missing = [d["name"] for d in declared if d["name"] not in values]
    if missing:
        print(f"perfbench: metrics not measured: {missing}", file=sys.stderr)
        return 3
    result = {
        "correct": failed == 0,
        "attempted": len(ops),
        "failed": failed,
        "metrics": {d["name"]: {"value": values[d["name"]], "unit": d["unit"]}
                    for d in declared},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
