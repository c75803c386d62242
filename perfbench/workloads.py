"""The workloads: inputs per op, the op itself, its output check, and the
per-layer numbers each op exposes (RunReport, lake listing, spans).

Each op runs through the package's public entry points only. The timed part
of an op is ``run``; ``next_input`` (generation, expected values) happens
before it and ``check`` after it, both outside the timing.
"""

from __future__ import annotations

import os
import re
import time
from dataclasses import dataclass, field
from typing import Any

import numpy as np

from inputs import corpus, week_extract, week_run_ts
from probes import Tracer, wrap

SIZES = {
    # smoke: the smallest inputs that still exercise every check
    "smoke": {"regions": 4, "days": 60, "docs": 300},
    # bench: 90-day hourly extracts. 16 regions and 1000 documents keep one
    # run (session start, inputs and oracles, a cold and a warm op) near a
    # minute on 4 cores, so that 48 runs fit in an hour; with 48 regions or
    # 5000 documents a single run took 78 s and 69 s
    "bench": {"regions": 16, "days": 90, "docs": 1000},
}
LOOKBACK, HORIZON = 168, 24
RETENTION_KEEP = 1  # so every week from the second on deletes the week before
SNAPSHOT_PREFIXES = ("raw", "processed", "reports")


def op_rng(seed: int, i: int) -> np.random.Generator:
    """Inputs of op ``i`` depend only on (seed, i), not on how many ops ran."""
    return np.random.default_rng([seed, i])


def lake_files(root: str) -> dict[str, int]:
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            out[p] = os.path.getsize(p)
    return out


@dataclass
class OpInput:
    index: int
    label: str  # what the op is: a week or a corpus
    module: str | None = None  # the querydefs module of a registry lane
    data: Any = None  # the generator's record of the op's inputs
    expected: Any = None  # the oracle's answer, computed before the op
    layers: dict[str, float] = field(default_factory=dict)  # filled by run or check


# -- weekly_dag ---------------------------------------------------------------


_MISSING = re.compile(r"^missing value: (\d+) ")
_GAPS = re.compile(r"^(\S+): (\d+) gaps > ")
_OUTLIERS = re.compile(r"^(\S+): (\d+) outliers ")


def _parse_warnings(warnings: list[str]) -> tuple[int, dict[str, int], dict[str, int]]:
    missing, gaps, outl = 0, {}, {}
    for w in warnings:
        if m := _MISSING.match(w):
            missing = int(m.group(1))
        elif m := _GAPS.match(w):
            gaps[m.group(1)] = int(m.group(2))
        elif m := _OUTLIERS.match(w):
            outl[m.group(1)] = int(m.group(2))
        else:
            raise ValueError(f"unexpected validation warning: {w!r}")
    return missing, gaps, outl


class WeeklyDag:
    """A backfill: op i is simulated week i through
    ``run_dag(electricity_dag(...))``, all weeks sharing one lake."""

    name = "weekly_dag"

    def __init__(self, work: str, seed: int, size: dict):
        self.work, self.seed, self.size = work, seed, size
        self.lake = os.path.join(work, "lake")
        os.makedirs(self.lake, exist_ok=True)
        self.lake_before: dict[str, int] = {}

    def input_summary(self) -> dict:
        return {"regions": self.size["regions"], "days": self.size["days"],
                "lookback": LOOKBACK, "horizon": HORIZON,
                "retention_keep": RETENTION_KEEP}

    def next_input(self, i: int) -> OpInput:
        ext = week_extract(op_rng(self.seed, i), i, os.path.join(self.work, "extracts"),
                           self.size["regions"], self.size["days"])
        self.lake_before = lake_files(self.lake)
        return OpInput(i, f"week{i}", data=ext)

    def run(self, spark, op: OpInput, tracer: Tracer | None):
        from electricity_forecast_pipeline_airflow_k8s_spark.orchestrate import (
            electricity_dag,
            run_dag,
        )

        ext = op.data
        tasks = electricity_dag(
            spark, ext.path, self.lake, run_ts=ext.run_ts, lookback=LOOKBACK,
            horizon=HORIZON, retention_keep=RETENTION_KEEP,
        )
        return run_dag(tasks, ctx={"spark": spark})

    def check(self, spark, op: OpInput, report) -> str | None:
        ext, before = op.data, self.lake_before
        after = lake_files(self.lake)
        written = [p for p in after if p not in before]
        deleted = [p for p in before if p not in after]
        op.layers = {
            **{f"orchestrate.{n}_s": t.seconds for n, t in report.tasks.items()},
            "orchestrate.retries": sum(t.attempts - 1 for t in report.tasks.values()),
            "sources.bytes_written_per_input_byte":
                sum(after[p] for p in written) / ext.input_bytes,
            "sources.lake_mb": sum(after.values()) / 2**20,
            "sources.files_deleted": len(deleted),
        }
        if not report.ok:
            bad = {n: t.error for n, t in report.tasks.items() if t.state != "success"}
            return f"RunReport not ok: {bad}"
        notify = report.results["notify"]
        want = {
            "records": ext.rows,
            "groups_profiled": len(ext.regions),
            "model_version": op.index + 1,
            # prepare already trimmed every prefix to the keep count, so
            # the cleanup task that follows finds nothing left to delete
            "snapshots_deleted": 0,
        }
        for k, v in want.items():
            if notify[k] != v:
                return f"notify {k} = {notify[k]!r}, expected {v!r}"
        got = _parse_warnings(report.results["prepare"].report.warnings)
        if got != ext.expected_warnings():
            return f"validation warnings {got} != injected {ext.expected_warnings()}"
        gone = []
        if op.index >= RETENTION_KEEP:
            gone_ts = week_run_ts(op.index - RETENTION_KEEP)
            gone = sorted(p for p in before if f"/run_ts={gone_ts}/" in p)
        if sorted(deleted) != gone:
            return f"week {op.index} deleted {len(deleted)} lake files, retention expects {len(gone)}"
        for prefix in SNAPSHOT_PREFIXES:
            snaps = sorted(
                n for n in os.listdir(os.path.join(self.lake, prefix))
                if n.startswith("run_ts=")
            )
            if len(snaps) != min(op.index + 1, RETENTION_KEEP):
                return f"{prefix} holds {len(snaps)} snapshots after week {op.index}"
            if snaps[-1] != f"run_ts={ext.run_ts}":
                return f"{prefix} newest snapshot is {snaps[-1]}"
        return None

    def install_tracing(self, tracer: Tracer) -> None:
        from electricity_forecast_pipeline_airflow_k8s_spark import pipeline
        from electricity_forecast_pipeline_airflow_k8s_spark.ml import registry
        from electricity_forecast_pipeline_airflow_k8s_spark.operators import profile
        from electricity_forecast_pipeline_airflow_k8s_spark.sources import snapshots

        def noop(df):
            df.write.format("noop").mode("overwrite").save()

        def windows(params):
            return int(sum(r["n_train"] for r in params.collect()))

        wrap(tracer, pipeline, "write_snapshot", "sources.write_snapshot")
        wrap(tracer, pipeline, "apply_retention", "sources.apply_retention")
        wrap(tracer, snapshots, "apply_retention", "sources.apply_retention")
        wrap(tracer, pipeline, "validate", "operators.validation.validate")
        wrap(tracer, profile, "quality_profile", "operators.profile.quality_profile", noop)
        wrap(tracer, pipeline, "run_training", "pipeline.run_training")
        wrap(tracer, pipeline, "fit_per_group", "ml.forecast.fit_per_group", windows)
        wrap(tracer, registry, "register_model", "ml.registry.register_model")


# -- corpus_prep --------------------------------------------------------------


def materialized_ctes(sql: str) -> str:
    """The same query with every non-recursive CTE marked MATERIALIZED.
    DuckDB otherwise re-evaluates a CTE at each reference; the corpus
    oracle references its MinHash CTEs many times and, evaluated inline,
    needs several GB for a few hundred documents. The results are the same
    because every CTE is deterministic."""
    return re.sub(r"(^|,\n)(\w+) AS \(", r"\1\2 AS MATERIALIZED (", sql, flags=re.M)


class CorpusPrep:
    """Op i runs the ``corpus_prep_e2e`` lane over its own generated corpus."""

    name = "corpus_prep"
    lane = "corpus_prep_e2e"

    def __init__(self, work: str, seed: int, size: dict):
        from electricity_forecast_pipeline_airflow_k8s_spark import queries

        self.work, self.seed, self.size = work, seed, size
        self.build = queries.queries()[self.lane]
        self.sql = materialized_ctes(queries.oracle_sql()[self.lane])

    def input_summary(self) -> dict:
        return {"docs_per_op": self.size["docs"]}

    def next_input(self, i: int) -> OpInput:
        import duckdb
        from tools.verify_contract import canon

        rec = corpus(op_rng(self.seed, i), os.path.join(self.work, f"corpus{i:03d}"),
                     self.size["docs"])
        con = duckdb.connect()
        try:
            con.execute(
                f"CREATE VIEW documents AS SELECT * FROM '{rec.path}/documents.parquet'"
            )
            expected = canon(con.execute(self.sql).df())
        finally:
            con.close()
        return OpInput(i, f"corpus{i}", "querydefs.corpus", data=rec, expected=expected)

    def run(self, spark, op: OpInput, tracer: Tracer | None):
        if tracer is not None and tracer.active:
            idx = tracer.open("querydefs.build")
            df = self.build(spark, op.data.path)
            tracer.close(idx)
            idx = tracer.open("querydefs.materialize")
            pdf = df.toPandas()
            tracer.close(idx)
            return pdf
        # untraced: the builder call and the materialization timed apart,
        # with the jobs the builder starts (counted only in a traced run)
        jobs = tracer.job_count if tracer is not None else (lambda: 0)
        j0 = jobs()
        t0 = time.perf_counter()
        df = self.build(spark, op.data.path)
        t1 = time.perf_counter()
        j1 = jobs()
        t2 = time.perf_counter()
        pdf = df.toPandas()
        t3 = time.perf_counter()
        op.layers = {"querydefs.build_s": t1 - t0, "querydefs.build_jobs": j1 - j0,
                     "querydefs.materialize_s": t3 - t2}
        return pdf

    def check(self, spark, op: OpInput, pdf) -> str | None:
        from tools.verify_contract import canon, frames_equal

        got = canon(pdf)
        if len(got) != len(op.expected):
            return f"{len(got)} rows, the oracle has {len(op.expected)}"
        ok, why = frames_equal(got, op.expected)
        if not ok:
            return f"oracle mismatch: {why}"
        rec = op.data
        gate = _per_source(rec.gate_failures, rec.source_of)
        exact = _per_source(rec.exact_dups, rec.source_of)
        for r in pdf.itertuples():
            if r.n_raw - r.n_quality != gate.get(r.source, 0):
                return f"{r.source}: gate dropped {r.n_raw - r.n_quality}, injected {gate.get(r.source, 0)}"
            if r.n_quality - r.n_exact != exact.get(r.source, 0):
                return f"{r.source}: exact dedup dropped {r.n_quality - r.n_exact}, injected {exact.get(r.source, 0)}"
        if int(pdf["n_raw"].sum()) != rec.docs:
            return f"n_raw sums to {int(pdf['n_raw'].sum())}, generated {rec.docs}"
        return None

    def install_tracing(self, tracer: Tracer) -> None:
        from electricity_forecast_pipeline_airflow_k8s_spark.operators import dedup
        from electricity_forecast_pipeline_airflow_k8s_spark.querydefs import corpus as qc

        # corpus_prep_stages cuts each stage into a lazy manifest that later
        # stages materialize, so the stages are timed at the operators each
        # one calls, with the operator's output counted inside the span.
        def count(df):
            return int(df.count())

        wrap(tracer, qc, "gopher_doc_flags", "querydefs.corpus.gate", count)
        wrap(tracer, dedup, "exact_dedup", "querydefs.corpus.exact", count)
        wrap(tracer, dedup, "minhash_lsh_dedup_pairs", "querydefs.corpus.neardup", count)
        wrap(tracer, dedup, "lsh_candidate_pairs", "operators.dedup.lsh_candidate_pairs", count)
        wrap(tracer, dedup, "connected_components", "operators.dedup.connected_components", count)
        wrap(tracer, dedup, "ngram_contamination", "querydefs.corpus.decontam", count)


def _per_source(ids, source_of: dict[int, str]) -> dict[str, int]:
    out: dict[str, int] = {}
    for i in ids:
        out[source_of[i]] = out.get(source_of[i], 0) + 1
    return out


WORKLOADS = {w.name: w for w in (WeeklyDag, CorpusPrep)}
