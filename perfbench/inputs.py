"""Seeded input generators for the benchmark workloads.

Every generator takes a ``numpy.random.Generator`` and writes parquet under
a directory the caller owns; the same seed gives the same bytes. Besides the files, each generator returns a record of what it
injected (nulls, gaps, outliers, duplicate and contaminated documents), so
the output checks compare the program's answers against known truth.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field
from datetime import datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# -- weekly DAG extract ------------------------------------------------------

# Validation thresholds the injected defects are sized against
# (operators/validation.py): gaps longer than 5400 s warn, a region warns
# when more than 2% of its rows sit outside the 3 x IQR fence, a value
# >= 3 x the global q99 is an error, and more than 5% nulls is an error.
OUTLIER_WARN_PCT = 2.0
EXTREME_Q99_FACTOR = 3.0
EPOCH = datetime(2024, 1, 1)


def week_run_ts(week: int) -> str:
    """The DAG run timestamp of simulated week ``week`` (%Y%m%d_%H%M%S)."""
    return (EPOCH + timedelta(days=7 * week)).strftime("%Y%m%d_%H%M%S")


@dataclass
class WeekExtract:
    """One simulated week's extract and the defects injected into it."""

    week: int
    path: str  # sf-style directory holding events.parquet
    run_ts: str
    rows: int
    input_bytes: int
    regions: list[str]
    rows_per_region: dict[str, int]
    nulls: int
    nulls_per_region: dict[str, int]
    gaps_per_region: dict[str, int]
    outliers_per_region: dict[str, int]

    def expected_warnings(self) -> tuple[int, dict[str, int], dict[str, int]]:
        """(missing values, {region: gaps}, {region: outliers}) as the
        validation report must state them."""
        gaps = {r: n for r, n in self.gaps_per_region.items() if n}
        outl = {
            r: n
            for r, n in self.outliers_per_region.items()
            if n * 100.0 / self.rows_per_region[r] > OUTLIER_WARN_PCT
        }
        return self.nulls, gaps, outl


def week_extract(
    rng: np.random.Generator, week: int, out_dir: str, regions: int, days: int
) -> WeekExtract:
    """Hourly readings for ``regions`` regions over ``days`` days ending at
    the start of simulated week ``week``, written as the events-shaped
    parquet that ``electricity_dag`` reads through ``load_table("events")``
    (ts -> period, event_type -> respondent, value -> value).

    Values are a bounded daily cycle around a per-region base, so no clean
    reading crosses the 3 x IQR fence. Injected per region: 0-2 gap blocks of
    2-5 missing hours, nulls (under 5% overall) and, in about a third of the
    regions, 3% of rows raised to 3 x base (a warning, never an error)."""
    hours = days * 24
    end = EPOCH + timedelta(days=7 * week + days)
    start = end - timedelta(hours=hours)
    names = [f"R{r:03d}" for r in range(regions)]
    cols: dict[str, list] = {"ts": [], "event_type": [], "value": []}
    rows_per, nulls_per, gaps_per, outl_per = {}, {}, {}, {}
    hour_idx = np.arange(hours)
    for name in names:
        base = rng.uniform(1000.0, 1500.0)
        phase = rng.uniform(0, 2 * np.pi)
        vals = base * (
            1.0
            + 0.3 * np.sin(2 * np.pi * hour_idx / 24 + phase)
            + rng.uniform(-0.05, 0.05, hours)
        )
        keep = np.ones(hours, dtype=bool)
        n_gaps = int(rng.integers(0, 3))
        # gap blocks sit in disjoint slices away from both ends, so each
        # block is exactly one gap longer than the tolerance
        slots = rng.choice(np.arange(1, 9), size=n_gaps, replace=False)
        for s in slots:
            lo = int(s * hours // 10 + rng.integers(0, hours // 20))
            keep[lo : lo + int(rng.integers(2, 6))] = False
        idx = np.flatnonzero(keep)
        vals = vals[idx]
        n = len(idx)
        order = rng.permutation(n)
        n_out = int(round(0.03 * n)) if rng.random() < 1 / 3 else int(rng.integers(0, 3))
        out_idx = order[:n_out]
        vals[out_idx] = 3.0 * base
        n_null = int(rng.integers(0, int(0.04 * n)))
        null_idx = order[n_out : n_out + n_null]
        values = vals.astype(object)
        values[null_idx] = None
        cols["ts"].extend(start + timedelta(hours=int(h)) for h in idx)
        cols["event_type"].extend([name] * n)
        cols["value"].extend(values.tolist())
        rows_per[name], nulls_per[name] = n, n_null
        gaps_per[name], outl_per[name] = n_gaps, n_out
    total = sum(rows_per.values())
    clean = np.array([v for v in cols["value"] if v is not None], dtype=float)
    q99 = float(np.percentile(clean, 99))
    if clean.max() >= EXTREME_Q99_FACTOR * q99:
        raise AssertionError("generator produced an extreme value; widen q99 margin")
    if sum(nulls_per.values()) * 100.0 / total >= 5.0:
        raise AssertionError("generator exceeded the 5% null budget")
    table = pa.table(
        {
            "event_id": pa.array(np.arange(total, dtype=np.int64)),
            "ts": pa.array(cols["ts"], type=pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, 1000, total), type=pa.int64()),
            "event_type": pa.array(cols["event_type"], type=pa.string()),
            "value": pa.array(cols["value"], type=pa.float64()),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, total)]),
        }
    )
    week_dir = os.path.join(out_dir, f"week{week:03d}")
    os.makedirs(week_dir, exist_ok=True)
    path = os.path.join(week_dir, "events.parquet")
    pq.write_table(table, path)
    return WeekExtract(
        week=week,
        path=week_dir,
        run_ts=week_run_ts(week),
        rows=total,
        input_bytes=os.path.getsize(path),
        regions=names,
        rows_per_region=rows_per,
        nulls=sum(nulls_per.values()),
        nulls_per_region=nulls_per,
        gaps_per_region=gaps_per,
        outliers_per_region=outl_per,
    )


# -- documents corpus --------------------------------------------------------

_SYLL = [c + v for c in "bcdfghjklmnprstvwz" for v in "aeiou"]
_LANGS = ("en", "de", "fr", "es", "zh")
_LANG_P = (0.44, 0.14, 0.13, 0.15, 0.14)
SOURCES = 20
BENCH_MOD = 25  # corpus_prep_e2e holds out doc_id % 25 == 0 as the benchmark set


def _vocab(rng: np.random.Generator, size: int) -> np.ndarray:
    words: set[str] = set()
    while len(words) < size:
        k = int(rng.integers(2, 4))
        words.add("".join(rng.choice(_SYLL, k)))
    return np.array(sorted(words))


@dataclass
class Corpus:
    """One generated documents table and the ids of what was injected."""

    path: str  # sf-style directory holding documents.parquet
    docs: int
    input_bytes: int
    exact_dups: dict[int, int] = field(default_factory=dict)  # copy -> original
    near_dups: dict[int, int] = field(default_factory=dict)  # edit -> original
    contaminated: list[int] = field(default_factory=list)
    gate_failures: list[int] = field(default_factory=list)
    source_of: dict[int, str] = field(default_factory=dict)


def corpus(rng: np.random.Generator, out_dir: str, docs: int) -> Corpus:
    """A documents table (doc_id, text, lang, source, n_chars) over a
    synthetic vocabulary, with known shares across all sources of:
    gate failures (~8%: too short, ellipsis lines, bullet lists or symbol
    spam), exact duplicates (~6%, byte-identical copies), near-duplicates
    (~6%, 5% of tokens replaced) and benchmark contamination (~4%, documents
    built mostly from a held-out ``doc_id % 25 == 0`` document's text)."""
    vocab = _vocab(rng, 1500)
    zipf = 1.0 / np.arange(1, len(vocab) + 1) ** 0.8
    zipf /= zipf.sum()
    texts: list[str] = []
    rec = Corpus(path=out_dir, docs=docs, input_bytes=0)

    def fresh(lo: int = 60, hi: int = 160) -> list[str]:
        return list(rng.choice(vocab, int(rng.integers(lo, hi)), p=zipf))

    # fresh, gate-passing, non-benchmark documents; copies and edits are only
    # ever made of these, so every near-duplicate cluster is a star and the
    # connected-components fixpoint runs about the same rounds for any seed
    originals: list[int] = []
    for i in range(docs):
        u = rng.random()
        if i % BENCH_MOD == 0 or i < 50 or u < 0.76:
            texts.append(" ".join(fresh()))
            if i % BENCH_MOD:
                originals.append(i)
        elif u < 0.84:
            kind = int(rng.integers(0, 4))
            if kind == 0:
                text = " ".join(fresh(10, 40))
            elif kind == 1:
                text = "\n".join(" ".join(fresh(8, 15)) + " ..." for _ in range(8))
            elif kind == 2:
                text = "\n".join("- " + " ".join(fresh(8, 15)) for _ in range(8))
            else:
                text = " ".join(w + " #" for w in fresh())
            texts.append(text)
            rec.gate_failures.append(i)
        elif u < 0.90:
            j = int(rng.choice(originals))
            texts.append(texts[j])
            rec.exact_dups[i] = j
        elif u < 0.96:
            j = int(rng.choice(originals))
            toks = texts[j].split(" ")
            for p in rng.choice(len(toks), max(1, len(toks) // 20), replace=False):
                toks[p] = str(rng.choice(vocab))
            texts.append(" ".join(toks))
            rec.near_dups[i] = j
        else:
            j = int(rng.integers(0, i // BENCH_MOD + 1)) * BENCH_MOD
            toks = texts[j].split(" ")
            keep = toks[: int(len(toks) * rng.uniform(0.6, 0.9))]
            texts.append(" ".join(keep + fresh(30, 50)))
            rec.contaminated.append(i)
    ids = np.arange(docs, dtype=np.int64)
    sources = [f"src{int(s)}" for s in rng.integers(0, SOURCES, docs)]
    rec.source_of = dict(zip(range(docs), sources))
    table = pa.table(
        {
            "doc_id": pa.array(ids),
            "text": pa.array(texts, type=pa.string()),
            "lang": pa.array(rng.choice(_LANGS, docs, p=_LANG_P).tolist()),
            "source": pa.array(sources),
            "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
        }
    )
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, "documents.parquet")
    pq.write_table(table, path)
    rec.input_bytes = os.path.getsize(path)
    return rec
