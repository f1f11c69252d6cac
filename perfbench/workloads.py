"""The benchmark's workloads: what one pass calls and how each answer is checked.

A pass is a list of calls made one after another by one thread (a closed
loop).  Each call names the span it is timed under, prefixed by the module
it exercises (``co2``, ``ml`` or ``queries``); the traced run sums its layer
figures by these names.

Why these workloads:

- ``co2_pipeline`` is the paper's own pipeline on a seeded wide CSV.  It is
  the only workload that parses CSV and runs ``co2`` and ``ml``; it runs
  nothing from ``queries`` or ``operators``.  Its k-means calls are
  driver-bound: many small jobs, so job count and the gaps between jobs
  set its time.
- ``text_streaming`` runs registry rows of two kinds.  The text, dedup and
  retrieval rows are bound by job count, eager checkpoints and the
  Python/Arrow worker.  The micro-batch rows are the only calls that write
  state stores, WAL/commit logs and manifests while they read, with a fixed
  job cost per micro-batch.  The workload bypasses ``co2`` and ``ml``.

"""

from __future__ import annotations

import math
import os
from dataclasses import dataclass
from typing import Any, Callable

import co2gen

#: rows of the generated CO2 table; large enough that the CSV parse and
#: the cached scans show, small enough that a pass stays a few seconds
CO2_ROWS = 20_000
#: the k range of the elbow sweep: two fits keep a run within the
#: benchmark's time budget (a fit costs over a second of driver-bound jobs)
ELBOW_KS = range(2, 4)

#: the BM25 eval-harness row (build-time checkpoints and a long job chain)
#: and the session-window stream (state store, WAL and commit log per
#: micro-batch); two light rows leave room for four warm passes a run
TEXT_STREAMING_ROWS = ("bm25_eval_metrics", "streaming_session_windows")


@dataclass
class Call:
    name: str
    #: the traced run sums ``<span>_s`` per pass; the module is its prefix
    span: str
    run: Callable[[], Any]
    check: Callable[[Any], bool] | None = None
    #: ``run`` returns a DataFrame that the caller executes into a noop sink
    noop: bool = False

    @property
    def layer(self) -> str:
        return self.span.split(".")[0]


def _close(a: float, b: float) -> bool:
    return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-6)


def _pairs(rows, value_col: str) -> list[tuple[str, float]]:
    return [(r["Country Name"], float(r[value_col])) for r in rows]


class Co2Pipeline:
    """load_clean -> the analytics -> world_join -> assemble_features ->
    elbow_sweep -> fit_kmeans -> silhouette -> cluster_summary."""

    name = "co2_pipeline"
    sweep_each_call = False  # later calls reuse the cached clean table
    #: its driver-bound k-means passes keep speeding up through the fourth
    min_warm_passes = 4

    def __init__(self, spark, work_dir: str, seed: int, n_rows: int = CO2_ROWS, ks: range = ELBOW_KS):
        self.spark, self.work_dir, self.seed, self.n_rows, self.ks = spark, work_dir, seed, n_rows, ks
        self.csv = None
        self.key: dict = {}
        self._corrupt = False

    def prepare(self, attempt: int) -> None:
        """Generate the input CSV (timed as set-up)."""
        self._table = co2gen.generate(self.seed, self.n_rows)
        path = os.path.join(self.work_dir, f"co2-{attempt}.csv")
        with open(path, "wb") as f:
            f.write(co2gen.to_csv(self._table))
        self.csv = path

    def build_key(self) -> None:
        self.key = co2gen.answer_key(self._table)
        if self._corrupt:
            self.key["n_clean"] += 1

    def input_bytes(self) -> int:
        return os.path.getsize(self.csv)

    def calls(self, rng, verify: bool = False) -> list[Call]:
        """Every pass is checked: each call's result is small and collected."""
        from big_data_co2_emission_analysis_spark.co2 import pipeline as P
        from big_data_co2_emission_analysis_spark.ml import clustering as C

        spark, key, st = self.spark, self.key, {}

        def load():
            st["clean"] = P.load_clean(spark, self.csv)
            return st["clean"].count()

        def world():
            rows = P.world_join(st["clean"], spark).collect()
            hit = [r["change"] for r in rows if r["change"] is not None]
            return len(rows), len(hit), sum(hit)

        def features():
            st["feats"] = C.assemble_features(st["clean"], ["change", "isReduced"]).cache()
            return st["feats"].count()

        def fit():
            st["model"] = C.fit_kmeans(st["feats"], k=5, seed=1, sample_fraction=0.1)
            st["assigned"] = st["model"].transform(st["feats"])
            return len(st["model"].clusterCenters())

        def summary():
            rows = C.cluster_summary(st["assigned"]).collect()
            return min(r["min_change"] for r in rows), max(r["max_change"] for r in rows), len(rows)

        analytics = [
            Call("top_emitters_2014", "co2.analytics", lambda: _pairs(P.top_emitters(st["clean"]).collect(), "2014"),
                 lambda v: v == key["top_2014"]),
            Call("top_emitters_2004", "co2.analytics", lambda: _pairs(P.top_emitters(st["clean"], "2004").collect(), "2004"),
                 lambda v: v == key["top_2004"]),
            Call("top_reducers", "co2.analytics", lambda: _pairs(P.top_reducers(st["clean"]).collect(), "change"),
                 lambda v: v == key["top_reducers"]),
            Call("top_increasers", "co2.analytics", lambda: _pairs(P.top_increasers(st["clean"]).collect(), "change"),
                 lambda v: v == key["top_increasers"]),
            Call("reduced_increased_counts", "co2.analytics", lambda: P.reduced_increased_counts(st["clean"]),
                 lambda v: v == (key["n_reduced"], key["n_increased"])),
            Call("conditional_sums", "co2.analytics", lambda: P.conditional_sums(st["clean"]),
                 lambda v: all(_close(a, b) for a, b in zip(v, (key["sum_reduced"], key["sum_increased"], key["sum_total"])))),
            Call("selected_countries", "co2.analytics",
                 lambda: sorted(_pairs(P.selected_countries(st["clean"]).collect(), "change")),
                 lambda v: v == key["selected"]),
        ]
        rng.shuffle(analytics)
        n_ks = len(self.ks)
        return [
            Call("load_clean", "co2.load_clean", load, lambda v: v == key["n_clean"]),
            *analytics,
            Call("world_join", "co2.world_join", world,
                 lambda v: v[0] == 177 and v[1] == key["n_matched"] and _close(v[2], key["sum_matched_change"])),
            Call("assemble_features", "ml.features", features, lambda v: v == key["n_clean"]),
            Call("elbow_sweep", "ml.elbow", lambda: [p.cost for p in C.elbow_sweep(st["feats"], ks=self.ks)],
                 lambda v: len(v) == n_ks and all(math.isfinite(c) and c >= 0 for c in v)),
            Call("fit_kmeans", "ml.fit", fit, lambda v: v == 5),
            Call("silhouette", "ml.silhouette", lambda: C.silhouette(st["assigned"]), lambda v: -1.0 <= v <= 1.0),
            Call("cluster_summary", "ml.summary", summary,
                 lambda v: v[0] == key["min_change"] and v[1] == key["max_change"] and v[2] == 5),
        ]

    def corrupt(self) -> None:
        """Make the answer key wrong (the self-test's detection check)."""
        self._corrupt = True


class RegistryRows:
    """Named registry rows, each ``fn(spark, sf_dir)`` into a noop sink.

    The first pass collects every row instead and is checked off the clock
    against the row's DuckDB oracle (rows without one must return rows)."""

    sweep_each_call = True
    min_warm_passes = 3

    def __init__(self, spark, name: str, rows: tuple[str, ...], tables: tuple[str, ...], sf_dir: str):
        self.spark, self.name, self.rows, self.tables, self.sf_dir = spark, name, rows, tables, sf_dir
        from big_data_co2_emission_analysis_spark.queries import all_queries

        registry = all_queries()
        self.defs = {r: registry[r] for r in rows}
        self._expected: dict[str, tuple] = {}
        self._duck = None
        self._corrupt = False

    def prepare(self, attempt: int) -> None:
        """Resolve each input table through the package's reader (file
        listing and footers); the first scan is left to the cold pass."""
        from big_data_co2_emission_analysis_spark.sources.readers import read_documents, read_events

        for t in self.tables:
            reader = {"events": read_events, "documents": read_documents}[t]
            reader(self.spark, self.sf_dir).schema

    def build_key(self) -> None:
        pass

    def input_bytes(self) -> int:
        from big_data_co2_emission_analysis_spark.sources.readers import table_nbytes

        return sum(table_nbytes(os.path.join(self.sf_dir, f"{t}.parquet")) for t in self.tables)

    def calls(self, rng, verify: bool = False) -> list[Call]:
        order = list(self.rows)
        rng.shuffle(order)
        return [self._call(r, verify) for r in order]

    def _call(self, row: str, verify: bool) -> Call:
        fn = self.defs[row].fn
        spark, sf = self.spark, self.sf_dir

        if verify:
            def run():
                df = fn(spark, sf)
                return sorted(df.columns), [r.asDict() for r in df.collect()]

            return Call(row, "queries.row", run, lambda v: self._check(row, v))

        return Call(row, "queries.row", lambda: fn(spark, sf), noop=True)

    def _check(self, row: str, got) -> bool:
        from tools.check_oracle import canon

        cols, rows = got
        oracle = self.defs[row].oracle
        if oracle is None:
            return len(rows) > 0
        if row not in self._expected:
            self._expected[row] = self._oracle(oracle)
        dcols, drows = self._expected[row]
        if self._corrupt and drows:
            drows = drows[1:]
        return sorted(dcols) == cols and len(rows) == len(drows) and canon(rows, cols) == canon(drows, cols)

    def _oracle(self, sql: str):
        import duckdb

        if self._duck is None:
            self._duck = duckdb.connect()
            for t in self.tables:
                self._duck.sql(f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(self.sf_dir, t)}.parquet'")
        res = self._duck.sql(sql)
        cols = res.columns
        return cols, [dict(zip(cols, r)) for r in res.fetchall()]

    def corrupt(self) -> None:
        """Drop a row from every oracle answer (the self-test's detection check)."""
        self._corrupt = True


def make(name: str, spark, work_dir: str, sf_dir: str, seed: int):
    if name == "co2_pipeline":
        return Co2Pipeline(spark, work_dir, seed)
    if name == "text_streaming":
        return RegistryRows(spark, name, TEXT_STREAMING_ROWS, ("documents", "events"), sf_dir)
    raise ValueError(f"unknown workload {name!r}")


WORKLOADS = ("co2_pipeline", "text_streaming")
