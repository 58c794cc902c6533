"""The two benchmark workloads.

Each workload generates its inputs from the seed (``prepare``) and
runs one pass through the package's public entry points
(``run_pass``), checking the outputs against a computation that does
not use Spark (``checks.py``). The traced run calls the same
``run_pass`` under a ``spans.Tracer``: ``trace_targets`` names the
layer functions the tracer patches so that each call into them is a
span of the real app run (``spans.py``).

A pass returns its operations as ``(wall_s, cpu_s, errors)``: one per
app run (apps) or query (query_mix). ``cpu_s`` reads
the ``cpu`` clock the runner sets (CPU seconds of the driver, its JVM
and Python workers). An operation that raised or failed its check
counts in ``failed``.
"""

from __future__ import annotations

import functools
import json
import os
import random
import time
from contextlib import contextmanager

import numpy as np
import pyarrow.parquet as pq

import checks
import gen
from catalog import QUERY_MODULES

PKG = "big_data_hw_23_24_spark"


def _layer_of(module: str) -> str:
    return module.removeprefix(PKG + ".")


def _targets(*specs: tuple[str, str, str]) -> list[tuple]:
    """``(module, function, step name)`` -> tracer targets; the layer
    is the module's path inside the package."""
    import importlib

    return [(importlib.import_module(f"{PKG}.{m}"), fn, m, name)
            for m, fn, name in specs]


class Workload:
    name = ""
    # nominal wall seconds of one pass on a 4-core box: a run times
    # round(--seconds / pass_s) passes, at least one
    pass_s = 1.0

    def __init__(self, work: str, seed: int):
        self.work, self.seed = work, seed
        self.inputs: dict = {}
        self.cpu = time.process_time
        self.tracer = None  # set by the traced run
        self.notes: dict = {}  # figures of the last pass for the run record

    def _timed(self, fn, *a, **kw):
        """``(wall_s, cpu_s, fn(*a, **kw))``."""
        c0, t0 = self.cpu(), time.perf_counter()
        out = fn(*a, **kw)
        return time.perf_counter() - t0, self.cpu() - c0, out

    def _span(self, layer: str, name: str, fn, *a, **kw):
        """``fn(*a, **kw)``, as one span when tracing."""
        if self.tracer is None:
            return fn(*a, **kw)
        with self.tracer.span(layer, name):
            return fn(*a, **kw)

    def prepare(self) -> dict:
        raise NotImplementedError

    def run_pass(self, spark) -> list[tuple[float, float, list[str]]]:
        raise NotImplementedError

    def trace_targets(self) -> list[tuple]:
        return []

    @contextmanager
    def traced(self, tracer):
        """Patch the layer functions of ``trace_targets`` for the traced run."""
        with tracer.wrap(self.trace_targets()):
            yield

    def layer_metrics(self, tracer) -> dict[str, float]:
        return {}

    def oracle_check(self, spark) -> list[str] | None:
        """A once-per-run check outside the timed passes, if any."""
        return None


# --- apps -----------------------------------------------------------------------

class Apps(Workload):
    """The package's programs end to end, one after the other: the
    paper's three homeworks, ``apps.hw1.run`` (exact + MRApprox at fixed
    D) and ``apps.hw2.run`` (MRFFT R1-R3 + MRApprox at the radius) on one
    planted point set, HW3's ``FrequentItemsMonitor`` draining a planted
    item stream through ``run_frequent_items`` (one parquet file per
    trigger), then ``apps.corpus_pipeline.run`` (score, filter, MinHash
    dedup, connected components, chunk, sorted parquet write)."""

    name, pass_s = "apps", 45.0
    N = 50_000
    D, M, K, L = 0.5, 10, 10, 4          # HW1
    M2, K2 = 3, 120                      # HW2: K2 >= 100 outliers + 9 clusters
    ITEMS, FILES = 40_000, 8             # HW3
    PHI, EPS, DELTA = 0.07, 0.03, 0.1
    DOCS, SIZE, STRIDE = 1000, 64, 48    # corpus pipeline

    def prepare(self):
        d = os.path.join(self.work, "points")
        os.makedirs(d, exist_ok=True)
        pts = gen.points(d, self.seed, self.N)
        xy = checks.read_points(pts["path"])
        self.exact_oracle = checks.exact_outlier_count(xy, self.D, self.M)
        d = os.path.join(self.work, "items")
        os.makedirs(d, exist_ok=True)
        items = gen.stream(d, self.seed, self.ITEMS, self.FILES)
        self.items = np.load(os.path.join(d, "stream_items.npy")).tolist()
        self.triggers: list[float] = []  # triggerExecution seconds per micro-batch
        d = os.path.join(self.work, "corpus")
        os.makedirs(d, exist_ok=True)
        corpus = gen.corpus(d, self.seed, self.DOCS)
        t = pq.read_table(corpus["path"], columns=["doc_id", "text"]).to_pydict()
        self.doc_ids, self.texts = t["doc_id"], t["text"]
        with open(os.path.join(d, "corpus_truth.json")) as f:
            self.clusters = json.load(f)["clusters"]
        self.out_dir = os.path.join(self.work, "corpus_out")
        self.inputs = {"points": pts, "items": items, "corpus": corpus}
        return self.inputs

    def _hw1(self, spark):
        from big_data_hw_23_24_spark.apps import hw1
        return hw1.run(spark, self.inputs["points"]["path"], self.D, self.M, self.K,
                       self.L, exact_gate=self.N)

    def _hw2(self, spark):
        from big_data_hw_23_24_spark.apps import hw2
        return hw2.run(spark, self.inputs["points"]["path"], self.M2, self.K2, self.L)

    def _hw3(self, spark):
        """Drain the stream; return its errors. HW3's app reads a
        socket, so the benchmark drives the monitor and
        ``run_frequent_items`` it calls with a file source instead."""
        from big_data_hw_23_24_spark.streaming import frequent_stream, health

        tr = self.tracer
        calls: list[tuple[str, str, float, float]] = []

        class Monitor(frequent_stream.FrequentItemsMonitor):
            query = None

            def process_batch(self, *a, **kw):
                if self.query is None:  # run_frequent_items keeps its query
                    self.query = spark.streams.active[0]
                if tr is None:
                    return super().process_batch(*a, **kw)
                return _recorded(calls, "streaming.frequent_stream", "process_batch",
                                 super().process_batch, *a, **kw)

        mon = Monitor(n=self.ITEMS, phi=self.PHI, eps=self.EPS, delta=self.DELTA,
                      seed=self.seed)
        if tr is not None:  # the samplers run inside process_batch
            for smp in (mon.reservoir, mon.sticky):
                smp.add_many = functools.partial(_recorded, calls, "operators.frequent",
                                                 "add_many", smp.add_many)
        stream = (spark.readStream.schema("seq bigint, item bigint")
                  .option("maxFilesPerTrigger", 1)
                  .parquet(self.inputs["items"]["path"]))
        frequent_stream.run_frequent_items(spark, stream, mon, timeout_sec=150.0)
        prog = [p for p in health.query_progress(mon.query)
                if int(p.get("numInputRows", 0) or 0) > 0]
        trig = [p["durationMs"]["triggerExecution"] / 1000.0 for p in prog]
        self.triggers += trig
        sticky = mon.sticky
        errs = checks.check_stream(mon.histogram, self.items, self.inputs["items"]["planted"],
                                   self.PHI, sticky.table, sticky.estimated_frequent(),
                                   (sticky.phi - sticky.eps) * sticky.n)
        planted = self.inputs["items"]["planted"]
        self.notes["sticky_recall"] = len(set(sticky.estimated_frequent()) & set(planted)) \
            / len(planted)
        # the query stops inside the last batch's callback, so that
        # batch's progress event may never be posted
        if not self.FILES - 1 <= len(trig) <= self.FILES:
            errs.append(f"stream: {len(trig)} non-empty triggers, {self.FILES} files")
        if tr is not None:  # callbacks ran on the stream's thread
            _add_callback_spans(tr, calls)
        return errs

    def _corpus(self, spark):
        from big_data_hw_23_24_spark.apps import corpus_pipeline

        corpus_pipeline.run(spark, self.inputs["corpus"]["path"], self.out_dir,
                            chunk_size=self.SIZE, stride=self.STRIDE)
        return pq.read_table(self.out_dir, columns=["doc_id"]).column("doc_id").to_pylist()

    def run_pass(self, spark):
        n = self.N
        t1, c1, lines1 = self._timed(self._span, "apps", "hw1", self._hw1, spark)
        t2, c2, lines2 = self._timed(self._span, "apps", "hw2", self._hw2, spark)
        t3, c3, errs3 = self._timed(self._span, "apps", "hw3", self._hw3, spark)
        t4, c4, out = self._timed(self._span, "apps", "corpus_pipeline", self._corpus, spark)
        self.survivors = set(out)
        return [(t1, c1, checks.check_hw1(lines1, n, self.exact_oracle)),
                (t2, c2, checks.check_hw2(lines2, n, self.inputs["points"]["planted_outliers"])),
                (t3, c3, errs3),
                (t4, c4, checks.check_corpus(out, self.doc_ids, self.texts, self.clusters,
                                             self.SIZE, self.STRIDE))]

    def trace_targets(self):
        return _targets(
            ("sources.tables", "read_points_csv", "read_points_csv"),
            ("operators.outliers", "exact_outliers", "exact_outliers"),
            ("operators.outliers", "cell_grid_stats", "cell_grid_stats"),
            ("operators.outliers", "mr_approx_outliers", "mr_approx_outliers"),
            ("operators.clustering", "_partition_fft", "coreset"),
            ("operators.clustering", "sequential_fft", "sequential_fft"),
            ("operators.clustering", "_partition_max_min_dist", "radius"),
            ("streaming.frequent_stream", "run_frequent_items", "run_frequent_items"),
            ("operators.textstats", "quality_scores", "quality_scores"),
            ("operators.dedup", "minhash_near_duplicates", "minhash_near_duplicates"),
            ("operators.components", "connected_components", "connected_components"),
            ("operators.textstats", "token_chunks", "token_chunks"),
            ("sources.sinks", "write_sorted_parquet", "write_sorted_parquet"))

    def _quality(self, tr) -> dict[str, float]:
        """Dedup and sink figures of the last traced pass, computed
        after it (outside every span)."""
        pairs = tr.last.get("operators.dedup:minhash_near_duplicates")
        rows = pairs.select("id_a", "id_b").collect() if pairs is not None else []
        member = {i: k for k, c in enumerate(self.clusters) for i in c}
        planted = sum(1 for a, b in rows if a in member and member.get(a) == member.get(b))
        n_dups = sum(len(c) - 1 for c in self.clusters)
        survivors = getattr(self, "survivors", set(member))  # unset if the run raised
        removed = sum(1 for i in member if i not in survivors)
        written = os.listdir(self.out_dir) if os.path.isdir(self.out_dir) else []
        return {
            "operators.dedup.candidate_pairs": len(rows),
            "operators.dedup.pair_precision": planted / len(rows) if rows else 0.0,
            "operators.dedup.dup_recall": removed / n_dups if n_dups else 0.0,
            "sources.sinks.bytes_written": sum(
                os.path.getsize(os.path.join(self.out_dir, f))
                for f in written if f.endswith(".parquet")),
        }

    def layer_metrics(self, tr):
        by = _span_sums(tr)
        jobs = _span_sums(tr, key="jobs")
        busy = by.get("streaming.frequent_stream:process_batch", 0.0)
        return {
            "sources.tables.read_points_csv_s": by.get("sources.tables:read_points_csv", 0.0),
            "operators.outliers.exact_s": by.get("operators.outliers:exact_outliers", 0.0),
            "operators.outliers.approx_s": by.get("operators.outliers:cell_grid_stats", 0.0)
            + by.get("operators.outliers:mr_approx_outliers", 0.0),
            "operators.clustering.coreset_s": by.get("operators.clustering:coreset", 0.0),
            "operators.clustering.fft_s": by.get("operators.clustering:sequential_fft", 0.0),
            "operators.clustering.radius_s": by.get("operators.clustering:radius", 0.0),
            "streaming.frequent_stream.process_batch_s": busy,
            "streaming.frequent_stream.engine_s": sum(self.triggers) - busy,
            "streaming.frequent_stream.batches": len(self.triggers),
            "operators.frequent.sampler_s": by.get("operators.frequent:add_many", 0.0),
            "operators.frequent.sticky_recall": self.notes.get("sticky_recall", 0.0),
            "operators.textstats.quality_s": by.get("operators.textstats:quality_scores", 0.0),
            "operators.textstats.chunk_s": by.get("operators.textstats:token_chunks", 0.0),
            "operators.dedup.minhash_s": by.get("operators.dedup:minhash_near_duplicates", 0.0),
            "operators.components.cc_s": by.get("operators.components:connected_components", 0.0),
            "operators.components.jobs": jobs.get("operators.components:connected_components", 0.0),
            "sources.sinks.write_s": by.get("sources.sinks:write_sorted_parquet", 0.0),
            **self._quality(tr),
        }


def _recorded(into: list, layer: str, name: str, fn, *a, **kw):
    """``fn(*a, **kw)``, appending ``(layer, name, start, end)``
    perf_counter times to ``into`` (list.append is thread-safe)."""
    t0 = time.perf_counter()
    try:
        return fn(*a, **kw)
    finally:
        into.append((layer, name, t0, time.perf_counter()))


def _add_callback_spans(tr, calls) -> None:
    """Add spans timed on a callback thread under the innermost span
    open on the tracing thread that contains them."""
    outer = tr.current()
    ids: list[tuple[float, float, int]] = []
    for layer, name, t0, t1 in sorted(calls, key=lambda c: (c[2], -c[3])):
        parent = next((i for a, b, i in reversed(ids) if a <= t0 and t1 <= b), outer)
        ids.append((t0, t1, tr.add(layer, name, t0, t1, parent)["id"]))


# --- query_mix ------------------------------------------------------------------

# At least one query per registry module; the relational pair covers a
# plain scan-aggregate and the events timestamp conversion in load_table.
QUERIES = (
    "pricing_summary", "events_asof_orders", "mr_approx_outliers",
    "knn_cosine_bruteforce", "doc_tfidf_top_terms", "dedup_minhash_banded",
    "corpus_source_mix",
)


class QueryMix(Workload):
    """One client in a closed loop over registry queries, each
    ``fn(spark, sf_dir)`` then ``.count()``, in a seed-shuffled order."""

    name, pass_s = "query_mix", 25.0

    def prepare(self):
        d = os.path.join(self.work, "tables")
        os.makedirs(d, exist_ok=True)
        self.inputs = gen.tables(d, self.seed)
        self.order = list(QUERIES)
        random.Random(self.seed).shuffle(self.order)
        self.expected: dict[str, int] = {}
        return self.inputs

    def _fns(self):
        from big_data_hw_23_24_spark.queries import queries
        reg = queries()
        return {n: reg[n] for n in self.order}

    def _count_check(self, name: str, count: int) -> list[str]:
        want = self.expected.setdefault(name, count)
        return [] if count == want else [f"{name}: {count} rows, first pass had {want}"]

    def _query(self, spark, name, fn) -> int:
        sf, tr = self.inputs["path"], self.tracer
        if tr is None:
            return fn(spark, sf).count()
        layer = _layer_of(fn.__module__)
        with tr.span(layer, name):
            with tr.span(layer, "build"):
                df = fn(spark, sf)
            with tr.span(layer, "action"):
                return df.count()

    def run_pass(self, spark):
        ops = []
        for name, fn in self._fns().items():
            t, c, count = self._timed(self._query, spark, name, fn)
            ops.append((t, c, self._count_check(name, count)))
        return ops

    def oracle_check(self, spark) -> list[str]:
        """One seed-chosen query compared in full with its DuckDB oracle."""
        import duckdb

        from big_data_hw_23_24_spark.queries import oracle_sql

        name = random.Random(self.seed).choice(self.order)
        sf = self.inputs["path"]
        got = self._fns()[name](spark, sf).toPandas()
        con = duckdb.connect()
        try:
            for t in self.inputs["rows"]:
                con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")
            want = con.sql(oracle_sql()[name]).df()
        finally:
            con.close()
        return checks.check_query(name, got, want)

    @contextmanager
    def traced(self, tracer):
        """Time ``load_table`` as a span wherever a query module calls it."""
        import importlib

        from big_data_hw_23_24_spark.sources import tables

        orig = tables.load_table
        mods = [importlib.import_module(f"{PKG}.{m}") for m in QUERY_MODULES] + [tables]

        def load_table(*a, **kw):
            with tracer.span("sources.tables", "load_table"):
                return orig(*a, **kw)

        patched = [m for m in mods if getattr(m, "load_table", None) is orig]
        for m in patched:
            m.load_table = load_table
        try:
            yield
        finally:
            for m in patched:
                m.load_table = orig

    def layer_metrics(self, tr):
        out: dict[str, float] = {}
        by = _span_sums(tr)
        calls = _span_sums(tr, key="calls")
        out["sources.tables.load_table_calls"] = calls.get("sources.tables:load_table", 0.0)
        out["sources.tables.load_table_s"] = by.get("sources.tables:load_table", 0.0)
        per_mod = {m: sum(1 for n, fn in self._fns().items()
                          if _layer_of(fn.__module__) == m) for m in QUERY_MODULES}
        jobs: dict[str, float] = {}
        for s in tr.spans:
            if s["name"] in QUERIES:
                jobs[s["layer"]] = jobs.get(s["layer"], 0.0) + _subtree_jobs(tr.spans, s)
        for m in QUERY_MODULES:
            k = max(per_mod[m], 1)
            out[f"{m}.build_s"] = by.get(f"{m}:build", 0.0) / k
            out[f"{m}.action_s"] = by.get(f"{m}:action", 0.0) / k
            out[f"{m}.jobs"] = jobs.get(m, 0.0) / k
        return out


def _span_sums(tr, key: str = "time") -> dict[str, float]:
    """Per ``layer:name`` totals over the spans not nested in a step of
    the same layer. ``key``: ``time`` (seconds), ``jobs`` (Spark jobs)
    or ``calls``."""
    out: dict[str, float] = {}
    for s in tr.spans:
        if _nested_in_layer(tr.spans, s):
            continue
        k = f"{s['layer']}:{s['name']}"
        v = {"time": s["t1"] - s["t0"], "jobs": s["jobs"], "calls": 1}[key]
        out[k] = out.get(k, 0.0) + v
    return out


def _nested_in_layer(spans: list[dict], s: dict) -> bool:
    """A step called from inside a step of its own layer (e.g.
    ``cell_grid_stats`` from ``mr_approx_outliers``)."""
    p = s["parent"] if s.get("step") else None
    while p is not None:
        if spans[p].get("step") and spans[p]["layer"] == s["layer"]:
            return True
        p = spans[p]["parent"]
    return False


def _subtree_jobs(spans: list[dict], root: dict) -> int:
    """Spark jobs started under ``root`` or any span nested in it."""
    inside = {root["id"]}
    total = 0
    for s in spans[root["id"]:]:  # children are recorded after parents
        if s["id"] == root["id"] or s["parent"] in inside:
            inside.add(s["id"])
            total += s["jobs"]
    return total


WORKLOADS = {w.name: w for w in (Apps, QueryMix)}
