"""The benchmark's two workloads, each a closed loop with one client.

- :func:`cdc_sweep` — the write path: ``streaming.pipeline.sweep`` loads
  a seeded ``events`` source, then runs ticks of a few changed rows each.
- :func:`serve` — the read path over state that keeps changing: each
  round upserts one embedded CDC tick into a maintained-IVF
  ``VectorStore`` and runs the vector query mix on the new state; after
  the rounds, a timed pass runs ten headline queries of the entry
  registry.

Each round returns the seconds the program spent in it; input
generation and output checks run outside those timings. NOTES.md says
why each workload exists and which layers it bypasses.
"""

from __future__ import annotations

import datetime
import os
import re
import statistics
import sys
import time
from dataclasses import dataclass
from importlib import import_module

from gen import EventSource, write_relational
from stats import median, tail, tail_note

PACKAGE = "cdc_change_data_capture_pipeline_from_mysql_to_pinecone_spark"
CDC_TABLES = {"events": ("ts", "event_id")}

#: ten of the 20 queries of bench.py's HEADLINE list, at least one per
#: operator family (relational, cdc, dedup, text, vector, stream,
#: multimodal, pipeline), kept here so the benchmark does not depend on
#: bench.py; ten rather than 20 so that a serve run, which pays their
#: cold first execution, fits the benchmark's time budget
HEADLINE = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "cdc_chunk_documents",
    "dedup_minhash_signatures",
    "dedup_lsh_candidates",
    "text_quality",
    "vec_knn_bruteforce",
    "stream_tumbling_window",
    "mm_binary_features",
    "pipeline_training_data",
]

MODES = ("exact", "ivf", "ann", "hybrid", "exact_where")
WHERE = "text LIKE '%purchase%'"
EVENT_WORDS = ("purchase", "click", "view", "signup", "error")


VEC_CHUNK = 10  # events per vector chunk
VEC_TICK_RESTAMP, VEC_TICK_INSERT = 50, 50  # changed and new rows per serve round
IVF_K = 16


@dataclass(frozen=True)
class Sizes:
    cdc_rows: int  # events source rows for cdc_sweep
    cdc_loads: int  # timed initial loads (after one cold load)
    cdc_warmup: int  # untimed ticks before the measured window
    vec_events: int  # events behind the vector corpus
    headline_sf: float  # scale of the relational tables


FULL = Sizes(cdc_rows=50_000, cdc_loads=2, cdc_warmup=2, vec_events=5_000, headline_sf=0.02)
#: the self-test's sizes (about sf0.001)
TINY = Sizes(cdc_rows=2_000, cdc_loads=1, cdc_warmup=1, vec_events=500, headline_sf=0.001)


# -- reading what the program wrote ---------------------------------------------


def read_parquet_dir(path: str, columns=None):
    """A table directory read with pyarrow. ``_``-prefixed files and
    dirs (markers, IVF map, crash asides) are skipped, as Spark skips
    them."""
    import pyarrow.dataset as ds

    return ds.dataset(path, format="parquet", partitioning="hive").to_table(columns=columns)


def dir_bytes(path: str) -> int:
    total = 0
    for base, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(base, f)) for f in files)
    return total


def committed_watermark_us(store: str) -> int | None:
    import pyarrow as pa
    import pyarrow.compute as pc

    wm = read_parquet_dir(os.path.join(store, "watermark"))
    rows = wm.filter(pc.equal(wm["table_name"], "events"))
    if rows.num_rows != 1:
        return None
    return int(rows["last_updated"].cast(pa.timestamp("us")).cast(pa.int64())[0].as_py())


# -- helpers over traced rounds -------------------------------------------------


def span_sum(op, name: str, attr: str = "duration") -> float:
    """``attr`` of every span called ``name`` under ``op``, summed."""
    return sum(getattr(s, attr) for s in op.walk() if s.name == name)


def span_total(op, name: str, counter: str) -> float:
    """A counter over every span called ``name`` and its descendants."""
    return sum(s.total(counter) for s in op.walk() if s.name == name)


# -- cdc_sweep ------------------------------------------------------------------


def cdc_sweep(run) -> None:
    """Initial loads of a seeded events source, then sweep ticks."""
    pipeline = import_module(f"{PACKAGE}.streaming.pipeline")
    spark, sizes = run.spark, run.sizes

    t0 = time.perf_counter()
    src = EventSource(os.path.join(run.work, "src"), sizes.cdc_rows, run.seed)
    v0 = src.write()
    run.setup_parts["input_generation_s"] = time.perf_counter() - t0

    # the initial load is repeated, each time into a fresh store: the
    # median of all of them is the load's share of setup_s; the first is
    # cold (class loading, JIT, first jobs), the others give
    # load_rows_per_s
    loads, load_cpu = [], []
    for i in range(sizes.cdc_loads + 1):
        store = os.path.join(run.work, f"store{i}")
        with run.operation("initial load") as op:
            with run.traced("load") as span:
                t0 = time.perf_counter()
                got = pipeline.sweep(spark, v0, store, CDC_TABLES)
                lat = time.perf_counter() - t0
            op.check(got == {"events": sizes.cdc_rows}, f"returned {got}")
            op.check(committed_watermark_us(store) == src.max_ts_us(), "wrong watermark")
        loads.append(lat)
        if i > 0 and span is not None:
            load_cpu.append(span.total("executor_cpu_ns") / 1e9)
    run.setup_parts["initial_load_s"] = median(loads)
    cold_load_s, loads = loads[0], loads[1:]

    ticks: list[float] = []
    traced_delta_rows: list[int] = []

    def one_tick(tracer, timed):
        expected = src.tick()
        version = src.write()
        lat = None
        with run.operation("sweep tick") as op:
            t0 = time.perf_counter()
            got = pipeline.sweep(spark, version, store, CDC_TABLES)
            lat = time.perf_counter() - t0
            op.check(got == {"events": expected["rows"]},
                     f"returned {got}, generated delta {expected['rows']}")
            op.check(committed_watermark_us(store) == expected["max_ts_us"],
                     "committed watermark is not the delta's max ts")
        if lat is None:
            return None
        if timed:
            ticks.append(lat)
            run.record("tick", lat)
        elif tracer is not run.null:
            traced_delta_rows.append(expected["rows"])
        return lat

    run.loop(one_tick, min_rounds=12, warmup=sizes.cdc_warmup)
    vec_path = os.path.join(store, "vectors")
    n_stored = read_parquet_dir(vec_path, columns=["id"]).num_rows
    t_val, t_p = tail(ticks)
    run.report.update({
        "load_rows_per_s": (sizes.cdc_rows / median(loads), "rows/s",
                            f"median of {len(loads)} warm loads of {sizes.cdc_rows} rows; "
                            f"the cold one took {cold_load_s:.2f} s"),
        "tick_p50_s": (median(ticks), "s", f"n={len(ticks)}"),
        "tick_tail_s": (t_val, "s", tail_note(ticks, t_p)),
        "store_bytes_per_row": (dir_bytes(vec_path) / n_stored, "B", f"{n_stored} stored rows"),
    })
    if not run.trace:
        return
    ops = run.first_traced_rounds()
    deltas = traced_delta_rows[: len(ops)]
    L, ft = run.layers, run.first_traced
    L["pipeline.sweep_self_s"] = ft(lambda op: span_sum(op, "pipeline.sweep", "self_time"))
    L["pipeline.cdc_tick_build_s"] = ft(lambda op: span_sum(op, "pipeline.cdc_tick"))
    L["pipeline.jobs_per_tick"] = ft(lambda op: op.total("jobs"))
    L["pipeline.stages_per_tick"] = ft(lambda op: op.total("stages"))
    L["pipeline.tasks_per_tick"] = ft(lambda op: op.total("tasks"))
    L["pipeline.load_cpu_s"] = median(load_cpu)
    L["tables.load_table_s"] = ft(lambda op: span_sum(op, "tables.load_table"))
    L["tables.rows_scanned_per_delta_row"] = median(
        [op.total("input_records") / n for op, n in zip(ops, deltas)]
    )
    L["sinks.recover_table_s"] = ft(lambda op: span_sum(op, "sinks.recover_table"))
    L["sinks.watermark_commit_s"] = ft(lambda op: span_sum(op, "sinks.upsert_parquet"))
    L["sinks.vector_upsert_s"] = ft(lambda op: span_sum(op, "sinks.upsert_parquet_partitioned"))
    L["sinks.buckets_rewritten_per_tick"] = ft(
        lambda op: span_sum(op, "sinks.upsert_parquet_partitioned", "result")
    )
    L["sinks.bytes_written_per_delta_row"] = median(
        [op.total("output_bytes") / n for op, n in zip(ops, deltas)]
    )
    L["sinks.shuffle_bytes_per_tick"] = ft(lambda op: op.total("shuffle_write_bytes"))


# -- serve: vector half ------------------------------------------------------------


class VectorServing:
    """A maintained-IVF VectorStore fed by embedded CDC ticks."""

    def __init__(self, run):
        self.run = run
        self.pipeline = import_module(f"{PACKAGE}.streaming.pipeline")
        self.tables = import_module(f"{PACKAGE}.sources.tables")
        store_cls = import_module(f"{PACKAGE}.sources.vector_store").VectorStore
        self.path = os.path.join(run.work, "vstore")
        self.fresh: list[float] = []
        self.queries: list[float] = []
        self.recalls: list[float] = []
        self.watermark = "1970-01-01"

        t0 = time.perf_counter()
        self.src = EventSource(os.path.join(run.work, "vsrc"), run.sizes.vec_events, run.seed)
        v0 = self.src.write()
        run.setup_parts["vector_input_generation_s"] = time.perf_counter() - t0
        with run.operation("corpus build") as op:
            t0 = time.perf_counter()
            self.store = store_cls(run.spark, self.path, 384)
            recs, first = self._embedded_tick(v0, run.null)
            self.store.upsert(recs)
            recs.unpersist()
            self.store.build_ivf(k=IVF_K)
            run.setup_parts["corpus_build_s"] = time.perf_counter() - t0
            op.check(_event_ids(first) == set(range(run.sizes.vec_events)),
                     "corpus chunks do not hold every source row")
        self.watermark = _ts_literal(self.src.max_ts_us())

    def _embedded_tick(self, version: str, tracer):
        """cdc_tick with embeddings over the rows past the watermark,
        materialized here (the embedding runs inside this span), with a
        top-level ``text`` column: hybrid mode ranks a top-level
        column, not ``metadata.text``."""
        from pyspark import StorageLevel
        from pyspark.sql import functions as F

        spark = self.run.spark
        with tracer.span("embed"):
            rows, _wm = self.pipeline.cdc_tick(
                self.tables.load_table(spark, version, "events"),
                source="events", change_col="ts", order_col="event_id",
                watermark=self.watermark, chunk_size=VEC_CHUNK,
                with_embeddings=True,
            )
            recs = rows.withColumn("text", F.col("metadata.text"))
            recs = recs.persist(StorageLevel.MEMORY_AND_DISK)
            return recs, recs.select("id", "values", "text").toArrow()

    def _query(self, tracer, mode: str, qv, terms):
        kw = {
            "exact_where": {"mode": "exact", "where": WHERE},
            "hybrid": {"mode": "hybrid", "query_terms": terms, "text_col": "text"},
        }.get(mode, {"mode": mode})
        with tracer.span(f"query.{mode}"):
            t0 = time.perf_counter()
            out = self.store.query(qv, top_k=10, **kw).select("id", "score").toArrow()
            return out, time.perf_counter() - t0

    def round(self, tracer, timed: bool) -> float | None:
        run = self.run
        expected = self.src.tick(VEC_TICK_RESTAMP, VEC_TICK_INSERT)
        version = self.src.write()
        t_written = time.perf_counter()
        with run.operation("embedded tick upsert") as op:
            t0 = time.perf_counter()
            recs, new = self._embedded_tick(version, tracer)
            self.store.upsert(recs)
            program = time.perf_counter() - t0
            recs.unpersist()
            self.watermark = _ts_literal(expected["max_ts_us"])
            op.check(_event_ids(new) == set(expected["ids"].tolist()),
                     "chunks do not hold exactly the changed rows")
        if not op.ok:
            return None
        if timed:
            run.record("embedded_tick_upsert", program)
        new_ids = set(new["id"].to_pylist())
        qv, q_id = new["values"][0].as_py(), new["id"][0].as_py()
        terms = [w for w in EVENT_WORDS if w in new["text"][0].as_py()][:2] or ["view"]
        results, first_hit = {}, None
        for mode in MODES:
            with run.operation(f"query {mode}") as op:
                out, lat = self._query(tracer, mode, qv, terms)
                program += lat
                results[mode] = out
                if timed:
                    self.queries.append(lat)
                    run.record(f"query.{mode}", lat)
                if first_hit is None and new_ids & set(out["id"].to_pylist()):
                    first_hit = time.perf_counter()
                op.check(1 <= out.num_rows <= 10, f"returned {out.num_rows} rows")
        self._check(results, new_ids, qv, q_id, first_hit, timed)
        if timed and first_hit is not None:
            self.fresh.append(first_hit - t_written)
        return program

    def _check(self, results, new_ids, qv, q_id, first_hit, timed) -> None:
        """Outside the timings: exact and filtered-exact top-10 against a
        numpy brute force over what is stored; ivf/ann scores are the
        true cosines; the round's chunks are stored and a query returned
        one; recall of ivf/ann against exact on the same state."""
        import numpy as np

        run = self.run
        stored = read_parquet_dir(self.path, columns=["id", "values", "text"])
        ids = stored["id"].to_pylist()
        mat = np.array(stored["values"].to_pylist(), dtype=np.float64)
        q = np.asarray(qv, dtype=np.float64)
        scores = mat @ q / (np.linalg.norm(mat, axis=1) * np.linalg.norm(q))
        where = np.array(["purchase" in t for t in stored["text"].to_pylist()])
        with run.operation("freshness") as op:
            op.check(new_ids <= set(ids), "the round's chunk ids are not all stored")
            op.check(first_hit is not None, "no query returned the round's chunks")
        if "exact" in results:
            with run.operation("exact vs numpy") as op:
                op.check(_topk_ok(results["exact"], ids, scores, None), "top-10 differs")
                op.check(results["exact"]["id"][0].as_py() == q_id, "top-1 is not the query chunk")
            exact = set(results["exact"]["id"].to_pylist())
            for mode in ("ivf", "ann"):
                if mode in results and timed:
                    self.recalls.append(len(exact & set(results[mode]["id"].to_pylist())) / 10)
        if "exact_where" in results:
            with run.operation("filtered exact vs numpy") as op:
                op.check(_topk_ok(results["exact_where"], ids, scores, where), "top-10 differs")
        for mode in ("ivf", "ann"):
            if mode in results:
                with run.operation(f"{mode} scores vs numpy") as op:
                    op.check(_scores_ok(results[mode], ids, scores), "a score is not its cosine")

    def finish(self) -> None:
        run = self.run
        q_val, q_p = tail(self.queries)
        f_val, f_p = tail(self.fresh)
        n_stored = read_parquet_dir(self.path, columns=["id"]).num_rows
        run.report.update({
            "freshness_p50_s": (median(self.fresh), "s", f"n={len(self.fresh)}"),
            "freshness_tail_s": (f_val, "s", tail_note(self.fresh, f_p)),
            "query_p50_s": (median(self.queries), "s",
                            f"n={len(self.queries)}, mix {'/'.join(MODES)}"),
            "query_tail_s": (q_val, "s", tail_note(self.queries, q_p)),
            "recall_at_10": (statistics.mean(self.recalls) if self.recalls else None, "ratio",
                             f"ivf and ann vs exact, n={len(self.recalls)}"),
            "store_bytes_per_row": (dir_bytes(self.path) / n_stored, "B",
                                    f"{n_stored} stored rows"),
        })
        if not run.trace:
            return
        L, ft = run.layers, run.first_traced
        L["pipeline.embed_tick_s"] = ft(lambda op: span_sum(op, "embed"))
        L["vector_store.upsert_s"] = ft(lambda op: span_sum(op, "vector_store.upsert"))
        L["vector_store.buckets_rewritten_per_upsert"] = ft(
            lambda op: span_sum(op, "vector_store.upsert", "result")
        )
        for mode in MODES:
            L[f"vector_store.query_s.{mode}"] = ft(lambda op, m=mode: span_sum(op, f"query.{m}"))
            L[f"vectors.query_cpu_s.{mode}"] = ft(
                lambda op, m=mode: span_total(op, f"query.{m}", "executor_cpu_ns") / 1e9
            )
        for mode in ("exact", "ivf", "ann"):
            L[f"vector_store.scan_fraction.{mode}"] = ft(
                lambda op, m=mode: span_total(op, f"query.{m}", "input_records") / n_stored
            )


def _event_ids(chunks) -> set[int]:
    """Source event ids serialized into a batch of chunk documents."""
    found = set()
    for text in chunks["text"].to_pylist():
        found.update(int(m) for m in re.findall(r'"event_id":\s*(\d+)', text))
    return found


def _ts_literal(us: int) -> str:
    ts = datetime.datetime(1970, 1, 1) + datetime.timedelta(microseconds=us)
    return ts.isoformat(sep=" ")


def _topk_ok(result, ids, scores, mask) -> bool:
    """``result`` is a valid top-10 of ``scores`` (restricted to
    ``mask``): each returned score is the numpy cosine of its id, and
    none is below the 10th best numpy score (ties may pick either id)."""
    import numpy as np

    pos = {i: n for n, i in enumerate(ids)}
    cand = scores if mask is None else np.where(mask, scores, -np.inf)
    n_cand = int(np.isfinite(cand).sum())
    if result.num_rows != min(10, n_cand):
        return False
    kth = np.sort(cand)[-min(10, n_cand)]
    for rid, sc in zip(result["id"].to_pylist(), result["score"].to_pylist()):
        if rid not in pos or (mask is not None and not mask[pos[rid]]):
            return False
        if abs(scores[pos[rid]] - sc) > 1e-5 or sc < kth - 1e-5:
            return False
    return True


def _scores_ok(result, ids, scores) -> bool:
    """Every returned id is stored and carries its own cosine score
    (approximate modes may miss neighbours, never misreport one)."""
    pos = {i: n for n, i in enumerate(ids)}
    return all(
        rid in pos and abs(scores[pos[rid]] - sc) <= 1e-5
        for rid, sc in zip(result["id"].to_pylist(), result["score"].to_pylist())
    )


# -- serve: relational half ----------------------------------------------------------


class ArrowResult:
    """The DataFrame surface ``oracle_harness.compare`` reads (``columns``
    and ``collect``) over an already fetched Arrow result, so the oracle
    checks the very table ``toArrow`` returned. Timestamps come back
    naive in UTC and structs as tuples, as ``collect`` gives them."""

    def __init__(self, table):
        self.table = table
        self.columns = table.column_names

    def collect(self):
        def py(v):
            if isinstance(v, datetime.datetime) and v.tzinfo is not None:
                return v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
            if isinstance(v, dict):
                return tuple(py(x) for x in v.values())
            if isinstance(v, list):
                return [py(x) for x in v]
            return v

        cols = [c.to_pylist() for c in self.table.columns]
        return [tuple(py(v) for v in row) for row in zip(*cols)]


def fingerprint(table) -> tuple:
    """Order-insensitive fingerprint of an Arrow result (floats at 10
    significant digits, as the oracle harness compares them)."""

    def norm(v):
        if isinstance(v, float):
            return f"{v:.10g}"
        if isinstance(v, list):
            return "[" + ",".join(norm(x) for x in v) + "]"
        return repr(v)

    names = sorted(table.column_names)
    rows = sorted("|".join(norm(r[c]) for c in names) for r in table.to_pylist())
    return tuple(names), len(rows), hash(tuple(rows))


class HeadlineQueries:
    """The headline queries over seeded relational tables; each first
    result is checked against the DuckDB oracle, every later one against
    that checked result."""

    def __init__(self, run):
        self.run = run
        sys.path.insert(0, os.path.join(run.root, "tests"))
        entry = import_module("__spark_entry__")
        harness = import_module("oracle_harness")
        self.data = os.path.join(run.work, "rel")
        self.latency: dict[str, float] = {}  # per query, in the timed pass
        self.traced_pass = None  # its root span, in a traced run
        self.reference: dict[str, tuple] = {}

        t0 = time.perf_counter()
        write_relational(self.data, run.sizes.headline_sf, run.seed)
        run.setup_parts["relational_input_generation_s"] = time.perf_counter() - t0
        self.registry, oracle = entry.queries(), entry.oracle_sql()
        con = harness.duck_con(self.data)
        first_run = 0.0  # the program's share; the oracle's time is not counted
        for name in HEADLINE:  # the oracle check doubles as the warm-up
            with run.operation(f"{name} vs oracle") as op:
                t0 = time.perf_counter()
                out = self.registry[name](run.spark, self.data).toArrow()
                first_run += time.perf_counter() - t0
                res = harness.compare(ArrowResult(out), con, oracle[name])
                if op.check(res["values_match"] and res["cols_match"], f"differs: {res}"):
                    self.reference[name] = fingerprint(out)
        con.close()
        run.setup_parts["first_headline_run_s"] = first_run

    def timed_pass(self) -> None:
        """One timed pass over the queries, traced in a traced run."""
        run = self.run
        with run.traced("headline") as span:
            self._pass(run.tracer if span is not None else run.null)
        self.traced_pass = span

    def _pass(self, tracer) -> None:
        run = self.run
        for name in HEADLINE:
            with run.operation(name) as op:
                with tracer.span(f"entry.{name}"):
                    t0 = time.perf_counter()
                    with tracer.span(f"entry.{name}.build"):
                        df = self.registry[name](run.spark, self.data)
                    with tracer.span(f"entry.{name}.exec"):
                        out = df.toArrow()
                    self.latency[name] = time.perf_counter() - t0
                op.check(fingerprint(out) == self.reference.get(name), "result changed")

    def finish(self) -> None:
        run = self.run
        run.report["headline_total_s"] = (
            sum(self.latency.values()) if self.latency else None, "s",
            f"sum over {len(self.latency)} queries of one timed pass"
            + (", traced" if run.trace else ""),
        )
        op = self.traced_pass
        if op is None:
            return
        L = run.layers
        for name in HEADLINE:
            L[f"entry.{name}.build_s"] = span_sum(op, f"entry.{name}.build")
            L[f"entry.{name}.exec_s"] = span_sum(op, f"entry.{name}.exec")
        L["entry.tasks_total"] = sum(span_total(op, f"entry.{n}", "tasks") for n in HEADLINE)
        L["entry.shuffle_bytes_total"] = sum(
            span_total(op, f"entry.{n}", "shuffle_write_bytes") for n in HEADLINE
        )


def serve(run) -> None:
    """Vector serving with freshness in the measured window, then a
    timed pass over the headline queries. Their oracle check runs first,
    so it also warms the JVM for the corpus build."""
    headline = HeadlineQueries(run)
    vectors = VectorServing(run)
    run.loop(vectors.round, min_rounds=4)
    headline.timed_pass()
    vectors.finish()
    headline.finish()
