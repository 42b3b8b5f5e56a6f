"""The workloads. Each one generates its inputs, sets the system up
several times, measures one fixed-size run, checks the output against the
generator's record and returns the end-to-end metrics:

- ``rows_per_s``: input rows the measured stream finished per wall second;
- ``op_latency_p50_s``: median ``triggerExecution`` of the micro-batches;
- ``cpu_us_per_row``: JVM plus Python-driver CPU per input row over the
  measured stream;
- ``setup_s``: median of the run's set-ups (session start, reference
  load or index build, and one warm-up micro-batch).

A traced run (``Tracer`` enabled) measures the same stream with spans
around the calls into each layer, then exercises the layers the stream
does not reach on its own, and fills ``run.layer``.
"""

from __future__ import annotations

import json
import os
import random
import statistics
import time
from dataclasses import dataclass, field
from datetime import datetime

from pyspark.sql import functions as F

from streaming_data_pipeline_azure_spark.operators import relational
from streaming_data_pipeline_azure_spark.operators.dedup import MinHashCorpusIndex
from streaming_data_pipeline_azure_spark.operators.enrich import enrich_orders
from streaming_data_pipeline_azure_spark.schemas import CUSTOMER_SCHEMA, ORDER_SCHEMA
from streaming_data_pipeline_azure_spark.session import get_spark
from streaming_data_pipeline_azure_spark.sources.registry import read_order_file_stream
from streaming_data_pipeline_azure_spark.sources.sinks import ParquetUpsertSink
from streaming_data_pipeline_azure_spark.streaming.pipeline import (
    build_dedup_ingest_query,
    build_enrichment_query,
    run_to_completion,
)

import gen
from spans import CpuClock, Tracer, progress_phases

# Set-ups per run; setup_s is their median. A set-up is a session
# (re)start, the reference load or index build, and one warm-up micro-batch
# through the measured query path. The first set-up also launches the
# driver JVM and is always the slowest, so the median is a warm set-up;
# enrich_backlog's is short (about 1 s), so it takes more of them.
ENRICH_SETUPS = 7
DEDUP_SETUPS = 3
DRIVER_MEM = "2g"  # below the host's RAM; the session's own default is 16g
DOC_SCHEMA = "doc_id long, text string"
DRAIN_TIMEOUT_S = 170

# Fixed sizes: every run measures the same work, on the same number of
# micro-batches, on every run and every commit.
ENRICH_ROWS_PER_FILE = 5_000
ENRICH_FILES = 30
ENRICH_ONE_CORE_FILES = 8  # traced run: the single-core baseline drain
ANALYST_ROUNDS = 2  # traced run: F1/A1/A2/A3 rounds before and after compact()
QUERY_CITY = "Chicago"
DEDUP_CORPUS_DOCS = 2_500
DEDUP_DOCS_PER_FILE = 100
DEDUP_FILES = 10
# MinHash-LSH may miss a light-edit recrawl (a near-dup whose bands all
# differ from its source's): at most this many recrawls may be accepted in
# a run. The count is recorded in the run record as ``recrawls_accepted``.
DEDUP_RECRAWL_MISSES_MAX = 3


@dataclass
class Run:
    """State of one benchmark run."""

    work: str
    seed: int
    tracer: Tracer
    cpus: int
    spark: object = None
    attempted: int = 0
    failed: int = 0
    setups: list[float] = field(default_factory=list)
    layer: dict[str, float] = field(default_factory=dict)
    notes: dict = field(default_factory=dict)

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def rng(self, stream: str) -> random.Random:
        return random.Random(f"{self.seed}:{stream}")

    def session(self, cpus: int | None = None):
        """(Re)start the Spark session; a restart reuses the driver JVM."""
        if self.spark is not None:
            if self.tracer.enabled:
                self.tracer.collect_jobs(self.spark)
            self.spark.stop()
        os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
        with self.tracer.span("session.get_spark"):
            self.spark = get_spark(
                "perfbench", cpus=cpus or self.cpus,
                extra_conf={
                    "spark.local.dir": self.path("spark-local"),
                    "spark.sql.warehouse.dir": self.path("warehouse"),
                    # keep the JVM's temp files and perf counters out of /tmp
                    "spark.driver.extraJavaOptions":
                        f"-Djava.io.tmpdir={self.path('jvm-tmp')} -XX:-UsePerfData",
                    "spark.sql.streaming.numRecentProgressUpdates": "1000",
                    "spark.ui.retainedJobs": "100000",
                    "spark.ui.retainedStages": "100000",
                    "spark.ui.showConsoleProgress": "false",
                },
            )
        return self.spark

    def set_up(self, times: int, load):
        """``times`` times: restart the session and call ``load(spark, k)``.
        Returns what the last call returned."""
        state = None
        for k in range(times):
            t0 = time.perf_counter()
            state = load(self.session(), k)
            self.setups.append(time.perf_counter() - t0)
        return state

    def check(self, ok: bool, what: str) -> None:
        """One correctness check is one operation; a false one fails."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.notes.setdefault("failed_checks", []).append(what)

    def drained(self, query, n_files: int, n_rows: int, wall: float, cpu_s: float) -> tuple:
        """End-to-end metrics of a drained stream: one operation per input
        file, failed if its micro-batch did not run."""
        progress = [json.loads(p.json) for p in query.recentProgress]
        lat = [p["durationMs"]["triggerExecution"] / 1e3
               for p in progress if p.get("numInputRows", 0) > 0]
        self.attempted += n_files
        self.failed += max(n_files - len(lat), 0)
        phases = progress_phases(progress, wall)
        self.notes.update(op_latencies=lat, stream_wall_s=wall, phases=phases)
        metrics = {"rows_per_s": n_rows / wall, "cpu_us_per_row": cpu_s / n_rows * 1e6,
                   "op_latency_p50_s": statistics.median(lat)}
        if self.tracer.enabled:
            self.layer.update({f"streaming.pipeline.{k}": v for k, v in phases.items()})
        return metrics, progress

    def add_batch_other(self, progress: list[dict], names: tuple[str, ...]) -> None:
        """Median over batches of addBatch minus the spans that ran inside
        that batch's trigger: the part of addBatch no span explains."""
        out = []
        for p in progress:
            if p.get("numInputRows", 0) <= 0:
                continue
            start = datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()
            end = start + p["durationMs"]["triggerExecution"] / 1e3
            covered = sum(s.end - s.start for n in names
                          for s in self.tracer.in_window(n, start - 0.002, end + 0.002))
            out.append(p["durationMs"].get("addBatch", 0) / 1e3 - covered)
        self.layer["streaming.pipeline.add_batch_other_s"] = statistics.median(out)


def _measure(run: Run, start_query):
    """Start the query, drain it, return (query, wall s, CPU s)."""
    cpu = CpuClock(run.spark)
    c0, t0 = cpu.now(), time.perf_counter()
    q = start_query()
    run_to_completion(q, timeout_sec=DRAIN_TIMEOUT_S)
    return q, time.perf_counter() - t0, cpu.now() - c0


def _parquet_files(path: str) -> tuple[int, int]:
    n = size = 0
    for root, _, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                n += 1
                size += os.path.getsize(os.path.join(root, f))
    return n, size


# -- enrich_backlog -----------------------------------------------------------


class SpanSink:
    """Proxy handed to ``build_enrichment_query`` in the traced run: the
    pipeline calls ``write_batch`` on it and the call is timed."""

    def __init__(self, sink: ParquetUpsertSink, tracer: Tracer) -> None:
        self.write_batch = tracer.wrap("sinks.write_batch", sink.write_batch)


QUERIES = {
    "F1": lambda df: sorted((r["order_id"], r["purchase_amount"]) for r in
                            relational.filter_by_city(df, QUERY_CITY).collect()),
    "A1": lambda df: relational.avg_purchase(df, QUERY_CITY).collect()[0][0],
    "A2": lambda df: {r["city"]: r["avg_purchase"]
                      for r in relational.avg_purchase_by_city(df).collect()},
    "A3": lambda df: {r["city"]: r["total_purchase"]
                      for r in relational.sum_purchase_by_city(df).collect()},
}


def _reference_answers(joined: dict[str, tuple[str, int]]) -> dict[str, object]:
    """F1/A1/A2/A3 over the rows the sink must hold, in pure Python."""
    by_city: dict[str, list[int]] = {}
    for city, amount in joined.values():
        by_city.setdefault(city, []).append(amount)
    return {
        "F1": sorted((k, a) for k, (c, a) in joined.items() if c == QUERY_CITY),
        "A1": sum(by_city[QUERY_CITY]) / len(by_city[QUERY_CITY]),
        "A2": {c: sum(v) / len(v) for c, v in by_city.items()},
        "A3": {c: float(sum(v)) for c, v in by_city.items()},
    }


def _same(got, want) -> bool:
    if isinstance(want, float):
        return abs(got - want) <= 1e-9 * max(1.0, abs(want))
    if isinstance(want, dict):
        return got.keys() == want.keys() and all(_same(got[k], want[k]) for k in want)
    return got == want


def enrich_backlog(run: Run) -> dict[str, float]:
    rng = run.rng("orders")
    cust = gen.customers(rng)
    cust_path = run.path("in", "customers.json")
    gen.write_customers(cust_path, cust)
    gen.write_orders(rng, run.path("in", "warm"), cust, n_files=1,
                     rows_per_file=ENRICH_ROWS_PER_FILE, key_prefix="w")
    joined = gen.write_orders(rng, run.path("in", "orders"), cust, n_files=ENRICH_FILES,
                              rows_per_file=ENRICH_ROWS_PER_FILE, key_prefix="o")
    want = _reference_answers(joined)
    n_rows = ENRICH_FILES * ENRICH_ROWS_PER_FILE

    def load(spark, k):
        customers = spark.read.schema(CUSTOMER_SCHEMA).json(cust_path).cache()
        customers.count()
        with run.tracer.span("session.warmup"):
            run_to_completion(build_enrichment_query(
                read_order_file_stream(spark, run.path("in", "warm")), customers,
                ParquetUpsertSink(run.path(f"setup{k}", "sink")),
                run.path(f"setup{k}", "ckpt"), trigger_available_now=True),
                timeout_sec=DRAIN_TIMEOUT_S)
        return customers

    customers = run.set_up(ENRICH_SETUPS, load)

    sink = ParquetUpsertSink(run.path("sink"))
    q, wall, cpu_s = _measure(run, lambda: build_enrichment_query(
        read_order_file_stream(run.spark, run.path("in", "orders")), customers,
        SpanSink(sink, run.tracer) if run.tracer.enabled else sink,
        run.path("ckpt"), trigger_available_now=True))
    result, progress = run.drained(q, ENRICH_FILES, n_rows, wall, cpu_s)

    visible = sink.read(run.spark)
    run.check(visible.count() == len(joined), "sink row count == joined orders")
    run.check(_same(QUERIES["A3"](visible), want["A3"]), "per-city sum(purchase_amount)")

    if run.tracer.enabled:
        run.add_batch_other(progress, ("sinks.write_batch",))
        _sink_layer(run, sink, want)
        _enrich_layer(run, customers)
        _scaling(run, cust_path, result["rows_per_s"])
    return result


def _sink_layer(run: Run, sink: ParquetUpsertSink, want: dict) -> None:
    """The sink's state after the stream, then its read path: analyst
    rounds of F1/A1/A2/A3, ``compact()``, and the same rounds again."""
    spark = run.spark
    n_files, n_bytes = _parquet_files(sink.path)
    run.layer["sinks.files_written"] = n_files
    run.layer["sinks.bytes_written"] = n_bytes
    run.layer["sinks.shadowed_ratio"] = (
        spark.read.parquet(sink.log_path(spark)).count() / sink.read(spark).count())

    def rounds(phase: str) -> float:
        lat = []
        for _ in range(ANALYST_ROUNDS):
            for name, query in QUERIES.items():
                t0 = time.perf_counter()
                with run.tracer.span(f"relational.{name}"):
                    with run.tracer.span("sinks.read"):
                        df = sink.read(spark)
                    got = query(df)
                lat.append(time.perf_counter() - t0)
                run.check(_same(got, want[name]), f"{phase}: {name}")
        return statistics.median(lat)

    run.layer["sinks.query_p50_s"] = rounds("before compact")
    with run.tracer.span("sinks.compact"):
        sink.compact(spark)
    run.layer["sinks.compacted_query_p50_s"] = rounds("after compact")


def _enrich_layer(run: Run, customers) -> None:
    """operators.enrich on static batches forced through the noop sink, and
    the sink's write against a plain parquet write of the same batch."""
    spark = run.spark
    files = sorted(os.listdir(run.path("in", "orders")))[:5]
    for name in files:
        out = enrich_orders(spark.read.schema(ORDER_SCHEMA).json(
            run.path("in", "orders", name)), customers)
        with run.tracer.span("enrich.enrich_orders"):
            out.write.format("noop").mode("overwrite").save()
    run.layer["enrich.broadcast_joins"] = _count_nodes(out, "BroadcastHashJoinExec")

    batch = out.cache()
    batch.count()
    upsert, plain = [], []
    for i in range(3):
        t0 = time.perf_counter()
        ParquetUpsertSink(run.path("cmp", f"sink{i}")).write_batch(batch, i)
        upsert.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        batch.withColumn("batch_id", F.lit(i)).write.parquet(run.path("cmp", f"plain{i}"))
        plain.append(time.perf_counter() - t0)
    batch.unpersist()
    run.layer["sinks.write_vs_plain_parquet"] = (
        statistics.median(upsert) / statistics.median(plain))


def _count_nodes(df, simple_name: str) -> int:
    """Nodes of one class in the physical plan."""
    count = 0
    stack = [df._jdf.queryExecution().sparkPlan()]
    while stack:
        node = stack.pop()
        if node.getClass().getSimpleName() == simple_name:
            count += 1
        ch = node.children()
        stack.extend(ch.apply(i) for i in range(ch.size()))
    return count


def _scaling(run: Run, cust_path: str, rows_per_s: float) -> None:
    """Drain the first files of the same backlog on one core."""
    spark = run.session(cpus=1)
    customers = spark.read.schema(CUSTOMER_SCHEMA).json(cust_path).cache()
    customers.count()
    src = run.path("in", "one_core")
    os.makedirs(src)
    for name in sorted(os.listdir(run.path("in", "orders")))[:ENRICH_ONE_CORE_FILES]:
        os.link(run.path("in", "orders", name), os.path.join(src, name))
    t0 = time.perf_counter()
    run_to_completion(build_enrichment_query(
        read_order_file_stream(spark, src), customers,
        ParquetUpsertSink(run.path("one_core", "sink")), run.path("one_core", "ckpt"),
        trigger_available_now=True), timeout_sec=DRAIN_TIMEOUT_S)
    one_core = ENRICH_ONE_CORE_FILES * ENRICH_ROWS_PER_FILE / (time.perf_counter() - t0)
    run.layer["scaling.enrich_speedup"] = rows_per_s / one_core


# -- corpus_dedup_ingest ------------------------------------------------------


def corpus_dedup_ingest(run: Run) -> dict[str, float]:
    rng = run.rng("docs")
    vocab = gen.vocabulary(rng)
    corpus_path = run.path("in", "corpus.json")
    corpus = gen.write_corpus(rng, corpus_path, vocab, DEDUP_CORPUS_DOCS)
    gen.write_doc_stream(rng, run.path("in", "warm"), vocab, corpus, n_files=1,
                         docs_per_file=DEDUP_DOCS_PER_FILE, first_id=10**8)
    kinds = gen.write_doc_stream(rng, run.path("in", "docs"), vocab, corpus,
                                 n_files=DEDUP_FILES,
                                 docs_per_file=DEDUP_DOCS_PER_FILE, first_id=10**9)
    n_docs = DEDUP_FILES * DEDUP_DOCS_PER_FILE

    def docs(path: str):
        return (run.spark.readStream.schema(DOC_SCHEMA)
                .option("maxFilesPerTrigger", 1).json(path))

    def build(spark, k):
        idx = MinHashCorpusIndex(run.path(f"setup{k}", "index"), "doc_id")
        with run.tracer.span("dedup.build"):
            idx.build(spark.read.schema(DOC_SCHEMA).json(corpus_path), "text")
        with run.tracer.span("session.warmup"):
            run_to_completion(build_dedup_ingest_query(
                docs(run.path("in", "warm")), idx, run.path(f"setup{k}", "accepted"),
                run.path(f"setup{k}", "ckpt"), trigger_available_now=True),
                timeout_sec=DRAIN_TIMEOUT_S)
        return idx, k

    idx, k = run.set_up(DEDUP_SETUPS, build)
    n_warm = run.spark.read.parquet(run.path(f"setup{k}", "accepted")).count()

    hooks = {}
    if run.tracer.enabled:
        # forced inside the span, so the probe's jobs are counted there;
        # the pipeline's own localCheckpoint of the result is then cheap
        hooks = {
            "filter_fn": run.tracer.wrap(
                "dedup.filter_novel",
                lambda b: idx.filter_novel(b, "text").localCheckpoint()),
            "append_fn": run.tracer.wrap(
                "dedup.append", lambda acc: idx.append(acc, "text")),
        }
    accepted_path = run.path("accepted")
    q, wall, cpu_s = _measure(run, lambda: build_dedup_ingest_query(
        docs(run.path("in", "docs")), idx, accepted_path, run.path("ckpt"),
        trigger_available_now=True, **hooks))
    result, progress = run.drained(q, DEDUP_FILES, n_docs, wall, cpu_s)

    ids = {r["doc_id"] for r in
           run.spark.read.parquet(accepted_path).select("doc_id").collect()}
    n_ids = run.spark.read.parquet(accepted_path).count()
    stats = idx.stats(run.spark)
    novel_rejected = len(set(kinds["novel"]) - ids)
    recrawls_accepted = len(set(kinds["recrawl"]) & ids)
    run.check(novel_rejected == 0, "every novel doc accepted")
    run.check(recrawls_accepted <= DEDUP_RECRAWL_MISSES_MAX,
              f"at most {DEDUP_RECRAWL_MISSES_MAX} recrawls accepted")
    run.check(not ids & set(kinds["resend"]), "no exact re-send accepted")
    run.check(n_ids == len(ids), "accepted ids unique")
    run.check(stats["n_docs"] == DEDUP_CORPUS_DOCS + n_warm + n_ids,
              "index_docs == corpus + accepted")
    run.notes.update(accepted=n_ids, novel_rejected=novel_rejected,
                     recrawls_accepted=recrawls_accepted,
                     recrawls=len(kinds["recrawl"]))

    if run.tracer.enabled:
        run.add_batch_other(progress, ("dedup.filter_novel", "dedup.append"))
        run.layer["dedup.accept_ratio"] = n_ids / n_docs
        run.layer["dedup.index_files"] = stats["n_band_files"] + stats["n_shingle_files"]
        run.layer["dedup.index_docs"] = stats["n_docs"]
    return result


WORKLOADS = {
    "enrich_backlog": enrich_backlog,
    "corpus_dedup_ingest": corpus_dedup_ingest,
}
