"""Streaming integration tests: file-source micro-batches → enrichment →
keyed upsert sink (the M2 slice, SURVEY.md §7)."""

from __future__ import annotations

import json

import pytest

from streaming_data_pipeline_azure_spark.schemas import CUSTOMER_SCHEMA
from streaming_data_pipeline_azure_spark.sources.registry import (
    parse_order_events,
    read_order_file_stream,
)
from streaming_data_pipeline_azure_spark.sources.sinks import ParquetUpsertSink
from streaming_data_pipeline_azure_spark.streaming.generator import (
    order_batch,
    order_stream,
    to_kafka_payload,
)
from streaming_data_pipeline_azure_spark.streaming.pipeline import (
    build_enrichment_query,
    run_to_completion,
)

CUSTOMERS = [
    (1, "Willis Collins", "Dallas"),
    (2, "Casey Brady", "Chicago"),
    (3, "Walker Wong", "SanJose"),
]


def _write_order_files(tmp_path, batches: list[list[dict]]) -> str:
    src = tmp_path / "orders_in"
    src.mkdir()
    for i, batch in enumerate(batches):
        (src / f"batch{i}.json").write_text(
            "\n".join(json.dumps(o) for o in batch)
        )
    return str(src)


@pytest.fixture()
def customers(spark):
    return spark.createDataFrame(CUSTOMERS, CUSTOMER_SCHEMA)


def test_stream_enrichment_end_to_end(spark, tmp_path, customers):
    src = _write_order_files(
        tmp_path,
        [
            [{"orderID": "a", "customerID": 1, "amount": 100}],
            [{"orderID": "b", "customerID": 2, "amount": 200},
             {"orderID": "c", "customerID": 9999, "amount": 5}],  # unmatched
        ],
    )
    sink = ParquetUpsertSink(str(tmp_path / "sink"))
    q = build_enrichment_query(
        read_order_file_stream(spark, src),
        customers,
        sink,
        str(tmp_path / "ckpt"),
        trigger_available_now=True,
    )
    run_to_completion(q)
    rows = {r["order_id"]: r for r in sink.read(spark).collect()}
    assert set(rows) == {"a", "b"}  # inner join dropped customerID 9999
    assert rows["a"]["customer_name"] == "Willis Collins"
    assert rows["b"]["city"] == "Chicago"
    assert rows["a"]["customer_id"] == "1"  # sink string coercion
    assert len(rows["a"]["id"]) == 36  # cosmos-style GUID


def test_replay_is_idempotent(spark, tmp_path, customers):
    """Re-processing the same batches (fresh checkpoint, same sink) must not
    duplicate documents — the upsert key is deterministic order_id."""
    src = _write_order_files(
        tmp_path, [[{"orderID": "a", "customerID": 1, "amount": 100}]]
    )
    sink = ParquetUpsertSink(str(tmp_path / "sink"))
    for attempt in range(2):
        q = build_enrichment_query(
            read_order_file_stream(spark, src),
            customers,
            sink,
            str(tmp_path / f"ckpt{attempt}"),
            trigger_available_now=True,
        )
        run_to_completion(q)
    out = sink.read(spark).collect()
    assert len(out) == 1


def test_per_batch_reference_refresh(spark, tmp_path):
    """ASA re-snapshots reference data periodically (SURVEY.md §4.3); in
    per_batch mode the loader is consulted again and later batches see the
    updated dimension."""
    src = _write_order_files(
        tmp_path, [[{"orderID": f"o{i}", "customerID": 1, "amount": i}] for i in range(3)]
    )
    versions = iter(["v1", "v2", "v3"])

    def loader():
        name = next(versions)
        return spark.createDataFrame([(1, name, "Dallas")], CUSTOMER_SCHEMA)

    sink = ParquetUpsertSink(str(tmp_path / "sink"))
    q = build_enrichment_query(
        read_order_file_stream(spark, src),
        loader,
        sink,
        str(tmp_path / "ckpt"),
        refresh="per_batch",
        trigger_available_now=True,
    )
    run_to_completion(q)
    names = {r["customer_name"] for r in sink.read(spark).collect()}
    assert len(names) > 1  # dimension was refreshed between batches


def test_kafka_wire_shape(spark):
    payload = to_kafka_payload(order_batch(spark, 10)).collect()
    assert len(payload) == 10
    doc = json.loads(payload[0]["value"])
    assert set(doc) == {"orderID", "customerID", "amount"}
    assert payload[0]["key"] == doc["orderID"]
    assert 1 <= doc["customerID"] <= 10_000
    assert 20 <= doc["amount"] <= 499


def test_rate_generator_stream_is_streaming(spark):
    assert order_stream(spark).isStreaming


def test_parse_order_events(spark):
    raw = spark.createDataFrame(
        [(b'{"orderID": "x", "customerID": 7, "amount": 42}',)], ["value"]
    )
    [row] = parse_order_events(raw).collect()
    assert (row["orderID"], row["customerID"], row["amount"]) == ("x", 7, 42)


def test_parse_with_dead_letter_channel(spark):
    from streaming_data_pipeline_azure_spark.sources.registry import (
        parse_order_events_with_dlq,
    )

    raw = spark.createDataFrame(
        [
            (b'{"orderID": "x", "customerID": 7, "amount": 42}',),
            (b"not json at all",),
            (b'{"orderID": "y"}',),  # parseable but incomplete
        ],
        ["value"],
    )
    valid, dead = parse_order_events_with_dlq(raw)
    ok = valid.collect()
    assert len(ok) == 1 and ok[0]["orderID"] == "x"
    quarantined = {r["payload"] for r in dead.collect()}
    assert quarantined == {"not json at all", '{"orderID": "y"}'}


def test_streaming_dedup_within_watermark(spark, tmp_path):
    import json as _json
    import time as _time

    from streaming_data_pipeline_azure_spark.streaming.windows import (
        dedup_within_watermark,
        read_event_file_stream,
    )

    src = tmp_path / "dups_in"
    src.mkdir()
    batches = [
        [
            {"event_id": 1, "ts": "2024-01-01T00:00:00Z", "user_id": 1,
             "event_type": "click", "value": 1.0, "props": "{}"},
        ],
        [  # same event re-delivered in a later batch + a new one
            {"event_id": 1, "ts": "2024-01-01T00:00:00Z", "user_id": 1,
             "event_type": "click", "value": 1.0, "props": "{}"},
            {"event_id": 2, "ts": "2024-01-01T00:05:00Z", "user_id": 1,
             "event_type": "click", "value": 2.0, "props": "{}"},
        ],
    ]
    for i, b in enumerate(batches):
        (src / f"b{i:03d}.json").write_text(
            "\n".join(_json.dumps(e) for e in b)
        )
        _time.sleep(0.01)
    out = dedup_within_watermark(
        read_event_file_stream(spark, str(src)), ["event_id"]
    )
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("dedup_out")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    if q.exception() is not None:
        raise q.exception()
    rows = spark.sql("SELECT event_id FROM dedup_out").collect()
    assert sorted(r["event_id"] for r in rows) == [1, 2]  # replay dropped


def test_checkpoint_resume_processes_only_new_data(spark, tmp_path, customers):
    """Exactly-once source progress: a restarted query with the SAME
    checkpoint must skip already-committed files and process only new
    ones — no gaps, no duplicates, without relying on sink-side dedup
    (every row carries its batch provenance here)."""
    src = tmp_path / "orders_in"
    src.mkdir()

    def add_file(i, orders):
        (src / f"f{i}.json").write_text(
            "\n".join(json.dumps(o) for o in orders)
        )

    add_file(0, [{"orderID": "a", "customerID": 1, "amount": 100}])
    add_file(1, [{"orderID": "b", "customerID": 2, "amount": 200}])
    sink = ParquetUpsertSink(str(tmp_path / "sink"))
    ckpt = str(tmp_path / "ckpt")  # ONE checkpoint across both runs
    q = build_enrichment_query(
        read_order_file_stream(spark, str(src)),
        customers, sink, ckpt, trigger_available_now=True,
    )
    run_to_completion(q)
    first_batches = {
        r["order_id"]: r["batch_id"]
        for r in spark.read.parquet(sink.log_path(spark)).collect()
    }
    assert set(first_batches) == {"a", "b"}

    add_file(2, [{"orderID": "c", "customerID": 3, "amount": 300}])
    q2 = build_enrichment_query(
        read_order_file_stream(spark, str(src)),
        customers, sink, ckpt, trigger_available_now=True,
    )
    run_to_completion(q2)
    raw = spark.read.parquet(sink.log_path(spark)).collect()
    # a and b appear exactly once, in their ORIGINAL batch partitions
    # (the resumed query never rewrote them); c was appended by batch 2+
    per_key = {}
    for r in raw:
        per_key.setdefault(r["order_id"], []).append(r["batch_id"])
    assert set(per_key) == {"a", "b", "c"}
    assert all(len(v) == 1 for v in per_key.values()), per_key
    assert per_key["a"] == [first_batches["a"]]
    assert per_key["b"] == [first_batches["b"]]
    assert per_key["c"][0] > max(first_batches.values())


def test_sink_compaction_gc_and_replay(spark, tmp_path):
    """compact() must (1) preserve the resolved view, (2) physically drop
    shadowed versions, (3) keep replays idempotent afterwards: a stale
    replayed batch is still shadowed by the surviving higher batch_id."""
    import os

    from pyspark.sql import functions as F

    sink = ParquetUpsertSink(str(tmp_path / "sink"), key="k")

    def batch(batch_id, rows):
        sink.write_batch(
            spark.createDataFrame(rows, "k string, v int"), batch_id
        )

    batch(0, [("a", 1), ("b", 1)])
    batch(1, [("a", 2)])           # shadows a@0
    batch(2, [("b", 3), ("c", 3)])  # shadows b@0
    before = {(r["k"], r["v"]) for r in sink.read(spark).collect()}
    assert before == {("a", 2), ("b", 3), ("c", 3)}

    sink.compact(spark)
    after = {(r["k"], r["v"]) for r in sink.read(spark).collect()}
    assert after == before
    # batch 0 is fully shadowed -> its partition is gone; log holds
    # exactly one physical row per key
    dirs = {
        d for d in os.listdir(sink.log_path(spark))
        if d.startswith("batch_id=")
    }
    assert "batch_id=0" not in dirs
    assert spark.read.parquet(sink.log_path(spark)).count() == 3

    # replay batch 1 (its original content) after compaction: no dupes,
    # resolved view unchanged
    batch(1, [("a", 2)])
    assert {(r["k"], r["v"]) for r in sink.read(spark).collect()} == before

    # a NEW batch still upserts on top of the compacted log
    batch(3, [("a", 9)])
    assert {(r["k"], r["v"]) for r in sink.read(spark).collect()} == {
        ("a", 9), ("b", 3), ("c", 3),
    }


def test_streaming_corpus_clean_matches_batch(spark, tmp_path):
    """Corpus cleaning (quality filter + PII redaction + fingerprint) is
    a stateless projection, so the SAME DataFrame code must produce the
    SAME rows whether the documents arrive as a stream of micro-batches
    or one batch read — the stream/batch-agnostic contract the flagship
    enrichment join already guarantees, extended to the corpus ops."""
    import json as _json

    from pyspark.sql import functions as F

    from streaming_data_pipeline_azure_spark.operators import text as tx

    docs = [
        {"doc_id": 1, "text": "the cat sat on the mat and it was good",
         "lang": "en", "source": "s0", "n_chars": 38},
        {"doc_id": 2, "text": "mail me at someone@example.com for the offer",
         "lang": "en", "source": "s0", "n_chars": 44},
        {"doc_id": 3, "text": "%%% ### !!! @@@ &&&", "lang": "en",
         "source": "s1", "n_chars": 19},  # punctuation soup -> filtered
    ]
    src = tmp_path / "docs_in"
    src.mkdir()
    (src / "b0.json").write_text("\n".join(_json.dumps(d) for d in docs[:2]))
    (src / "b1.json").write_text(_json.dumps(docs[2]))

    schema = "doc_id long, text string, lang string, source string, n_chars long"

    def clean(df):
        scored = tx.quality_score(df)
        return scored.filter(F.col("quality_score") >= 0.45).select(
            "doc_id",
            tx.redact_pii("text").alias("clean_text"),
            tx.fingerprint("text").alias("fp"),
        )

    stream = spark.readStream.schema(schema).json(str(src))
    q = (
        clean(stream)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("corpus_clean_stream")
        .option("checkpointLocation", str(tmp_path / "ck_cc"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    if q.exception() is not None:
        raise q.exception()

    streamed = {
        (r["doc_id"], r["clean_text"], r["fp"])
        for r in spark.sql("SELECT * FROM corpus_clean_stream").collect()
    }
    batch = {
        (r["doc_id"], r["clean_text"], r["fp"])
        for r in clean(spark.read.schema(schema).json(str(src))).collect()
    }
    assert streamed == batch
    assert {d for d, _, _ in streamed} == {1, 2}  # doc 3 quality-filtered
    [(_, redacted, _)] = [t for t in streamed if t[0] == 2]
    assert "<EMAIL>" in redacted and "example.com" not in redacted


def test_sink_delete_keys_takedown(spark, tmp_path):
    """Sink takedown (r5): delete_keys hides every version at or before
    its batch stamp immediately, a LATER write_batch resurrects the key
    (ordered delete semantics), compact drops hidden rows physically,
    and the retained markers keep shadowing a replayed old batch that
    re-delivers the deleted document."""
    import os

    sink = ParquetUpsertSink(str(tmp_path / "sink"), key="k")

    def batch(batch_id, rows):
        sink.write_batch(
            spark.createDataFrame(rows, "k string, v int"), batch_id
        )

    batch(0, [("a", 1), ("b", 1)])
    batch(1, [("b", 2), ("c", 2)])
    sink.delete_keys(spark, ["b"])  # stamp = max batch (1)
    assert {(r["k"], r["v"]) for r in sink.read(spark).collect()} == {
        ("a", 1), ("c", 2),
    }
    # later write resurrects the key
    batch(2, [("b", 7)])
    assert {(r["k"], r["v"]) for r in sink.read(spark).collect()} == {
        ("a", 1), ("b", 7), ("c", 2),
    }
    # delete again (stamp 2) and compact: physically gone from the log
    sink.delete_keys(spark, ["b"])
    sink.compact(spark)
    assert {(r["k"], r["v"]) for r in sink.read(spark).collect()} == {
        ("a", 1), ("c", 2),
    }
    log = spark.read.parquet(sink.log_path(spark))
    assert {r["k"] for r in log.select("k").collect()} == {"a", "c"}
    # a replayed OLD batch re-delivers the deleted doc: the retained
    # marker still shadows it (and the other keys stay intact)
    batch(1, [("b", 2), ("c", 2)])
    assert {(r["k"], r["v"]) for r in sink.read(spark).collect()} == {
        ("a", 1), ("c", 2),
    }


def test_sink_compaction_is_generational_and_crash_safe(spark, tmp_path):
    """Generation-swap compaction (VERDICT r2 #6): survivors are staged
    into gen=G+1 and become live only when the _COMMITTED marker lands.
    A crash between stage and commit leaves the old generation fully
    readable; commit flips atomically; GC then drops the old log."""
    import os

    sink = ParquetUpsertSink(str(tmp_path / "sink"), key="k")
    sink.write_batch(spark.createDataFrame([("a", 1), ("b", 1)], "k string, v int"), 0)
    sink.write_batch(spark.createDataFrame([("a", 2)], "k string, v int"), 1)
    before = {(r["k"], r["v"]) for r in sink.read(spark).collect()}
    assert before == {("a", 2), ("b", 1)}
    assert sink.current_gen(spark) == 0

    # simulate the crash: survivors staged, marker never created
    sink._write_generation(spark, 1)
    assert os.path.isdir(f"{sink.path}/gen=1")
    assert not os.path.exists(f"{sink.path}/gen=1/_COMMITTED")
    assert sink.current_gen(spark) == 0  # new gen invisible
    assert {(r["k"], r["v"]) for r in sink.read(spark).collect()} == before
    # and the interrupted stage can be retried wholesale (overwrite mode)
    sink._write_generation(spark, 1)

    # the flip: one marker create makes gen 1 live
    sink._gens.commit(spark, 1)
    assert sink.current_gen(spark) == 1
    assert {(r["k"], r["v"]) for r in sink.read(spark).collect()} == before
    # old generation still on disk until GC (crash-after-commit window)
    assert os.path.isdir(f"{sink.path}/gen=0")
    sink._gens.gc_below(spark, keep=1)
    assert not os.path.isdir(f"{sink.path}/gen=0")

    # full compact() on top: writes gen 2, flips, GCs gen 1
    sink.write_batch(spark.createDataFrame([("c", 5)], "k string, v int"), 2)
    sink.compact(spark)
    assert sink.current_gen(spark) == 2
    assert not os.path.isdir(f"{sink.path}/gen=1")
    assert {(r["k"], r["v"]) for r in sink.read(spark).collect()} == (
        before | {("c", 5)}
    )
    # nothing in compact() ever staged survivors via localCheckpoint
    # (non-replayable executor state) — the stage is a plain parquet write


def test_streaming_sampling_export_matches_batch(spark, tmp_path):
    """VERDICT r4 #8 stream/batch parity for the SAMPLING/export stage:
    temperature mixing + shard assignment produce identical rows whether
    documents arrive as micro-batches or one batch read. The honest
    streaming shape pins the alpha=0.5 rate table ONCE from the corpus
    snapshot (per-micro-batch rates would be a function of batch
    boundaries, not of the data); given the fixed broadcast rates, the
    keep-filter and shard assignment are pure functions of the row key,
    so micro-batching cannot change the output."""
    import json as _json

    from pyspark.sql import functions as F

    from streaming_data_pipeline_azure_spark.operators import sampling

    docs = [
        {"doc_id": i, "lang": ("en" if i % 4 else "fi")} for i in range(80)
    ]
    src = tmp_path / "docs_in"
    src.mkdir()
    (src / "b0.json").write_text(
        "\n".join(_json.dumps(d) for d in docs[:50])
    )
    (src / "b1.json").write_text(
        "\n".join(_json.dumps(d) for d in docs[50:])
    )
    schema = "doc_id long, lang string"
    corpus = spark.read.schema(schema).json(str(src))
    rates = (
        sampling.sqrt_temperature_rates(corpus, "lang")
        .select("lang", "keep_rate")
        .localCheckpoint()  # pin the snapshot-derived rates
    )

    def export_stage(df):
        kept = df.join(F.broadcast(rates), "lang").filter(
            sampling.knuth_uniform("doc_id") < F.col("keep_rate")
        )
        return sampling.assign_shards(kept, "doc_id", 4).select(
            "doc_id", "lang", "shard"
        )

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    q = (
        export_stage(stream)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("sampling_export_stream")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    if q.exception() is not None:
        raise q.exception()

    streamed = {
        (r["doc_id"], r["lang"], r["shard"])
        for r in spark.sql("SELECT * FROM sampling_export_stream").collect()
    }
    batch = {
        (r["doc_id"], r["lang"], r["shard"])
        for r in export_stage(corpus).collect()
    }
    assert streamed == batch
    assert len(streamed) > 0
    # the low-resource stratum survives whole; shards are in range
    assert {d for d, lg, _ in streamed if lg == "fi"} == {
        d["doc_id"] for d in docs if d["lang"] == "fi"
    }
    assert {s for _, _, s in streamed} <= {0, 1, 2, 3}


def test_streaming_ingest_dedups_across_microbatches(spark, tmp_path):
    """build_dedup_ingest_query: each micro-batch probes the persisted
    MinHash index and folds its survivors in, so a paraphrase arriving
    in batch 2 of a doc ACCEPTED in batch 1 is dropped — the cross-batch
    near-dup case watermarked exact-key dedup cannot catch. Replaying
    the whole stream accepts nothing new (index-level idempotence)."""
    import os
    import time

    from streaming_data_pipeline_azure_spark.operators.dedup import (
        MinHashCorpusIndex,
    )
    from streaming_data_pipeline_azure_spark.streaming.pipeline import (
        build_dedup_ingest_query,
    )

    base = "the quick brown fox jumps over the lazy dog and runs far away today"
    doc_a = "a fresh article describing spark physical plans in careful detail"
    doc_b = "totally unrelated text about cooking pasta with garlic and olive oil"
    idx = MinHashCorpusIndex(str(tmp_path / "idx"), "doc_id", threshold=0.5)
    idx.build(
        spark.createDataFrame([(1, base)], ["doc_id", "text"]), "text"
    )

    in_dir = tmp_path / "in"
    in_dir.mkdir()
    batch1 = [
        {"doc_id": 10, "text": base.replace("lazy", "sleepy")},  # corpus paraphrase
        {"doc_id": 11, "text": doc_a},                            # novel -> accept
    ]
    batch2 = [
        {"doc_id": 20, "text": doc_a + " indeed"},  # paraphrase of batch-1 ACCEPT
        {"doc_id": 21, "text": doc_b},              # novel -> accept
        {"doc_id": 22, "text": base},               # exact corpus re-send
    ]
    (in_dir / "a.json").write_text("\n".join(json.dumps(d) for d in batch1))
    time.sleep(1.1)  # distinct mtimes: file source orders batches by mtime
    (in_dir / "b.json").write_text("\n".join(json.dumps(d) for d in batch2))

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .json(str(in_dir))
    )
    from streaming_data_pipeline_azure_spark.streaming.pipeline import (
        run_to_completion,
    )

    accepted = str(tmp_path / "accepted")
    q = build_dedup_ingest_query(
        stream, idx, accepted, str(tmp_path / "ckpt"),
        trigger_available_now=True,
    )
    run_to_completion(q)

    got = {r["doc_id"] for r in spark.read.parquet(accepted).collect()}
    assert got == {11, 21}  # paraphrases + re-send dropped, novels accepted
    assert idx.stats(spark)["n_docs"] == 3  # corpus + the two accepts

    # replay the whole input through a fresh checkpoint: index-level
    # idempotence means nothing new is accepted
    q2 = build_dedup_ingest_query(
        stream, idx, accepted, str(tmp_path / "ckpt2"),
        trigger_available_now=True,
    )
    run_to_completion(q2)
    got2 = {r["doc_id"] for r in spark.read.parquet(accepted).collect()}
    assert got2 == {11, 21}
    assert idx.stats(spark)["n_docs"] == 3


def test_streaming_ingest_sign_once_fold_matches_public_api(spark, tmp_path):
    """The default ingest signs each batch once and folds its survivors
    in as a by-id semi-join of the batch's signed tables. It must accept
    the same docs and leave the same index rows, in the same column
    order, as an ingest whose hooks call the public filter_novel and
    append (which sign the survivors again) — and each of its appends
    adds one AQE-sized file per table."""
    import time

    import pyarrow.parquet as pq

    from streaming_data_pipeline_azure_spark.operators.dedup import (
        MinHashCorpusIndex,
    )
    from streaming_data_pipeline_azure_spark.streaming.pipeline import (
        build_dedup_ingest_query,
        run_to_completion,
    )

    base = "the quick brown fox jumps over the lazy dog and runs far away today"
    doc_a = "a fresh article describing spark physical plans in careful detail"
    doc_b = "totally unrelated text about cooking pasta with garlic and olive oil"
    doc_c = "notes on tuning parquet row groups for selective columnar scans"
    doc_d = "a field guide to migratory birds of the northern coastal marshes"
    batches = [
        [(10, base.replace("lazy", "sleepy")),  # corpus paraphrase
         (11, doc_a),                           # novel
         (12, doc_c), (13, doc_c + " again")],  # near-dup pair in one batch
        [(20, doc_a + " indeed"),               # paraphrase across batches
         (21, doc_b)],                          # novel
        [(30, doc_b),                           # exact re-send
         (31, doc_d)],                          # novel
    ]
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    for k, rows in enumerate(batches):
        if k:
            time.sleep(1.1)  # distinct mtimes: file source orders by mtime
        (in_dir / f"{k}.json").write_text("\n".join(
            json.dumps({"doc_id": i, "text": t}) for i, t in rows))
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .json(str(in_dir))
    )

    def ingest(name, hooks):
        idx = MinHashCorpusIndex(str(tmp_path / name), "doc_id", threshold=0.5)
        idx.build(spark.createDataFrame([(1, base)], ["doc_id", "text"]), "text")
        before = idx.stats(spark)
        accepted = str(tmp_path / f"{name}_accepted")
        run_to_completion(build_dedup_ingest_query(
            stream, idx, accepted, str(tmp_path / f"{name}_ckpt"),
            trigger_available_now=True, **hooks(idx),
        ))
        ids = {r["doc_id"] for r in spark.read.parquet(accepted).collect()}
        return idx, before, ids

    fused, before, fused_ids = ingest("fused", lambda idx: {})
    public, _, public_ids = ingest("public", lambda idx: {
        "filter_fn": lambda b: idx.filter_novel(b, "text"),
        "append_fn": lambda acc: idx.append(acc, "text"),
    })
    assert fused_ids == public_ids == {11, 12, 21, 31}

    for table in ("bands", "shingles"):
        got, want = (
            spark.read.parquet(f"{idx.path}/gen=0/{table}")
            for idx in (fused, public)
        )
        assert got.columns == want.columns
        # positional rows; a shingle set's array order is not part of it
        rows = [
            sorted(tuple(sorted(v) if isinstance(v, list) else v for v in r)
                   for r in df.collect())
            for df in (got, want)
        ]
        assert rows[0] == rows[1], table
        for f in got.inputFiles():  # no appended file may reorder columns
            assert pq.read_schema(f.removeprefix("file:")).names == want.columns

    after = fused.stats(spark)
    assert after["n_band_files"] == before["n_band_files"] + len(batches)
    assert after["n_shingle_files"] == before["n_shingle_files"] + len(batches)


def test_streaming_ingest_accepted_write_is_replay_idempotent(spark, tmp_path):
    """Crash window (ADVICE r4): the accepted parquet was written but the
    crash hit before the index fold-in, so the replayed batch recomputes
    the SAME survivor set and must OVERWRITE its ``batch_id=N`` partition
    — each survivor lands exactly once, where a plain append would
    duplicate it."""
    from streaming_data_pipeline_azure_spark.operators.dedup import (
        MinHashCorpusIndex,
    )
    from streaming_data_pipeline_azure_spark.streaming.pipeline import (
        build_dedup_ingest_query,
        run_to_completion,
    )

    base = "the quick brown fox jumps over the lazy dog and runs far away today"
    doc_a = "a fresh article describing spark physical plans in careful detail"
    idx = MinHashCorpusIndex(str(tmp_path / "idx"), "doc_id", threshold=0.5)
    idx.build(spark.createDataFrame([(1, base)], ["doc_id", "text"]), "text")

    in_dir = tmp_path / "in"
    in_dir.mkdir()
    (in_dir / "a.json").write_text(json.dumps({"doc_id": 11, "text": doc_a}))

    accepted = str(tmp_path / "accepted")
    # simulate the crashed first attempt: survivors durably written under
    # batch_id=0, index NOT folded, checkpoint NOT committed
    spark.createDataFrame(
        [(11, doc_a)], "doc_id long, text string"
    ).write.mode("overwrite").parquet(f"{accepted}/batch_id=0")

    q = build_dedup_ingest_query(
        spark.readStream.schema("doc_id long, text string").json(str(in_dir)),
        idx,
        accepted,
        str(tmp_path / "ckpt"),
        trigger_available_now=True,
    )
    run_to_completion(q)

    rows = spark.read.parquet(accepted).collect()
    assert [r["doc_id"] for r in rows] == [11]  # exactly once, not doubled
    assert idx.stats(spark)["n_docs"] == 2  # corpus + the replayed accept


def test_streaming_span_scrub_ingest(spark, tmp_path):
    """build_span_scrub_ingest_query: micro-batches scrub corpus-known
    spans via the gram index, keep docs above the surviving-fraction
    floor with their CLEANED text, and fold accepted grams in — so
    content accepted in batch 1 scrubs a batch-2 repeat to nothing.
    Full-stream replay accepts nothing new (index-level idempotence)."""
    import time

    from streaming_data_pipeline_azure_spark.operators.corpus import (
        GramCorpusIndex,
    )
    from streaming_data_pipeline_azure_spark.streaming.pipeline import (
        build_span_scrub_ingest_query,
        run_to_completion,
    )

    boiler = "subscribe to our newsletter for weekly updates and offers today"
    unique = "my original analysis of broadcast joins follows here in detail"
    idx = GramCorpusIndex(str(tmp_path / "gidx"), n=5)
    idx.build(
        spark.createDataFrame([(1, boiler)], ["doc_id", "text"]),
        "doc_id", "text",
    )

    in_dir = tmp_path / "in"
    in_dir.mkdir()
    batch1 = [
        {"doc_id": 10, "text": boiler + " " + unique},  # partial -> kept clean
        {"doc_id": 11, "text": boiler},                  # whole re-send -> drop
    ]
    batch2 = [
        {"doc_id": 20, "text": unique},  # repeats batch-1 ACCEPT -> drop
        {"doc_id": 21, "text": "totally new cooking text with pasta and garlic"},
    ]
    (in_dir / "a.json").write_text("\n".join(json.dumps(d) for d in batch1))
    time.sleep(1.1)
    (in_dir / "b.json").write_text("\n".join(json.dumps(d) for d in batch2))

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .json(str(in_dir))
    )
    accepted = str(tmp_path / "accepted")
    q = build_span_scrub_ingest_query(
        stream, idx, accepted, str(tmp_path / "ckpt"),
        trigger_available_now=True,
    )
    run_to_completion(q)

    got = {r["doc_id"]: r["text"] for r in spark.read.parquet(accepted).collect()}
    assert set(got) == {10, 21}
    assert got[10] == unique  # boilerplate excised, unique tail kept

    # replay everything through a fresh checkpoint: accepted text's grams
    # are indexed, so every replayed accept scrubs to empty -> no change
    q2 = build_span_scrub_ingest_query(
        stream, idx, accepted, str(tmp_path / "ckpt2"),
        trigger_available_now=True,
    )
    run_to_completion(q2)
    got2 = {r["doc_id"]: r["text"] for r in spark.read.parquet(accepted).collect()}
    assert got2 == got


def test_streaming_embedding_ingest_with_periodic_compaction(spark, tmp_path):
    """The same ingestion builder drives the EMBEDDING index via
    filter_fn/append_fn overrides: a near-identical vector arriving in
    batch 2 of one accepted in batch 1 is dropped, and compact_every=1
    keeps the index at one file per centroid partition while advancing
    generations crash-safely."""
    import time

    from streaming_data_pipeline_azure_spark.operators.similarity import (
        IvfIndex,
    )
    from streaming_data_pipeline_azure_spark.streaming.pipeline import (
        build_dedup_ingest_query,
    )

    def vec(axis, nudge=0.0):
        v = [0.0] * 8
        v[axis] = 10.0
        v[(axis + 1) % 8] += nudge
        return v

    corpus = spark.createDataFrame(
        [(i, vec(i % 4)) for i in range(16)],
        "vec_id long, embedding array<double>",
    )
    idx = IvfIndex(str(tmp_path / "ivf"), dim=8, n_planes=3, seed=5)
    idx.build(corpus, "embedding")

    in_dir = tmp_path / "in"
    in_dir.mkdir()
    batch1 = [
        {"vec_id": 100, "embedding": vec(0, 0.1)},   # corpus near-dup -> drop
        {"vec_id": 101, "embedding": vec(5)},        # novel axis -> accept
    ]
    batch2 = [
        {"vec_id": 200, "embedding": vec(5, 0.05)},  # near-dup of batch-1 ACCEPT
        {"vec_id": 201, "embedding": vec(6)},        # novel -> accept
    ]
    (in_dir / "a.json").write_text("\n".join(json.dumps(d) for d in batch1))
    time.sleep(1.1)
    (in_dir / "b.json").write_text("\n".join(json.dumps(d) for d in batch2))

    stream = (
        spark.readStream.schema("vec_id long, embedding array<double>")
        .option("maxFilesPerTrigger", 1)
        .json(str(in_dir))
    )
    accepted = str(tmp_path / "accepted")
    q = build_dedup_ingest_query(
        stream, idx, accepted, str(tmp_path / "ckpt"),
        trigger_available_now=True,
        filter_fn=lambda b: idx.filter_novel(b, threshold=0.95, n_probe=2),
        append_fn=lambda acc: idx.append(acc),
        compact_every=1,
    )
    run_to_completion(q)

    got = {r["vec_id"] for r in spark.read.parquet(accepted).collect()}
    assert got == {101, 201}
    stats = idx.stats(spark)
    assert stats["n_vectors"] == 18  # 16 corpus + 2 accepts
    assert stats["generation"] == 2  # one compaction per accepted batch
    assert stats["n_files"] == stats["n_centroids"]


def test_socket_stream_end_to_end(spark, tmp_path, customers):
    """A genuinely unbounded NON-file source executes end-to-end
    (VERDICT r5 #7): a live TCP server feeds newline-JSON orders to the
    socket source; the pipeline runs the same explicit-schema parse +
    DLQ split as the Kafka path, the broadcast enrich join, and the
    keyed upsert sink. Malformed payloads must neither crash the query
    nor reach the sink. (S1's Kafka execution stays env-blocked — no
    spark-sql-kafka jar; this pins the identical wire shape against a
    real unbounded transport.)"""
    import socket
    import threading

    from streaming_data_pipeline_azure_spark.sources.registry import (
        parse_order_events_with_dlq,
        read_order_socket_stream,
    )

    lines = [
        json.dumps({"orderID": "s1", "customerID": 1, "amount": 100}),
        "this is not json",                                   # DLQ-bound
        json.dumps({"orderID": "s2", "customerID": 2, "amount": 200}),
        json.dumps({"orderID": "s3", "customerID": 9999, "amount": 5}),
    ]
    server = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
    server.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
    server.bind(("localhost", 0))
    server.listen(1)
    port = server.getsockname()[1]
    done = threading.Event()

    def serve():
        conn, _ = server.accept()
        try:
            conn.sendall(("\n".join(lines) + "\n").encode())
            done.wait(60)  # hold the connection until the test drains
        finally:
            conn.close()
            server.close()

    t = threading.Thread(target=serve, daemon=True)
    t.start()

    raw = read_order_socket_stream(spark, port=port)
    assert raw.isStreaming
    valid, _dead = parse_order_events_with_dlq(raw)
    sink = ParquetUpsertSink(str(tmp_path / "socket_sink"))
    q = build_enrichment_query(
        valid, customers, sink, str(tmp_path / "socket_ckpt")
    )
    try:
        # drain until both well-formed matched orders land (the socket
        # delivery is asynchronous — a single processAllAvailable can
        # run before the first bytes arrive)
        import time

        deadline = time.monotonic() + 60
        while time.monotonic() < deadline:
            q.processAllAvailable()
            if sink.read(spark).count() >= 2:
                break
            time.sleep(0.5)
    finally:
        done.set()
        q.stop()
    rows = {r["order_id"]: r for r in sink.read(spark).collect()}
    # s1/s2 enriched+upserted; s3 dropped by the inner join (unknown
    # customer); the malformed line went to the DLQ side, not the sink
    assert set(rows) == {"s1", "s2"}
    assert rows["s1"]["customer_name"] == "Willis Collins"
    assert rows["s2"]["city"] == "Chicago"


def test_streaming_cms_heavy_hitters_matches_batch(spark, tmp_path):
    """The streaming CMS state, fed in micro-batches, must serve the
    SAME top-k as batch heavy_hitters_cms over the union (CMS merge is
    an exact elementwise add), and a replayed batch write must not
    double-count (per-batch overwrite partitions)."""
    import json as _json

    from streaming_data_pipeline_azure_spark.operators.profile import (
        heavy_hitters_cms,
    )
    from streaming_data_pipeline_azure_spark.streaming.pipeline import (
        build_cms_ingest_query,
        read_heavy_hitters,
    )

    # two micro-batches of tokens with planted heavy keys
    b1 = [{"token": t} for t in
          ["alpha"] * 30 + ["beta"] * 20 + [f"x{i}" for i in range(40)]]
    b2 = [{"token": t} for t in
          ["alpha"] * 25 + ["gamma"] * 15 + [f"y{i}" for i in range(40)]]
    src = tmp_path / "cms_in"
    src.mkdir()
    (src / "b0.json").write_text("\n".join(_json.dumps(r) for r in b1))
    (src / "b1.json").write_text("\n".join(_json.dumps(r) for r in b2))

    stream = (
        spark.readStream.schema("token string")
        .option("maxFilesPerTrigger", "1")
        .json(str(src))
    )
    state = str(tmp_path / "cms_state")
    q = build_cms_ingest_query(
        stream, "token", state, str(tmp_path / "cms_ckpt"),
        trigger_available_now=True,
    )
    run_to_completion(q)

    served = [tuple(r) for r in read_heavy_hitters(spark, state, k=5).collect()]
    batch_df = spark.createDataFrame(
        [(r["token"],) for r in b1 + b2], "token string"
    )
    direct = [
        tuple(r) for r in heavy_hitters_cms(batch_df, "token", k=5).collect()
    ]
    assert served == direct
    assert served[0][0] == "alpha" and served[0][1] >= 55  # never undercounts
    assert {v for v, _ in served[:3]} == {"alpha", "beta", "gamma"}

    # replay batch 0 (fresh checkpoint, same state dir): overwrite
    # partitions make it idempotent — totals unchanged
    replay = (
        spark.readStream.schema("token string")
        .option("maxFilesPerTrigger", "1")
        .json(str(src))
    )
    q2 = build_cms_ingest_query(
        replay, "token", state, str(tmp_path / "cms_ckpt2"),
        trigger_available_now=True,
    )
    run_to_completion(q2)
    again = [tuple(r) for r in read_heavy_hitters(spark, state, k=5).collect()]
    assert again == served


def test_streaming_hll_distinct_matches_batch(spark, tmp_path):
    """The streaming HLL state, fed in micro-batches, must serve the
    SAME per-group distinct estimates as one batch pass over the union
    (hll_union_agg merge is bit-identical — profile tests), and a
    replayed batch must not perturb totals (overwrite partitions)."""
    import json as _json

    from streaming_data_pipeline_azure_spark.operators.profile import (
        distinct_partials,
        estimate_distinct,
    )
    from streaming_data_pipeline_azure_spark.streaming.pipeline import (
        build_hll_ingest_query,
        read_distinct_counts,
    )

    b1 = [{"day": "d1", "user": f"u{i}"} for i in range(120)] + [
        {"day": "d2", "user": f"u{i}"} for i in range(40)
    ]
    b2 = [{"day": "d1", "user": f"u{i}"} for i in range(60, 180)] + [
        {"day": "d2", "user": f"v{i}"} for i in range(25)
    ]
    src = tmp_path / "hll_in"
    src.mkdir()
    (src / "b0.json").write_text("\n".join(_json.dumps(r) for r in b1))
    (src / "b1.json").write_text("\n".join(_json.dumps(r) for r in b2))

    stream = (
        spark.readStream.schema("day string, user string")
        .option("maxFilesPerTrigger", "1")
        .json(str(src))
    )
    state = str(tmp_path / "hll_state")
    q = build_hll_ingest_query(
        stream, ["day"], "user", state, str(tmp_path / "hll_ckpt"),
        trigger_available_now=True,
    )
    run_to_completion(q)

    served = {
        r["day"]: r["n_distinct_approx"]
        for r in read_distinct_counts(spark, state, ["day"]).collect()
    }
    union = spark.createDataFrame(
        [(r["day"], r["user"]) for r in b1 + b2], "day string, user string"
    )
    direct = {
        r["day"]: r["n_distinct_approx"]
        for r in estimate_distinct(
            distinct_partials(union, ["day"], "user"), ["day"]
        ).collect()
    }
    assert served == direct
    assert served == {"d1": 180, "d2": 65}  # sparse-mode exact here

    # replay batch 0 (fresh checkpoint, same state dir) — idempotent
    replay = (
        spark.readStream.schema("day string, user string")
        .option("maxFilesPerTrigger", "1")
        .json(str(src))
    )
    q2 = build_hll_ingest_query(
        replay, ["day"], "user", state, str(tmp_path / "hll_ckpt2"),
        trigger_available_now=True,
    )
    run_to_completion(q2)
    again = {
        r["day"]: r["n_distinct_approx"]
        for r in read_distinct_counts(spark, state, ["day"]).collect()
    }
    assert again == served


def test_sink_read_as_of_time_travel(spark, tmp_path):
    """read_as_of(N) must reproduce the table exactly as of batch N:
    later upserts AND later delete markers are invisible; as_of at the
    newest batch equals the live read; the batch_id filter prunes
    later partitions from the scan; snapshots at-or-after the last
    compaction still replay exactly after compact()."""
    from pyspark.sql import functions as F

    sink = ParquetUpsertSink(str(tmp_path / "tt_sink"), key="k")

    def batch(batch_id, rows):
        sink.write_batch(
            spark.createDataFrame(rows, "k string, v int"), batch_id
        )

    batch(0, [("a", 1), ("b", 1)])
    batch(1, [("a", 2), ("c", 2)])          # shadows a@0
    sink.delete_keys(spark, ["b"], batch_id=2)
    batch(3, [("b", 4)])                    # resurrects b after delete

    def snap(n):
        return {(r["k"], r["v"]) for r in sink.read_as_of(spark, n).collect()}

    assert snap(0) == {("a", 1), ("b", 1)}
    assert snap(1) == {("a", 2), ("b", 1), ("c", 2)}
    assert snap(2) == {("a", 2), ("c", 2)}          # delete visible
    assert snap(3) == {("a", 2), ("b", 4), ("c", 2)}  # resurrection
    live = {(r["k"], r["v"]) for r in sink.read(spark).collect()}
    assert snap(3) == live

    # partition pruning: the as_of filter must land on the batch_id
    # partition column of the log scan
    plan = sink.read_as_of(spark, 1)._jdf.queryExecution().executedPlan().toString()
    assert "batch_id" in plan and "PartitionFilters" in plan, plan

    # compaction preserves every snapshot at-or-after its horizon
    sink.compact(spark)
    assert snap(3) == live
    # a@0 and b@1 were shadowed/deleted pre-compaction; snapshot 0 now
    # conservatively shows only what survived (documented horizon)
    assert snap(0) <= {("a", 1), ("b", 1)}


def test_streaming_join_view_matches_batch_and_replays_cleanly(spark, tmp_path):
    """The stream-maintained join view must equal the one-shot join of
    everything that arrived, and replaying the stream's batches (fresh
    checkpoint, same state) must leave the view EXACTLY unchanged —
    batch-stamped overwrite partitions plus before-batch state reads
    are the idempotence mechanism."""
    import json as _json

    from streaming_data_pipeline_azure_spark.operators.incremental import (
        IncrementalJoinView,
    )
    from streaming_data_pipeline_azure_spark.streaming.pipeline import (
        build_join_view_ingest_query,
    )

    right = spark.createDataFrame(
        [(k, f"dim{k}") for k in range(10)], "k long, rv string"
    )
    seed_left = spark.createDataFrame(
        [(1, "seed1"), (2, "seed2")], "k long, lv string"
    )
    view = IncrementalJoinView(str(tmp_path / "sjv"), "k", n_buckets=8)
    view.build(seed_left, right)

    b1 = [{"k": 3, "lv": "a3"}, {"k": 4, "lv": "a4"}]
    b2 = [{"k": 3, "lv": "b3"}, {"k": 9, "lv": "b9"}, {"k": 99, "lv": "x"}]
    src = tmp_path / "sjv_in"
    src.mkdir()
    (src / "b0.json").write_text("\n".join(_json.dumps(r) for r in b1))
    (src / "b1.json").write_text("\n".join(_json.dumps(r) for r in b2))

    def start(ckpt):
        stream = (
            spark.readStream.schema("k long, lv string")
            .option("maxFilesPerTrigger", "1")
            .json(str(src))
        )
        return build_join_view_ingest_query(
            stream, view, str(tmp_path / ckpt), trigger_available_now=True
        )

    run_to_completion(start("sjv_ckpt"))

    all_left = seed_left.unionByName(
        spark.createDataFrame(
            [(r["k"], r["lv"]) for r in b1 + b2], "k long, lv string"
        )
    )
    want = sorted(tuple(r) for r in all_left.join(right, "k").collect())
    got = sorted(tuple(r) for r in view.read(spark).collect())
    assert got == want and len(got) == 6  # k=99 unmatched, dropped

    # full replay with a fresh checkpoint: identical view, no dupes
    run_to_completion(start("sjv_ckpt2"))
    again = sorted(tuple(r) for r in view.read(spark).collect())
    assert again == want


def test_enrichment_observe_metrics_ride_progress_events(spark, tmp_path):
    """observe() quality counters must surface in the streaming
    progress events WITHOUT a second pass: summed across micro-batches
    they equal the written row count and amount total, and per_batch
    refresh mode rejects the flag (enrichment happens inside
    foreachBatch there)."""
    import json as _json

    import pytest as _pytest

    customers = spark.createDataFrame(
        [(1, "Willis Collins", "Chicago"), (2, "Ann Lee", "Austin")],
        "cust_id int, cust_name string, city string",
    )
    src = tmp_path / "obs_in"
    src.mkdir()
    (src / "b0.json").write_text(_json.dumps(
        {"orderID": "a", "customerID": 1, "amount": 100}))
    (src / "b1.json").write_text("\n".join([
        _json.dumps({"orderID": "b", "customerID": 2, "amount": 200}),
        _json.dumps({"orderID": "c", "customerID": 9, "amount": 5}),
    ]))
    sink = ParquetUpsertSink(str(tmp_path / "obs_sink"))
    stream = read_order_file_stream(spark, str(src))
    q = build_enrichment_query(
        stream, customers, sink, str(tmp_path / "obs_ckpt"),
        trigger_available_now=True, observe_quality=True,
    )
    run_to_completion(q)

    metrics = [
        prog.observedMetrics["enrich_quality"]
        for prog in q.recentProgress
        if "enrich_quality" in (prog.observedMetrics or {})
    ]
    assert metrics, [prog.json for prog in q.recentProgress]
    n = sum(m["n_rows"] for m in metrics)
    amt = sum(m["total_amount"] for m in metrics)
    nulls = sum(m["n_null_name"] for m in metrics)
    assert n == 2 and nulls == 0  # customerID 9 dropped by the join
    assert amt == 300.0
    assert sink.read(spark).count() == 2

    with _pytest.raises(ValueError):
        build_enrichment_query(
            stream, lambda: customers, sink, str(tmp_path / "obs_ckpt2"),
            refresh="per_batch", trigger_available_now=True,
            observe_quality=True,
        )


def test_streaming_drift_state_matches_batch(spark, tmp_path):
    """Streaming drift state, fed in micro-batches, must score
    IDENTICALLY to the batch distribution_drift over the union
    (bucket counts are additive over fixed boundaries), and a replayed
    batch must not perturb it (overwrite partitions)."""
    import json as _json

    from streaming_data_pipeline_azure_spark.operators.validate import (
        distribution_drift,
    )
    from streaming_data_pipeline_azure_spark.streaming.pipeline import (
        build_drift_ingest_query,
        read_drift,
    )
    from pyspark.sql import Window, functions as FF

    ref = spark.range(0, 1_000).select(
        FF.col("id").alias("k"),
        (FF.col("id") % 50).cast("double").alias("v"),
    )
    # derive the same boundaries distribution_drift would use
    w = Window.orderBy(FF.col("v"), FF.col("k"))
    tiled = ref.select("v", FF.ntile(10).over(w).alias("q"))
    bounds = [
        float(r["b"])
        for r in tiled.groupBy("q").agg(FF.max("v").alias("b"))
        .orderBy("q").collect()[:9]
    ]

    b1 = [{"v": float(i % 60)} for i in range(300)]
    b2 = [{"v": float((i % 40) + 20)} for i in range(200)]
    src = tmp_path / "drift_in"
    src.mkdir()
    (src / "b0.json").write_text("\n".join(_json.dumps(r) for r in b1))
    (src / "b1.json").write_text("\n".join(_json.dumps(r) for r in b2))

    def start(ckpt):
        stream = (
            spark.readStream.schema("v double")
            .option("maxFilesPerTrigger", "1")
            .json(str(src))
        )
        return build_drift_ingest_query(
            stream, "v", bounds, str(tmp_path / "drift_state"),
            str(tmp_path / ckpt), trigger_available_now=True,
        )

    run_to_completion(start("drift_ckpt"))
    served = sorted(
        tuple(r) for r in read_drift(
            spark, str(tmp_path / "drift_state"), ref, "v", bounds
        ).collect()
    )
    union = spark.createDataFrame(
        [(float(r["v"]), i) for i, r in enumerate(b1 + b2)], "v double, k long"
    )
    direct = sorted(
        tuple(r) for r in distribution_drift(ref, union, "v", "k").collect()
    )
    assert served == direct and len(served) == 10

    run_to_completion(start("drift_ckpt2"))  # full replay
    again = sorted(
        tuple(r) for r in read_drift(
            spark, str(tmp_path / "drift_state"), ref, "v", bounds
        ).collect()
    )
    assert again == served


def test_streaming_checksum_matches_batch_and_replays(spark, tmp_path):
    """The merged streaming checksum equals the one-pass batch
    fingerprint over everything ingested; a replayed batch does not
    move it (overwrite partitions)."""
    import json as _json

    from streaming_data_pipeline_azure_spark.operators.validate import (
        table_checksum,
    )
    from streaming_data_pipeline_azure_spark.streaming.pipeline import (
        build_checksum_ingest_query,
        read_checksum,
        run_to_completion,
    )

    b1 = [{"k": i, "s": f"v{i}"} for i in range(120)]
    b2 = [{"k": i, "s": f"v{i}"} for i in range(120, 200)]
    src = tmp_path / "ck_in"
    src.mkdir()
    (src / "b0.json").write_text("\n".join(_json.dumps(r) for r in b1))
    (src / "b1.json").write_text("\n".join(_json.dumps(r) for r in b2))

    def stream():
        return (
            spark.readStream.schema("k long, s string")
            .option("maxFilesPerTrigger", "1")
            .json(str(src))
        )

    state = str(tmp_path / "ck_state")
    q = build_checksum_ingest_query(
        stream(), ["k", "s"], state, str(tmp_path / "ck_ckpt"),
        trigger_available_now=True,
    )
    run_to_completion(q)
    served = read_checksum(spark, state).collect()[0]
    union = spark.createDataFrame(
        [(r["k"], r["s"]) for r in b1 + b2], "k long, s string"
    )
    direct = table_checksum(union, ["k", "s"]).collect()[0]
    assert (served["n_rows"], served["checksum"]) == (
        direct["n_rows"],
        direct["checksum"],
    )
    q2 = build_checksum_ingest_query(
        stream(), ["k", "s"], state, str(tmp_path / "ck_ckpt2"),
        trigger_available_now=True,
    )
    run_to_completion(q2)
    again = read_checksum(spark, state).collect()[0]
    assert (again["n_rows"], again["checksum"]) == (
        served["n_rows"],
        served["checksum"],
    )


def test_streaming_ohlc_matches_batch(spark, tmp_path):
    """Merged streaming OHLC bars == the one-pass batch operator over
    everything ingested, including open/close whose day spans multiple
    micro-batches; replay leaves the bars unchanged."""
    import json as _json

    from streaming_data_pipeline_azure_spark.operators.temporal import (
        ohlc,
    )
    from streaming_data_pipeline_azure_spark.streaming.pipeline import (
        build_ohlc_ingest_query,
        read_ohlc,
        run_to_completion,
    )

    def ev(i, day, hour, v):
        return {
            "event_id": i,
            "ts": f"2024-03-{day:02d}T{hour:02d}:00:00.000Z",
            "v": v,
        }

    # day 1 spans both batches: true open (h1) in b1, close (h23) in b2
    b1 = [ev(1, 1, 1, 10.0), ev(2, 1, 9, 50.0), ev(3, 2, 5, 7.0)]
    b2 = [ev(4, 1, 23, 20.0), ev(5, 1, 12, 3.0), ev(6, 2, 8, 9.0)]
    src = tmp_path / "ohlc_in"
    src.mkdir()
    (src / "b0.json").write_text("\n".join(_json.dumps(r) for r in b1))
    (src / "b1.json").write_text("\n".join(_json.dumps(r) for r in b2))

    schema = "event_id long, ts timestamp, v double"

    def stream():
        return (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .json(str(src))
        )

    state = str(tmp_path / "ohlc_state")
    run_to_completion(
        build_ohlc_ingest_query(
            stream(), "ts", "v", "event_id", state,
            str(tmp_path / "ohlc_ck"), trigger_available_now=True,
        )
    )
    served = {
        str(r["day"]): tuple(r)[1:]
        for r in read_ohlc(spark, state).collect()
    }
    union = spark.read.schema(schema).json(
        spark.sparkContext.parallelize(
            [_json.dumps(r) for r in b1 + b2]
        )
    )
    direct = {
        str(r["day"]): tuple(r)[1:]
        for r in ohlc(
            union, "ts", "v", tiebreak_cols=["event_id"]
        ).collect()
    }
    assert served == direct
    assert served["2024-03-01"][0] == 10.0   # open from batch 1
    assert served["2024-03-01"][3] == 20.0   # close from batch 2
    run_to_completion(
        build_ohlc_ingest_query(
            stream(), "ts", "v", "event_id", state,
            str(tmp_path / "ohlc_ck2"), trigger_available_now=True,
        )
    )
    again = {
        str(r["day"]): tuple(r)[1:]
        for r in read_ohlc(spark, state).collect()
    }
    assert again == served


def test_streaming_decayed_state_matches_batch_and_replays(spark, tmp_path):
    """Merged streaming decayed-sum state == the one-pass batch
    operator bit-for-bit (quantized-integer partials, fixed ref date);
    replay does not move it."""
    import json as _json

    from streaming_data_pipeline_azure_spark.operators.temporal import (
        decayed_sum,
    )
    from streaming_data_pipeline_azure_spark.streaming.pipeline import (
        build_decayed_ingest_query,
        read_decayed,
        run_to_completion,
    )

    rows = [
        {"u": i % 7, "ts": f"2024-01-{1 + i % 28:02d}T08:00:00",
         "v": 1.5 + (i % 11) * 0.37}
        for i in range(200)
    ]
    src = tmp_path / "dk_in"
    src.mkdir()
    (src / "b0.json").write_text(
        "\n".join(_json.dumps(r) for r in rows[:120])
    )
    (src / "b1.json").write_text(
        "\n".join(_json.dumps(r) for r in rows[120:])
    )

    def stream():
        return (
            spark.readStream.schema("u long, ts timestamp, v double")
            .option("maxFilesPerTrigger", "1")
            .json(str(src))
        )

    state = str(tmp_path / "dk_state")
    q = build_decayed_ingest_query(
        stream(), "u", "ts", "v", state, str(tmp_path / "dk_ckpt"),
        ref_date="2024-02-01", half_life_days=7,
        trigger_available_now=True,
    )
    run_to_completion(q)
    served = {
        r["u"]: (r["n_events"], r["decayed_q"], r["decayed"])
        for r in read_decayed(spark, state, "u").collect()
    }
    from pyspark.sql import functions as _F

    batch_in = spark.createDataFrame(
        [(r["u"], r["ts"], r["v"]) for r in rows],
        "u long, ts string, v double",
    ).withColumn("ts", _F.col("ts").cast("timestamp"))
    direct = {
        r["u"]: (r["n_events"], r["decayed_q"], r["decayed"])
        for r in decayed_sum(
            batch_in, "u", "ts", "v",
            ref_date="2024-02-01", half_life_days=7,
        ).collect()
    }
    assert served == direct
    q2 = build_decayed_ingest_query(
        stream(), "u", "ts", "v", state, str(tmp_path / "dk_ckpt2"),
        ref_date="2024-02-01", half_life_days=7,
        trigger_available_now=True,
    )
    run_to_completion(q2)
    again = {
        r["u"]: (r["n_events"], r["decayed_q"], r["decayed"])
        for r in read_decayed(spark, state, "u").collect()
    }
    assert again == served


def _write_event_files(tmp_path, name, batches):
    import os
    import time

    src = tmp_path / name
    src.mkdir()
    base = time.time() - len(batches) * 10
    for i, batch in enumerate(batches):
        p = src / f"b{i}.json"
        p.write_text("\n".join(json.dumps(e) for e in batch))
        # the file source orders by MODIFICATION TIME — equal mtimes
        # make batch order nondeterministic, which turns early-batch
        # events into droppable late data once watermarks advance
        os.utime(p, (base + i * 10, base + i * 10))
    return str(src)


def test_stream_stream_conversion_join_matches_batch(spark, tmp_path):
    """The watermarked stream-stream interval join emits exactly the
    pairs the batch conversion_pairs operator produces on the same
    data (parity), across multiple micro-batch files."""
    from streaming_data_pipeline_azure_spark.operators.temporal import (
        conversion_pairs,
    )
    from streaming_data_pipeline_azure_spark.streaming.pipeline import (
        build_conversion_join_query,
        run_to_completion,
    )

    clicks = [
        {"event_id": 1, "user_id": 7, "ts": "2024-01-01T10:00:00"},
        {"event_id": 2, "user_id": 7, "ts": "2024-01-01T12:00:00"},
        {"event_id": 3, "user_id": 8, "ts": "2024-01-01T10:30:00"},
    ]
    purchases = [
        # in-window for click 1 (10:20), out-of-window for click 1 but
        # in-window for click 2 (12:30), user-8 conversion (10:45),
        # and one purchase with NO matching click window (09:00)
        {"user_id": 7, "ts": "2024-01-01T10:20:00", "value": 5.0},
        {"user_id": 7, "ts": "2024-01-01T12:30:00", "value": 7.0},
        {"user_id": 8, "ts": "2024-01-01T10:45:00", "value": 9.0},
        {"user_id": 8, "ts": "2024-01-01T09:00:00", "value": 1.0},
    ]
    cs = _write_event_files(tmp_path, "clicks", [clicks[:2], clicks[2:]])
    ps = _write_event_files(tmp_path, "purch", [purchases[:2], purchases[2:]])
    click_schema = "event_id LONG, user_id LONG, ts TIMESTAMP"
    purch_schema = "user_id LONG, ts TIMESTAMP, value DOUBLE"
    cstream = (
        spark.readStream.schema(click_schema)
        .option("maxFilesPerTrigger", 1)
        .json(cs)
    )
    pstream = (
        spark.readStream.schema(purch_schema)
        .option("maxFilesPerTrigger", 1)
        .json(ps)
    )
    out = str(tmp_path / "pairs_out")
    q = build_conversion_join_query(
        cstream,
        pstream,
        out,
        str(tmp_path / "ckpt"),
        max_gap_minutes=60,
    )
    run_to_completion(q)

    streamed = sorted(
        (r["l_event_id"], r["user_id"], str(r["r_ts"]))
        for r in spark.read.parquet(out).collect()
    )
    cb = spark.read.schema(click_schema).json(cs)
    pb = spark.read.schema(purch_schema).json(ps)
    batch = sorted(
        (r["l_event_id"], r["user_id"], str(r["r_ts"]))
        for r in conversion_pairs(
            cb, pb, "user_id", "ts", "ts", max_gap_minutes=60
        ).collect()
    )
    assert streamed == batch
    assert len(streamed) == 3  # clicks 1,2,3 each convert exactly once


def test_streaming_histogram_percentiles_match_batch(spark, tmp_path):
    """The streaming log2-histogram state, fed in micro-batches, must
    serve BIT-IDENTICAL percentile estimates to a one-pass batch build
    (addition-merge of integer buckets), and a replayed batch must not
    double-count (overwrite partitions)."""
    import json as _json

    from streaming_data_pipeline_azure_spark.operators.profile import (
        histogram_partials,
        histogram_percentiles,
    )
    from streaming_data_pipeline_azure_spark.streaming.pipeline import (
        build_histogram_ingest_query,
        read_histogram_percentiles,
    )

    b1 = [{"g": "x", "v": float(i)} for i in range(100)]
    b2 = [{"g": "x", "v": float(i * 10)} for i in range(50)] + [
        {"g": "y", "v": 0.5},
        {"g": "y", "v": 1000.0},
    ]
    src = tmp_path / "hist_in"
    src.mkdir()
    (src / "b0.json").write_text("\n".join(_json.dumps(r) for r in b1))
    (src / "b1.json").write_text("\n".join(_json.dumps(r) for r in b2))

    stream = (
        spark.readStream.schema("g string, v double")
        .option("maxFilesPerTrigger", "1")
        .json(str(src))
    )
    state = str(tmp_path / "hist_state")
    q = build_histogram_ingest_query(
        stream, ["g"], "v", state, str(tmp_path / "hist_ckpt"),
        trigger_available_now=True,
    )
    run_to_completion(q)

    served = sorted(
        tuple(r)
        for r in read_histogram_percentiles(spark, state, ["g"]).collect()
    )
    union = spark.createDataFrame(
        [(r["g"], r["v"]) for r in b1 + b2], "g string, v double"
    )
    direct = sorted(
        tuple(r)
        for r in histogram_percentiles(
            histogram_partials(union, ["g"], "v"), ["g"]
        ).collect()
    )
    assert served == direct
    # estimate is within the bucket of the true percentile -> within
    # 2x of the exact value (HDR contract): exact p50 of group x is 54
    x50 = [r for r in served if r[0] == "x" and r[1] == 50][0]
    assert 32 <= x50[3] <= 95

    # replay batch 0 (fresh checkpoint, same state dir) — idempotent
    replay = (
        spark.readStream.schema("g string, v double")
        .option("maxFilesPerTrigger", "1")
        .json(str(src))
    )
    q2 = build_histogram_ingest_query(
        replay, ["g"], "v", state, str(tmp_path / "hist_ckpt2"),
        trigger_available_now=True,
    )
    run_to_completion(q2)
    again = sorted(
        tuple(r)
        for r in read_histogram_percentiles(spark, state, ["g"]).collect()
    )
    assert again == served


def test_stream_stream_left_outer_emits_unmatched_after_watermark(
    spark, tmp_path
):
    """left_outer stream-stream join: matched pairs equal the inner
    join's; an unmatched click is emitted with NULL right columns
    exactly once — after a watermark-advancing batch proves no future
    purchase can still pair with it."""
    from streaming_data_pipeline_azure_spark.streaming.pipeline import (
        build_conversion_join_query,
        run_to_completion,
    )

    clicks = [
        {"event_id": 1, "user_id": 7, "ts": "2024-01-01T10:00:00"},
        {"event_id": 2, "user_id": 8, "ts": "2024-01-01T10:00:00"},
    ]
    # the GLOBAL watermark is the MIN across both inputs — the click
    # side must advance too, or the stalled source pins eviction
    # forever (the multipleWatermarkPolicy=min default)
    clicks_b1 = [
        {"event_id": 9, "user_id": 999, "ts": "2024-01-03T12:00:00"},
    ]
    purchases_b0 = [
        {"user_id": 7, "ts": "2024-01-01T10:20:00", "value": 5.0},
    ]
    # far-future event pushes the right watermark past click 2's
    # window + watermark delay, forcing the unmatched-left emission
    purchases_b1 = [
        {"user_id": 99, "ts": "2024-01-02T12:00:00", "value": 1.0},
    ]
    # a watermark set by batch N only EVICTS (and emits outer rows)
    # in a LATER trigger — feed one more advancing batch so the
    # eviction fires inside the availableNow run
    purchases_b2 = [
        {"user_id": 99, "ts": "2024-01-03T12:00:00", "value": 1.0},
    ]
    cs = _write_event_files(
        tmp_path, "lo_clicks", [clicks, clicks_b1, clicks_b1]
    )
    ps = _write_event_files(
        tmp_path, "lo_purch", [purchases_b0, purchases_b1, purchases_b2]
    )
    cstream = (
        spark.readStream.schema("event_id LONG, user_id LONG, ts TIMESTAMP")
        .option("maxFilesPerTrigger", 1)
        .json(cs)
    )
    pstream = (
        spark.readStream.schema("user_id LONG, ts TIMESTAMP, value DOUBLE")
        .option("maxFilesPerTrigger", 1)
        .json(ps)
    )
    out = str(tmp_path / "lo_out")
    q = build_conversion_join_query(
        cstream,
        pstream,
        out,
        str(tmp_path / "lo_ckpt"),
        max_gap_minutes=60,
        watermark_minutes=30,
        join_type="left_outer",
    )
    run_to_completion(q)
    rows = sorted(
        (r["l_event_id"], r["r_value"])
        for r in spark.read.parquet(out).collect()
        if r["l_event_id"] != 9  # the advancing click itself may stay pending
    )
    assert rows == [(1, 5.0), (2, None)]


def test_streaming_topk_matches_batch_and_replays(spark, tmp_path):
    """The streamed leaderboard equals the one-pass batch window top-k
    over everything ingested; a replayed batch rewrites its own
    candidate partition and the served view is unchanged (a plain
    append would double-count duplicate candidates in the rank)."""
    import json as _json

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from streaming_data_pipeline_azure_spark.streaming.pipeline import (
        build_topk_ingest_query,
        read_topk,
        run_to_completion,
    )

    b1 = [{"id": i, "g": f"g{i % 2}", "v": float((i * 37) % 97)}
          for i in range(100)]
    b2 = [{"id": i, "g": f"g{i % 2}", "v": float((i * 37) % 97)}
          for i in range(100, 180)]
    src = tmp_path / "tk_in"
    src.mkdir()
    (src / "b0.json").write_text("\n".join(_json.dumps(r) for r in b1))
    (src / "b1.json").write_text("\n".join(_json.dumps(r) for r in b2))

    state = str(tmp_path / "tk_state")
    q = build_topk_ingest_query(
        spark.readStream.schema("id long, g string, v double")
        .option("maxFilesPerTrigger", "1")
        .json(str(src)),
        ["g"], "v", "id", 5, state, str(tmp_path / "tk_ckpt"),
        trigger_available_now=True,
    )
    run_to_completion(q)
    served = sorted(
        map(tuple, read_topk(spark, state, ["g"], "v", "id", 5).collect())
    )
    union = spark.createDataFrame(
        [(r["id"], r["g"], r["v"]) for r in b1 + b2],
        "id long, g string, v double",
    )
    w = Window.partitionBy("g").orderBy(F.col("v").desc(), F.col("id"))
    direct = sorted(
        map(
            tuple,
            union.withColumn("rank", F.row_number().over(w))
            .filter("rank <= 5")
            .select("g", "id", "v", F.col("rank").cast("long"))
            .collect(),
        )
    )
    assert served == direct

    # replay batch 0: overwrite its own partition -> view unchanged.
    # Which FILE landed in batch 0 is discovered, not assumed: the
    # file source orders same-mtime files by listing order, so
    # b1.json can be batch 0 (the NOTES_r7 mtime footgun — assuming
    # b0.json here made this test flaky in r9).
    max_id0 = (
        spark.read.parquet(f"{state}/batch_id=0")
        .agg(F.max("id"))
        .first()[0]
    )
    batch0_rows = b1 if max_id0 < 100 else b2
    b0 = spark.createDataFrame(
        [(r["id"], r["g"], r["v"]) for r in batch0_rows],
        "id long, g string, v double",
    )
    wtop = (
        b0.withColumn("__rn", F.row_number().over(w))
        .filter("__rn <= 5")
        .drop("__rn")
    )
    wtop.coalesce(1).write.mode("overwrite").parquet(
        f"{state}/batch_id=0"
    )
    replayed = sorted(
        map(tuple, read_topk(spark, state, ["g"], "v", "id", 5).collect())
    )
    assert replayed == served


def test_streaming_novelty_matches_batch_and_replays(spark, tmp_path):
    """Streamed marginal novelty, fed in id-ordered micro-batches,
    serves the IDENTICAL per-doc stats as the one-shot batch operator
    on the full corpus; a full replay through a fresh checkpoint
    re-derives the same stats from the first-writer-wins ownership
    (index-level idempotence), and a late exact mirror scores 0."""
    import json
    import time

    from streaming_data_pipeline_azure_spark.operators.corpus import (
        NoveltyGramIndex,
        marginal_gram_novelty,
    )
    from streaming_data_pipeline_azure_spark.streaming.pipeline import (
        build_novelty_ingest_query,
        read_novelty,
        run_to_completion,
    )

    d1 = "the quick brown fox jumps over the lazy dog today"
    d2 = "a fresh article describing spark physical plans in detail"
    d3 = "the quick brown fox jumps over the lazy dog today"  # mirror of d1
    d4 = "totally unrelated text about cooking pasta with olive oil"
    batch1 = [{"doc_id": 1, "text": d1}, {"doc_id": 2, "text": d2}]
    batch2 = [{"doc_id": 3, "text": d3}, {"doc_id": 4, "text": d4}]

    in_dir = tmp_path / "in"
    in_dir.mkdir()
    (in_dir / "a.json").write_text("\n".join(json.dumps(d) for d in batch1))
    time.sleep(1.1)  # distinct mtimes: file source orders batches by mtime
    (in_dir / "b.json").write_text("\n".join(json.dumps(d) for d in batch2))

    idx = NoveltyGramIndex(str(tmp_path / "idx"), n=3)
    idx.build(
        spark.createDataFrame([], "doc_id long, text string"),
        "doc_id",
        "text",
    )

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .json(str(in_dir))
    )
    stats_path = str(tmp_path / "stats")
    q = build_novelty_ingest_query(
        stream, idx, stats_path, str(tmp_path / "ckpt"),
        trigger_available_now=True,
    )
    run_to_completion(q)

    streamed = {
        r["doc_id"]: (r["n_grams"], r["n_first"], r["novelty_scaled"])
        for r in read_novelty(spark, stats_path).collect()
    }
    full = spark.createDataFrame(
        [(1, d1), (2, d2), (3, d3), (4, d4)], "doc_id long, text string"
    )
    batch_ref = {
        r["doc_id"]: (r["n_grams"], r["n_first"], r["novelty_scaled"])
        for r in marginal_gram_novelty(full, n=3).collect()
    }
    assert streamed == batch_ref
    assert streamed[3][1] == 0 and streamed[3][2] == 0  # late mirror
    assert streamed[1][2] == 1_000_000  # first owner keeps everything

    # full replay through a fresh checkpoint: the anti-join inserts
    # nothing and ownership re-derives bit-identical stats
    n_owned_before = idx.stats(spark)["n_grams"]
    q2 = build_novelty_ingest_query(
        stream, idx, stats_path, str(tmp_path / "ckpt2"),
        trigger_available_now=True,
    )
    run_to_completion(q2)
    replayed = {
        r["doc_id"]: (r["n_grams"], r["n_first"], r["novelty_scaled"])
        for r in read_novelty(spark, stats_path).collect()
    }
    assert replayed == batch_ref
    assert idx.stats(spark)["n_grams"] == n_owned_before

    # compact: generation swap preserves ownership exactly
    idx.compact(spark)
    q3 = build_novelty_ingest_query(
        stream, idx, stats_path, str(tmp_path / "ckpt3"),
        trigger_available_now=True,
    )
    run_to_completion(q3)
    again = {
        r["doc_id"]: (r["n_grams"], r["n_first"], r["novelty_scaled"])
        for r in read_novelty(spark, stats_path).collect()
    }
    assert again == batch_ref
