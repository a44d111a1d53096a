"""Structured Streaming tests: file-source replay through the full
pipeline into the keyed upsert sink, plus event-time windows and
stateful dedup. (No Kafka broker in the container — the Kafka builders
are config-only and exercised at the plan level elsewhere.)"""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from unimib_simpss_spark.sources.csv_dim import read_sensor_group_mapping
from unimib_simpss_spark.streaming.pipeline import (
    file_replay_source,
    start_sensor_ingest,
    windowed_stats,
)

DIM_CSV = "sensor_id,group_id\n120,g1\n121,g1\n122,g2\n123,g2\n"


_LOG_SEQ = [0]


def _write_log(dirpath, name, rows):
    """Write one micro-batch file with a STRICTLY INCREASING mtime:
    Spark's FileStreamSource orders files by modification timestamp, so
    files written within the same clock tick can be picked up out of
    order under maxFilesPerTrigger — which breaks every
    sequential-parity test in this module. Stamp mtimes 2s apart."""
    import os
    import time

    p = dirpath / name
    p.write_text("\n".join(json.dumps(r) for r in rows) + "\n")
    _LOG_SEQ[0] += 1
    t = time.time() + 2.0 * _LOG_SEQ[0]
    os.utime(p, (t, t))


@pytest.fixture()
def dim(spark, tmp_path):
    p = tmp_path / "sensor_group.csv"
    p.write_text(DIM_CSV)
    return read_sensor_group_mapping(spark, str(p))


def test_streaming_file_replay_to_keyed_sink(spark, dim, tmp_path):
    """EP1+EP2 end-to-end on a stream: replay two log files (ST6), run
    the shared pipeline, upsert into the keyed sink, checkpointed."""
    logdir = tmp_path / "logs"
    logdir.mkdir()
    base = {"uptime": 1, "T": 900, "P": 400, "H": 50, "Ix": 0, "Iy": 0, "Iz": 0, "M": 0}
    _write_log(logdir, "a.json", [dict(base, id=120, uptime=10), dict(base, id=121, uptime=20)])
    _write_log(logdir, "b.json", [dict(base, id=122, uptime=30), dict(base, id=120, uptime=10)])

    sink = str(tmp_path / "sensor_data")
    ckpt = str(tmp_path / "ckpt")
    stream = file_replay_source(spark, str(logdir), max_files_per_trigger=1)
    assert stream.isStreaming
    q = start_sensor_ingest(
        stream, dim, sink, ckpt,
        # deterministic event time so the re-delivered 120 row hits the same PK
        ts_col=F.to_timestamp(F.lit("2024-01-01 00:00:00")),
        available_now=True,
    )
    q.awaitTermination(120)

    stored = spark.read.parquet(sink)
    rows = {r.sensor_id: r for r in stored.collect()}
    # 4 messages, one a PK duplicate → 3 stored rows (upsert semantics)
    assert set(rows) == {120, 121, 122}
    assert rows[120].sensor_group == "g1" and rows[122].sensor_group == "g2"


def test_streaming_windowed_stats(spark, dim, tmp_path):
    """ST7: event-time tumbling window aggregation on a stream, results
    collected via memory sink in complete mode."""
    logdir = tmp_path / "logs"
    logdir.mkdir()
    base = {"T": 900, "P": 400, "H": 50, "Ix": 0, "Iy": 0, "Iz": 0, "M": 0}
    # uptime carries the event-time offset for this test
    _write_log(logdir, "a.json", [dict(base, id=120, uptime=0), dict(base, id=121, uptime=60),
                                  dict(base, id=122, uptime=660)])

    from unimib_simpss_spark.operators.sensor_pipeline import sensor_pipeline

    stream = file_replay_source(spark, str(logdir), max_files_per_trigger=10)
    persisted, _ = sensor_pipeline(
        stream, dim,
        ts_col=F.to_timestamp(F.lit("2024-01-01 00:00:00")) + F.make_interval(secs=F.col("uptime")),
        on_unknown="deadletter",
    )
    agg = windowed_stats(persisted, window="10 minutes", watermark="1 minute",
                         keys=("sensor_group",))
    q = (
        agg.writeStream.format("memory").queryName("winstats")
        .outputMode("complete").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    out = {(r.window_start.isoformat(), r.sensor_group): r.n_readings
           for r in spark.sql("select * from winstats").collect()}
    # sensors 120+121 (g1) in window 0; 122 (g2) at +11min in window 1
    assert out[("2024-01-01T00:00:00", "g1")] == 2
    assert out[("2024-01-01T00:10:00", "g2")] == 1


def test_streaming_observed_metrics(spark, dim, tmp_path):
    """A2: per-batch row counters surface via observe/lastProgress."""
    logdir = tmp_path / "logs"
    logdir.mkdir()
    base = {"uptime": 1, "T": 900, "P": 400, "H": 50, "Ix": 0, "Iy": 0, "Iz": 0, "M": 0}
    _write_log(logdir, "a.json", [dict(base, id=120), dict(base, id=121)])

    q = start_sensor_ingest(
        file_replay_source(spark, str(logdir), max_files_per_trigger=10),
        dim, str(tmp_path / "sink"), str(tmp_path / "ckpt"),
        ts_col=F.to_timestamp(F.lit("2024-01-01 00:00:00")),
        available_now=True,
    )
    q.awaitTermination(120)
    progresses = [
        p if isinstance(p, dict) else json.loads(str(p)) for p in q.recentProgress
    ]
    observed = [
        p["observedMetrics"]["ingest"]["rows_persisted"]
        for p in progresses
        if p.get("observedMetrics", {}).get("ingest")
    ]
    assert sum(observed) == 2


def test_streaming_fanout_two_sinks_one_source(spark, dim, tmp_path):
    """ST3: one consumed stream delivered to N subscribers — here two
    independent queries (raw archive + windowed stats) off one source,
    the Spark restatement of the reference's pub/sub registry
    (simpss_persistence/pub_sub/interface.py:7-40)."""
    from unimib_simpss_spark.operators.sensor_pipeline import sensor_pipeline

    logdir = tmp_path / "logs"
    logdir.mkdir()
    base = {"uptime": 1, "T": 900, "P": 400, "H": 50, "Ix": 0, "Iy": 0, "Iz": 0, "M": 0}
    _write_log(logdir, "a.json", [dict(base, id=120), dict(base, id=122)])

    stream = file_replay_source(spark, str(logdir), max_files_per_trigger=10)
    persisted, _ = sensor_pipeline(
        stream, dim, ts_col=F.to_timestamp(F.lit("2024-01-01 00:00:00"))
    )
    q1 = (
        persisted.writeStream.format("memory").queryName("fan_a")
        .outputMode("append").trigger(availableNow=True).start()
    )
    q2 = (
        windowed_stats(persisted).writeStream.format("memory").queryName("fan_b")
        .outputMode("complete").trigger(availableNow=True).start()
    )
    q1.awaitTermination(120)
    q2.awaitTermination(120)
    assert spark.sql("select * from fan_a").count() == 2
    stats = spark.sql("select * from fan_b").collect()
    assert {r.sensor_group for r in stats} == {"g1", "g2"}


def test_streaming_dedup_within_watermark(spark, dim, tmp_path):
    """ST9: dropDuplicatesWithinWatermark on the PK collapses redelivered
    messages inside the watermark window."""
    from unimib_simpss_spark.operators.sensor_pipeline import sensor_pipeline
    from unimib_simpss_spark.streaming.pipeline import streaming_dedup

    logdir = tmp_path / "logs"
    logdir.mkdir()
    base = {"uptime": 7, "T": 900, "P": 400, "H": 50, "Ix": 0, "Iy": 0, "Iz": 0, "M": 0}
    # same sensor redelivered 3x with identical event time → one PK
    _write_log(logdir, "a.json", [dict(base, id=120)] * 3 + [dict(base, id=121)])

    stream = file_replay_source(spark, str(logdir), max_files_per_trigger=10)
    persisted, _ = sensor_pipeline(
        stream, dim, ts_col=F.to_timestamp(F.lit("2024-01-01 00:00:00"))
    )
    deduped = streaming_dedup(persisted, watermark="10 minutes")
    q = (
        deduped.writeStream.format("memory").queryName("dedup_out")
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    out = spark.sql("select sensor_id from dedup_out").collect()
    assert sorted(r.sensor_id for r in out) == [120, 121]


def test_replay_upsert_idempotent(spark, dim, tmp_path):
    """ST5: re-delivering the same batch through the keyed sink leaves
    the stored table unchanged — the exactly-once-effect contract that
    checkpoint replay relies on."""
    from unimib_simpss_spark.operators.sensor_pipeline import sensor_pipeline
    from unimib_simpss_spark.streaming.sinks import upsert_keyed_parquet

    base = {"uptime": 1, "T": 900, "P": 400, "H": 50, "Ix": 0, "Iy": 0, "Iz": 0, "M": 0}
    raw = spark.createDataFrame([dict(base, id=120), dict(base, id=121)])
    persisted, _ = sensor_pipeline(
        raw, dim, ts_col=F.to_timestamp(F.lit("2024-01-01 00:00:00"))
    )
    sink = str(tmp_path / "sensor_data")
    upsert_keyed_parquet(persisted, sink, ("sensor_group", "sensor_id", "time_received"),
                         partition_col="sensor_group")
    first = sorted(map(tuple, spark.read.parquet(sink).collect()))
    upsert_keyed_parquet(persisted, sink, ("sensor_group", "sensor_id", "time_received"),
                         partition_col="sensor_group")
    second = sorted(map(tuple, spark.read.parquet(sink).collect()))
    assert first == second and len(first) == 2


def test_stateful_sensor_health_across_batches(spark, dim, tmp_path):
    """Custom stateful operator (applyInPandasWithState): per-sensor
    state must accumulate across TWO micro-batches (two files,
    maxFilesPerTrigger=1) — count, max gap, running mean."""
    from unimib_simpss_spark.operators.sensor_pipeline import sensor_pipeline
    from unimib_simpss_spark.streaming.stateful import sensor_health

    logdir = tmp_path / "logs"
    logdir.mkdir()
    base = {"P": 400, "H": 50, "Ix": 0, "Iy": 0, "Iz": 0, "M": 0}
    # uptime (seconds) carries event time; batch 1: t=0,60; batch 2: t=180
    _write_log(logdir, "a.json", [dict(base, id=120, uptime=0, T=100),
                                  dict(base, id=120, uptime=60, T=200)])
    _write_log(logdir, "b.json", [dict(base, id=120, uptime=180, T=300),
                                  dict(base, id=121, uptime=180, T=50)])

    stream = file_replay_source(spark, str(logdir), max_files_per_trigger=1)
    persisted, _ = sensor_pipeline(
        stream, dim,
        ts_col=F.to_timestamp(F.lit("2024-01-01 00:00:00"))
        + F.make_interval(secs=F.col("uptime")),
    )
    health = sensor_health(persisted)
    q = (
        health.writeStream.format("memory").queryName("health")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    rows = spark.sql(
        "select * from health order by sensor_id, n_readings"
    ).collect()
    final = {(r.sensor_group, r.sensor_id): r for r in rows}  # last update wins
    s120 = final[("g1", 120)]
    # 3 readings over both batches; gaps 60s then 120s → max 120000 ms
    assert s120.n_readings == 3
    assert s120.max_gap_ms == 120_000
    assert abs(s120.avg_temperature - 200.0) < 1e-9
    s121 = final[("g1", 121)]
    assert s121.n_readings == 1 and s121.max_gap_ms == 0


def test_stream_stream_interval_join(spark, dim, tmp_path):
    """J5 streaming: readings joined to a command stream within a
    10-minute event-time interval per sensor, state bounded by
    watermarks on BOTH sides."""
    from unimib_simpss_spark.streaming.pipeline import interval_join

    readings_dir = tmp_path / "readings"
    commands_dir = tmp_path / "commands"
    readings_dir.mkdir()
    commands_dir.mkdir()
    base = {"P": 400, "H": 50, "Ix": 0, "Iy": 0, "Iz": 0, "M": 0}
    # readings at t=0s and t=1200s for sensor 120
    _write_log(readings_dir, "r.json", [dict(base, id=120, uptime=0, T=100),
                                        dict(base, id=120, uptime=1200, T=200)])
    # command at t=300s → joins ONLY the t=0 reading (within +10min)
    (commands_dir / "c.json").write_text(
        json.dumps({"id": 120, "cmd": "calibrate", "offset": 300}) + "\n"
    )

    t0 = F.to_timestamp(F.lit("2024-01-01 00:00:00"))
    readings = (
        file_replay_source(spark, str(readings_dir), max_files_per_trigger=10)
        .select(
            F.col("id").alias("sensor_id"),
            (t0 + F.make_interval(secs=F.col("uptime"))).alias("r_ts"),
            F.col("T").alias("temperature"),
        )
    )
    commands = (
        spark.readStream.schema("id long, cmd string, offset long")
        .json(str(commands_dir))
        .select(
            F.col("id").alias("sensor_id"),
            (t0 + F.make_interval(secs=F.col("offset"))).alias("c_ts"),
            "cmd",
        )
    )
    joined = interval_join(
        commands, readings, key="sensor_id", left_ts="c_ts", right_ts="r_ts",
        lower="10 minutes", upper="0 seconds", watermark="30 minutes",
    )
    q = (
        joined.writeStream.format("memory").queryName("ssjoin")
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    rows = spark.sql("select * from ssjoin").collect()
    assert len(rows) == 1
    assert rows[0].temperature == 100 and rows[0].cmd == "calibrate"


def test_streaming_admission_gate(spark, tmp_path):
    """The [EXT] text-quality operators are stateless Column exprs, so
    the corpus admission gate (quality score + Gopher repetition rules)
    runs unchanged inside a Structured Streaming micro-batch — the
    streaming form of q62's first stage. (The batch path persists the
    tokenized relation as a pushdown barrier; a streaming DF can't
    persist, so at scale apply the gate inside foreachBatch where the
    batch DF can.)"""
    from unimib_simpss_spark.functions import analysis as A
    from unimib_simpss_spark.functions.text import tokens

    src = tmp_path / "docs_in"
    src.mkdir()
    _write_log(
        src,
        "docs0.json",
        [
            {"doc_id": 1,
             "text": "the quick brown fox jumps over the lazy dog and runs away"},
            {"doc_id": 2, "text": "spam spam spam spam spam spam spam spam"},
            {"doc_id": 3, "text": "x"},
        ],
    )
    stream = spark.readStream.schema("doc_id BIGINT, text STRING").json(str(src))
    pre = stream.select("doc_id", "text", tokens("text").alias("tk"))
    qc = A.quality_components_from_tokens(F.col("tk"), F.col("text"))
    rc = A.repetition_components_from_tokens(F.col("tk"))
    gated = pre.where(
        (A.quality_score_from_components(qc) >= 0.25)
        & (rc["top_token_frac"] <= 0.3)
    ).select("doc_id")
    out, chk = tmp_path / "docs_out", tmp_path / "chk"
    q = (
        gated.writeStream.format("parquet")
        .option("path", str(out))
        .option("checkpointLocation", str(chk))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    # doc2 passes quality but is repetition-rejected (top_token_frac 1.0);
    # doc3 passes nothing stronger than the single-token edge and is
    # repetition-rejected too; only doc1 clears both gates.
    assert {r.doc_id for r in spark.read.parquet(str(out)).collect()} == {1}


def test_streaming_pii_scrub(spark, tmp_path):
    """The privacy operators (pseudonym / redaction / digit audit) are
    stateless Column exprs, so the PII scrub of q63's 'redact' leg runs
    unchanged inside a Structured Streaming micro-batch — scrub-at-
    ingest, the shape a real corpus pipeline needs (identifiers must
    never reach the persisted zone unscrubbed)."""
    from unimib_simpss_spark.functions import privacy as P

    src = tmp_path / "pii_in"
    src.mkdir()
    _write_log(
        src,
        "users0.json",
        [
            {"user_id": 1, "name": "agent 007 card 4111"},
            {"user_id": 2, "name": "plainname"},
            {
                "user_id": 3,
                "name": "mail a@b.io tel +39 02 1234 5678 ip 10.0.0.1",
            },
        ],
    )
    stream = spark.readStream.schema("user_id BIGINT, name STRING").json(str(src))
    scrubbed = stream.select(
        "user_id",
        P.pseudonym("name").alias("pseudonym"),
        P.redact_digits("name").alias("redacted"),
        P.digit_count("name").alias("n_digits"),
        P.scrub_pii("name").alias("structured"),
    )
    out, chk = tmp_path / "pii_out", tmp_path / "pii_chk"
    q = (
        scrubbed.writeStream.format("parquet")
        .option("path", str(out))
        .option("checkpointLocation", str(chk))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = {r.user_id: r for r in spark.read.parquet(str(out)).collect()}
    assert rows[1].redacted == "agent [ID] card [ID]"
    assert rows[1].n_digits == 7
    assert rows[2].redacted == "plainname" and rows[2].n_digits == 0
    # the structured scrub (r17) runs at ingest exactly like the
    # digit-run rule — stateless Column chain in a micro-batch
    assert rows[3].structured == "mail [EMAIL] tel [PHONE] ip [IP4]"
    assert rows[1].structured == "agent 007 card 4111"  # digit runs stay
    # pseudonyms: deterministic, distinct, and digit-free surface
    assert rows[1].pseudonym != rows[2].pseudonym
    assert len(rows[1].pseudonym) == 16


def test_streaming_dedup_gate_stream_static(spark, tmp_path):
    """q61's incremental dedup gate in streaming form: the corpus's
    MinHash band relation is precomputed (static side), each incoming
    micro-batch computes its own bands with the SAME stateless
    expressions, and a stream-static equi-join on (band_id, band_key)
    flags likely near-dups before they enter the corpus. Candidates
    only — exact-Jaccard verification runs in foreachBatch at scale,
    as in the batch path."""
    from unimib_simpss_spark.operators.dedup import minhash_bands

    base = "the quick brown fox jumps over the lazy dog again and again today"
    corpus = spark.createDataFrame(
        [(100, base), (101, "completely different text about spark engines here")],
        ["doc_id", "text"],
    )
    corpus_bands = (
        minhash_bands(corpus)
        .withColumnRenamed("doc_id", "corpus_doc_id")
        .persist()
    )
    src = tmp_path / "newdocs_in"
    src.mkdir()
    _write_log(
        src,
        "batch0.json",
        [
            {"doc_id": 1, "text": base + " extra"},  # near-dup of 100
            {"doc_id": 2, "text": "unrelated novel content nothing shared with anyone else here"},
        ],
    )
    stream = spark.readStream.schema("doc_id BIGINT, text STRING").json(str(src))
    flagged = (
        minhash_bands(stream)
        .join(corpus_bands, ["band_id", "band_key"])
        .select(F.col("doc_id").alias("new_doc_id"), "corpus_doc_id")
    )
    q = (
        flagged.writeStream.format("memory")
        .queryName("dedup_gate")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    hits = {
        (r.new_doc_id, r.corpus_doc_id)
        for r in spark.sql("SELECT DISTINCT * FROM dedup_gate").collect()
    }
    corpus_bands.unpersist()
    assert (1, 100) in hits          # the planted near-dup collides
    assert all(n != 2 for n, _ in hits)  # the novel doc passes the gate


def test_streaming_cms_state_accumulates_across_batches(spark, tmp_path):
    """The count-min grid lives in applyInPandasWithState state, so
    estimates must ACCUMULATE across micro-batches (cell-wise additive
    fold), never reset — and stay overestimates of the true stream
    counts under fixed per-key memory."""
    from unimib_simpss_spark.streaming.stateful import streaming_token_cms

    src = tmp_path / "cms_in"
    src.mkdir()
    _write_log(
        src,
        "b0.json",
        [{"src": "a", "tok": t} for t in ["x", "x", "y"]]
        + [{"src": "b", "tok": "z"}],
    )
    _write_log(
        src,
        "b1.json",
        [{"src": "a", "tok": t} for t in ["x", "y", "y", "w"]],
    )
    stream = (
        spark.readStream.schema("src STRING, tok STRING")
        .option("maxFilesPerTrigger", 1)  # source option: one file per batch
        .json(str(src))
    )
    out = streaming_token_cms(stream, "src", "tok")
    q = (
        out.writeStream.format("memory")
        .queryName("cms_stream")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT * FROM cms_stream").collect()
    # final snapshot per (group, token): the LAST batch that mentioned it
    final = {}
    for r in rows:
        final[(r.group_key, r.token)] = max(
            final.get((r.group_key, r.token), 0), r.est
        )
    # stream totals: a saw x3, y3, w1; b saw z1 — estimates are exact
    # here (no collisions at this tiny cardinality) and MUST include
    # batch-0 counts in batch-1 estimates (state carried)
    assert final[("a", "x")] == 3
    assert final[("a", "y")] == 3
    assert final[("a", "w")] == 1
    assert final[("b", "z")] == 1
    totals = {r.group_key: r.total for r in rows}
    assert totals["a"] == 7 and totals["b"] == 1


def test_streaming_decontam_gate_stream_static(spark, tmp_path):
    """q38's decontamination gate in streaming form: the benchmark
    suite's 4-gram inverted index is precomputed (static side, tiny by
    construction), each incoming training micro-batch shingles itself
    with the SAME stateless expressions, and a stream-static equi-join
    on the gram flags contaminated docs before they enter the corpus —
    the ingestion-time twin of the batch eval-leakage audit (same
    pattern as test_streaming_dedup_gate_stream_static)."""
    from unimib_simpss_spark.functions.text import shingles_from_tokens, tokens

    bench = spark.createDataFrame(
        [(900, "alpha beta gamma delta epsilon zeta")], ["doc_id", "text"]
    )
    bench_grams = (
        bench.select(F.col("doc_id").alias("bench_id"), tokens("text").alias("tk"))
        .select("bench_id", F.explode(shingles_from_tokens(F.col("tk"), 4)).alias("g"))
        .persist()
    )
    src = tmp_path / "traindocs_in"
    src.mkdir()
    _write_log(
        src,
        "batch0.json",
        [
            # contains the bench 4-gram "beta gamma delta epsilon"
            {"doc_id": 1, "text": "intro beta gamma delta epsilon outro words"},
            {"doc_id": 2, "text": "novel training content sharing no benchmark span at all"},
        ],
    )
    stream = spark.readStream.schema("doc_id BIGINT, text STRING").json(str(src))
    flagged = (
        stream.select("doc_id", tokens("text").alias("tk"))
        .select("doc_id", F.explode(shingles_from_tokens(F.col("tk"), 4)).alias("g"))
        .join(bench_grams, "g")
        .select(F.col("doc_id").alias("train_doc_id"), "bench_id")
    )
    q = (
        flagged.writeStream.format("memory")
        .queryName("decontam_gate")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    hits = {
        (r.train_doc_id, r.bench_id)
        for r in spark.sql("SELECT DISTINCT * FROM decontam_gate").collect()
    }
    bench_grams.unpersist()
    assert (1, 900) in hits              # planted contamination collides
    assert all(t != 2 for t, _ in hits)  # the clean doc passes the gate


def test_streaming_learned_quality_gate_foreachbatch(spark, tmp_path):
    """Ingestion-time quality gate with a LEARNED admission score: a
    pretrained hashed-feature logistic model scores each incoming
    micro-batch inside foreachBatch (scoring needs a per-doc groupBy,
    so it runs batch-side — the standard pattern for per-batch
    relational work), and only docs above threshold land in the
    accepted sink. The learned generalization of the reference's
    per-message validity gate (kafka_consumer/consumer.py:60-75)."""
    from unimib_simpss_spark.operators import classifier as CL

    train = spark.createDataFrame(
        [(i, "clean prose well formed sentence", 1) for i in range(30)]
        + [(i, "spam junk noise garbage token", 0) for i in range(30, 60)],
        ["doc_id", "text", "y"],
    )
    w, _ = CL.logistic_train(
        train, label=F.col("y") == 1, n_features=64, iters=6, lr=2.0
    )
    src = tmp_path / "quality_in"
    src.mkdir()
    out = tmp_path / "accepted"
    _write_log(
        src,
        "batch0.json",
        [
            {"doc_id": 100, "text": "clean prose well formed sentence again"},
            {"doc_id": 101, "text": "spam junk noise garbage token stream"},
        ],
    )
    stream = spark.readStream.schema("doc_id BIGINT, text STRING").json(str(src))

    def admit(batch, _bid):
        scored = CL.logistic_score(batch, w, n_features=64)
        (
            batch.join(scored, "doc_id")
            .where(F.col("score") > 0.5)
            .write.mode("append")
            .parquet(str(out))
        )

    q = stream.writeStream.foreachBatch(admit).trigger(availableNow=True).start()
    q.awaitTermination(120)
    accepted = {r.doc_id for r in spark.read.parquet(str(out)).collect()}
    assert accepted == {100}


def test_streaming_bloom_gate_flags_reoccurrences(spark, tmp_path):
    """The Bloom bitset lives in applyInPandasWithState state: a
    fingerprint seen in batch 0 must flag possible_dup=1 when it
    reappears in batch 1 (state carried), re-occurrences WITHIN a batch
    flag too (probe-then-insert), and first occurrences of distinct
    fingerprints pass (no collisions at this tiny fill)."""
    from unimib_simpss_spark.streaming.stateful import streaming_bloom_gate

    src = tmp_path / "bloom_in"
    src.mkdir()
    _write_log(
        src,
        "b0.json",
        [
            {"src": "a", "fp": "d1"},
            {"src": "a", "fp": "d2"},
            {"src": "a", "fp": "d2"},   # within-batch dup
            {"src": "b", "fp": "d1"},   # other key: separate bitset
        ],
    )
    _write_log(
        src,
        "b1.json",
        [
            {"src": "a", "fp": "d1"},   # cross-batch dup
            {"src": "a", "fp": "d3"},   # novel
        ],
    )
    stream = (
        spark.readStream.schema("src STRING, fp STRING")
        .option("maxFilesPerTrigger", 1)  # source option: one file per batch
        .json(str(src))
    )
    out = streaming_bloom_gate(stream, "src", "fp")
    q = (
        out.writeStream.format("memory")
        .queryName("bloom_stream")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT * FROM bloom_stream").collect()
    verdicts = [(r.group_key, r.doc_key, r.possible_dup) for r in rows]
    assert verdicts.count(("a", "d2", 1)) == 1   # within-batch re-occurrence
    assert verdicts.count(("a", "d2", 0)) == 1   # its first occurrence passed
    assert ("a", "d1", 1) in verdicts            # cross-batch re-occurrence
    assert ("a", "d3", 0) in verdicts            # novel doc passes
    assert ("b", "d1", 0) in verdicts            # per-key isolation
    n_seen = {r.group_key: r.n_seen for r in rows}
    assert n_seen["a"] == 5 and n_seen["b"] == 1


def test_streaming_bloom_positions_match_batch_twin_and_pack_safely(
    spark, tmp_path
):
    """The streaming gate must address the SAME bit positions as the
    batch bloom (so batch-built bit relations can seed streaming state
    and vice versa), and the packed bitset must accept the highest bit
    offset its words can carry (a 64-bit packing would overflow the
    signed LongType state array at offset 63 — the regression this
    pins)."""
    from unimib_simpss_spark.functions import sketches as SK
    from unimib_simpss_spark.streaming import stateful as ST

    assert ST.BLOOM_BITS == SK.BLOOM_M and ST.BLOOM_HASHES == SK.BLOOM_K
    vals = [f"v{i}" for i in range(100)]
    df = spark.createDataFrame([(v,) for v in vals], "v string")
    rows = df.select(
        "v",
        *[
            SK.portable_cell(F.col("v"), j, SK.BLOOM_M).alias(f"p{j}")
            for j in range(SK.BLOOM_K)
        ],
    ).collect()
    for r in rows:
        for j in range(SK.BLOOM_K):
            assert ST._bloom_pos(r.v, j) == r[f"p{j}"], (r.v, j)
    # find a fingerprint landing on the top in-word bit offset and push
    # it through the live gate twice — state.update must survive and
    # the re-occurrence must flag
    top = ST._BLOOM_WORD_BITS - 1
    probe = next(
        v
        for i in range(100_000)
        for v in (f"x{i}",)
        if any(ST._bloom_pos(v, j) % ST._BLOOM_WORD_BITS == top
               for j in range(ST.BLOOM_HASHES))
    )
    src = tmp_path / "bloom_top"
    src.mkdir()
    _write_log(src, "b0.json", [{"src": "a", "fp": probe}])
    _write_log(src, "b1.json", [{"src": "a", "fp": probe}])
    stream = (
        spark.readStream.schema("src STRING, fp STRING")
        .option("maxFilesPerTrigger", 1)  # source option: one file per batch
        .json(str(src))
    )
    out = ST.streaming_bloom_gate(stream, "src", "fp")
    q = (
        out.writeStream.format("memory")
        .queryName("bloom_top_stream")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    verdicts = sorted(
        r.possible_dup
        for r in spark.sql("SELECT * FROM bloom_top_stream").collect()
    )
    assert verdicts == [0, 1]


def test_streaming_hll_snapshot_equals_batch_estimate(spark, tmp_path):
    """HLL registers fold by max in Spark-managed state, and the
    arithmetic is the batch twin's — so the stream's final per-key
    snapshot must equal functions/sketches.hll_distinct over the same
    rows BIT FOR BIT, and mid-stream estimates must already include
    earlier batches (state carried, not reset)."""
    from unimib_simpss_spark.functions import sketches as SK
    from unimib_simpss_spark.streaming.stateful import streaming_hll_distinct

    rows0 = [{"src": "a", "uid": f"u{i}"} for i in range(40)] + [
        {"src": "b", "uid": f"v{i}"} for i in range(5)
    ]
    rows1 = [{"src": "a", "uid": f"u{i}"} for i in range(20, 70)]  # 30 new
    src = tmp_path / "hll_in"
    src.mkdir()
    _write_log(src, "b0.json", rows0)
    _write_log(src, "b1.json", rows1)
    stream = (
        spark.readStream.schema("src STRING, uid STRING")
        .option("maxFilesPerTrigger", 1)  # source option: one file per batch
        .json(str(src))
    )
    out = streaming_hll_distinct(stream, "src", "uid")
    q = (
        out.writeStream.format("memory")
        .queryName("hll_stream")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT * FROM hll_stream").collect()
    final = {}
    for r in rows:
        if r.n_seen >= final.get(r.group_key, (0, 0))[0]:
            final[r.group_key] = (r.n_seen, r.hll_est)
    assert final["a"][0] == 90 and final["b"][0] == 5
    # bit-exact parity with the batch sketch over the same rows
    batch = spark.createDataFrame(
        [(r["src"], r["uid"]) for r in rows0 + rows1], "src string, uid string"
    )
    expect = {
        r.src: r.hll_est
        for r in SK.hll_distinct(batch, ["src"], "uid").collect()
    }
    assert final["a"][1] == expect["a"]
    assert final["b"][1] == expect["b"]
    # the 'a' estimate grew across batches (state carried)
    a_ests = sorted(r.hll_est for r in rows if r.group_key == "a")
    assert len(a_ests) == 2 and a_ests[0] < a_ests[1]


def test_streaming_bloom_generational_rotation(spark, tmp_path):
    """rotate_after bounds the FP rate on unbounded streams: anything
    seen within the last rotate_after inserts is still flagged (it
    lives in the active or previous generation), while items older than
    two generations age out and are re-admitted as novel — the
    sliding dedup horizon under fixed memory."""
    from unimib_simpss_spark.streaming.stateful import streaming_bloom_gate

    src = tmp_path / "bloom_rot"
    src.mkdir()
    # rotate_after equals the batch size, so every batch ends exactly
    # one rotation regardless of intra-batch arrival order:
    # after b0: prev = {d0, x1, x2, x3}, active = {}
    _write_log(
        src, "b0.json",
        [{"src": "a", "fp": f} for f in ["d0", "x1", "x2", "x3"]],
    )
    # b1: d0 is one generation old -> still flagged; after b1:
    # prev = {d0, y1, y2, y3} (the x's rotate out of existence)
    _write_log(
        src, "b1.json",
        [{"src": "a", "fp": f} for f in ["d0", "y1", "y2", "y3"]],
    )
    # b2: x1 is two generations old -> forgotten, re-admitted as novel;
    # d0 (re-inserted in b1) is one generation old -> still flagged
    _write_log(
        src, "b2.json",
        [{"src": "a", "fp": "x1"}, {"src": "a", "fp": "d0"}],
    )
    # FileStreamSource orders by modification time: same-ms writes tie
    # and can process out of order — force a strict mtime sequence
    import os

    for i, name in enumerate(("b0.json", "b1.json", "b2.json")):
        t = 1_700_000_000 + i
        os.utime(src / name, (t, t))
    stream = (
        spark.readStream.schema("src STRING, fp STRING")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    out = streaming_bloom_gate(stream, "src", "fp", rotate_after=4)
    q = (
        out.writeStream.format("memory")
        .queryName("bloom_rot_stream")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT * FROM bloom_rot_stream").collect()
    by_key: dict = {}
    for r in sorted(rows, key=lambda r: r.n_seen):
        by_key.setdefault(r.doc_key, []).append(r.possible_dup)
    assert by_key["d0"] == [0, 1, 1]   # within-horizon re-occurrences flagged
    assert by_key["x1"] == [0, 0]      # two generations old: aged out
    for f in ("x2", "x3", "y1", "y2", "y3"):
        assert by_key[f] == [0]        # first occurrences pass


def test_streaming_cms_cells_match_batch_grid(spark, tmp_path):
    """The streaming CMS state and the batch portable grid share one
    cell space: replaying the same tokens through the stream must leave
    state cells EQUAL to cms_cells_from_counts over the same tokens —
    which is what makes batch grids and streaming snapshots mergeable
    by cell-wise addition across the boundary."""
    from unimib_simpss_spark.functions import sketches as SK
    from unimib_simpss_spark.streaming import stateful as ST

    assert ST.CMS_DEPTH == SK.DEFAULT_DEPTH
    assert ST.CMS_WIDTH == SK.DEFAULT_WIDTH
    toks = ["alpha", "beta", "beta", "gamma", "gamma", "gamma", "delta"]
    # fold through the state function directly (no query needed for
    # cell-level equality)
    import pandas as pd

    class _FakeState:
        def __init__(self):
            self._s = None

        @property
        def exists(self):
            return self._s is not None

        @property
        def get(self):
            return self._s

        def update(self, v):
            self._s = v

    st = _FakeState()
    list(ST._cms_track(("g",), iter([pd.DataFrame({"token": toks})]), st))
    cells, total = st.get
    assert total == len(toks)
    counts = (
        spark.createDataFrame([(t,) for t in toks], ["token"])
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    batch = {
        (r.j, r.c): r.cell_cnt
        for r in SK.cms_cells_from_counts(counts, "token", "cnt").collect()
    }
    stream = {
        (j, c): cells[j * ST.CMS_WIDTH + c]
        for j in range(ST.CMS_DEPTH)
        for c in range(ST.CMS_WIDTH)
        if cells[j * ST.CMS_WIDTH + c]
    }
    assert stream == batch


def test_streaming_reservoir_equals_batch_sample(spark, tmp_path):
    """The streaming weighted reservoir is BIT-IDENTICAL to the batch
    weighted_sample of the same prefix: after each micro-batch the
    emitted reservoir equals weighted_sample() over the union of all
    rows seen so far (same ES priorities — shared es_priority
    expression), per group, in the same rank order; and state stays
    fixed at n entries while n_seen grows."""
    from unimib_simpss_spark.operators.sampling import weighted_sample
    from unimib_simpss_spark.streaming.stateful import streaming_reservoir

    n = 4
    batch_rows = [
        [{"g": g, "k": f"doc{g}{i}", "w": float(1 + (i * 7) % 13)}
         for g in ("a", "b") for i in range(6)],
        [{"g": g, "k": f"doc{g}{i}", "w": float(1 + (i * 5) % 11)}
         for g in ("a", "b") for i in range(6, 12)],
        [{"g": "a", "k": "heavy", "w": 1e6},
         {"g": "a", "k": "zero", "w": 0.0},
         {"g": "b", "k": "nanrow", "w": float("nan")}],
    ]
    src = tmp_path / "reservoir_in"
    src.mkdir()
    import os as _os
    import time as _time

    t0 = _time.time() - 100
    for i, rows in enumerate(batch_rows):
        _write_log(src, f"b{i}.json", rows)
        # the file source orders batches by modification time — make it
        # unambiguous so the prefix replay below matches the stream
        _os.utime(src / f"b{i}.json", (t0 + 10 * i, t0 + 10 * i))
    stream = (
        spark.readStream.schema("g STRING, k STRING, w DOUBLE")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    out = streaming_reservoir(stream, n, "w", "k", group_col="g")
    q = (
        out.writeStream.format("memory")
        .queryName("reservoir_stream")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    emitted = spark.sql("SELECT * FROM reservoir_stream").collect()

    # group emissions by (group, n_seen) — each is one micro-batch's
    # snapshot of that group's reservoir
    snaps: dict = {}
    for r in emitted:
        snaps.setdefault((r.group_key, r.n_seen), []).append(r)

    # replay the same prefixes in batch and compare exactly
    for g in ("a", "b"):
        prefix = []
        for rows in batch_rows:
            valid = [
                r for r in rows
                if r["g"] == g and r["w"] and r["w"] == r["w"] and r["w"] > 0
            ]
            if not valid:
                continue
            prefix.extend(r2 for r2 in rows if r2["g"] == g)
            df = spark.createDataFrame(
                [(r2["k"], r2["w"]) for r2 in prefix], "k string, w double"
            )
            # weighted_sample's collect preserves the priority order
            # (TakeOrderedAndProject) — exactly the reservoir's ranks
            expect = [r2.k for r2 in weighted_sample(df, n, "w", "k").collect()]
            n_valid = len([r2 for r2 in prefix
                           if r2["w"] and r2["w"] == r2["w"] and r2["w"] > 0])
            snap = sorted(snaps[(g, n_valid)], key=lambda r2: r2.rank)
            got = [r2.sample_key for r2 in snap]
            assert got == expect, (g, n_valid, got, expect)
            assert len(snap) <= n
    # the heavy row must have entered a's final reservoir at rank 1...
    final_a = sorted(
        snaps[max(k2 for k2 in snaps if k2[0] == "a")],
        key=lambda r2: r2.rank,
    )
    assert final_a[0].sample_key == "heavy"
    # ...and the zero/NaN rows never entered anything
    all_keys = {r.sample_key for r in emitted}
    assert "zero" not in all_keys and "nanrow" not in all_keys


def test_streaming_kll_snapshot_matches_sequential_fold(spark, tmp_path):
    """KLL's compaction coins are deterministic, so the streaming
    state after N micro-batches must EQUAL a sequential fold of the
    same rows in the same order — snapshot estimates identical, and the
    final estimates within the rank bound of the exact quantiles."""
    import bisect
    import random

    from unimib_simpss_spark.functions.kll import KLL
    from unimib_simpss_spark.streaming.stateful import (
        _KLL_PS,
        streaming_kll_quantiles,
    )

    rng = random.Random(13)
    batches = [
        [{"g": "a", "v": rng.gauss(100, 25)} for _ in range(400)]
        for _ in range(3)
    ]
    src = tmp_path / "kll_in"
    src.mkdir()
    for i, rows in enumerate(batches):
        _write_log(src, f"b{i}.json", rows)
    stream = (
        spark.readStream.schema("g STRING, v DOUBLE")
        .option("maxFilesPerTrigger", 1)  # one file per micro-batch
        .json(str(src))
    )
    out = streaming_kll_quantiles(stream, "g", "v", k=200)
    q = (
        out.writeStream.format("memory")
        .queryName("kll_stream")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    snaps = sorted(
        spark.sql("SELECT * FROM kll_stream").collect(),
        key=lambda r: r.n_seen,
    )
    assert [r.n_seen for r in snaps] == [400, 800, 1200]

    # sequential fold over the same prefix, same order → same estimates
    sk = KLL(200)
    vals: list[float] = []
    for snap, rows in zip(snaps, batches):
        for row in rows:
            sk.add(row["v"])
            vals.append(row["v"])
        for name, p in _KLL_PS.items():
            assert getattr(snap, name) == round(sk.quantile(p), 4), (
                snap.n_seen, name,
            )
    # final snapshot is within the rank bound of the exact quantiles
    sv = sorted(vals)
    for name, p in _KLL_PS.items():
        est = getattr(snaps[-1], name)
        rk = bisect.bisect_right(sv, est) / len(sv)
        assert abs(rk - p) < 0.02, (name, rk)


def test_streaming_ewma_snapshot_equals_batch_prefix(spark, tmp_path):
    """The EWMA fold order and arithmetic are identical in batch and
    streaming, so each micro-batch snapshot of an in-order stream must
    equal operators/timeseries.ewma over the rows seen so far — bit for
    bit, including the running mean."""
    from unimib_simpss_spark.operators.timeseries import ewma
    from unimib_simpss_spark.streaming.stateful import streaming_ewma

    batches = [
        [
            {"k": "a", "ts": 1.0, "v": 10.0},
            {"k": "a", "ts": 2.0, "v": 12.5},
            {"k": "b", "ts": 1.5, "v": -3.0},
        ],
        [
            {"k": "a", "ts": 3.0, "v": 11.25},
            {"k": "b", "ts": 2.5, "v": 0.125},
            {"k": "b", "ts": 3.5, "v": 7.75},
        ],
        [
            {"k": "a", "ts": 4.0, "v": 9.0},
        ],
    ]
    src = tmp_path / "ewma_in"
    src.mkdir()
    for i, rows in enumerate(batches):
        _write_log(src, f"b{i}.json", rows)
    stream = (
        spark.readStream.schema("k STRING, ts DOUBLE, v DOUBLE")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    out = streaming_ewma(stream, "k", "ts", "v", alpha=0.3)
    q = (
        out.writeStream.format("memory")
        .queryName("ewma_stream")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    snaps = spark.sql("SELECT * FROM ewma_stream").collect()

    # group streaming snapshots by how many batches they had consumed
    seen: list[dict] = []
    prefix: list[dict] = []
    snap_by_key_n = {(r.key, r.n): r for r in snaps}
    for rows in batches:
        prefix = prefix + rows
        bdf = spark.createDataFrame(
            [(r["k"], r["ts"], r["v"]) for r in prefix],
            "k string, ts double, v double",
        )
        batch = {
            (r.key, r.n): r
            for r in ewma(bdf, "k", "ts", "v", alpha=0.3).collect()
        }
        for key_n, want in batch.items():
            got = snap_by_key_n.get(key_n)
            if got is None:
                continue  # key unchanged this batch → no update row
            assert got.ewma == want.ewma, (key_n, got.ewma, want.ewma)
            assert got.mean == want.mean
            assert got.last_ts == want.last_ts
            seen.append(key_n)
    # every emitted snapshot was checked against its batch twin
    assert set(snap_by_key_n) == set(seen)


def test_streaming_pattern_match_across_batch_boundary(spark, tmp_path):
    """CEP-style live pattern match: a planted shape SPLIT ACROSS two
    micro-batches must still be detected (the state carries the window
    tail), at the same start position and distance the batch operator
    reports; near-uniform noise must not fire."""
    from unimib_simpss_spark.operators.timeseries import pattern_topk
    from unimib_simpss_spark.streaming.stateful import (
        streaming_pattern_match,
    )

    pat = [0.0, 2.0, 0.0, -2.0, 0.0, 2.0]
    planted = [50 + 3 * x for x in pat]
    noise1 = [5.0, 9.0, 4.0, 8.5, 3.0, 7.0, 2.0]
    noise2 = [6.0, 2.5, 9.5, 3.5, 8.0]
    series = noise1 + planted + noise2
    # split INSIDE the planted window: batch 1 ends 3 points into it
    split = len(noise1) + 3
    b0 = [{"k": "s1", "ts": float(i), "v": v} for i, v in enumerate(series[:split])]
    b1 = [
        {"k": "s1", "ts": float(split + i), "v": v}
        for i, v in enumerate(series[split:])
    ]
    src = tmp_path / "pat_in"
    src.mkdir()
    _write_log(src, "b0.json", b0)
    _write_log(src, "b1.json", b1)
    stream = (
        spark.readStream.schema("k STRING, ts DOUBLE, v DOUBLE")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    out = streaming_pattern_match(stream, pat, "k", "ts", "v", threshold=0.25)
    q = (
        out.writeStream.format("memory")
        .queryName("pat_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    hits = spark.sql("SELECT * FROM pat_stream").collect()
    assert len(hits) == 1, hits
    assert (hits[0].key, hits[0].start_pos) == ("s1", len(noise1))
    assert hits[0].dist <= 1e-5
    # batch twin agrees on position and distance
    bdf = spark.createDataFrame(
        [("s1", float(i), v) for i, v in enumerate(series)],
        "k string, ts double, v double",
    )
    best = next(
        r for r in pattern_topk(bdf, pat, "k", "ts", "v", k=1).collect()
    )
    assert (best.start_pos, best.dist) == (hits[0].start_pos, hits[0].dist)


def test_streaming_anomalies_match_batch_and_catch_planted_spike(
    spark, tmp_path
):
    """EWMA-residual alarm: a planted spike fires (once — the state
    absorbs it afterward), steady noise does not, and the streaming
    alarm flags EXACTLY the rows the batch fold flags even when the
    spike arrives in a later micro-batch."""
    from unimib_simpss_spark.operators.timeseries import anomalies
    from unimib_simpss_spark.streaming.stateful import streaming_anomalies

    steady = [10.0, 10.5, 9.5, 10.2, 9.8, 10.1, 9.9, 10.3]
    with_spike = [10.0, 9.7, 80.0, 10.2, 9.9]  # spike at global pos 10
    rows_a = [("s1", float(i), v) for i, v in enumerate(steady)]
    rows_b = [
        ("s1", float(len(steady) + i), v) for i, v in enumerate(with_spike)
    ]
    src = tmp_path / "anom_in"
    src.mkdir()
    _write_log(src, "b0.json", [dict(k=k, ts=t, v=v) for k, t, v in rows_a])
    _write_log(src, "b1.json", [dict(k=k, ts=t, v=v) for k, t, v in rows_b])
    stream = (
        spark.readStream.schema("k STRING, ts DOUBLE, v DOUBLE")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    out = streaming_anomalies(stream, "k", "ts", "v", alpha=0.3, k=4.0)
    q = (
        out.writeStream.format("memory")
        .queryName("anom_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(
        (r.key, r.ts, r.value, r.resid)
        for r in spark.sql("SELECT * FROM anom_stream").collect()
    )
    bdf = spark.createDataFrame(rows_a + rows_b, "k string, ts double, v double")
    want = sorted(
        (r.key, r.ts, r.value, r.resid)
        for r in anomalies(bdf, "k", "ts", "v", alpha=0.3, k=4.0).collect()
    )
    assert got == want
    assert len(got) == 1
    assert got[0][1] == 10.0 and got[0][2] == 80.0  # the spike, once


def test_additive_rollup_sink_totals_and_replay_protection(spark, tmp_path):
    """Storage-resident additive rollup: after three micro-batches of
    RAW rows the table equals a full batch groupBy (the streaming job
    itself holds no aggregation state), and a checkpoint-replayed batch
    id is skipped instead of double-counting."""
    from unimib_simpss_spark.streaming.sinks import (
        additive_merge_parquet,
        foreach_batch_additive,
    )

    batches = [
        [("a", 10.0), ("a", 2.0), ("b", 1.0)],
        [("a", 5.0), ("c", 7.0)],
        [("b", 4.0), ("c", 1.0), ("c", 2.0)],
    ]
    src = tmp_path / "roll_in"
    src.mkdir()
    for i, rows in enumerate(batches):
        _write_log(src, f"b{i}.json", [dict(k=k, v=v) for k, v in rows])
    table = str(tmp_path / "rollup")
    stream = (
        spark.readStream.schema("k STRING, v DOUBLE")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    body = foreach_batch_additive(table, ("k",), {"sum_v": "v"})
    q = (
        stream.writeStream.foreachBatch(body)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {r.k: (r.n_rows, r.sum_v) for r in spark.read.parquet(table).collect()}
    flat = [r for rows in batches for r in rows]
    want = {}
    for k, v in flat:
        n, sv = want.get(k, (0, 0.0))
        want[k] = (n + 1, sv + v)
    assert got == want
    # replaying an already-applied batch id must be a no-op
    replay = spark.createDataFrame([("a", 999.0)], "k string, v double")
    body(replay, 0)
    after = {
        r.k: (r.n_rows, r.sum_v) for r in spark.read.parquet(table).collect()
    }
    assert after == want
    # a NEW batch id still applies
    body(replay, 99)
    final = {
        r.k: (r.n_rows, r.sum_v) for r in spark.read.parquet(table).collect()
    }
    assert final["a"] == (want["a"][0] + 1, want["a"][1] + 999.0)


def test_additive_direct_call_never_regresses_replay_cursor(spark, tmp_path):
    """ADVICE r11 — a DIRECT additive_merge_parquet call (default
    batch_id=-1 sentinel, e.g. an ad-hoc backfill) on a table that
    foreach_batch_additive maintains must carry the applied id forward,
    not stamp a gen.-1 generation that re-enables double-counting of
    checkpoint-replayed batches."""
    from unimib_simpss_spark.streaming.sinks import (
        _current_generation,
        additive_merge_parquet,
        foreach_batch_additive,
    )

    table = str(tmp_path / "rollup")
    body = foreach_batch_additive(table, ("k",), {"sum_v": "v"})
    mk = lambda rows: spark.createDataFrame(rows, "k string, v double")

    body(mk([("a", 1.0)]), 0)
    body(mk([("a", 2.0)]), 1)
    assert _current_generation(table)[1] == 1
    # direct manual merge with the sentinel: folds in, cursor keeps 1
    additive_merge_parquet(mk([("b", 5.0)]), table, ("k",), {"sum_v": "v"})
    assert _current_generation(table)[1] == 1
    # a stale explicit id may not move the cursor backwards either
    additive_merge_parquet(
        mk([("b", 7.0)]), table, ("k",), {"sum_v": "v"}, batch_id=0
    )
    assert _current_generation(table)[1] == 1
    # the replay of batch 1 is STILL skipped after the manual merges
    body(mk([("a", 999.0)]), 1)
    got = {r.k: (r.n_rows, r.sum_v) for r in spark.read.parquet(table).collect()}
    assert got == {"a": (2, 3.0), "b": (2, 12.0)}


def test_additive_rollup_crash_safety_generation_swap(spark, tmp_path):
    """ADVICE r10 — the additive sink's table state and applied batch
    id must advance ATOMICALLY (one symlink rename), a crash that
    leaves a half-written generation must neither tear the table nor
    advance the replay cursor, and no staging/stale directories may
    accumulate."""
    import os

    from unimib_simpss_spark.streaming.sinks import (
        _current_generation,
        _generations_root,
        foreach_batch_additive,
    )

    table = str(tmp_path / "rollup")
    body = foreach_batch_additive(table, ("k",), {"sum_v": "v"})
    mk = lambda rows: spark.createDataFrame(rows, "k string, v double")

    body(mk([("a", 1.0), ("b", 2.0)]), 0)
    # the applied id is readable from the committed generation alone
    gen0, last = _current_generation(table)
    assert os.path.islink(table) and last == 0

    # simulate a crash AFTER the generation write but BEFORE the swap:
    # a stray half-generation for batch 1 exists, but the symlink (and
    # therefore the applied id) still says 0 → batch 1 must re-apply
    # exactly once, and the stray directory must be cleaned up
    stray = os.path.join(_generations_root(table), "gen.1.deadbeef")
    os.makedirs(stray)
    with open(os.path.join(stray, "part-torn.parquet"), "wb") as f:
        f.write(b"torn")
    assert _current_generation(table)[1] == 0  # cursor did NOT advance
    body(mk([("a", 10.0)]), 1)
    got = {r.k: (r.n_rows, r.sum_v) for r in spark.read.parquet(table).collect()}
    assert got == {"a": (2, 11.0), "b": (1, 2.0)}
    assert not os.path.exists(stray)
    # the new generation plus the one-swap reader-grace copy (review
    # r11: the previous generation survives until the NEXT swap so an
    # in-flight reader can finish); the torn stray was still cleaned
    gens = sorted(os.listdir(_generations_root(table)))
    assert len(gens) == 2 and gens[0].startswith("gen.0.")
    assert not [
        p for p in os.listdir(tmp_path) if "__staging__" in p or "__lnk__" in p
    ]
    # replaying batch 1 after the crash-recovery apply is still a no-op
    body(mk([("a", 100.0)]), 1)
    again = {
        r.k: (r.n_rows, r.sum_v) for r in spark.read.parquet(table).collect()
    }
    assert again == got


def test_additive_rollup_migrates_legacy_plain_directory(spark, tmp_path):
    """A pre-swap plain parquet directory at the table path is folded
    into the first new generation and converted to the symlink layout
    (its rows preserved, the directory retired)."""
    import os

    from unimib_simpss_spark.streaming.sinks import foreach_batch_additive

    table = str(tmp_path / "rollup")
    spark.createDataFrame(
        [("a", 3, 30.0)], "k string, n_rows long, sum_v double"
    ).write.parquet(table)
    assert not os.path.islink(table)
    body = foreach_batch_additive(table, ("k",), {"sum_v": "v"})
    body(spark.createDataFrame([("a", 5.0)], "k string, v double"), 7)
    assert os.path.islink(table)
    got = {r.k: (r.n_rows, r.sum_v) for r in spark.read.parquet(table).collect()}
    assert got == {"a": (4, 35.0)}
    # the migrated plain dir survives ONE swap (reader grace, review
    # r11 pass 2), then is swept by the next one
    assert len([p for p in os.listdir(tmp_path) if "__legacy__" in p]) == 1
    body(spark.createDataFrame([("a", 1.0)], "k string, v double"), 8)
    assert not [p for p in os.listdir(tmp_path) if "__legacy__" in p]
    got = {r.k: (r.n_rows, r.sum_v) for r in spark.read.parquet(table).collect()}
    assert got == {"a": (5, 36.0)}


def test_streaming_audit_equals_batch_gate(spark, tmp_path):
    """Streaming constraint gate (operators/validation.py
    foreach_batch_audit): rule outcomes folded additively into the
    crash-safe rollup table per micro-batch — after the stream drains,
    the table EQUALS the batch check_row_rules over the concatenated
    rows (the batch/streaming parity contract), and a replayed batch id
    is a no-op."""
    from pyspark.sql import functions as F

    from unimib_simpss_spark.operators.validation import (
        check_row_rules,
        foreach_batch_audit,
        read_audit,
    )

    rules = {
        "v_nonneg": F.col("v") >= 0,
        "k_not_null": F.col("k").isNotNull(),
    }
    batches = [
        [dict(k="a", v=1.0), dict(k="b", v=-2.0)],
        [dict(k=None, v=3.0), dict(k="c", v=None)],  # NULLs: k rule + v rule
        [dict(k="d", v=4.0)],
    ]
    src = tmp_path / "audit_in"
    src.mkdir()
    for i, rows in enumerate(batches):
        _write_log(src, f"b{i}.json", rows)
    table = str(tmp_path / "audit_rollup")
    stream = (
        spark.readStream.schema("k STRING, v DOUBLE")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    body = foreach_batch_audit(table, rules)
    q = (
        stream.writeStream.foreachBatch(body)
        .option("checkpointLocation", str(tmp_path / "audit_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = sorted(tuple(r) for r in read_audit(spark, table).collect())
    all_rows = spark.createDataFrame(
        [(r["k"], r["v"]) for rows in batches for r in rows],
        "k string, v double",
    )
    want = sorted(tuple(r) for r in check_row_rules(all_rows, rules).collect())
    assert got == want
    assert got == sorted(
        [("k_not_null", 5, 1, 0), ("v_nonneg", 5, 2, 0)]
    )
    # replay protection: re-applying batch 0 must not change the table
    body(all_rows, 0)
    assert sorted(tuple(r) for r in read_audit(spark, table).collect()) == got


class TestGenerationSwapEdges:
    """Round-11 review findings on the generation-swap sink: relative
    table paths, the legacy-migration crash window, the pre-swap replay
    cursor, and in-flight-reader grace retirement."""

    def test_relative_table_path_with_directory_component(
        self, spark, tmp_path, monkeypatch
    ):
        """A cwd-relative table path like 'out/rollup' must stay
        readable after the swap — the symlink target is absolute, so it
        cannot resolve to 'out/out/rollup...' (the round-11 confirmed
        bug)."""
        import os

        from unimib_simpss_spark.streaming.sinks import (
            additive_merge_parquet,
        )

        monkeypatch.chdir(tmp_path)
        os.makedirs("out")
        batch = spark.createDataFrame([("a", 2.0)], "k string, v double")
        additive_merge_parquet(batch, "out/rollup", ("k",), {"sum_v": "v"})
        assert os.path.exists("out/rollup")  # broken symlink → False
        got = spark.read.parquet(str(tmp_path / "out" / "rollup")).collect()
        assert [(r.k, r.n_rows, r.sum_v) for r in got] == [("a", 1, 2.0)]
        # second merge exercises the read-back of generation 1
        additive_merge_parquet(batch, "out/rollup", ("k",), {"sum_v": "v"})
        got = spark.read.parquet(str(tmp_path / "out" / "rollup")).collect()
        assert [(r.k, r.n_rows, r.sum_v) for r in got] == [("a", 2, 4.0)]

    def test_legacy_migration_crash_window_self_heals(self, spark, tmp_path):
        """Crash between 'plain dir renamed to .__legacy__*' and the
        symlink commit: the next reader restores the legacy directory
        as the live table — no accumulated state is lost."""
        import os

        from unimib_simpss_spark.streaming.sinks import _current_generation

        table = str(tmp_path / "rollup")
        spark.createDataFrame(
            [("a", 3, 30.0)], "k string, n_rows long, sum_v double"
        ).write.parquet(table)
        with open(table + ".__applied__", "w") as f:
            f.write("41")
        os.rename(table, table + ".__legacy__deadbeef")  # simulated crash
        assert not os.path.exists(table)
        cur, last = _current_generation(table)
        assert cur == table and os.path.isdir(table)  # restored
        assert last == 41  # legacy cursor honored too
        got = spark.read.parquet(table).collect()
        assert [(r.k, r.n_rows, r.sum_v) for r in got] == [("a", 3, 30.0)]

    def test_legacy_applied_marker_prevents_double_count(self, spark, tmp_path):
        """A pre-swap table whose .__applied__ marker says batch 41 was
        folded must SKIP a checkpoint-replayed batch 41 after the layout
        upgrade — and the marker file is retired once the name carries
        the cursor."""
        import os

        from unimib_simpss_spark.streaming.sinks import foreach_batch_additive

        table = str(tmp_path / "rollup")
        spark.createDataFrame(
            [("a", 3, 30.0)], "k string, n_rows long, sum_v double"
        ).write.parquet(table)
        with open(table + ".__applied__", "w") as f:
            f.write("41")
        body = foreach_batch_additive(table, ("k",), {"sum_v": "v"})
        replay = spark.createDataFrame([("a", 999.0)], "k string, v double")
        body(replay, 41)  # replayed: must be a no-op
        got = {r.k: (r.n_rows, r.sum_v) for r in spark.read.parquet(table).collect()}
        assert got == {"a": (3, 30.0)}
        body(replay, 42)  # genuinely new: folds, upgrades layout
        got = {r.k: (r.n_rows, r.sum_v) for r in spark.read.parquet(table).collect()}
        assert got == {"a": (4, 1029.0)}
        assert os.path.islink(table)
        assert not os.path.exists(table + ".__applied__")

    def test_previous_generation_survives_one_swap(self, spark, tmp_path):
        """In-flight-reader grace: after swap N the generation of swap
        N-1 is still on disk; after swap N+1 it is retired."""
        import os

        from unimib_simpss_spark.streaming.sinks import (
            _generations_root,
            additive_merge_parquet,
        )

        table = str(tmp_path / "rollup")
        batch = spark.createDataFrame([("a", 1.0)], "k string, v double")
        root = _generations_root(table)

        def gens():
            return sorted(os.listdir(root))

        additive_merge_parquet(batch, table, ("k",), {"sum_v": "v"}, batch_id=1)
        g1 = gens()
        assert len(g1) == 1
        additive_merge_parquet(batch, table, ("k",), {"sum_v": "v"}, batch_id=2)
        g2 = gens()
        assert len(g2) == 2 and g1[0] in g2  # grace copy survives
        additive_merge_parquet(batch, table, ("k",), {"sum_v": "v"}, batch_id=3)
        g3 = gens()
        assert len(g3) == 2 and g1[0] not in g3  # retired one swap later
        got = {r.k: (r.n_rows, r.sum_v) for r in spark.read.parquet(table).collect()}
        assert got == {"a": (3, 3.0)}


def test_streaming_cell_assignment_matches_batch(spark, sf_dir, tmp_path):
    """Stream-static ANN ingest: embeddings arriving as micro-batches
    are cell-routed against a frozen quantizer (similarity.assign_cells
    — broadcast k×d matrix, stateless GEMM per Arrow batch) and the
    assignments agree EXACTLY with a batch run over the same rows —
    the index stays consistent whether vectors arrive in bulk or on a
    stream."""
    from unimib_simpss_spark.operators.caching import release_result
    from unimib_simpss_spark.operators.similarity import (
        assign_cells,
        kmeans_cells,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    labels, centroids = kmeans_cells(emb, k=4, iters=2, return_centroids=True)
    release_result(labels)
    batch = {
        r.vec_id: r.cell for r in assign_cells(emb, centroids).collect()
    }

    # replay the same embeddings as 3 micro-batch parquet files
    src = tmp_path / "emb_stream"
    src.mkdir()
    import os
    import time

    for i in range(3):
        part = emb.where(F.col("vec_id") % 3 == i)
        pdir = str(src / f"b{i}.parquet")
        part.coalesce(1).write.mode("overwrite").parquet(pdir)
        t = time.time() + 2.0 * (i + 1)
        os.utime(pdir, (t, t))
        for f in os.listdir(pdir):
            os.utime(os.path.join(pdir, f), (t, t))

    stream = (
        spark.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(str(src))
    )
    got: dict[int, int] = {}

    def sink(bdf, bid):
        for r in assign_cells(bdf, centroids).collect():
            got[r.vec_id] = r.cell

    q = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "emb_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert got == batch
    assert len(got) == emb.count()


def test_streaming_hll_rollup_equals_batch_estimate(spark, tmp_path):
    """Storage-resident cardinality rollup (foreach_batch_hll): after
    the stream drains, per-group estimates from the register table are
    BIT-IDENTICAL to batch hll_distinct over the concatenated rows
    (same portable register arithmetic; merge = per-register max). A
    replayed batch id is a no-op, and re-merging the full input again
    changes nothing (max-merge idempotence)."""
    from unimib_simpss_spark.functions.sketches import hll_distinct
    from unimib_simpss_spark.streaming.sinks import (
        foreach_batch_hll,
        read_hll_estimates,
    )

    batches = [
        [dict(g="a", u=f"u{i}") for i in range(40)],
        [dict(g="a", u=f"u{i}") for i in range(20, 60)]  # overlap with b0
        + [dict(g="b", u=f"v{i}") for i in range(10)],
        [dict(g="b", u=f"v{i}") for i in range(5, 25)],
    ]
    src = tmp_path / "hll_in"
    src.mkdir()
    for i, rows in enumerate(batches):
        _write_log(src, f"b{i}.json", rows)
    table = str(tmp_path / "hll_rollup")
    stream = (
        spark.readStream.schema("g STRING, u STRING")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    body = foreach_batch_hll(table, ("g",), "u")
    q = (
        stream.writeStream.foreachBatch(body)
        .option("checkpointLocation", str(tmp_path / "hll_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    all_rows = spark.createDataFrame(
        [(r["g"], r["u"]) for rows in batches for r in rows], "g string, u string"
    )
    want = sorted(
        tuple(r) for r in hll_distinct(all_rows, ["g"], "u").collect()
    )
    got = sorted(
        tuple(r) for r in read_hll_estimates(spark, table, ("g",)).collect()
    )
    assert got == want
    # replayed id: no-op; idempotence: re-merging everything changes nothing
    body(all_rows, 0)
    assert sorted(
        tuple(r) for r in read_hll_estimates(spark, table, ("g",)).collect()
    ) == got
    from unimib_simpss_spark.streaming.sinks import register_merge_parquet

    register_merge_parquet(all_rows, table, ("g",), "u", batch_id=99)
    assert sorted(
        tuple(r) for r in read_hll_estimates(spark, table, ("g",)).collect()
    ) == got


def test_hll_rollup_precision_mismatch_is_loud(spark, tmp_path):
    """Review r11 pass 3: the register table stores its precision —
    merging or reading at a different p raises instead of silently
    corrupting registers / mis-scaling the zeros correction."""
    import pytest as _pytest

    from unimib_simpss_spark.streaming.sinks import (
        read_hll_estimates,
        register_merge_parquet,
    )

    table = str(tmp_path / "hll_p")
    rows = spark.createDataFrame([("a", "u1"), ("a", "u2")], "g string, u string")
    register_merge_parquet(rows, table, ("g",), "u", p=9, batch_id=1)
    with _pytest.raises(ValueError, match="p=9"):
        register_merge_parquet(rows, table, ("g",), "u", p=10, batch_id=2)
    with _pytest.raises(ValueError, match="p=9"):
        read_hll_estimates(spark, table, ("g",), p=10)
    # matching / unstated p both fine
    assert read_hll_estimates(spark, table, ("g",), p=9).count() == 1
    assert abs(read_hll_estimates(spark, table, ("g",)).first().hll_est - 2.0) < 0.1


def test_assign_cells_null_dropped_ragged_raises(spark):
    """Review r11 pass 3: NULL embeddings are dropped (no identity),
    ragged ones raise with the offending id named — a single bad
    arrival must not kill a streaming ingest with a raw NumPy error."""
    import pytest as _pytest

    from unimib_simpss_spark.operators.similarity import assign_cells

    cents = [[0.0, 0.0], [10.0, 10.0]]
    ok = spark.createDataFrame(
        [(1, [0.5, 0.5]), (2, None), (3, [9.0, 9.0])],
        "vec_id long, embedding array<double>",
    )
    got = {r.vec_id: r.cell for r in assign_cells(ok, cents).collect()}
    assert got == {1: 0, 3: 1}  # NULL row dropped, not fatal
    ragged = spark.createDataFrame(
        [(7, [1.0, 2.0, 3.0])], "vec_id long, embedding array<double>"
    )
    with _pytest.raises(Exception, match="dimension"):
        assign_cells(ragged, cents).collect()
    # a null ELEMENT coerces to NaN in NumPy — must raise loudly, not
    # silently land in cell 0 via argmin-over-NaN
    nully = spark.createDataFrame(
        [(8, [1.0, None])], "vec_id long, embedding array<double>"
    )
    with _pytest.raises(Exception, match="NaN"):
        assign_cells(nully, cents).collect()


def test_streaming_session_windows_merge_across_batches(spark, dim, tmp_path):
    """ST7 session form: per-sensor gap sessions via the merging
    session_window state. Three micro-batches (maxFilesPerTrigger=1):
    a session STARTED in batch 1 must absorb batch 2's within-gap
    event (the cross-batch stateful merge), a past-gap event must open
    a new session, and a far-future sentinel batch pushes the
    watermark so append mode emits every closed session exactly once.
    The emitted sessions must equal the BATCH operator
    (operators/sessions.py session_stats) folding the same rows."""
    from unimib_simpss_spark.operators.sensor_pipeline import sensor_pipeline
    from unimib_simpss_spark.operators.sessions import session_stats
    from unimib_simpss_spark.streaming.pipeline import session_stats_stream

    logdir = tmp_path / "logs"
    logdir.mkdir()
    base = {"P": 400, "H": 50, "Ix": 0, "Iy": 0, "Iz": 0, "M": 0, "T": 100}
    # gap = 300 s. sensor 120: events at t=0,60 (batch 1), t=180
    # (batch 2, within gap of 60 -> MERGES into the open session),
    # t=1000 (batch 2, 820 s after 180 -> NEW session). sensor 121:
    # one event. sentinel sensor 123 at t=100000 flushes the watermark.
    _write_log(logdir, "a.json", [dict(base, id=120, uptime=0),
                                  dict(base, id=120, uptime=60)])
    _write_log(logdir, "b.json", [dict(base, id=120, uptime=180),
                                  dict(base, id=121, uptime=100),
                                  dict(base, id=120, uptime=1000)])
    _write_log(logdir, "c.json", [dict(base, id=123, uptime=100000)])

    ts_expr = F.to_timestamp(F.lit("2024-01-01 00:00:00")) + F.make_interval(
        secs=F.col("uptime")
    )
    stream = file_replay_source(spark, str(logdir), max_files_per_trigger=1)
    persisted, _ = sensor_pipeline(stream, dim, ts_col=ts_expr)
    sessions = session_stats_stream(
        persisted, gap_seconds=300, key_col="sensor_id",
        ts_col="time_received", watermark="1 second",
    )
    q = (
        sessions.writeStream.format("memory").queryName("sessions")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    got = sorted(
        (r.sensor_id, r.session_start, r.session_end, r.n_events,
         r.duration_sec)
        for r in spark.sql(
            "select * from sessions where sensor_id < 123"
        ).collect()
    )
    # the cross-batch merge: one session holding t=0,60,180
    assert [(sid, n, dur) for sid, _, _, n, dur in got] == [
        (120, 3, 180.0), (120, 1, 0.0), (121, 1, 0.0),
    ]
    # batch parity: same rows, one batch, the batch operator
    batch_rows = spark.createDataFrame(
        [(i, sid, sec) for i, (sid, sec) in enumerate(
            [(120, 0), (120, 60), (120, 180), (120, 1000), (121, 100)]
        )],
        "event_id long, sensor_id long, uptime long",
    ).select("event_id", "sensor_id", ts_expr.alias("time_received"))
    want = sorted(
        (r.sensor_id, r.session_start, r.session_end, r.n_events,
         r.duration_sec)
        for r in session_stats(
            batch_rows, gap_seconds=300, user_col="sensor_id",
            ts_col="time_received",
        ).collect()
    )
    assert got == want


def test_streaming_funnel_matches_batch_prefix(spark, tmp_path):
    """The stateful funnel's final snapshot must equal the batch
    operator over the same rows (events arriving in event order,
    two micro-batches): a step completed in batch 1 stays frozen, a
    step-2 event in batch 2 chains strictly after it, and an
    out-of-order-step user (click before view) completes only once a
    qualifying later click arrives."""
    import json as _json

    from pyspark.sql import functions as F
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
        TimestampType,
    )

    from unimib_simpss_spark.operators.sessions import (
        funnel_first_completion,
    )
    from unimib_simpss_spark.streaming.stateful import streaming_funnel

    logdir = tmp_path / "ev"
    logdir.mkdir()
    rows_b1 = [
        {"event_id": 1, "ts": "2024-01-01 00:00:05", "user_id": 1, "event_type": "click"},
        {"event_id": 2, "ts": "2024-01-01 00:00:10", "user_id": 1, "event_type": "view"},
        {"event_id": 3, "ts": "2024-01-01 00:00:00", "user_id": 2, "event_type": "view"},
    ]
    rows_b2 = [
        {"event_id": 4, "ts": "2024-01-01 00:01:00", "user_id": 1, "event_type": "click"},
        {"event_id": 5, "ts": "2024-01-01 00:02:00", "user_id": 2, "event_type": "purchase"},  # skips step 2: must NOT count
        {"event_id": 6, "ts": "2024-01-01 00:03:00", "user_id": 3, "event_type": "click"},     # never views
    ]
    (logdir / "a.json").write_text(
        "\n".join(_json.dumps(r) for r in rows_b1) + "\n"
    )
    import os
    import time

    t = time.time()
    os.utime(logdir / "a.json", (t, t))
    (logdir / "b.json").write_text(
        "\n".join(_json.dumps(r) for r in rows_b2) + "\n"
    )
    os.utime(logdir / "b.json", (t + 4, t + 4))
    schema = StructType([
        StructField("event_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
    ])
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .json(str(logdir))
    )
    steps = ["view", "click", "purchase"]
    q = (
        streaming_funnel(stream, steps)
        .writeStream.format("memory").queryName("funnel")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    # last update per user wins
    got = {}
    for r in spark.sql("select * from funnel").collect():
        got[r.user_id] = (r.steps_completed, r.t1_us, r.t2_us, r.t3_us)
    batch_rows = spark.createDataFrame(
        [tuple(r.values()) for r in rows_b1 + rows_b2],
        "event_id long, ts string, user_id long, event_type string",
    ).select("event_id", F.to_timestamp("ts").alias("ts"), "user_id", "event_type")
    want = {
        r.user_id: (
            r.steps_completed,
            *[
                None if getattr(r, f"t{i}") is None
                else int(getattr(r, f"t{i}").timestamp() * 1_000_000)
                for i in (1, 2, 3)
            ],
        )
        for r in funnel_first_completion(batch_rows, steps).collect()
    }
    assert got == want
    # the semantics themselves: user 1 chained strictly after the
    # batch-1 view; user 2's purchase did not skip the click step
    assert got[1][0] == 2 and got[2][0] == 1 and 3 not in got


def test_streaming_funnel_string_key_keeps_caller_schema(spark, tmp_path):
    """ADVICE r13: a string-typed (and renamed) key column must work —
    the output key field is built from the input schema, not a
    hardcoded user_id LongType that dies inside
    applyInPandasWithState on any other key type."""
    import json as _json
    import os
    import time

    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
        TimestampType,
    )

    from unimib_simpss_spark.streaming.stateful import streaming_funnel

    logdir = tmp_path / "ev"
    logdir.mkdir()
    rows = [
        {"event_id": 1, "ts": "2024-01-01 00:00:00", "device": "a", "event_type": "view"},
        {"event_id": 2, "ts": "2024-01-01 00:00:05", "device": "a", "event_type": "click"},
        {"event_id": 3, "ts": "2024-01-01 00:00:07", "device": "b", "event_type": "view"},
    ]
    (logdir / "a.json").write_text(
        "\n".join(_json.dumps(r) for r in rows) + "\n"
    )
    t = time.time()
    os.utime(logdir / "a.json", (t, t))
    schema = StructType([
        StructField("event_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("device", StringType()),
        StructField("event_type", StringType()),
    ])
    stream = spark.readStream.schema(schema).json(str(logdir))
    out = streaming_funnel(stream, ["view", "click"], user_col="device")
    assert out.schema[0].name == "device"
    assert out.schema[0].dataType == StringType()
    q = (
        out.writeStream.format("memory").queryName("funnel_str")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    got = {
        r.device: r.steps_completed
        for r in spark.sql("select * from funnel_str").collect()
    }
    assert got == {"a": 2, "b": 1}


def test_streaming_scd2_matches_batch_prefix(spark, tmp_path):
    """The SCD2 sink's table after an in-order two-batch stream must
    equal scd2_history over the same rows: a value repeated across
    batches collapses into the open version, a change closes it, and
    closed versions never rewrite."""
    import json as _json
    import os
    import time

    from pyspark.sql import functions as F
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
        TimestampType,
    )

    from unimib_simpss_spark.sources.lakehouse import scd2_history
    from unimib_simpss_spark.streaming.sinks import foreach_batch_scd2

    logdir = tmp_path / "upd"
    logdir.mkdir()
    rows_b1 = [
        {"event_id": 1, "ts": "2024-01-01 00:00:00", "k": "a", "value": 1.0},
        {"event_id": 2, "ts": "2024-01-01 00:01:00", "k": "a", "value": 1.0},
        {"event_id": 3, "ts": "2024-01-01 00:02:00", "k": "b", "value": 5.0},
    ]
    rows_b2 = [
        # same value as a's open version -> collapses, no new version
        {"event_id": 4, "ts": "2024-01-01 00:03:00", "k": "a", "value": 1.0},
        # changed value -> closes a's version, opens a new one
        {"event_id": 5, "ts": "2024-01-01 00:04:00", "k": "a", "value": 2.0},
        # brand-new key
        {"event_id": 6, "ts": "2024-01-01 00:05:00", "k": "c", "value": 9.0},
        # NULL ts -> excluded on both engines
        {"event_id": 7, "ts": None, "k": "b", "value": 6.0},
    ]
    (logdir / "a.json").write_text(
        "\n".join(_json.dumps(r) for r in rows_b1) + "\n"
    )
    t = time.time()
    os.utime(logdir / "a.json", (t, t))
    (logdir / "b.json").write_text(
        "\n".join(_json.dumps(r) for r in rows_b2) + "\n"
    )
    os.utime(logdir / "b.json", (t + 4, t + 4))
    schema = StructType([
        StructField("event_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("k", StringType()),
        StructField("value", DoubleType()),
    ])
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .json(str(logdir))
    )
    table = str(tmp_path / "scd2_table")
    q = (
        stream.writeStream.foreachBatch(
            foreach_batch_scd2(table, keys=("k",), ts_col="ts",
                               id_col="event_id", value_col="value")
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    key = lambda r: (r.k, r.version_id, r.value, r.valid_from, r.valid_to)  # noqa: E731
    got = sorted(key(r) for r in spark.read.parquet(table).collect())
    batch_rows = spark.createDataFrame(
        [tuple(r.values()) for r in rows_b1 + rows_b2],
        "event_id long, ts string, k string, value double",
    ).select("event_id", F.to_timestamp("ts").alias("ts"), "k", "value")
    want = sorted(
        key(r)
        for r in scd2_history(
            batch_rows, ("k",), "ts", "event_id", "value"
        ).collect()
    )
    assert got == want
    # shape sanity: a has 2 versions (repeat collapsed), b and c one
    per_key = {}
    for k, *_ in got:
        per_key[k] = per_key.get(k, 0) + 1
    assert per_key == {"a": 2, "b": 1, "c": 1}


def test_scd2_merge_replay_idempotent_and_late_drop(spark, tmp_path):
    """A checkpoint-replayed batch must not duplicate versions, and a
    late update pre-dating a key's open version drops (closed history
    is immutable)."""
    from pyspark.sql import functions as F

    from unimib_simpss_spark.streaming.sinks import scd2_merge_parquet

    table = str(tmp_path / "t")
    mk = lambda rows: spark.createDataFrame(  # noqa: E731
        rows, "event_id long, ts string, k string, value double"
    ).select("event_id", F.to_timestamp("ts").alias("ts"), "k", "value")
    b1 = mk([
        (1, "2024-01-01 00:00:00", "a", 1.0),
        (2, "2024-01-01 00:01:00", "a", 2.0),
    ])
    args = dict(keys=("k",), ts_col="ts", id_col="event_id",
                value_col="value")
    scd2_merge_parquet(b1, table, **args)
    snap = lambda: sorted(  # noqa: E731
        (r.k, r.version_id, r.value, r.valid_from, r.valid_to)
        for r in spark.read.parquet(table).collect()
    )
    first = snap()
    assert len(first) == 2
    scd2_merge_parquet(b1, table, **args)  # exact replay
    assert snap() == first
    late = mk([(3, "2023-12-31 23:59:00", "a", 7.0)])
    scd2_merge_parquet(late, table, **args)  # pre-dates open version
    assert snap() == first


def test_scd2_merge_equal_ts_tie_is_seed_stable(spark, tmp_path):
    """ADVICE r14: a new update at EXACTLY the open version's
    valid_from, with a SMALLER event id than the stored version_id,
    must not displace the open version's identity — the seed sorts
    strictly first (seed-priority tiebreak). Same-value collapses;
    changed-value opens a follow-up version at the same ts. This
    equal-ts out-of-id-order case is outside the batch-parity
    contract by documentation."""
    from pyspark.sql import functions as F

    from unimib_simpss_spark.streaming.sinks import scd2_merge_parquet

    mk = lambda rows: spark.createDataFrame(  # noqa: E731
        rows, "event_id long, ts string, k string, value double"
    ).select("event_id", F.to_timestamp("ts").alias("ts"), "k", "value")
    args = dict(keys=("k",), ts_col="ts", id_col="event_id",
                value_col="value")
    snap = lambda t: sorted(  # noqa: E731
        (r.k, r.version_id, r.value, r.valid_to is None)
        for r in spark.read.parquet(t).collect()
    )
    # same value at the same ts, smaller id: collapses, version_id
    # stays 10 (pre-fix it flipped to 3)
    t1 = str(tmp_path / "same")
    scd2_merge_parquet(mk([(10, "2024-01-01 00:00:00", "a", 1.0)]), t1, **args)
    scd2_merge_parquet(mk([(3, "2024-01-01 00:00:00", "a", 1.0)]), t1, **args)
    assert snap(t1) == [("a", 10, 1.0, True)]
    # changed value at the same ts, smaller id: the open version keeps
    # its identity and closes AT its own valid_from; the new version
    # opens at the same ts
    t2 = str(tmp_path / "diff")
    scd2_merge_parquet(mk([(10, "2024-01-01 00:00:00", "a", 1.0)]), t2, **args)
    scd2_merge_parquet(mk([(3, "2024-01-01 00:00:00", "a", 2.0)]), t2, **args)
    assert snap(t2) == [("a", 3, 2.0, True), ("a", 10, 1.0, False)]


def test_streaming_drift_matches_batch_prefix(spark, tmp_path):
    """The drift sink's accumulated bin table must yield EXACTLY the
    rows the batch distribution_drift emits over the same stream
    prefix (bin counts are additive; the sink pins the reference
    range the batch operator derives)."""
    import json as _json
    import os
    import time

    from unimib_simpss_spark.operators.validation import distribution_drift
    from unimib_simpss_spark.streaming.sinks import (
        foreach_batch_drift,
        read_drift_metrics,
    )

    ref = spark.createDataFrame(
        [(float(i),) for i in range(50)], "x double"
    )
    rows_b1 = [{"x": 3.0}, {"x": 17.5}, {"x": 44.0}, {"x": None}]
    rows_b2 = [{"x": -5.0}, {"x": 99.0}, {"x": 17.5}]  # outliers clamp
    logdir = tmp_path / "vals"
    logdir.mkdir()
    (logdir / "a.json").write_text(
        "\n".join(_json.dumps(r) for r in rows_b1) + "\n"
    )
    t = time.time()
    os.utime(logdir / "a.json", (t, t))
    (logdir / "b.json").write_text(
        "\n".join(_json.dumps(r) for r in rows_b2) + "\n"
    )
    os.utime(logdir / "b.json", (t + 4, t + 4))
    stream = (
        spark.readStream.schema("x double")
        .option("maxFilesPerTrigger", 1)
        .json(str(logdir))
    )
    table = str(tmp_path / "drift_bins")
    q = (
        stream.writeStream.foreachBatch(
            foreach_batch_drift(table, "x", lo=0.0, hi=49.0, bins=5)
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    got = sorted(
        (r.metric, r.bin, r.ref_n, r.cur_n, r.value)
        for r in read_drift_metrics(
            spark, ref, table, "x", bins=5
        ).collect()
    )
    cur = spark.createDataFrame(
        [(r["x"],) for r in rows_b1 + rows_b2], "x double"
    )
    want = sorted(
        (r.metric, r.bin, r.ref_n, r.cur_n, r.value)
        for r in distribution_drift(ref, cur, "x", bins=5).collect()
    )
    assert got == want
    # the clamped outliers really landed in the edge bins
    by_bin = {b: c for m, b, _, c, _ in got if m == "bin"}
    assert by_bin[0] >= 2 and by_bin[4] >= 1


def test_streaming_drift_by_matches_batch_prefix(spark, tmp_path):
    """VERDICT r14 #5: the per-source drift sink's accumulated
    (group, bin) table must yield EXACTLY the rows the batch
    distribution_drift_by emits over the same stream prefix."""
    import json as _json
    import os
    import time

    from unimib_simpss_spark.operators.validation import (
        distribution_drift_by,
    )
    from unimib_simpss_spark.streaming.sinks import (
        foreach_batch_drift_by,
        read_drift_metrics_by,
    )

    ref = spark.createDataFrame(
        [("web", float(i)) for i in range(40)]
        + [("pdf", float(i * 2)) for i in range(30)],
        "src string, x double",
    )
    rows_b1 = [
        {"src": "web", "x": 3.0},
        {"src": "web", "x": 39.0},
        {"src": "pdf", "x": 10.0},
        {"src": None, "x": 1.0},
    ]
    rows_b2 = [
        {"src": "pdf", "x": -9.0},   # clamps into pdf's low bin
        {"src": "web", "x": 99.0},   # clamps into web's high bin
        {"src": "forum", "x": 5.0},  # group absent from reference: drop
        {"src": "web", "x": None},
    ]
    logdir = tmp_path / "vals"
    logdir.mkdir()
    (logdir / "a.json").write_text(
        "\n".join(_json.dumps(r) for r in rows_b1) + "\n"
    )
    t = time.time()
    os.utime(logdir / "a.json", (t, t))
    (logdir / "b.json").write_text(
        "\n".join(_json.dumps(r) for r in rows_b2) + "\n"
    )
    os.utime(logdir / "b.json", (t + 4, t + 4))
    stream = (
        spark.readStream.schema("src string, x double")
        .option("maxFilesPerTrigger", 1)
        .json(str(logdir))
    )
    table = str(tmp_path / "drift_bins_by")
    q = (
        stream.writeStream.foreachBatch(
            foreach_batch_drift_by(
                table,
                "x",
                "src",
                ranges={"web": (0.0, 39.0), "pdf": (0.0, 58.0)},
                bins=5,
            )
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    got = sorted(
        (r.src, r.metric, r.bin, r.ref_n, r.cur_n, r.value)
        for r in read_drift_metrics_by(
            spark, ref, table, "x", "src", bins=5
        ).collect()
    )
    cur = spark.createDataFrame(
        [(r["src"], r["x"]) for r in rows_b1 + rows_b2],
        "src string, x double",
    )
    want = sorted(
        (r.src, r.metric, r.bin, r.ref_n, r.cur_n, r.value)
        for r in distribution_drift_by(ref, cur, "x", "src", bins=5).collect()
    )
    assert got == want
    by_bin = {(g, b): c for g, m, b, _, c, _ in got if m == "bin"}
    assert by_bin[("pdf", 0)] >= 1 and by_bin[("web", 4)] >= 1


def test_drift_by_reader_rejects_mismatched_pins(spark, tmp_path):
    import pytest as _pytest

    from unimib_simpss_spark.streaming.sinks import (
        foreach_batch_drift_by,
        read_drift_metrics_by,
    )

    ref = spark.createDataFrame(
        [("a", float(i)) for i in range(20)], "src string, x double"
    )
    table = str(tmp_path / "bins_by")
    batch = spark.createDataFrame(
        [("a", 5.0), ("a", 12.0)], "src string, x double"
    )
    foreach_batch_drift_by(table, "x", "src", {"a": (0.0, 19.0)}, bins=4)(
        batch, 0
    )
    assert (
        read_drift_metrics_by(spark, ref, table, "x", "src", bins=4).count()
        == 7  # 4 bins + psi + ks + jsd for the one group
    )
    with _pytest.raises(ValueError, match="bins=4"):
        read_drift_metrics_by(spark, ref, table, "x", "src", bins=8)
    shifted = spark.createDataFrame(
        [("a", float(i)) for i in range(30)], "src string, x double"
    )
    with _pytest.raises(ValueError, match="pinned group"):
        read_drift_metrics_by(spark, shifted, table, "x", "src", bins=4)
    # a never-written table reads as zero current counts, not an error
    empty = read_drift_metrics_by(
        spark, ref, str(tmp_path / "nope"), "x", "src", bins=4
    )
    assert all(r.cur_n == 0 for r in empty.collect())
    # conflicting per-group pins from a second sink config must raise
    # (review r15: the collapsed-before-compared dict form never fired)
    foreach_batch_drift_by(table, "x", "src", {"a": (0.0, 29.0)}, bins=4)(
        batch, 1
    )
    with _pytest.raises(ValueError, match="conflicting"):
        read_drift_metrics_by(spark, ref, table, "x", "src", bins=4)


def test_streaming_drift_cat_matches_batch_prefix(spark, tmp_path):
    """The categorical drift sink's accumulated bucket table must
    yield EXACTLY the rows the batch categorical_drift emits over the
    same stream prefix (the family-wide parity contract)."""
    import json as _json
    import os
    import time

    from unimib_simpss_spark.operators.validation import categorical_drift
    from unimib_simpss_spark.streaming.sinks import (
        foreach_batch_drift_cat,
        read_drift_cat_metrics,
    )

    ref = spark.createDataFrame(
        [("web",)] * 10 + [("pdf",)] * 6 + [("forum",)] * 2 + [("wiki",)],
        "src string",
    )
    rows_b1 = [{"src": "web"}, {"src": "pdf"}, {"src": None}]
    rows_b2 = [{"src": "BRAND_NEW"}, {"src": "forum"}, {"src": "web"}]
    logdir = tmp_path / "vals"
    logdir.mkdir()
    (logdir / "a.json").write_text(
        "\n".join(_json.dumps(r) for r in rows_b1) + "\n"
    )
    t = time.time()
    os.utime(logdir / "a.json", (t, t))
    (logdir / "b.json").write_text(
        "\n".join(_json.dumps(r) for r in rows_b2) + "\n"
    )
    os.utime(logdir / "b.json", (t + 4, t + 4))
    stream = (
        spark.readStream.schema("src string")
        .option("maxFilesPerTrigger", 1)
        .json(str(logdir))
    )
    table = str(tmp_path / "drift_cat")
    q = (
        stream.writeStream.foreachBatch(
            # top-2 of the reference by (count desc, value asc):
            # web(10), pdf(6) — the pinned frame the reader re-derives
            foreach_batch_drift_cat(table, "src", buckets=["web", "pdf"])
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    got = sorted(
        (r.metric, r.category, r.ref_n, r.cur_n, r.value)
        for r in read_drift_cat_metrics(
            spark, ref, table, "src", top_k=2
        ).collect()
    )
    cur = spark.createDataFrame(
        [(r["src"],) for r in rows_b1 + rows_b2], "src string"
    )
    want = sorted(
        (r.metric, r.category, r.ref_n, r.cur_n, r.value)
        for r in categorical_drift(ref, cur, "src", top_k=2).collect()
    )
    assert got == want
    by_cat = {c: (rn, cn) for m, c, rn, cn, _ in got if m == "cat"}
    # forum + BRAND_NEW landed in __other__; NULL dropped
    assert by_cat["__other__"] == (3, 2) and by_cat["web"] == (10, 2)


def test_drift_cat_reader_rejects_mismatched_frame(spark, tmp_path):
    import pytest as _pytest

    from unimib_simpss_spark.streaming.sinks import (
        foreach_batch_drift_cat,
        read_drift_cat_metrics,
    )

    ref = spark.createDataFrame([("a",)] * 3 + [("b",)], "src string")
    table = str(tmp_path / "cat")
    batch = spark.createDataFrame([("a",), ("zz",)], "src string")
    foreach_batch_drift_cat(table, "src", buckets=["a", "b"])(batch, 0)
    assert (
        read_drift_cat_metrics(spark, ref, table, "src", top_k=2).count()
        == 5  # a, b, __other__, psi, jsd
    )
    # a different top_k derives a different frame -> pin mismatch
    with _pytest.raises(ValueError, match="different top-1"):
        read_drift_cat_metrics(spark, ref, table, "src", top_k=1)
    # reserved sentinel cannot be pinned
    with _pytest.raises(ValueError, match="implicit tail"):
        foreach_batch_drift_cat(table, "src", buckets=["__other__"])
    # a never-written table reads as zero current counts
    empty = read_drift_cat_metrics(
        spark, ref, str(tmp_path / "nope"), "src", top_k=2
    )
    assert all(r.cur_n == 0 for r in empty.collect())


def test_drift_reader_rejects_mismatched_config(spark, tmp_path):
    """Review r14 (the HLL reader's discipline): a reader whose bins
    or reference range disagree with the table's stored pin must
    raise, not silently mis-join."""
    import pytest as _pytest

    from unimib_simpss_spark.streaming.sinks import (
        foreach_batch_drift,
        read_drift_metrics,
    )

    ref = spark.createDataFrame([(float(i),) for i in range(50)], "x double")
    table = str(tmp_path / "bins")
    batch = spark.createDataFrame([(1.0,), (2.0,), (30.0,)], "x double")
    foreach_batch_drift(table, "x", lo=0.0, hi=49.0, bins=5)(batch, 0)
    # matching read works
    assert read_drift_metrics(spark, ref, table, "x", bins=5).count() == 8
    with _pytest.raises(ValueError, match="bins=5"):
        read_drift_metrics(spark, ref, table, "x", bins=10)
    shifted = spark.createDataFrame(
        [(float(i),) for i in range(60)], "x double"
    )
    with _pytest.raises(ValueError, match="pinned"):
        read_drift_metrics(spark, shifted, table, "x", bins=5)


def test_drift_reader_before_first_generation(spark, tmp_path):
    """ADVICE r14: reading a drift table whose sink has not committed
    any generation yet must return zero current counts (the documented
    no-data-yet contract), not an opaque path-not-found error."""
    from unimib_simpss_spark.streaming.sinks import read_drift_metrics

    ref = spark.createDataFrame([(float(i),) for i in range(50)], "x double")
    rows = {
        (r.metric, r.bin): (r.ref_n, r.cur_n)
        for r in read_drift_metrics(
            spark, ref, str(tmp_path / "never_written"), "x", bins=5
        ).collect()
    }
    assert all(cur_n == 0 for _, cur_n in rows.values())
    assert rows[("bin", 0)][0] == 10  # reference side still counted


def test_streaming_drift_q_matches_batch_prefix(spark, tmp_path):
    """The equi-depth drift sink's accumulated bin table must yield
    EXACTLY the rows the batch quantile_drift emits over the same
    stream prefix (bin counts are additive; the sink pins the edges
    the batch operator derives from the reference)."""
    import json as _json
    import os
    import time

    from unimib_simpss_spark.operators.validation import (
        quantile_drift,
        quantile_edges,
    )
    from unimib_simpss_spark.streaming.sinks import (
        foreach_batch_drift_q,
        read_drift_q_metrics,
    )

    ref = spark.createDataFrame(
        [(float(i),) for i in range(1, 51)], "x double"
    )
    edges = quantile_edges(ref, "x", 5)
    rows_b1 = [{"x": 3.0}, {"x": 17.5}, {"x": 44.0}, {"x": None}]
    rows_b2 = [{"x": -5.0}, {"x": 99.0}, {"x": 17.5}]  # beyond-edge rows
    logdir = tmp_path / "vals"
    logdir.mkdir()
    (logdir / "a.json").write_text(
        "\n".join(_json.dumps(r) for r in rows_b1) + "\n"
    )
    t = time.time()
    os.utime(logdir / "a.json", (t, t))
    (logdir / "b.json").write_text(
        "\n".join(_json.dumps(r) for r in rows_b2) + "\n"
    )
    os.utime(logdir / "b.json", (t + 4, t + 4))
    stream = (
        spark.readStream.schema("x double")
        .option("maxFilesPerTrigger", 1)
        .json(str(logdir))
    )
    table = str(tmp_path / "qdrift_bins")
    q = (
        stream.writeStream.foreachBatch(
            foreach_batch_drift_q(table, "x", edges)
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    got = sorted(
        (r.metric, r.bin, r.ref_n, r.cur_n, r.value)
        for r in read_drift_q_metrics(spark, ref, table, "x", q=5).collect()
    )
    cur = spark.createDataFrame(
        [(r["x"],) for r in rows_b1 + rows_b2], "x double"
    )
    want = sorted(
        (r.metric, r.bin, r.ref_n, r.cur_n, r.value)
        for r in quantile_drift(ref, cur, "x", q=5).collect()
    )
    assert got == want
    # below-first-edge and beyond-last-edge rows landed in the edge bins
    by_bin = {b: c for m, b, _, c, _ in got if m == "bin"}
    assert by_bin[0] >= 2 and by_bin[4] >= 1


def test_streaming_drift_q_loud_failures(spark, tmp_path):
    """Mismatched pins raise; a never-written table reads as all-zero
    current counts (the documented 'no data yet' contract)."""
    from unimib_simpss_spark.streaming.sinks import (
        foreach_batch_drift_q,
        read_drift_q_metrics,
    )

    ref = spark.createDataFrame(
        [(float(i),) for i in range(1, 51)], "x double"
    )
    # never-written table: zero current counts, no error
    empty = read_drift_q_metrics(
        spark, ref, str(tmp_path / "nope"), "x", q=5
    ).collect()
    assert all(r.cur_n == 0 for r in empty if r.metric == "bin")
    # write one batch under q=5 edges, then read back wrong
    table = str(tmp_path / "qd")
    fold = foreach_batch_drift_q(table, "x", [10.0, 20.0, 30.0, 40.0])
    fold(spark.createDataFrame([(12.0,)], "x double"), 0)
    with pytest.raises(ValueError, match="q="):
        read_drift_q_metrics(spark, ref, table, "x", q=4)
    drifted_ref = spark.createDataFrame(
        [(float(i) * 2,) for i in range(1, 51)], "x double"
    )
    with pytest.raises(ValueError, match="different edge frame"):
        read_drift_q_metrics(spark, drifted_ref, table, "x", q=5)
    with pytest.raises(ValueError, match="at least one edge"):
        foreach_batch_drift_q(str(tmp_path / "x"), "x", [])


def test_streaming_drift_q_published_edges_read_path(spark, tmp_path):
    """A sink pinned with PUBLISHED (sketch-approximate) edges — which
    an exact re-derivation can never reproduce — must be readable by
    passing the same published edges to the reader (review finding:
    without ref_edges the KLL-pinned table was permanently
    unreadable). Parity vs batch quantile_drift under the same pin."""
    from unimib_simpss_spark.operators.validation import quantile_drift
    from unimib_simpss_spark.streaming.sinks import (
        foreach_batch_drift_q,
        read_drift_q_metrics,
    )

    ref = spark.createDataFrame(
        [(float(i),) for i in range(1, 51)], "x double"
    )
    # "published" edges deliberately off the exact deciles (what a KLL
    # publish produces)
    edges = [11.0, 19.0, 31.0, 41.0]
    table = str(tmp_path / "qd_pub")
    fold = foreach_batch_drift_q(table, "x", iter(edges))  # iterator ok
    rows = [(3.0,), (17.5,), (44.0,), (99.0,)]
    fold(spark.createDataFrame(rows, "x double"), 0)
    # exact re-derivation mismatches loudly...
    with pytest.raises(ValueError, match="different edge frame"):
        read_drift_q_metrics(spark, ref, table, "x", q=5)
    # ...the published pin reads, and matches batch under the same pin
    got = sorted(
        map(
            tuple,
            read_drift_q_metrics(
                spark, ref, table, "x", q=5, ref_edges=edges
            ).collect(),
        )
    )
    cur = spark.createDataFrame(rows, "x double")
    want = sorted(
        map(
            tuple,
            quantile_drift(ref, cur, "x", q=5, ref_edges=edges).collect(),
        )
    )
    assert got == want


def test_streaming_ldiv_matches_batch_prefix(spark, tmp_path):
    """The privacy-audit sink's accumulated (quasi, sensitive) cell
    table must yield EXACTLY the rows the batch ldiversity_groups
    emits over the same stream prefix (cell counts are additive; the
    reader replays them through ldiversity_from_cell, the shared
    count-preserving arithmetic)."""
    import json as _json
    import os
    import time

    from unimib_simpss_spark.functions.privacy import ldiversity_groups
    from unimib_simpss_spark.streaming.sinks import (
        foreach_batch_ldiv,
        read_ldiv_metrics,
    )

    rows_b1 = [
        {"nat": 1, "seg": "X"}, {"nat": 1, "seg": "X"},
        {"nat": 1, "seg": "Y"}, {"nat": 2, "seg": "X"},
        {"nat": None, "seg": "X"}, {"nat": 2, "seg": None},
    ]
    rows_b2 = [
        {"nat": 1, "seg": "Z"}, {"nat": 2, "seg": "Y"},
        {"nat": 2, "seg": "Y"}, {"nat": 1, "seg": "X"},
    ]
    logdir = tmp_path / "vals"
    logdir.mkdir()
    (logdir / "a.json").write_text(
        "\n".join(_json.dumps(r) for r in rows_b1) + "\n"
    )
    t = time.time()
    os.utime(logdir / "a.json", (t, t))
    (logdir / "b.json").write_text(
        "\n".join(_json.dumps(r) for r in rows_b2) + "\n"
    )
    os.utime(logdir / "b.json", (t + 4, t + 4))
    stream = (
        spark.readStream.schema("nat int, seg string")
        .option("maxFilesPerTrigger", 1)
        .json(str(logdir))
    )
    table = str(tmp_path / "ldiv_cells")
    q = (
        stream.writeStream.foreachBatch(
            foreach_batch_ldiv(table, ("nat",), "seg")
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    got = sorted(
        map(
            tuple,
            read_ldiv_metrics(
                spark, table, ("nat",), "seg", l_min=2, t_max=0.3
            ).collect(),
        )
    )
    batch = spark.createDataFrame(
        [(r["nat"], r["seg"]) for r in rows_b1 + rows_b2],
        "nat int, seg string",
    )
    want = sorted(
        map(
            tuple,
            ldiversity_groups(
                batch, ["nat"], "seg", l_min=2, t_max=0.3
            ).collect(),
        )
    )
    assert got == want and len(got) == 2
    # never-written table raises the documented descriptive error
    with pytest.raises(ValueError, match="no privacy-audit generation"):
        read_ldiv_metrics(spark, str(tmp_path / "nope"), ("nat",), "seg")


def test_streaming_drift_q_by_matches_batch_prefix(spark, tmp_path):
    """The per-group equi-depth sink's accumulated (group, bin) table
    must yield EXACTLY the rows batch quantile_drift_by emits over the
    same stream prefix — completing the drift matrix's streaming half
    ({corpus, per-group} x {equal-width, equi-depth} + categorical)."""
    import json as _json
    import os
    import time

    from unimib_simpss_spark.operators.validation import (
        quantile_drift_by,
        quantile_edges,
    )
    from unimib_simpss_spark.streaming.sinks import (
        foreach_batch_drift_q_by,
        read_drift_q_metrics_by,
    )

    ref = spark.createDataFrame(
        [("a", float(i)) for i in range(1, 41)]
        + [("b", float(i * 2)) for i in range(1, 21)],
        "g string, x double",
    )
    edges = {
        g: quantile_edges(ref.where(F.col("g") == g), "x", 4)
        for g in ("a", "b")
    }
    rows_b1 = [
        {"g": "a", "x": 3.0}, {"g": "a", "x": 17.5},
        {"g": "b", "x": 44.0}, {"g": "a", "x": None},
        {"g": None, "x": 5.0}, {"g": "zzz", "x": 7.0},  # unpinned drops
    ]
    rows_b2 = [
        {"g": "a", "x": -5.0}, {"g": "b", "x": 99.0},
        {"g": "a", "x": 17.5},
    ]
    logdir = tmp_path / "vals"
    logdir.mkdir()
    (logdir / "a.json").write_text(
        "\n".join(_json.dumps(r) for r in rows_b1) + "\n"
    )
    t = time.time()
    os.utime(logdir / "a.json", (t, t))
    (logdir / "b.json").write_text(
        "\n".join(_json.dumps(r) for r in rows_b2) + "\n"
    )
    os.utime(logdir / "b.json", (t + 4, t + 4))
    stream = (
        spark.readStream.schema("g string, x double")
        .option("maxFilesPerTrigger", 1)
        .json(str(logdir))
    )
    table = str(tmp_path / "qdby_bins")
    q = (
        stream.writeStream.foreachBatch(
            foreach_batch_drift_q_by(table, "x", "g", edges)
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    got = sorted(
        map(
            tuple,
            read_drift_q_metrics_by(
                spark, ref, table, "x", "g", q=4
            ).collect(),
        )
    )
    # batch twin over the pinned-group rows only (zzz/None drop)
    cur = spark.createDataFrame(
        [
            (r["g"], r["x"])
            for r in rows_b1 + rows_b2
            if r["g"] in ("a", "b")
        ],
        "g string, x double",
    )
    want = sorted(
        map(tuple, quantile_drift_by(ref, cur, "x", "g", q=4).collect())
    )
    assert got == want
    # loud failures: wrong q before any scan; drifted reference pin
    with pytest.raises(ValueError, match="q=4"):
        read_drift_q_metrics_by(spark, ref, table, "x", "g", q=5)
    drifted = ref.select("g", (F.col("x") * 3).alias("x"))
    with pytest.raises(ValueError, match="different edge frame"):
        read_drift_q_metrics_by(spark, drifted, table, "x", "g", q=4)
    # published-pin read path (sketch-published edges)
    got2 = sorted(
        map(
            tuple,
            read_drift_q_metrics_by(
                spark, ref, table, "x", "g", q=4, ref_edges=edges
            ).collect(),
        )
    )
    assert got2 == want
    with pytest.raises(ValueError, match="share one q"):
        foreach_batch_drift_q_by(
            str(tmp_path / "x"), "x", "g", {"a": [1.0], "b": [1.0, 2.0]}
        )


def test_streaming_drift_q_by_conflicting_pins_raise(spark, tmp_path):
    """A re-pinned sink leaves conflicting (grp, pin) row sets; the
    reader must refuse instead of double-counting whichever pin the
    dict collapse kept (review r15 pass 2 — the equal-width reader's
    guard, reintroduced here)."""
    from unimib_simpss_spark.streaming.sinks import (
        foreach_batch_drift_q_by,
        read_drift_q_metrics_by,
    )

    table = str(tmp_path / "qdby")
    foreach_batch_drift_q_by(table, "x", "g", {"a": [10.0, 20.0]})(
        spark.createDataFrame([("a", 12.0)], "g string, x double"), 0
    )
    foreach_batch_drift_q_by(table, "x", "g", {"a": [11.0, 21.0]})(
        spark.createDataFrame([("a", 12.0)], "g string, x double"), 1
    )
    ref = spark.createDataFrame(
        [("a", float(i)) for i in range(1, 31)], "g string, x double"
    )
    with pytest.raises(ValueError, match="conflicting edge-frame pins"):
        read_drift_q_metrics_by(
            spark, ref, table, "x", "g", q=3,
            ref_edges={"a": [10.0, 20.0]},
        )


def test_pinned_group_dicts_require_str_keys(spark, tmp_path):
    """Stream rows stringify groups with Spark's cast('string');
    a Python-native dict key would be matched via str(), which can
    disagree (str(True) vs 'true') and silently pin groups no row
    ever hits. All three dict-pinned entry points must refuse
    non-str keys up front (advice r15)."""
    from unimib_simpss_spark.streaming.sinks import (
        foreach_batch_drift_by,
        foreach_batch_drift_q_by,
        read_drift_q_metrics_by,
    )

    with pytest.raises(TypeError, match="non-str keys"):
        foreach_batch_drift_q_by(
            str(tmp_path / "t1"), "x", "g", {True: [1.0, 2.0]}
        )
    with pytest.raises(TypeError, match="non-str keys"):
        foreach_batch_drift_by(
            str(tmp_path / "t2"), "x", "g", {1: (0.0, 10.0)}
        )
    ref = spark.createDataFrame(
        [("a", float(i)) for i in range(1, 31)], "g string, x double"
    )
    with pytest.raises(TypeError, match="non-str keys"):
        read_drift_q_metrics_by(
            spark, ref, str(tmp_path / "t3"), "x", "g", q=3,
            ref_edges={2.5: [10.0, 20.0]},
        )


def test_streaming_lm_counts_match_batch_reference_model(spark, tmp_path):
    """The streaming n-gram LM twin: one additive (slot, key) sink
    accretes the corpus model from the stream; read_lm_scores must
    score a probe set ROW-IDENTICALLY to the batch reference-trained
    mode over the same corpus (it replays the same scoring core
    against the streamed counts). Covers on-support, fully-unseen
    (floor), and partially-seen probes plus a NULL-text corpus row."""
    import json as _json
    import os
    import time

    from unimib_simpss_spark.operators import curation as C
    from unimib_simpss_spark.streaming.sinks import (
        foreach_batch_lm_counts,
        read_lm_scores,
    )

    corpus_rows = [
        {"doc_id": 0, "text": "the cat sat on the mat"},
        {"doc_id": 1, "text": "the cat sat on the mat"},
        {"doc_id": 2, "text": "the cat sat on the mat"},
        {"doc_id": 10, "text": "a dog ran fast today"},
        {"doc_id": 11, "text": None},  # dropped identically both sides
    ]
    logdir = tmp_path / "lm_in"
    logdir.mkdir()
    (logdir / "a.json").write_text(
        "\n".join(_json.dumps(r) for r in corpus_rows[:2]) + "\n"
    )
    t = time.time()
    os.utime(logdir / "a.json", (t, t))
    (logdir / "b.json").write_text(
        "\n".join(_json.dumps(r) for r in corpus_rows[2:]) + "\n"
    )
    os.utime(logdir / "b.json", (t + 4, t + 4))
    stream = (
        spark.readStream.schema("doc_id BIGINT, text STRING")
        .option("maxFilesPerTrigger", 1)
        .json(str(logdir))
    )
    table = str(tmp_path / "lm_counts")
    q = (
        stream.writeStream.foreachBatch(foreach_batch_lm_counts(table))
        .option("checkpointLocation", str(tmp_path / "lm_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    probe = spark.createDataFrame(
        [
            (0, "the cat sat on the mat"),  # fully on-support
            (1, "zz qq ww yy xx"),          # fully unseen -> the floor
            (2, "the cat ran away now"),    # partially seen
        ],
        "doc_id long, text string",
    )
    got = sorted(map(tuple, read_lm_scores(spark, table, probe).collect()))
    ref = spark.createDataFrame(
        [(r["doc_id"], r["text"]) for r in corpus_rows],
        "doc_id long, text string",
    )
    want = sorted(
        map(tuple, C.trigram_lm_scores(probe, ref=ref).collect())
    )
    assert got == want and len(got) == 3
    # replay protection: a stale batch id must be a no-op
    stale = spark.createDataFrame([("the the the",)], "text string")
    foreach_batch_lm_counts(table)(stale, 0)
    got2 = sorted(map(tuple, read_lm_scores(spark, table, probe).collect()))
    assert got2 == got
    # descriptive error before the first generation
    with pytest.raises(ValueError, match="no LM-count generation"):
        read_lm_scores(spark, str(tmp_path / "lm_nope"), probe)
    # a committed-but-EMPTY model (NULL-text-only prefix) must raise,
    # not emit silent all-NULL scores (review r17 pass 3)
    empty_table = str(tmp_path / "lm_empty")
    nulls = spark.createDataFrame([(None,)], "text string")
    foreach_batch_lm_counts(empty_table)(nulls, 0)
    with pytest.raises(ValueError, match="no unigram mass"):
        read_lm_scores(spark, empty_table, probe)


def test_streaming_release_manifest_matches_batch_writer(spark, tmp_path):
    """The release-manifest streaming twin: the manifest accreted from
    the stream (additive per-shard digests, mod-Mersenne folding) must
    be BIT-IDENTICAL to write_corpus_release's manifest over the same
    rows — shard membership, counts, token mass, and content digest.
    Also pins replay protection and the n_shards fork guard."""
    import json as _json
    import os
    import time

    from unimib_simpss_spark.sources.lakehouse import write_corpus_release
    from unimib_simpss_spark.streaming.sinks import (
        foreach_batch_release_manifest,
        read_release_manifest,
    )

    rows = [
        {"doc_id": i, "text": f"doc number {i} body", "n": 10 + i}
        for i in range(40)
    ]
    logdir = tmp_path / "rel_in"
    logdir.mkdir()
    (logdir / "a.json").write_text(
        "\n".join(_json.dumps(r) for r in rows[:25]) + "\n"
    )
    t = time.time()
    os.utime(logdir / "a.json", (t, t))
    (logdir / "b.json").write_text(
        "\n".join(_json.dumps(r) for r in rows[25:]) + "\n"
    )
    os.utime(logdir / "b.json", (t + 4, t + 4))
    stream = (
        spark.readStream.schema("doc_id BIGINT, text STRING, n BIGINT")
        .option("maxFilesPerTrigger", 1)
        .json(str(logdir))
    )
    table = str(tmp_path / "rel_manifest")
    q = (
        stream.writeStream.foreachBatch(
            foreach_batch_release_manifest(
                table, key="doc_id", n_shards=4, token_col="n"
            )
        )
        .option("checkpointLocation", str(tmp_path / "rel_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(map(tuple, read_release_manifest(spark, table).collect()))
    # batch twin over the same rows, same column set
    docs = spark.createDataFrame(
        [(r["doc_id"], r["text"], r["n"]) for r in rows],
        "doc_id long, text string, n long",
    )
    man = write_corpus_release(
        docs, str(tmp_path / "rel_batch"), n_shards=4, key="doc_id",
        token_col="n",
    )
    # compare on the four DATA columns (the batch manifest additionally
    # records its token_col metadata; the stream table its n_shards)
    want = sorted(
        map(
            tuple,
            man.select("shard", "n_rows", "n_tokens", "digest").collect(),
        )
    )
    assert got == want and len(got) == 4
    # replayed batch id: a no-op (additive fold must not double-count)
    stale = docs.limit(3)
    foreach_batch_release_manifest(table, "doc_id", 4, "n")(stale, 0)
    got2 = sorted(map(tuple, read_release_manifest(spark, table).collect()))
    assert got2 == got
    # a differently-sharded fold is refused, not silently corrupting
    with pytest.raises(ValueError, match="n_shards=8"):
        foreach_batch_release_manifest(table, "doc_id", 8, "n")(docs, 99)
    # ... and so is a different token_col (sum() skips NULLs, so the
    # mass would silently freeze while rows/digests kept growing)
    with pytest.raises(ValueError, match="token_col"):
        foreach_batch_release_manifest(table, "doc_id", 4, None)(docs, 99)
    # descriptive error before the first generation
    with pytest.raises(ValueError, match="no release-manifest"):
        read_release_manifest(spark, str(tmp_path / "rel_nope"))


def test_streaming_ppl_admission_matches_batch_gate(spark, tmp_path):
    """The CCNet admission gate in streaming form (q62's ppl stage as
    a scrub-at-ingest twin): candidates scored under the stream-
    accreted LM artifact, bucketed by PUBLISHED tertile edges (pure
    value comparisons — at admission time no percentile machinery
    runs; the edges pin at release like every other reference
    artifact), tail refused. The admitted id set must equal the batch
    gate's (reference-trained scores + the same edge rule), and an
    unscorable sub-3-token candidate must fall out of BOTH sides by
    carrying no score row."""
    import json as _json

    from unimib_simpss_spark.operators import curation as C
    from unimib_simpss_spark.streaming.sinks import (
        foreach_batch_lm_counts,
        read_lm_scores,
    )

    corpus_rows = [
        {"doc_id": 0, "text": "the cat sat on the mat"},
        {"doc_id": 1, "text": "the cat sat on the mat"},
        {"doc_id": 2, "text": "a dog ran fast today"},
    ]
    logdir = tmp_path / "ppl_in"
    logdir.mkdir()
    (logdir / "a.json").write_text(
        "\n".join(_json.dumps(r) for r in corpus_rows) + "\n"
    )
    stream = (
        spark.readStream.schema("doc_id BIGINT, text STRING")
        .json(str(logdir))
    )
    table = str(tmp_path / "ppl_counts")
    q = (
        stream.writeStream.foreachBatch(foreach_batch_lm_counts(table))
        .option("checkpointLocation", str(tmp_path / "ppl_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    cands = spark.createDataFrame(
        [
            (0, "the cat sat on the mat"),   # on-support -> head-ish
            (1, "the cat ran away now"),     # partially seen
            (2, "a dog ran fast today"),     # on-support
            (3, "zz qq ww yy xx"),           # fully unseen -> floor
            (4, "zz qq ww vv uu tt"),        # unseen, longer
            (5, "too short"),                # < 3 tokens: unscorable
        ],
        "doc_id long, text string",
    )
    ref = spark.createDataFrame(
        [(r["doc_id"], r["text"]) for r in corpus_rows],
        "doc_id long, text string",
    )
    # release-time pin: tertile edges off the BATCH reference-trained
    # scores (the q62 percentile pass, run once at publish)
    batch = C.trigram_lm_scores(cands, ref=ref)
    p1 = 1.0 / 3.0
    e1 = batch.agg(
        F.expr(
            f"percentile_disc({p1!r}) WITHIN GROUP (ORDER BY score)"
        ).alias("e1")
    ).collect()[0]["e1"]
    want = sorted(
        r["doc_id"]
        for r in batch.where(F.col("score") > e1).select("doc_id").collect()
    )
    # streaming side: score under the accreted artifact, admit by the
    # published edge — a map-side filter, no rank machinery
    got = sorted(
        r["doc_id"]
        for r in read_lm_scores(spark, table, cands)
        .where(F.col("score") > e1)
        .select("doc_id")
        .collect()
    )
    assert got == want
    # the gate actually cuts: a tail exists, and the unscorable
    # candidate is refused on both sides (no score row anywhere)
    assert 0 < len(want) < 5
    assert 5 not in set(want)
    assert batch.where(F.col("doc_id") == 5).count() == 0


def test_streaming_drift_suite_matches_batch_prefix(spark, tmp_path):
    """The FUSED drift-gate streaming twin: one sink folds the 4-slot
    cell relation; the reader replays ALL FOUR gates (corpus/per-group
    × equal-width/equi-depth) from storage + the pinned reference
    artifacts, row-identical to batch drift_gate_suite over the same
    prefix in string group space. Unpinned-group rows count in the
    corpus gates and drop from the per-group ones (the batch rule)."""
    import json as _json
    import os
    import time

    from unimib_simpss_spark.operators.caching import release_intermediate
    from unimib_simpss_spark.operators.validation import drift_gate_suite
    from unimib_simpss_spark.streaming.sinks import (
        drift_suite_pin,
        foreach_batch_drift_suite,
        read_drift_suite_metrics,
    )

    ref = spark.createDataFrame(
        [("a", float(i)) for i in range(1, 41)]
        + [("b", float(i * 2)) for i in range(1, 21)]
        + [(None, 5.0), (None, 75.0)],  # NULL groups: corpus-only
        "g string, x double",
    )
    rows_b1 = [
        {"g": "a", "x": 3.0}, {"g": "a", "x": 17.5},
        {"g": "b", "x": 44.0}, {"g": "a", "x": None},
        {"g": None, "x": 5.0}, {"g": "zzz", "x": 7.0},  # corpus-only
    ]
    rows_b2 = [
        {"g": "a", "x": -5.0}, {"g": "b", "x": 99.0},
        {"g": "a", "x": 17.5}, {"g": None, "x": 61.0},
    ]
    # publish the reference artifacts from ONE batch-suite run
    probe = spark.createDataFrame([("a", 1.0)], "g string, x double")
    s_ref = drift_gate_suite(ref, probe, "x", "g", bins=5, q=4)
    stats_path = str(tmp_path / "stats.parquet")
    cells_path = str(tmp_path / "cells.parquet")
    s_ref["ref_stats"].write.parquet(stats_path)
    s_ref["ref_cells"].write.parquet(cells_path)
    for c in s_ref["caches"]:
        release_intermediate(c)
    pin = drift_suite_pin(spark.read.parquet(stats_path))
    logdir = tmp_path / "vals"
    logdir.mkdir()
    (logdir / "a.json").write_text(
        "\n".join(_json.dumps(r) for r in rows_b1) + "\n"
    )
    t = time.time()
    os.utime(logdir / "a.json", (t, t))
    (logdir / "b.json").write_text(
        "\n".join(_json.dumps(r) for r in rows_b2) + "\n"
    )
    os.utime(logdir / "b.json", (t + 4, t + 4))
    stream = (
        spark.readStream.schema("g string, x double")
        .option("maxFilesPerTrigger", 1)
        .json(str(logdir))
    )
    table = str(tmp_path / "suite")
    qr = (
        stream.writeStream.foreachBatch(
            foreach_batch_drift_suite(table, "x", "g", pin, bins=5, q=4)
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    qr.awaitTermination(120)
    got = read_drift_suite_metrics(
        spark,
        table,
        "g",
        pin,
        spark.read.parquet(cells_path),
        bins=5,
        q=4,
    )
    cur = spark.createDataFrame(
        [(r["g"], r["x"]) for r in rows_b1 + rows_b2],
        "g string, x double",
    )
    want = drift_gate_suite(ref, cur, "x", "g", bins=5, q=4)
    for k in ("ew", "q", "ew_by", "q_by"):
        g = sorted(map(tuple, got[k].collect()))
        w = sorted(map(tuple, want[k].collect()))
        assert g == w, (k, g, w)
    for c in want["caches"]:
        release_intermediate(c)
    # mismatched pin rejected before any metric math
    other = dict(pin, lo=pin["lo"] - 1.0)
    with pytest.raises(ValueError, match="different"):
        read_drift_suite_metrics(
            spark, table, "g", other,
            spark.read.parquet(cells_path), bins=5, q=4,
        )
    # ADVICE r16: group columns bind BY NAME — a column-reordered or
    # renamed published artifact must not misbind positionally
    assert drift_suite_pin(
        spark.read.parquet(stats_path).select("edges", "hi", "lo", "g")
    ) == pin
    assert drift_suite_pin(
        spark.read.parquet(stats_path).withColumnRenamed("g", "grp2"),
        group_col="grp2",
    ) == pin
    with pytest.raises(ValueError, match="missing published column"):
        drift_suite_pin(spark.read.parquet(stats_path).drop("lo"))
    with pytest.raises(ValueError, match="exactly one group column"):
        drift_suite_pin(
            spark.read.parquet(stats_path).withColumn(
                "extra", F.lit(1)
            )
        )
    with pytest.raises(ValueError, match="has no 'g' column"):
        read_drift_suite_metrics(
            spark, table, "g", pin,
            spark.read.parquet(cells_path).withColumnRenamed("g", "h"),
            bins=5, q=4,
        )
    # wrong config rejected too
    with pytest.raises(ValueError, match="q-1"):
        read_drift_suite_metrics(
            spark, table, "g", pin,
            spark.read.parquet(cells_path), bins=5, q=7,
        )
    # non-str pin groups refused (the hardened key contract)
    with pytest.raises(TypeError, match="non-str keys"):
        foreach_batch_drift_suite(
            str(tmp_path / "t2"), "x", "g",
            dict(pin, groups={1: (0.0, 1.0, [0.2, 0.5, 0.8])}),
            bins=5, q=4,
        )


# ------------------------------- recorded generation schema, pinned reads
_SWAP_SINKS = ("upsert", "additive", "register", "scd2", "manifest")


def _swap_sink_fold(spark, name, table, i):
    """Fold batch ``i`` into ``table`` through one of the five sinks
    that commit by generation swap."""
    from unimib_simpss_spark.streaming import sinks as S

    kv = spark.createDataFrame(
        [(f"k{i}", float(i), f"g{i % 2}"), ("kz", 0.5 + i, "g0")],
        "k string, v double, grp string",
    )
    if name == "upsert":
        S.upsert_keyed_parquet(kv, table, ("k",), partition_col="grp")
    elif name == "additive":
        S.additive_merge_parquet(kv, table, ("k",), {"sum_v": "v"}, i)
    elif name == "register":
        S.register_merge_parquet(kv, table, ("grp",), "k", batch_id=i)
    elif name == "scd2":
        upd = kv.select(
            "k",
            F.lit(i).cast("long").alias("event_id"),
            F.col("v").alias("value"),
            F.timestamp_seconds(F.lit(i)).alias("ts"),
        )
        S.scd2_merge_parquet(upd, table, ("k",), "ts", "event_id", "value", i)
    else:
        S.foreach_batch_release_manifest(table, "k", 4)(kv, i)


@pytest.mark.parametrize("name", _SWAP_SINKS)
def test_recorded_schema_read_equals_inferred_read(spark, tmp_path, name):
    """Every swapping sink records its generation's schema; the
    recorded read has the same schema and rows as Spark's inference
    over the same directory, and it launches no inference job."""
    import os

    from unimib_simpss_spark.streaming.sinks import (
        _SCHEMA_FILE,
        _current_generation,
        _read_generation,
    )

    table = str(tmp_path / name)
    for i in range(2):  # the second fold merges through a recorded read
        _swap_sink_fold(spark, name, table, i)
    gen, _ = _current_generation(table)
    assert os.path.exists(os.path.join(gen, _SCHEMA_FILE))
    sc = spark.sparkContext
    props = ("spark.jobGroup.id", "spark.job.description")
    saved = {k: sc.getLocalProperty(k) for k in props}
    sc.setJobGroup("recorded-read", "recorded-read")
    try:
        got = _read_generation(spark, table)
        jobs = sc.statusTracker().getJobIdsForGroup("recorded-read")
    finally:
        for k, v in saved.items():
            sc.setLocalProperty(k, v)
    assert jobs == []
    want = spark.read.parquet(gen)
    assert got.schema == want.schema
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.collect())
    )


def test_keyed_read_returns_pre_swap_rows_after_a_swap(spark, tmp_path):
    """A planned keyed read is pinned to the generation it resolved: an
    upsert that swaps the table before ``collect()`` must neither make
    the read fail nor change its rows."""
    from unimib_simpss_spark.streaming.sinks import (
        read_keyed_parquet,
        upsert_keyed_parquet,
    )

    table = str(tmp_path / "keyed")
    mk = lambda rows: spark.createDataFrame(  # noqa: E731
        rows, "k string, v double, grp string"
    )
    keys = ("grp", "k")
    upsert_keyed_parquet(
        mk([("a", 1.0, "g1"), ("b", 2.0, "g2")]), table, keys, "grp"
    )
    pinned = read_keyed_parquet(spark, table).where(F.col("v") > 0)
    upsert_keyed_parquet(
        mk([("a", 5.0, "g1"), ("c", 3.0, "g1")]), table, keys, "grp"
    )
    assert sorted(map(tuple, pinned.collect())) == [
        ("a", 1.0, "g1"),
        ("b", 2.0, "g2"),
    ]
    assert sorted(map(tuple, read_keyed_parquet(spark, table).collect())) == [
        ("a", 5.0, "g1"),
        ("b", 2.0, "g2"),
        ("c", 3.0, "g1"),
    ]
    with pytest.raises(ValueError, match="no keyed table"):
        read_keyed_parquet(spark, str(tmp_path / "nope"))


def test_numeric_looking_string_partition_reads_back_as_string(spark, tmp_path):
    """The recorded schema keeps the written type of a partition
    column: string values that look numeric stay strings (Spark's
    inference would read them as int)."""
    from unimib_simpss_spark.streaming.sinks import (
        read_keyed_parquet,
        upsert_keyed_parquet,
    )

    table = str(tmp_path / "keyed")
    batch = spark.createDataFrame(
        [("a", 1.0, "07"), ("b", 2.0, "10")], "k string, v double, grp string"
    )
    upsert_keyed_parquet(batch, table, ("grp", "k"), partition_col="grp")
    upsert_keyed_parquet(batch, table, ("grp", "k"), partition_col="grp")
    df = read_keyed_parquet(spark, table)
    assert df.schema["grp"].dataType.simpleString() == "string"
    assert sorted(map(tuple, df.collect())) == [
        ("a", 1.0, "07"),
        ("b", 2.0, "10"),
    ]


def test_reads_without_a_schema_record_fall_back_to_inference(spark, tmp_path):
    """A legacy plain-directory table and a generation with no schema
    record (written before records existed) both still read, and the
    next upsert folds them and records its own generation."""
    import os

    from unimib_simpss_spark.streaming.sinks import (
        _SCHEMA_FILE,
        _current_generation,
        read_keyed_parquet,
        upsert_keyed_parquet,
    )

    mk = lambda rows: spark.createDataFrame(  # noqa: E731
        rows, "k string, v double"
    )
    legacy = str(tmp_path / "legacy")
    mk([("a", 1.0)]).write.parquet(legacy)
    assert [tuple(r) for r in read_keyed_parquet(spark, legacy).collect()] == [
        ("a", 1.0)
    ]
    upsert_keyed_parquet(mk([("b", 2.0)]), legacy, ("k",))
    assert os.path.islink(legacy)
    assert sorted(map(tuple, read_keyed_parquet(spark, legacy).collect())) == [
        ("a", 1.0),
        ("b", 2.0),
    ]

    table = str(tmp_path / "unrecorded")
    upsert_keyed_parquet(mk([("a", 1.0)]), table, ("k",))
    gen, _ = _current_generation(table)
    os.remove(os.path.join(gen, _SCHEMA_FILE))
    assert [tuple(r) for r in read_keyed_parquet(spark, table).collect()] == [
        ("a", 1.0)
    ]
    upsert_keyed_parquet(mk([("a", 3.0)]), table, ("k",))
    gen, _ = _current_generation(table)
    assert os.path.exists(os.path.join(gen, _SCHEMA_FILE))
    assert [tuple(r) for r in read_keyed_parquet(spark, table).collect()] == [
        ("a", 3.0)
    ]
