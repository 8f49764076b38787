"""Product-quantization ANN and gap sessionization (batch + stream).

PQ invariants: the Arrow encode path emits exactly the codes of the
expression path; trained codebooks are deterministic; with overscan
covering the whole corpus the refine stage makes PQ top-k equal brute
force; trained codebooks recover cluster structure.  Sessionization:
boundary semantics (<= gap stays, > gap splits), and the streaming
fold emits exactly the batch sessions as they close."""

from __future__ import annotations

import json

from pyspark.sql import functions as F

from nyc_crash_mapper_etl_script_spark.operators.pq import (
    pq_codebooks,
    pq_encode,
    pq_topk,
    pq_train,
)
from nyc_crash_mapper_etl_script_spark.operators.sessionize import sessionize_batch
from nyc_crash_mapper_etl_script_spark.operators.similarity import brute_force_topk

SF_DIR = "/root/testdata/sf0.001"


def _emb(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet")


def test_pq_encode_codes_are_one_based(spark):
    e = _emb(spark)
    books = pq_codebooks(64, 4, 8, seed=42)
    codes = {r["vec_id"]: r["codes"] for r in pq_encode(e, books).collect()}
    # every code is a valid 1-based codebook index
    assert all(1 <= c <= 8 for cs in codes.values() for c in cs)


def test_pq_train_deterministic_and_shapes(spark):
    e = _emb(spark)
    b1 = pq_train(e, dim=64, m=4, ksub=8, sample_size=64, iters=5)
    b2 = pq_train(e, dim=64, m=4, ksub=8, sample_size=64, iters=5)
    assert b1 == b2
    assert len(b1) == 4 and all(len(book) == 8 for book in b1)
    assert all(len(c) == 16 for book in b1 for c in book)


def test_pq_full_overscan_equals_brute_force(spark):
    e = _emb(spark).where(F.col("vec_id") < 60)
    q = e.where(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    books = pq_codebooks(64, 4, 8, seed=42)
    # k * overscan = 60 >= corpus: every vector survives to the exact
    # refine, so the final top-k must equal the brute-force baseline
    pq = pq_topk(e, q, books, k=5, overscan=12).collect()
    bf = brute_force_topk(e, q, k=5).collect()
    key = lambda r: (r["query_id"], r["rank"], r["vec_id"], r["sim"])
    assert sorted(map(key, pq)) == sorted(map(key, bf))


def test_pq_trained_codebooks_recover_clusters(spark):
    # two tight clusters far apart: a trained quantizer encodes
    # members of the same cluster identically in every segment, so
    # PQ top-1 with minimal overscan finds an in-cluster neighbor
    rows = []
    for i in range(40):
        base = 1.0 if i % 2 == 0 else -1.0
        vec = [base + (i % 7) * 1e-3] * 16
        rows.append((i, vec))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    books = pq_train(df, dim=16, m=4, ksub=2, sample_size=40, iters=10)
    codes = {r["vec_id"]: tuple(r["codes"]) for r in pq_encode(df, books).collect()}
    even = {codes[i] for i in range(0, 40, 2)}
    odd = {codes[i] for i in range(1, 40, 2)}
    assert len(even) == 1 and len(odd) == 1 and even != odd
    q = df.where(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    top = pq_topk(df, q, books, k=3, overscan=2).collect()
    for r in top:
        assert r["vec_id"] % 2 == r["query_id"] % 2  # never crosses clusters


def _ts(s: str):
    import datetime

    return datetime.datetime.fromisoformat(s)


def test_sessionize_batch_boundaries(spark):
    rows = [
        # key 1: gap exactly 1800 s stays in-session; 1801 s splits
        (1, _ts("2024-01-01T10:00:00"), 1, 1.0),
        (1, _ts("2024-01-01T10:30:00"), 2, 2.0),
        (1, _ts("2024-01-01T11:00:01"), 3, 4.0),
        # key 2: single event
        (2, _ts("2024-01-01T09:00:00"), 4, 8.0),
    ]
    df = spark.createDataFrame(rows, "k long, ts timestamp, eid long, v double")
    got = {
        (r["k"], r["session_id"]): (
            str(r["session_start"]),
            str(r["session_end"]),
            r["n_events"],
            float(r["total_value"]),
        )
        for r in sessionize_batch(
            df, "k", "ts", gap_seconds=1800, tiebreak_col="eid", value_col="v"
        ).collect()
    }
    assert got == {
        (1, 1): ("2024-01-01 10:00:00", "2024-01-01 10:30:00", 2, 3.0),
        (1, 2): ("2024-01-01 11:00:01", "2024-01-01 11:00:01", 1, 4.0),
        (2, 1): ("2024-01-01 09:00:00", "2024-01-01 09:00:00", 1, 8.0),
    }


def test_sessionize_stream_matches_batch_as_sessions_close(spark, tmp_path_factory):
    from nyc_crash_mapper_etl_script_spark.streaming.sessions import sessionize_stream

    root = tmp_path_factory.mktemp("sessions")
    feed = root / "feed"
    feed.mkdir()
    out = root / "out"
    ckpt = root / "ckpt"

    def write_batch(name, rows):
        with open(feed / name, "w") as f:
            for r in rows:
                f.write(json.dumps(r) + "\n")

    def drain():
        stream = spark.readStream.schema("k long, ts timestamp, v double").json(
            str(feed)
        )
        q = (
            sessionize_stream(
                stream, "k", "ts", gap_seconds=1800, value_col="v",
                watermark_delay="10 minutes",
            )
            .writeStream.format("parquet")
            .option("path", str(out))
            .option("checkpointLocation", str(ckpt))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return sorted(
            (r["key"], str(r["session_start"]), str(r["session_end"]),
             r["n_events"], float(r["total_value"]))
            for r in spark.read.parquet(str(out)).collect()
        )

    write_batch("b1.jsonl", [
        {"k": 1, "ts": "2024-01-01T10:00:00", "v": 1.0},
        {"k": 1, "ts": "2024-01-01T10:10:00", "v": 2.0},
        {"k": 1, "ts": "2024-01-01T11:30:00", "v": 4.0},   # > gap: closes session A
        {"k": 1, "ts": "2024-01-01T12:00:00", "v": 8.0},   # joins open session B
    ])
    # session A closes inside the batch -> emitted now; B stays open
    assert drain() == [
        (1, "2024-01-01 10:00:00", "2024-01-01 10:10:00", 2, 3.0),
    ]

    write_batch("b2.jsonl", [
        {"k": 2, "ts": "2024-01-01T14:00:00", "v": 16.0},
    ])
    drain()  # advances the watermark to 13:50 (> 12:00 + gap pending next batch)

    write_batch("b3.jsonl", [
        {"k": 2, "ts": "2024-01-01T18:00:00", "v": 32.0},  # closes key 2's first session
    ])
    got = drain()
    # key 1's session B drained by event-time timeout; key 2's 14:00
    # session closed by the 18:00 event; 18:00 itself still open
    assert got == [
        (1, "2024-01-01 10:00:00", "2024-01-01 10:10:00", 2, 3.0),
        (1, "2024-01-01 11:30:00", "2024-01-01 12:00:00", 2, 12.0),
        (2, "2024-01-01 14:00:00", "2024-01-01 14:00:00", 1, 16.0),
    ]
