"""Streaming surface + typed dataframe surface tests.

Streaming: availableNow micro-batch ingest into a SegmentStore, windowed
agg vs batch equivalent, stateful sessionize vs the batch operator.
Typed: dataclass round-trip mirroring the reference's 1024-item sanity
check (DfTest.scala:324-381: items(i) == df(i) for all i)."""

import dataclasses
import random
import shutil

import pytest
from pyspark.sql import functions as F

from iodf_spark.operators.sessions import sessionize
from iodf_spark.sources.segments import SegmentStore
from iodf_spark.sources.tables import load_table
from iodf_spark.sources.typed import collect_typed, create_typed_df, schema_for, typed_row
from iodf_spark.streaming.ingest import (
    run_to_memory,
    stream_events,
    stream_ingest_segments,
    stream_sessionize,
    windowed_event_counts,
)


def test_stream_windowed_equals_batch(spark, sf_dir):
    agg = windowed_event_counts(stream_events(spark, sf_dir))
    got = run_to_memory(agg, "t_stream_win", output_mode="complete")
    events = load_table(spark, sf_dir, "events")
    exp = (
        events.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("cnt"), F.round(F.avg("value"), 6).alias("avg_value"))
        .select(F.col("w.start").cast("string").alias("hour_start"), "event_type", "cnt", "avg_value")
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, exp.collect()))


def test_stream_sessionize_equals_batch(spark, sf_dir):
    got = run_to_memory(stream_sessionize(stream_events(spark, sf_dir)), "t_stream_sess")
    exp = sessionize(load_table(spark, sf_dir, "events"))
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, exp.collect()))


def test_stream_sessionize_multibatch_matches_batch(spark, sf_dir, tmp_path):
    """Split events into 3 time-contiguous files and force one micro-batch
    per file (maxFilesPerTrigger=1): sessions crossing batch boundaries get
    provisionally re-emitted in append mode; finalize_sessions must collapse
    them to exactly the batch-operator output (CORRECTNESS_r01 regression)."""
    import glob
    import os

    from iodf_spark.streaming.ingest import finalize_sessions

    events = load_table(spark, sf_dir, "events").select("user_id", "ts")
    lo, hi = events.agg(F.min(F.unix_micros("ts")), F.max(F.unix_micros("ts"))).first()
    cut1, cut2 = lo + (hi - lo) // 3, lo + 2 * (hi - lo) // 3
    src = tmp_path / "src"
    src.mkdir()
    chunks = [
        events.filter(F.unix_micros("ts") <= cut1),
        events.filter((F.unix_micros("ts") > cut1) & (F.unix_micros("ts") <= cut2)),
        events.filter(F.unix_micros("ts") > cut2),
    ]
    for i, ch in enumerate(chunks):
        d = tmp_path / f"chunk{i}"
        ch.coalesce(1).write.parquet(str(d))
        (part,) = glob.glob(str(d / "part-*.parquet"))
        dst = src / f"{i:02d}.parquet"
        os.rename(part, dst)
        os.utime(dst, (1_000_000 + i * 100, 1_000_000 + i * 100))

    raw = (
        spark.readStream.schema("user_id long, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    emitted = run_to_memory(stream_sessionize(raw), "t_sess_multibatch")
    # provisional re-emissions must exist (a crossing session emitted >1x)
    # unless no session crossed a boundary — either way finalize == batch
    got = finalize_sessions(emitted)
    exp = sessionize(events)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, exp.collect()))


def test_stream_ingest_segments(spark, sf_dir, tmp_path):
    store = SegmentStore(str(tmp_path / "sstore"))
    stream_ingest_segments(stream_events(spark, sf_dir), store)
    n_events = load_table(spark, sf_dir, "events").count()
    assert store.total_rows() == n_events
    assert store.open(spark).count() == n_events
    shutil.rmtree(store.path, ignore_errors=True)


@dataclasses.dataclass
class ExampleItem:
    name: str
    quantity: int
    price: float
    big: bool


def test_typed_roundtrip(spark):
    rng = random.Random(42)
    items = [
        ExampleItem(
            name=f"item-{rng.randint(0, 999)}",
            quantity=rng.randint(0, 10**9),
            price=rng.random() * 100,
            big=rng.random() < 0.5,
        )
        for _ in range(256)
    ]
    df = create_typed_df(spark, items)
    # schema fields sorted by name (reference invariant)
    assert [f.name for f in schema_for(ExampleItem).fields] == ["big", "name", "price", "quantity"]
    back = collect_typed(df, ExampleItem)
    assert back == items
    # point row materialization
    assert typed_row(df, ExampleItem, 123) == items[123]
    with pytest.raises(IndexError):
        typed_row(df, ExampleItem, 10_000)


def test_stream_neardup_equals_batch(spark, sf_dir, tmp_path):
    """Incremental LSH pair discovery must equal one-shot batch LSH exactly,
    regardless of micro-batch boundaries — including a crafted corpus with
    near-dup pairs SPLIT across batches and arriving out of id order."""
    from iodf_spark.operators.dedup import minhash_lsh_pairs
    from iodf_spark.streaming.ingest import read_neardup_pairs, stream_neardup_pairs

    base = "the quick brown fox jumps over the lazy dog again and again today"
    rows = []
    for i in range(30):
        rows.append((i, f"{base} variant {i} " + " ".join(f"w{i}x{j}" for j in range(6))))
    # exact-ish pairs across what will land in different files: 100..104
    # duplicate 0..4's text with one token changed
    for i in range(5):
        rows.append((100 + i, f"{base} variant {i} " + " ".join(f"w{i}x{j}" for j in range(5)) + " tail"))
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    batch_pairs = sorted(
        tuple(r) for r in minhash_lsh_pairs(docs, "doc_id", "text", threshold=0.5).collect()
    )
    assert len(batch_pairs) >= 5  # the fixture really produces near-dups
    src = str(tmp_path / "src")
    state = str(tmp_path / "state")
    # descending-id file order: later ids arrive FIRST
    docs.withColumn("_f", (F.col("doc_id") % 3)).repartition(3, "_f").drop("_f") \
        .write.mode("overwrite").parquet(src)
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    stream_neardup_pairs(stream, "doc_id", "text", state, threshold=0.5)
    stream_pairs = sorted(tuple(r) for r in read_neardup_pairs(spark, state).collect())
    assert stream_pairs == batch_pairs


def test_read_neardup_pairs_dedupes_a_retried_append(spark, tmp_path):
    """The pairs sink is at-least-once: a foreachBatch retry after the
    pairs append committed writes the same pairs file again. The reader
    must still return one row per (doc_a, doc_b)."""
    import shutil

    from iodf_spark.streaming.ingest import read_neardup_pairs

    pairs_dir = tmp_path / "state" / "pairs"
    spark.createDataFrame(
        [(1, 7, 0.9), (2, 5, 0.85)], "doc_a long, doc_b long, jaccard double"
    ).coalesce(1).write.parquet(str(pairs_dir))
    (part,) = pairs_dir.glob("part-*.parquet")
    shutil.copy(part, pairs_dir / ("retry-" + part.name))  # the replayed append
    assert spark.read.parquet(str(pairs_dir)).count() == 4
    got = sorted(tuple(r) for r in read_neardup_pairs(spark, str(tmp_path / "state")).collect())
    assert got == [(1, 7, 0.9), (2, 5, 0.85)]


def test_ingest_app_id_is_fused_to_checkpoint_lifetime(tmp_path):
    """Idempotency keys must be scoped by a run identity that lives and
    dies with the checkpoint: same checkpoint -> same identity (replays
    recognized); deleted checkpoint -> NEW identity, so a fresh ingest's
    batch 0 is not silently swallowed as a presumed replay."""
    import shutil

    from iodf_spark.streaming.ingest import _ingest_app_id

    ckpt = str(tmp_path / "ckpt")
    a = _ingest_app_id(ckpt, None)
    assert _ingest_app_id(ckpt, None) == a  # stable across restarts
    shutil.rmtree(ckpt)
    b = _ingest_app_id(ckpt, None)
    assert b != a  # checkpoint reset -> fresh namespace
    assert _ingest_app_id(ckpt, "explicit-app") == "explicit-app"
