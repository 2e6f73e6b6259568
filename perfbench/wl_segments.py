"""segment_store: writes beside reads on one posix SegmentStore — indexed
appends (one of them delivered through a streaming ingest), point lookups
between them so reads see a growing number of segments, an upsert and a
delete, then compaction and vacuum and more lookups. Reads come from the
store's files, never from Spark's cache."""

from __future__ import annotations

import os
import time

import numpy as np
import pandas as pd

import checks
from harness import dir_bytes, run_rounds

BASE_ROWS = 50_000
DELIVERY_ROWS = 5_000
UPSERT_ROWS = 500
TAGS = np.array(list("abcdefgh"))
COLS = ["k", "cat", "tag", "v"]
KEYS_PER_ROUND = 20_000
# the first round after one warm-up round still ran ~20% slower than the next
WARMUP_ROUNDS = 2


def make_rows(rng, keys: np.ndarray) -> pd.DataFrame:
    """Rows keyed by ``k``; ``cat`` has 50 values (each ~2% of rows, so
    lookups on it take the index path) and ``tag`` 8 (~12%, the scan path)."""
    n = len(keys)
    return pd.DataFrame({
        "k": keys.astype(np.int64),
        "cat": rng.integers(0, 50, n).astype(np.int64),
        "tag": TAGS[rng.integers(0, len(TAGS), n)],
        "v": rng.standard_normal(n),
    })


def run(spark, log, tracer, work: str, seed: int, seconds: float) -> dict:
    from iodf_spark.operators.index import IndexConf
    from iodf_spark.sources.segments import SegmentStore
    from iodf_spark.streaming.ingest import stream_ingest_segments

    conf = IndexConf(include=["cat", "tag"])
    store = SegmentStore(f"{work}/store")
    stream_src = f"{work}/stream_src"
    os.makedirs(stream_src)
    rng = np.random.default_rng([seed, 10])
    base = make_rows(rng, np.arange(BASE_ROWS))
    base_path = f"{work}/base.parquet"
    base.to_parquet(base_path, index=False)
    schema = spark.read.parquet(base_path).schema
    model = base.copy()  # the logical table, kept in pandas
    written: dict[str, int] = {}  # traced runs: every file the store wrote
    inputs = {"bytes": 0}

    t0 = time.perf_counter()
    with tracer.span("bench.build", "bench"):
        store.write_segment(spark.read.parquet(base_path), index_conf=conf, n_rows=BASE_ROWS)
    build_s = time.perf_counter() - t0

    def deliver(name: str, rows: pd.DataFrame, directory: str = work) -> str:
        path = f"{directory}/{name}.parquet"
        rows.to_parquet(path, index=False)
        if log.phase == "loop":
            inputs["bytes"] += os.path.getsize(path)
        return path

    def note_files() -> None:
        if tracer.enabled and log.phase == "loop":
            for dp, _dn, fn in os.walk(store.path):
                for f in fn:
                    p = os.path.join(dp, f)
                    written.setdefault(p, os.path.getsize(p))

    def live_rows_match(_result):
        note_files()
        got = store.live_rows()
        return None if got == len(model) else f"live_rows {got} != model {len(model)}"

    def lookup(col, value) -> None:
        want = model[model[col] == value]
        log.run(
            f"lookup_{col}", "read",
            lambda: store.smart_filter(spark, col, value)[0].select(*COLS).toPandas(),
            checks.same_rows(want, COLS, log.recall), call="segments.smart_filter",
        )

    def snapshot() -> pd.DataFrame:
        with tracer.span("bench.check", "bench"):
            df = store.open(spark).select("row_id", *COLS).toPandas()
        return df.sort_values("row_id").reset_index(drop=True)

    v0 = [0]

    def one_round(r: int) -> None:
        nonlocal model
        if r == WARMUP_ROUNDS:  # commits are counted over the timed rounds
            v0[0] = store.manifest_versioned()[1]
        rr = np.random.default_rng([seed, 11, r])
        k0 = BASE_ROWS + r * KEYS_PER_ROUND
        cats = rr.integers(0, 50, 5)

        rows = make_rows(rr, np.arange(k0, k0 + DELIVERY_ROWS))
        path = deliver(f"append-{r}", rows)
        model = pd.concat([model, rows], ignore_index=True)
        log.run("append", "write",
                lambda: store.write_segment(spark.read.parquet(path), index_conf=conf,
                                            n_rows=DELIVERY_ROWS),
                live_rows_match, call="segments.write_segment")
        lookup("cat", int(cats[0]))

        rows = make_rows(rr, np.arange(k0 + DELIVERY_ROWS, k0 + 2 * DELIVERY_ROWS))
        deliver(f"stream-{r}", rows, stream_src)
        model = pd.concat([model, rows], ignore_index=True)
        log.run("stream_append", "write",
                lambda: stream_ingest_segments(
                    spark.readStream.schema(schema).parquet(stream_src), store, index_conf=conf),
                live_rows_match, call="ingest.stream_ingest_segments")
        lookup("k", int(k0 + rr.integers(DELIVERY_ROWS)))

        # upsert: half the source keys exist (their rows are replaced), half are new
        old = rr.choice(model["k"].to_numpy(), UPSERT_ROWS // 2, replace=False)
        new = np.arange(k0 + 2 * DELIVERY_ROWS, k0 + 2 * DELIVERY_ROWS + UPSERT_ROWS // 2)
        src = make_rows(rr, np.concatenate([old, new]))
        path = deliver(f"upsert-{r}", src)
        model = pd.concat([model[~model["k"].isin(src["k"])], src], ignore_index=True)
        log.run("merge_by_key", "write",
                lambda: store.merge_by_key(spark, spark.read.parquet(path), "k", index_conf=conf),
                live_rows_match, call="segments.merge_by_key")

        cat, tag = int(cats[2]), str(TAGS[rr.integers(len(TAGS))])
        model = model[~((model["cat"] == cat) & (model["tag"] == tag))]
        log.run("delete_where", "write",
                lambda: store.delete_where(spark, f"cat = {cat} AND tag = '{tag}'"),
                live_rows_match, call="segments.delete_where")
        lookup("cat", cat)

        # compaction keeps every live row and its row id
        before = snapshot()

        def same_after_compact(_result):
            after = snapshot()
            if not after.equals(before):
                return f"compact changed rows or row ids ({len(before)} -> {len(after)} rows)"
            return checks.same_rows(model, COLS)(after) or live_rows_match(None)

        log.run("compact", "maint", lambda: store.compact(spark), same_after_compact,
                call="segments.compact")
        log.run("vacuum", "maint", lambda: store.vacuum(), live_rows_match, call="segments.vacuum")
        lookup("tag", str(TAGS[rr.integers(len(TAGS))]))

    rounds = run_rounds(log, seconds, one_round, WARMUP_ROUNDS)
    extra = {"rounds": rounds, "commits": store.manifest_versioned()[1] - v0[0]}
    if tracer.enabled:
        extra["segments.bytes_written_per_input_byte"] = (
            sum(written.values()) / inputs["bytes"] if inputs["bytes"] else 0.0
        )
    return {
        "build_s": build_s,
        "bytes_per_row": dir_bytes(store.path) / store.live_rows(),
        "recall_at_10": checks.mean_recall(log.recall),
        **extra,
    }
