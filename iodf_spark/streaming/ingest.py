"""Structured Streaming surface (SURVEY.md §2.11 — absent in the reference,
whose 'incremental' story is LSM segment accumulation; Structured Streaming
with availableNow + foreachBatch writing per-batch segments reproduces that
exactly, and event-time windows/watermarks extend it).

* stream_events: file-source stream over the events parquet (schema from the
  parquet footer; event-time normalization shared with the batch path).
* stream_ingest_segments: micro-batch ingest — every batch becomes one
  immutable segment in a SegmentStore (foreachBatch; the reference's
  append-a-segment-per-write, Dfs.scala:181-220, driven by a stream).
* windowed_event_counts: event-time tumbling-window aggregation with a
  watermark for late data.
* run_to_memory: drive any streaming DataFrame to completion with the
  availableNow trigger into a named in-memory sink and return the result
  as a batch DataFrame (used by the driver queries; in production the sink
  would be a parquet/Delta path with a real trigger).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from iodf_spark.sources.segments import SegmentStore


def stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events parquet. The stream schema is
    derived from the parquet footer via a one-off batch probe (readStream
    requires an explicit schema; a hardcoded one silently coerces when the
    stored encoding drifts — round 3's 1000×-compressed timestamps), and the
    event-time column goes through the SAME normalize_event_ts as the batch
    loader, so the two paths cannot diverge."""
    # the file stream source needs a directory; expose the single parquet
    # file through a per-sf temp dir of symlinks (testdata is read-only)
    import hashlib
    import os

    from iodf_spark.sources.tables import ensure_session_confs, normalize_event_ts

    ensure_session_confs(spark)
    src = f"{sf_dir}/events.parquet"
    link_dir = f"/tmp/iodf_stream_src_{hashlib.md5(sf_dir.encode()).hexdigest()[:8]}"
    os.makedirs(link_dir, exist_ok=True)
    link = os.path.join(link_dir, "events.parquet")
    if not os.path.exists(link):
        os.symlink(src, link)
    stored_schema = spark.read.parquet(src).schema  # footer-only, no scan
    raw = spark.readStream.schema(stored_schema).parquet(link_dir)
    return normalize_event_ts(raw)


def windowed_event_counts(
    events: DataFrame, window: str = "1 hour", watermark: str = "2 hours"
) -> DataFrame:
    """Event-time tumbling window with late-data watermark."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("cnt"), F.round(F.avg("value"), 6).alias("avg_value"))
        .select(
            F.col("w.start").cast("string").alias("hour_start"),
            "event_type",
            "cnt",
            "avg_value",
        )
    )


def stream_enriched_counts(
    events: DataFrame,
    dim: DataFrame,
    on_left: str,
    on_right: str,
    label_col: str,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-static join + event-time window: each micro-batch is enriched
    against the (broadcast) static dimension BEFORE the watermarked window
    aggregation — the standard streaming star-join shape. The dim is a
    plain batch DataFrame; Spark re-broadcasts it per micro-batch, so dim
    updates between batches are picked up (slowly-changing-dimension
    semantics at micro-batch grain)."""
    enriched = events.join(
        F.broadcast(dim), events[on_left] == dim[on_right], "inner"
    )
    return (
        enriched.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), F.col(label_col))
        .agg(F.count(F.lit(1)).alias("cnt"), F.round(F.avg("value"), 6).alias("avg_value"))
        .select(
            F.col("w.start").cast("string").alias("hour_start"),
            F.col(label_col),
            "cnt",
            "avg_value",
        )
    )


def stream_stream_join(
    events: DataFrame,
    left_type: str,
    right_type: str,
    window_minutes: int = 30,
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-stream interval self-join: every ``left_type`` event paired
    with the same user's ``right_type`` events in the preceding
    ``window_minutes`` (attribution-style: purchase <- clicks before it).

    The canonical Structured Streaming two-stream join: BOTH sides carry a
    watermark and the join condition bounds event time on both sides, so
    each side's buffered state is GC'd once the watermark passes the
    interval — bounded state on infinite streams, the same contract as the
    stateful operators. Inner-join matches emit as soon as both rows have
    arrived (the watermark only gates state eviction, not output), so an
    availableNow drain produces the complete batch-equivalent result."""
    lhs = (
        events.filter(F.col("event_type") == left_type)
        .select(
            F.col("user_id"),
            F.col("event_id").alias("left_id"),
            F.col("ts").alias("l_ts"),
        )
        .withWatermark("l_ts", watermark)
    )
    rhs = (
        events.filter(F.col("event_type") == right_type)
        .select(
            F.col("user_id").alias("r_user"),
            F.col("event_id").alias("right_id"),
            F.col("ts").alias("r_ts"),
        )
        .withWatermark("r_ts", watermark)
    )
    cond = (
        (lhs["user_id"] == rhs["r_user"])
        & (rhs["r_ts"] >= lhs["l_ts"] - F.expr(f"INTERVAL {window_minutes} MINUTES"))
        & (rhs["r_ts"] <= lhs["l_ts"])
    )
    # epoch-µs output (not formatted strings): tz/format-proof across
    # engines, same convention as the sessionize operator's Arrow handoff
    return lhs.join(rhs, cond, "inner").select(
        "user_id",
        "left_id",
        "right_id",
        F.unix_micros(F.col("l_ts")).alias("l_ts_us"),
        F.unix_micros(F.col("r_ts")).alias("r_ts_us"),
    )


def bounded_state_partitions(spark: SparkSession, *paths: str) -> int:
    """State-store partition count for an availableNow drain of a BOUNDED
    file source: sized to the source's BYTES (one state partition per
    ~64 MB, the AQE advisory grain), clamped to [2, defaultParallelism].

    A stateful query instantiates one state store per shuffle partition —
    each with per-batch delta-file commits — so pinning the count to core
    count makes a tiny drain pay parallelism x stores x commits of fixed
    I/O (measured: the 100 K-row stream-stream join spent 4 of its 6
    seconds on 32-partition state overhead; 8 partitions is 2.2 s, same
    rows). A 100 TB source hits the parallelism clamp and behaves exactly
    as before. Unbounded sources (kafka) should keep core-count sizing —
    this helper is only for drains whose input size is knowable."""
    import math
    import os

    total = 0
    for p in paths:
        if os.path.isdir(p):
            for root, _dirs, files in os.walk(p):
                total += sum(
                    os.path.getsize(os.path.join(root, f))
                    for f in files
                    if not f.startswith(("_", "."))
                )
        elif os.path.exists(p):
            total += os.path.getsize(p)
    target = max(2, math.ceil(total / (64 << 20)))
    return min(target, max(spark.sparkContext.defaultParallelism, 1))


def run_to_memory(
    df: DataFrame,
    name: str,
    output_mode: str = "append",
    shuffle_partitions: int | None = None,
) -> DataFrame:
    """Drive a streaming DataFrame to completion (availableNow) into an
    in-memory table; returns the materialized result.

    A stateful streaming query instantiates one state store PER shuffle
    partition, fixed at query start — under a default-conf session that is
    200 stores regardless of cluster size. Pin the partition count to the
    actual parallelism for the query's lifetime (restored afterwards):
    state-store count should track cores, not the SQL default."""
    spark = df.sparkSession
    if shuffle_partitions is None:
        shuffle_partitions = max(spark.sparkContext.defaultParallelism, 1)
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(shuffle_partitions))
    try:
        q = (
            df.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    return df.sparkSession.table(name)


def stream_sessionize(
    events: DataFrame,
    gap_minutes: int = 30,
    state_timeout: bool = False,
    watermark: str = "2 hours",
) -> DataFrame:
    """Custom stateful streaming operator via applyInPandasWithState:
    gap-based per-user sessionization. State = the open session per user,
    carried across micro-batches; each batch emits every session touched in
    that batch (closed sessions finally, the open session provisionally —
    a later batch may extend and re-emit it). For a single availableNow
    batch the output equals the batch sessionize operator.

    Determinism notes (CORRECTNESS_r01 hash-mismatch fix): event times cross
    the Arrow boundary as raw epoch microseconds (``unix_micros``), never as
    pandas timestamps — Spark's Arrow conversion renders timestamps in the
    *session-local* wall clock, so any tz-sensitive path would shift every
    session under a non-UTC driver session. Formatting builds the string from
    the raw epoch value (tz-free). Because append mode re-emits the open
    session per micro-batch, callers that need exactly-one-row-per-session
    must finalize with :func:`finalize_sessions` (pure batch agg) — correct
    under any micro-batch split of the input.

    ``state_timeout=True`` bounds the state store on an infinite stream:
    the input gets a ``watermark``, each open session arms an event-time
    timeout at ``session_end + gap``, and once the watermark passes it the
    state entry is dropped (the session can never be extended, and its
    final values were already emitted — finalize_sessions still yields
    exactly one row). Without it, one state row per ever-seen user lives
    forever — fine for bounded key spaces, a scale hazard otherwise."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    out_schema = (
        "user_id long, session_id long, n_events long, "
        "session_start string, session_end string"
    )
    state_schema = "session_id long, start_us long, end_us long, n long"
    gap_us = gap_minutes * 60 * 1_000_000
    out_cols = [
        "user_id", "session_id", "n_events", "session_start", "session_end"
    ]

    def fmt(us: int) -> str:
        # epoch-µs -> naive UTC string; no session-timezone dependence
        return pd.Timestamp(us, unit="us").strftime("%Y-%m-%d %H:%M:%S.%f")

    def fn(key, pdfs, state):
        (user_id,) = key
        if state_timeout and state.hasTimedOut:
            # watermark passed session_end + gap: drop the state entry
            state.remove()
            yield pd.DataFrame(columns=out_cols)
            return
        ts_us: list[int] = []
        for pdf in pdfs:
            ts_us.extend(int(v) for v in pdf["ts_us"])
        ts_us.sort()
        if state.exists:
            sid, s0, e0, n0 = state.get
        else:
            sid, s0, e0, n0 = -1, None, None, 0
        out = []
        for t in ts_us:
            if s0 is not None and t - e0 <= gap_us:
                e0, n0 = t, n0 + 1
            else:
                if s0 is not None:
                    out.append((user_id, sid, n0, fmt(s0), fmt(e0)))
                sid, s0, e0, n0 = sid + 1, t, t, 1
        if s0 is not None:
            out.append((user_id, sid, n0, fmt(s0), fmt(e0)))
            state.update((sid, s0, e0, n0))
            if state_timeout:
                # event-time timeout when the open session would close
                # (ms epoch — the GroupState contract)
                state.setTimeoutTimestamp((e0 + gap_us) // 1000)
        yield pd.DataFrame(out, columns=out_cols)

    # tz-immune handoff: epoch µs as int64, computed JVM-side
    if state_timeout:
        # the watermarked COLUMN must stay in the projection — event-time
        # timeout requires it visible to the stateful operator (the fn
        # itself still reads only ts_us)
        keyed = events.withWatermark("ts", watermark).select(
            "user_id", "ts", F.unix_micros(F.col("ts")).alias("ts_us")
        )
        timeout_conf = GroupStateTimeout.EventTimeTimeout
    else:
        keyed = events.select(
            "user_id", F.unix_micros(F.col("ts")).alias("ts_us")
        )
        timeout_conf = GroupStateTimeout.NoTimeout
    return keyed.groupBy("user_id").applyInPandasWithState(
        fn, out_schema, state_schema, "append", timeout_conf
    )


def stream_dedup(
    events: DataFrame,
    key_cols: list[str],
    watermark: "tuple[str, str] | None" = None,
) -> DataFrame:
    """Stateful streaming deduplication: keep the first event per key.

    Without ``watermark``, dropDuplicates holds the seen-key set in the
    state store FOREVER — exact global dedup, but state grows with key
    cardinality (fine for bounded key spaces; a scale hazard on an
    infinite stream). With ``watermark=(ts_col, delay)``, the state is
    GC'd by event time via dropDuplicatesWithinWatermark: duplicates
    arriving within ``delay`` of each other collapse, keys older than the
    watermark are evicted — bounded state, the standard production trade
    (a duplicate farther apart than the horizon is re-admitted). Which
    physical row survives depends on arrival order, so deterministic
    checks aggregate over the kept set."""
    if watermark is not None:
        ts_col, delay = watermark
        return events.withWatermark(ts_col, delay).dropDuplicatesWithinWatermark(
            key_cols
        )
    return events.dropDuplicates(key_cols)


def finalize_sessions(emitted: DataFrame) -> DataFrame:
    """Collapse append-mode provisional re-emissions to one final row per
    (user_id, session_id). A session only ever *extends* across batches —
    session_start is fixed, n_events and session_end grow monotonically —
    so max() per key reconstructs the final state regardless of how
    availableNow split the input into micro-batches."""
    return emitted.groupBy("user_id", "session_id").agg(
        F.max("n_events").alias("n_events"),
        F.min("session_start").alias("session_start"),
        F.max("session_end").alias("session_end"),
    )


def _ingest_app_id(checkpoint_dir: str, explicit: str | None) -> str:
    """Stable run identity for idempotent batch keys, Delta's (appId,
    version) pattern: micro-batch ids restart at 0 per checkpoint, so a key
    of 'stream-batch-{id}' alone makes a FRESH ingest (reset/deleted
    checkpoint, or a store copied under a new pipeline) silently no-op its
    first batches as presumed replays — silent data loss. The identity
    lives INSIDE the checkpoint dir so their lifetimes are fused: delete
    the checkpoint -> new identity -> fresh keys; keep it -> replays are
    still recognized. Pass ``explicit`` when the checkpoint is on an object
    store without atomic local file semantics."""
    if explicit is not None:
        return explicit
    import os
    import uuid

    from iodf_spark.sources import fsio

    fsio.makedirs(checkpoint_dir)
    marker = os.path.join(checkpoint_dir, "_ingest_app_id")
    if fsio.exists(marker):
        return fsio.read_text(marker).strip()
    app_id = uuid.uuid4().hex
    # create-if-absent CLAIM through the fsio seam (POSIX link /
    # conditional put), not a bare replace: two drivers bootstrapping the
    # same checkpoint concurrently must converge on ONE identity — the
    # loser adopts the winner's marker instead of overwriting it. The
    # claim buffer is PER-PROCESS unique (round-12 ADVICE fix: a shared
    # '<marker>.tmp' let driver B overwrite/remove the tmp between driver
    # A's write and A's link_claim, raising FileNotFoundError from the
    # very race this converges) and written through the seam.
    tmp = f"{marker}.{app_id}.tmp"
    fsio.atomic_write_text(tmp, app_id)
    fsio.link_claim(tmp, marker)
    fsio.remove_file(tmp)
    return fsio.read_text(marker).strip()


def stream_ingest_segments(
    events: DataFrame,
    store: SegmentStore,
    order_keys: list[str] | None = None,
    index_conf=None,
    app_id: str | None = None,
) -> None:
    """Micro-batch ingest: one immutable segment per micro-batch (the
    streaming rendition of the reference's segment-append + MultiDf read)."""
    run_id = _ingest_app_id(store.path + "/_checkpoint", app_id)

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        # batch_key = (run identity, micro-batch id): a foreachBatch re-run
        # after a crash-before-checkpoint replays the same id under the
        # same identity, and the store's idempotent append turns the replay
        # into a no-op — exactly-once segments without a transactional sink
        store.write_segment(
            batch_df,
            order_keys=order_keys,
            index_conf=index_conf,
            batch_key=f"stream-{run_id}-batch-{batch_id}",
        )

    spark = events.sparkSession
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set(
        "spark.sql.shuffle.partitions",
        str(max(spark.sparkContext.defaultParallelism, 1)),
    )
    try:
        q = (
            events.writeStream.foreachBatch(write_batch)
            .trigger(availableNow=True)
            .option("checkpointLocation", store.path + "/_checkpoint")
            .start()
        )
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def stream_upsert(
    source: DataFrame,
    store: SegmentStore,
    on: str | list[str],
    latest_by: str | None = None,
    order_keys: list[str] | None = None,
    checkpoint_dir: str | None = None,
    guard_out_of_order: bool | None = None,
) -> None:
    """Streaming upsert sink: drain a keyed micro-batch stream into the
    store through ``merge_by_key`` — the keyed-state twin of
    stream_ingest_segments' append-only ingest, and the standard CDC
    materialization shape (a Kafka compacted topic, a Debezium feed, a
    crawler re-visiting documents: latest version per key wins).

    Per micro-batch: optionally reduce to the LATEST row per key by
    ``latest_by`` (CDC batch compaction — a key updated five times inside
    one batch merges once; ties on ``latest_by`` keep one arbitrary
    winner), then ONE atomic tombstone-matched + append-source commit.
    At 100 TB the per-batch cost is a key semi-join plus a batch-sized
    segment write — never a target rewrite.

    Cross-batch ordering: 'latest per key wins' would only hold WITHIN a
    batch if the merge blindly replaced matched rows — a later batch
    carrying an out-of-order OLDER event (backfill, multi-partition
    skew) would silently regress the key to a stale value, because
    merge_by_key has no matched-condition. With ``guard_out_of_order``
    (default, requires ``latest_by``) each batch therefore also compares
    against the TARGET's current value: the store's live rows are
    key-restricted to the batch's keys via a broadcast semi-join (the
    batch key set is batch-sized, never target-sized), max-reduced to
    one current ``latest_by`` per key, and source rows at-or-below that
    value are dropped before the merge — stale events become no-ops
    instead of regressions. Rows where ``latest_by`` is NULL never
    replace an existing row (NULL fails the > comparison) but do insert
    for brand-new keys. ``guard_out_of_order=None`` (the default) means
    "guard iff ``latest_by`` is set" — the guard needs a version column
    to compare, so without ``latest_by`` there is nothing to guard on and
    the merge is blind-replace by design. Passing ``True`` explicitly
    WITHOUT ``latest_by`` raises ValueError rather than silently running
    unguarded. Pass guard_out_of_order=False only when the feed
    is provably per-key ordered across batches (saves one key-join per
    batch).

    Delivery: at-least-once batches × content-idempotent merges =
    effectively-once LIVE CONTENT. A replayed batch (crash after commit,
    before checkpoint advance) re-merges the same rows: the merge
    tombstones the earlier replay's rows and appends identical content,
    so the live table converges (row_ids and version count advance —
    metadata churn, not data drift — and compaction reclaims it). This
    is why the sink needs no batch_key ledger, unlike the append ingest,
    where a replay would duplicate rows. A merge abort (concurrent
    writer won the window) fails the batch; the restart replays it
    against the fresh snapshot — same convergence."""
    from pyspark.sql.window import Window

    keys = [on] if isinstance(on, str) else list(on)
    if guard_out_of_order and latest_by is None:
        raise ValueError(
            "guard_out_of_order=True requires latest_by: the out-of-order "
            "guard compares each source row's latest_by against the "
            "target's current value; without a version column the merge "
            "is blind-replace and cannot be guarded"
        )
    guard = latest_by is not None if guard_out_of_order is None else guard_out_of_order
    spark = source.sparkSession

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        src = batch_df
        if latest_by is not None:
            w = Window.partitionBy(*keys).orderBy(F.col(latest_by).desc())
            src = (
                src.withColumn("_rn", F.row_number().over(w))
                .filter(F.col("_rn") == 1)
                .drop("_rn")
            )
            if guard and store.manifest_doc()["segments"]:
                # target-side matched-condition: current latest_by per key,
                # restricted to this batch's keys (broadcast semi-join —
                # the batch key set is small) so the target scan prunes
                # to matching rows, never a full-table aggregate
                cur = (
                    store.open(spark)
                    .join(F.broadcast(src.select(*keys).distinct()), keys, "left_semi")
                    .groupBy(*keys)
                    .agg(F.max(latest_by).alias("_cur_lb"))
                )
                src = (
                    src.join(cur, keys, "left")
                    .filter(
                        F.col("_cur_lb").isNull()
                        | (F.col(latest_by) > F.col("_cur_lb"))
                    )
                    .drop("_cur_lb")
                )
                if src.isEmpty():
                    return  # every event in the batch was stale — no-op
        store.merge_by_key(spark, src, on=keys, order_keys=order_keys)

    ckpt = checkpoint_dir or store.path + "/_upsert_checkpoint"
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set(
        "spark.sql.shuffle.partitions",
        str(max(spark.sparkContext.defaultParallelism, 1)),
    )
    try:
        q = (
            source.writeStream.foreachBatch(apply_batch)
            .trigger(availableNow=True)
            .option("checkpointLocation", ckpt)
            .start()
        )
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


class FullRefreshRequired(RuntimeError):
    """The change-feed window crosses a purge (the store's renumber epoch
    changed) or the consumer's cursor version was vacuumed: no incremental
    delta exists. Recover by re-seeding from a full snapshot
    (:func:`seed_changes`) and resuming the incremental loop."""


def _cdf_cursor_path(checkpoint_dir: str) -> str:
    import os

    return os.path.join(checkpoint_dir, "_cdf_cursor.json")


def read_cdf_cursor(checkpoint_dir: str) -> dict | None:
    """The consumer's durable position: {"version": v, "renumber_epoch": e}
    (None before the first seed). Tiny driver-side JSON — the read twin of
    the writer's _ingest_app_id marker, living inside the checkpoint dir so
    the two lifetimes are fused."""
    import json
    import os

    from iodf_spark.sources import fsio

    p = _cdf_cursor_path(checkpoint_dir)
    try:
        return json.loads(fsio.read_text(p))
    except FileNotFoundError:
        return None


def _write_cdf_cursor(checkpoint_dir: str, version: int, epoch: int) -> None:
    """Durable CDC cursor publish — through the fsio seam (the cursor is
    driver-side store metadata like any manifest: torn-write invisibility
    on POSIX via rename, whole-object PUT on an object store)."""
    import json

    from iodf_spark.sources import fsio

    fsio.makedirs(checkpoint_dir)
    fsio.atomic_write_text(
        _cdf_cursor_path(checkpoint_dir),
        json.dumps({"version": int(version), "renumber_epoch": int(epoch)}),
    )


def seed_changes(
    spark: SparkSession,
    store: SegmentStore,
    checkpoint_dir: str,
    process=None,
    defaults: dict | None = None,
    at_version: int | None = None,
) -> int:
    """Bootstrap (and purge-recovery) path of the change-feed consumer:
    read the latest snapshot IN FULL — tagged '_change_type'='insert' like
    any other delta, so downstream code has one shape — hand it to
    ``process(df, 0, version)``, and pin the cursor at (version, epoch).
    Returns the seeded version. This is the 'full refresh' the incremental
    loop demands whenever a purge renumbered the row space.
    ``at_version`` seeds from a retained historical snapshot instead (a
    consumer backfilling from a known-good point before catching up)."""
    if at_version is not None:
        doc, v = store.manifest_doc_at(at_version), at_version
    else:
        doc, v = store.manifest_doc_versioned()
    snap = (
        store.open_at(spark, v, defaults)
        if v
        else store.open(spark, defaults)
    ).withColumn("_change_type", F.lit("insert"))
    if process is not None:
        process(snap, 0, v)
    _write_cdf_cursor(checkpoint_dir, v, doc["renumber_epoch"])
    return v


def stream_changes(
    spark: SparkSession,
    store: SegmentStore,
    checkpoint_dir: str,
    process,
    defaults: dict | None = None,
    batch_versions: int | None = None,
) -> list[tuple[int, int]]:
    """Incremental change-feed consumer — the READ twin of
    stream_ingest_segments (same store, opposite direction): a catch-up
    loop over ``SegmentStore.read_changes`` that advances a durable cursor
    from its checkpointed version to the latest retained snapshot, feeding
    each delta (insert rows + tombstoned row_ids, Delta-CDF shape) to
    ``process(delta_df, from_version, to_version)``. Call it on a schedule
    (or from a foreachBatch maintenance tick): each call does only the
    outstanding manifest math + delta scans — never a corpus rescan —
    which is what keeps a downstream pipeline at 100 TB paying for the
    day's appends, not the corpus.

    Delivery is AT-LEAST-ONCE: the cursor advances only AFTER ``process``
    returns, so a crash between the two replays the same window on restart
    — pair it with an idempotent sink (e.g. stream_ingest_segments'
    batch_key pattern keyed on (from, to)) for exactly-once.

    ``batch_versions`` = None coalesces all outstanding versions into ONE
    delta (fewest jobs — read_changes handles multi-version windows by
    construction); an int k steps the cursor at most k retained versions
    per ``process`` call (bounded batch sizes for a sink with ingest
    limits). Returns the list of (from, to) windows processed.

    A PURGE between calls renumbers the row space; the loop detects it
    via the manifest renumber epoch (plus read_changes' own guard) and
    raises :class:`FullRefreshRequired` — a clean signal to re-seed via
    :func:`seed_changes`, mirroring Delta CDF's behavior when a version
    with a rewritten table layout enters the window."""
    cur = read_cdf_cursor(checkpoint_dir)
    if cur is None:
        raise FullRefreshRequired(
            f"no change-feed cursor under {checkpoint_dir}: seed the "
            "consumer first (seed_changes)"
        )
    doc, latest = store.manifest_doc_versioned()
    if doc["renumber_epoch"] != cur["renumber_epoch"]:
        raise FullRefreshRequired(
            f"store {store.path} was purged (renumber epoch "
            f"{cur['renumber_epoch']} -> {doc['renumber_epoch']}): the "
            "cursor's row_ids name different rows now — re-seed via "
            "seed_changes"
        )
    if latest <= cur["version"]:
        return []  # caught up
    vs = store.versions()
    if cur["version"] not in vs:
        raise FullRefreshRequired(
            f"cursor version {cur['version']} is no longer retained "
            f"(vacuumed; have {vs}): no delta can be computed — re-seed "
            "via seed_changes"
        )
    after = [v for v in vs if v > cur["version"]]
    if batch_versions is None:
        steps = [latest]
    else:
        steps = after[max(batch_versions, 1) - 1 :: max(batch_versions, 1)]
        if not steps or steps[-1] != latest:
            steps.append(latest)
    windows: list[tuple[int, int]] = []
    frm = cur["version"]
    for to_v in steps:
        try:
            delta = store.read_changes(spark, frm, to_v, defaults)
        except ValueError as e:  # read_changes' own purge guard (backstop)
            raise FullRefreshRequired(str(e)) from None
        process(delta, frm, to_v)
        _write_cdf_cursor(
            checkpoint_dir, to_v, store.manifest_doc_at(to_v)["renumber_epoch"]
        )
        windows.append((frm, to_v))
        frm = to_v
    return windows


def mirror_changes(
    spark: SparkSession,
    src: SegmentStore,
    dst: SegmentStore,
    checkpoint_dir: str,
    defaults: dict | None = None,
    seed_at_version: int | None = None,
) -> list[tuple[int, int]]:
    """Incremental store-to-store replication over the change feed — the
    CDC 'apply' side completing the stream_changes story: a derived table
    (a filtered copy, a different-region replica, a downstream feature
    store) stays in sync by paying for the DELTA, never the corpus.

    Per catch-up window: insert rows are appended to ``dst`` as one
    segment (the source's global row_id is preserved as the data column
    ``_src_row_id`` — dst has its own row space), and tombstoned source
    ids are applied with ``dst.delete_rows(..., on='_src_row_id')``.
    First call (no cursor) seeds dst with the full source snapshot
    through the same apply path.

    Delivery/exactly-once: stream_changes is at-least-once; both halves
    of the apply are idempotent under replay — inserts carry
    batch_key='mirror-{from}-{to}' (the store's idempotent-append
    ledger), and delete_rows finds already-dead rows and publishes
    nothing — so every interleaving of crash and restart converges to
    exactly one applied delta (ST4's exactly-once argument, on the read
    side). A source PURGE raises FullRefreshRequired: rebuild the mirror
    from a fresh seed (the mirror cannot express a renumbering in place).

    Returns the processed (from, to) windows, seed included as (0, v)."""

    def apply(delta: DataFrame, frm: int, to: int) -> None:
        ins = delta.filter(F.col("_change_type") == "insert").drop("_change_type")
        dels = delta.filter(F.col("_change_type") == "delete").select("row_id")
        if not ins.isEmpty():
            dst.write_segment(
                ins.withColumnRenamed("row_id", "_src_row_id"),
                order_keys=["_src_row_id"],
                batch_key=f"mirror-{frm}-{to}",
            )
        if not dels.isEmpty():
            dst.delete_rows(spark, dels, on="_src_row_id")

    if read_cdf_cursor(checkpoint_dir) is None:
        v = seed_changes(
            spark, src, checkpoint_dir, apply, defaults,
            at_version=seed_at_version,
        )
        windows = [(0, v)]
    else:
        windows = []
    return windows + stream_changes(spark, src, checkpoint_dir, apply, defaults)


# --------------------------------------------------------------------------
# Incremental corpus-wide near-duplicate discovery


def stream_neardup_pairs(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    state_dir: str,
    n: int = 3,
    num_hashes: int = 16,
    band_rows: int = 4,
    threshold: float = 0.8,
) -> None:
    """Incremental MinHash-LSH near-dup pair discovery over a document
    stream — the 100 TB curation pattern where a corpus grows continuously
    and each delivery must be dedup'd against EVERYTHING ingested so far
    without re-scanning it.

    Per micro-batch (foreachBatch):
      1. shingle + band-sign the new docs (same formulas as the batch
         operator — operators/dedup.py band_signatures);
      2. candidate pairs = new bands joined against the accumulated band
         store PLUS the batch itself, normalized to (min_id, max_id);
      3. exact-Jaccard verify against the accumulated shingle store and
         append surviving pairs to the result store;
      4. append the new bands + shingles to the state stores.

    A pair is discovered in the batch where its LATER member arrives, so
    the union of all batch outputs equals the one-shot batch LSH over the
    full corpus, independent of micro-batch boundaries and arrival order.
    Delivery of the pairs store is AT-LEAST-ONCE: a foreachBatch retry
    after the pairs append committed appends that batch's pairs again.
    The write order below keeps the STATE stores free of duplicates, and
    :func:`read_neardup_pairs` returns each (doc_a, doc_b) once; read the
    pairs through it, not the raw parquet. State grows linearly in corpus
    size (8-byte band keys + shingle arrays), is partitioned parquet
    (bucketable by band key at scale), and is never collected or broadcast
    as a whole: every per-batch join is new-side × store with the small
    NEW side driving.
    """
    import os

    from iodf_spark.operators.dedup import (
        _with_shingles,
        band_signatures,
        verify_jaccard,
    )

    bands_dir = os.path.join(state_dir, "bands")
    sh_dir = os.path.join(state_dir, "shingles")
    pairs_dir = os.path.join(state_dir, "pairs")

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        # the micro-batch session clone inherits the caller's conf — under a
        # default-conf (driver/vanilla) session that is 200 shuffle
        # partitions per tiny batch. AQE is DISABLED inside a streaming
        # query, so these shuffles never coalesce at runtime — the width
        # must be right up front. Micro-batch deliveries are bounded by
        # the trigger (maxFilesPerTrigger), so width tracks a fraction of
        # core count, not full parallelism: measured 32 -> 8 partitions
        # cuts the 4-batch drain's empty-task fixed cost roughly in half
        # on a 5 K-doc corpus while a real cluster's big deliveries still
        # get defaultParallelism/4-wide shuffles per batch.
        spark.conf.set(
            "spark.sql.shuffle.partitions",
            str(max(spark.sparkContext.defaultParallelism // 4, 4)),
        )
        sized = _with_shingles(batch_df, id_col, text_col, n).select("_id", "_sh")
        sized.persist()
        new_bands = band_signatures(sized, num_hashes, band_rows)
        new_bands.persist()
        have_store = os.path.isdir(bands_dir)
        all_bands = (
            new_bands.unionByName(spark.read.parquet(bands_dir))
            if have_store
            else new_bands
        )
        all_sized = (
            sized.unionByName(spark.read.parquet(sh_dir)) if have_store else sized
        )
        a, b = new_bands.alias("a"), all_bands.alias("b")
        cands = (
            a.join(
                b,
                (F.col("a.band") == F.col("b.band"))
                & (F.col("a.key") == F.col("b.key"))
                & (F.col("a._id") != F.col("b._id")),
            )
            .select(
                F.least(F.col("a._id"), F.col("b._id")).alias("doc_a"),
                F.greatest(F.col("a._id"), F.col("b._id")).alias("doc_b"),
            )
            .dropDuplicates(["doc_a", "doc_b"])
        )
        # state writes are coalesced: each micro-batch's delta is small, and
        # letting it fan out to #shuffle-partitions files means batch k
        # re-reads O(k * partitions) tiny files from the accumulated stores
        # (measured ~384 files by batch 4 at 32 partitions). A handful of
        # files per delta keeps the store read path footer-bound; at scale
        # the right width tracks delta size, not session parallelism.
        # (repartition, not coalesce: coalesce would cap the upstream
        # join/agg stages to the output width)
        n_out = max(1, spark.sparkContext.defaultParallelism // 8)
        pairs = verify_jaccard(cands, all_sized, threshold)
        # write ordering (round-13 ADVICE): the pairs write must commit
        # BEFORE any state append — if a state append committed and the
        # batch then failed before the pairs commit, the foreachBatch
        # retry would re-append bands/shingles (duplicate shingle rows
        # inflate verify_jaccard's join multiplicity and emit duplicate
        # pair rows on later batches). Pre-round-13 got this by writing
        # 'sized' last; here pairs commits first, then the two tiny state
        # appends overlap EACH OTHER from a thread pool (the inputs are
        # persisted, and the store reads above captured their file
        # listings, so the appends cannot leak into this batch's join)
        from concurrent.futures import ThreadPoolExecutor

        pairs.repartition(n_out).write.mode("append").parquet(pairs_dir)
        state_writes = (
            lambda: new_bands.repartition(n_out).write.mode("append").parquet(bands_dir),
            lambda: sized.repartition(n_out).write.mode("append").parquet(sh_dir),
        )
        with ThreadPoolExecutor(max_workers=2) as pool:
            for fut in [pool.submit(w) for w in state_writes]:
                fut.result()
        sized.unpersist()
        new_bands.unpersist()

    q = (
        docs.writeStream.foreachBatch(handle)
        .trigger(availableNow=True)
        .option("checkpointLocation", os.path.join(state_dir, "_checkpoint"))
        .start()
    )
    q.awaitTermination()


def _read_sink_or_empty(spark: SparkSession, path: str, schema) -> DataFrame:
    """Empty-but-typed read of a streaming parquet sink that may not have
    produced its first output file yet. ONLY the path-not-found
    AnalysisException means 'no output yet' (round-12 ADVICE fix: the
    previous bare ``except Exception`` swallowed corrupt-sink files,
    permission errors and transient FS failures too, making a real read
    failure indistinguishable from an empty sink — downstream,
    read_decontaminated_clean would then return the corpus UNCUT,
    silently passing contaminated data as clean). Anything else
    propagates."""
    from pyspark.errors import AnalysisException

    try:
        return spark.read.schema(schema).parquet(path)
    except AnalysisException as e:
        msg = str(e)
        if "PATH_NOT_FOUND" in msg or "Path does not exist" in msg:
            return spark.createDataFrame([], schema)
        raise


def read_neardup_pairs(spark: SparkSession, state_dir: str) -> DataFrame:
    """Accumulated (doc_a, doc_b, jaccard) result of stream_neardup_pairs,
    one row per pair even when a retried micro-batch appended its pairs
    twice (the sink is at-least-once); empty-but-typed when no pair ever
    cleared the threshold."""
    import os

    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("doc_a", T.LongType()),
            T.StructField("doc_b", T.LongType()),
            T.StructField("jaccard", T.DoubleType()),
        ]
    )
    return _read_sink_or_empty(
        spark, os.path.join(state_dir, "pairs"), schema
    ).dropDuplicates(["doc_a", "doc_b"])


# --------------------------------------------------------------------------
# Incremental substring-level dedup (streaming ExactSubstr)


_SSTREAM_BUCKETS = 512  # state buckets for stream_duplicated_windows (see fn)


def stream_duplicated_windows(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    state_dir: str,
    k: int = 16,
    shuffle_partitions: int | None = None,
    state_buckets: int | None = None,
) -> None:
    """Incremental ExactSubstr discovery over a document stream: every
    k-token window that reaches >= 2 corpus-wide occurrences is emitted
    EXACTLY ONCE per occurrence, in the micro-batch where it becomes
    duplicated — so the accumulated output is the batch detector's
    duplicated-window set over the corpus-so-far, independent of
    micro-batch boundaries and arrival order (the dedup_minhash
    batch==stream contract, at substring granularity).

    Engine shape: the ONLY stateful primitive is applyInPandasWithState
    keyed by a HASH BUCKET of the two-column ~2^112 wide-fold window
    identity (operators/dedup _gram_stream2's array form — window
    functions are unavailable on a streaming DataFrame); the bucket
    amortizes the per-key Python invocation cost over ~100 windows (see
    the inline note at fn) while the per-WINDOW state stays (count,
    pending doc, pending pos), stored as parallel arrays per bucket.
    While a window has exactly one occurrence, that occurrence is HELD;
    the batch delivering the second emits both (the held one
    retroactively) and later arrivals emit themselves — no per-batch
    scan of anything corpus-sized, no foreachBatch parquet state:
    per-delivery cost is the delivery's own windows plus its touched
    buckets' state rows (RocksDB/HDFS state store, delta-bounded).

    State lives forever (one row per DISTINCT window ever seen): exact
    global dedup, the same trade stream_dedup documents for its
    unwatermarked mode — duplicates arrive arbitrarily late by nature,
    so event-time GC would silently re-admit old text. At corpus scale,
    shard streams by source/epoch or reconcile with the batch detector.

    Output sink: parquet (doc_id, pos) rows under state_dir/dups with the
    checkpoint under state_dir/_checkpoint — exactly-once end to end.
    Read back through :func:`read_duplicated_spans`.

    ``shuffle_partitions`` pins the state-store count for the query's
    lifetime (restored afterwards) — size bounded drains with
    :func:`bounded_state_partitions`, NOT the session default: one state
    store per shuffle partition means a tiny drain on a 32-core session
    otherwise pays 32 stores x per-batch delta commits of fixed I/O.

    ``state_buckets`` sizes the state key space (default
    ``_SSTREAM_BUCKETS`` = 512, right for ~50 K lifetime windows). The
    bucket count trades per-key Python fixed cost against per-VALUE state
    size: each touched bucket's FULL lifetime state is rebuilt and
    rewritten every batch, so with B buckets and W distinct windows ever
    seen, a delta touching most buckets pays O(W) state I/O and each
    state value holds ~W/B windows. At scale choose B ~ expected distinct
    windows / 100: per-value size stays bounded (~100 windows) and a
    delta of d windows touches at most d buckets, keeping per-batch state
    I/O proportional to the DELTA (d x ~100 rows), not to lifetime state
    (round-13 ADVICE). B is part of the stream's durable identity — state
    rows are keyed by pmod(window, B), so changing it on an existing
    ``state_dir`` orphans prior state; pick it when the stream is born
    (emitted rows are identical for ANY B: the bucket only groups, the
    full window identity stays the per-window key inside the value)."""
    import os

    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    from iodf_spark.functions import texthash as TH
    from iodf_spark.operators.dedup import packed_grams_expr

    h1m = TH.mix(TH.text_hash("_tok", "spark"), "spark")
    h2m = TH.mix(TH.text_hash2("_tok", "spark"), "spark", mod=TH.MOD2)
    toks = TH.tokens(text_col, "spark")
    hashed = docs.select(
        F.col(id_col).cast("long").alias("_id"),
        # PRE-MIXED token hashes (texthash.mix) — packed_grams_expr's
        # contract; the fold alone is affine and collision-engineerable
        F.expr(f"transform({toks}, _tok -> {h1m})").alias("_th"),
        F.expr(f"transform({toks}, _tok -> {h2m})").alias("_t2"),
    )
    windows = hashed.select(
        "_id",
        F.posexplode(F.expr(packed_grams_expr("_th", "_t2", k))).alias("_pos", "_w"),
    ).select(
        "_id", "_pos", F.col("_w.s1").alias("_s"), F.col("_w.s2").alias("_s2")
    )

    # State is keyed by a HASH BUCKET of the window identity, not the
    # identity itself: applyInPandasWithState invokes the Python function
    # once per key per batch, and a corpus delivery carries one key per
    # DISTINCT window — measured ~50 K keys at sf0.1, i.e. ~50 K pandas-
    # frame constructions and state round-trips per drain, every one of
    # them a fixed-cost Python call for 1-2 rows of work (the guide's
    # per-row-UDF anti-pattern in state-store form). Bucketing the key
    # space to _SSTREAM_BUCKETS groups amortizes that fixed cost ~100x:
    # the per-WINDOW verdict logic below is unchanged (same held-first /
    # retroactive-emission transitions per window, applied in arrival
    # order), the bucket state is the parallel-array rendition of its
    # windows' (cnt, pending) rows, and the emitted row set is identical
    # for any micro-batch split — the stream==batch pytest twins pin it.
    # Collision-free by construction: the bucket only GROUPS windows; the
    # full two-column identity stays the dict key inside.
    n_buckets = int(state_buckets) if state_buckets else _SSTREAM_BUCKETS
    bucketed = windows.withColumn(
        "_bk", F.pmod(F.col("_s"), F.lit(n_buckets))
    )

    def fn(key, pdfs, state):
        if state.exists:
            s1a, s2a, cnta, pda, ppa = state.get
            st = {
                (int(s1a[i]), int(s2a[i])): [int(cnta[i]), int(pda[i]), int(ppa[i])]
                for i in range(len(s1a))
            }
        else:
            st = {}
        out_d: list[int] = []
        out_p: list[int] = []
        for pdf in pdfs:
            for d, p, w1, w2 in zip(pdf["_id"], pdf["_pos"], pdf["_s"], pdf["_s2"]):
                wk = (int(w1), int(w2))
                e = st.get(wk)
                if e is None:
                    st[wk] = [1, int(d), int(p)]
                elif e[0] == 1:
                    out_d.append(e[1])  # retroactive emission of the held first
                    out_p.append(e[2])
                    out_d.append(int(d))
                    out_p.append(int(p))
                    e[0], e[1], e[2] = 2, -1, -1
                else:
                    out_d.append(int(d))
                    out_p.append(int(p))
                    e[0] += 1
        keys = list(st.keys())
        state.update((
            [k0 for k0, _ in keys],
            [k1 for _, k1 in keys],
            [st[k][0] for k in keys],
            [st[k][1] for k in keys],
            [st[k][2] for k in keys],
        ))
        yield pd.DataFrame({"doc_id": out_d, "pos": out_p})

    emitted = bucketed.groupBy("_bk").applyInPandasWithState(
        fn,
        "doc_id long, pos long",
        "s1 array<long>, s2 array<long>, cnt array<long>, "
        "pdoc array<long>, ppos array<long>",
        "append",
        GroupStateTimeout.NoTimeout,
    )
    spark = docs.sparkSession
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    if shuffle_partitions is not None:
        spark.conf.set("spark.sql.shuffle.partitions", str(shuffle_partitions))
    try:
        q = (
            emitted.writeStream.format("parquet")
            .option("path", os.path.join(state_dir, "dups"))
            .option(
                "checkpointLocation", os.path.join(state_dir, "_checkpoint")
            )
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def read_duplicated_spans(spark: SparkSession, state_dir: str, k: int = 16) -> DataFrame:
    """Accumulated result of stream_duplicated_windows as MAXIMAL SPANS —
    the same gaps-and-islands merge (operators/dedup.windows_to_spans)
    over the emitted (doc_id, pos) rows, so after any availableNow drain:
    read_duplicated_spans(...) == duplicated_spans(<all docs so far>).
    Empty-but-typed before the first duplicate.

    The sink probe goes through spark.read (mirroring read_neardup_pairs),
    NOT a driver-local os.listdir — the state_dir may live on an object
    store or DFS the driver's local filesystem can't see."""
    import os

    from pyspark.sql import types as T

    from iodf_spark.operators.dedup import windows_to_spans

    schema = T.StructType(
        [T.StructField("doc_id", T.LongType()), T.StructField("pos", T.LongType())]
    )
    df = _read_sink_or_empty(spark, os.path.join(state_dir, "dups"), schema)
    return windows_to_spans(df, k)


# --------------------------------------------------------------------------
# Incremental line-level boilerplate dedup (the streaming twin of
# operators/dedup.line_dedup — round-12 verdict #5: the last dedup-family
# member without an incremental path)


def stream_boilerplate_lines(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    state_dir: str,
    max_df: int = None,  # type: ignore[assignment]
    shuffle_partitions: int | None = None,
) -> None:
    """Incremental discovery of BOILERPLATE LINES over a document stream:
    a line hash is emitted EXACTLY ONCE, in the micro-batch where its
    corpus-wide distinct-doc frequency first exceeds ``max_df`` — so the
    accumulated sink equals the batch operator's boilerplate set over the
    corpus-so-far for ANY micro-batch split (the dedup_minhash
    stream == batch contract, at line granularity). Verdicts are then
    derived by :func:`read_line_dedup`, which is the batch per-doc
    machinery fed from the sink — the retroactive-verdict problem (a doc
    scored clean before its footer crossed the gate) dissolves because
    verdicts are always RE-derived from the monotone boilerplate set,
    never emitted per-doc.

    Engine shape: the line stream is the batch operator's own
    tokenization (operators/dedup._line_rows — split + posexplode +
    polynomial hash, all codegen; fan_out no-ops on a stream); the ONLY
    stateful primitive is applyInPandasWithState keyed by the 8-byte
    line hash. State per key is the distinct doc-id set ONLY WHILE it is
    still below the gate — bounded at max_df+1 ids (24-32 B at the
    default gate) — and collapses to a 1-bit 'crossed' flag forever
    after: hot boilerplate (every page's footer, the exact skew case)
    carries the SMALLEST state. No per-batch scan of anything
    corpus-sized; per-delivery cost is the delivery's own lines plus
    state lookups.

    State lives forever (one row per distinct line hash ever seen below
    the gate): exact global frequencies, the same trade
    stream_duplicated_windows documents — boilerplate is defined by
    all-time frequency, so event-time GC would silently re-admit it.

    Output sink: parquet (_lh) rows under state_dir/boiler with the
    checkpoint under state_dir/_checkpoint — exactly-once end to end."""
    import os

    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    from iodf_spark.operators.dedup import LINE_MAX_DF, _line_rows

    if max_df is None:
        max_df = LINE_MAX_DF

    lines = _line_rows(docs, id_col, text_col).select("_id", "_lh")

    def fn(key, pdfs, state):
        crossed, seen = state.get if state.exists else (False, [])
        if crossed:
            for _ in pdfs:  # drain the iterator; verdict is already out
                pass
            yield pd.DataFrame({"_lh": []}).astype({"_lh": "int64"})
            return
        s = {int(x) for x in seen}
        for pdf in pdfs:
            s.update(int(d) for d in pdf["_id"])
        if len(s) > max_df:
            # the crossing batch: emit the hash once, drop the id set
            state.update((True, []))
            yield pd.DataFrame({"_lh": [int(key[0])]})
        else:
            state.update((False, sorted(s)))
            yield pd.DataFrame({"_lh": []}).astype({"_lh": "int64"})

    emitted = lines.groupBy("_lh").applyInPandasWithState(
        fn,
        "_lh long",
        "crossed boolean, seen array<long>",
        "append",
        GroupStateTimeout.NoTimeout,
    )
    spark = docs.sparkSession
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    if shuffle_partitions is not None:
        spark.conf.set("spark.sql.shuffle.partitions", str(shuffle_partitions))
    try:
        q = (
            emitted.writeStream.format("parquet")
            .option("path", os.path.join(state_dir, "boiler"))
            .option(
                "checkpointLocation", os.path.join(state_dir, "_checkpoint")
            )
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def read_line_dedup(
    spark: SparkSession,
    docs: DataFrame,
    id_col: str,
    text_col: str,
    state_dir: str,
    max_df: int = None,  # type: ignore[assignment]
) -> DataFrame:
    """Per-doc line-dedup verdicts for the drained corpus-so-far: the
    batch operator's own verdict machinery (operators/dedup._line_verdict
    — same counts, same cleaned_fp fold) fed by the ACCUMULATED
    boilerplate sink instead of a fresh corpus-wide frequency aggregate,
    so after any availableNow drain covering ``docs``:
    read_line_dedup(spark, docs, ...) == line_dedup(docs, ...).
    Empty-but-typed sink before the first boilerplate line."""
    import os

    from pyspark.sql import types as T

    from iodf_spark.operators.dedup import _line_rows, _line_verdict

    del max_df  # the gate was applied at stream time; kept for symmetry
    schema = T.StructType([T.StructField("_lh", T.LongType())])
    boiler = (
        _read_sink_or_empty(spark, os.path.join(state_dir, "boiler"), schema)
        # the sink is exactly-once, but dropDuplicates costs nothing on a
        # set this small and makes the reader safe under a manually
        # copied/merged sink dir
        .dropDuplicates(["_lh"])
        .select("_lh", F.lit(True).alias("_bp"))
    )
    return _line_verdict(_line_rows(docs, id_col, text_col), boiler)


# --------------------------------------------------------------------------
# Incremental benchmark decontamination (streaming ExactSubstr vs a STATIC
# benchmark — the live-crawl twin of operators/dedup.contaminated_spans /
# decontaminate_clean)


def stream_contaminated_windows(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    benchmark: DataFrame,
    state_dir: str,
    k: int = 16,
) -> None:
    """Incremental substring-grain benchmark decontamination over a
    document stream: every k-token window of an arriving doc that occurs
    verbatim anywhere in the STATIC ``benchmark`` is emitted as a
    (doc_id, pos) hit in the micro-batch the doc arrives in — so the
    accumulated sink equals the batch detector's window-hit set over the
    corpus-so-far for ANY micro-batch split (contamination is per-doc
    against a fixed reference, so unlike self-duplication there is no
    cross-doc state: this op is STATELESS, and stream == batch needs no
    retroactive emission).

    Engine shape: tokenize -> two-column ~2^112 wide-fold window
    identities (operators/dedup.packed_grams_expr, the array form —
    window functions are unavailable on streaming DataFrames) ->
    posexplode -> stream-static
    BROADCAST left-semi join against the benchmark's distinct window
    identities. The benchmark side is computed ONCE batch-side (eval
    suites are MBs — the same broadcast-the-benchmark plan shape the batch
    operator pins in test_plans); the corpus pays only its own window
    stream, no text in any shuffle key, no state store at all — each
    micro-batch costs its own windows plus a map-side probe.

    Output sink: parquet (doc_id, pos) rows under state_dir/hits with the
    checkpoint under state_dir/_checkpoint — exactly-once end to end.
    Read back through :func:`read_contaminated_spans` (maximal spans) or
    :func:`read_decontaminated_clean` (the materialized cut)."""
    import os

    from iodf_spark.functions import texthash as TH
    from iodf_spark.operators.dedup import _gram_stream2, packed_grams_expr

    # localCheckpoint: the static side of the stream-static join is
    # re-planned (re-tokenized, re-deduped) for EVERY micro-batch's
    # broadcast build; materializing the benchmark's distinct window
    # identities once makes each batch's broadcast a cheap local scan.
    # Benchmark suites are MBs at any corpus scale, so the checkpoint is
    # bounded. Cluster caveat: localCheckpoint blocks are unreplicated
    # with lineage cut — an executor loss mid-stream fails the query
    # instead of recomputing; restart recovers (availableNow + the
    # checkpointed sink), but on lossy clusters prefer
    # persist(StorageLevel.MEMORY_AND_DISK_2) for the static side.
    bench = (
        _gram_stream2(benchmark, id_col, text_col, k)
        .select("_s", "_s2")
        .distinct()
        .localCheckpoint()
    )
    h1m = TH.mix(TH.text_hash("_tok", "spark"), "spark")
    h2m = TH.mix(TH.text_hash2("_tok", "spark"), "spark", mod=TH.MOD2)
    toks = TH.tokens(text_col, "spark")
    hashed = docs.select(
        F.col(id_col).cast("long").alias("_id"),
        F.expr(f"transform({toks}, _tok -> {h1m})").alias("_th"),
        F.expr(f"transform({toks}, _tok -> {h2m})").alias("_t2"),
    )
    windows = hashed.select(
        "_id",
        F.posexplode(F.expr(packed_grams_expr("_th", "_t2", k))).alias("_pos", "_w"),
    ).select(
        "_id", "_pos", F.col("_w.s1").alias("_s"), F.col("_w.s2").alias("_s2")
    )
    hits = windows.join(F.broadcast(bench), ["_s", "_s2"], "leftsemi").select(
        F.col("_id").alias("doc_id"), F.col("_pos").alias("pos")
    )
    q = (
        hits.writeStream.format("parquet")
        .option("path", os.path.join(state_dir, "hits"))
        .option("checkpointLocation", os.path.join(state_dir, "_checkpoint"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def _read_hit_windows(spark: SparkSession, state_dir: str) -> DataFrame:
    import os

    from pyspark.sql import types as T

    schema = T.StructType(
        [T.StructField("doc_id", T.LongType()), T.StructField("pos", T.LongType())]
    )
    return _read_sink_or_empty(spark, os.path.join(state_dir, "hits"), schema)


def read_contaminated_spans(
    spark: SparkSession, state_dir: str, k: int = 16
) -> DataFrame:
    """Accumulated stream_contaminated_windows hits as MAXIMAL SPANS (the
    shared gaps-and-islands merge), so after any availableNow drain:
    read_contaminated_spans(...) == contaminated_spans(<docs so far>,
    benchmark). Empty-but-typed before the first hit."""
    from iodf_spark.operators.dedup import windows_to_spans

    return windows_to_spans(_read_hit_windows(spark, state_dir), k)


def read_decontaminated_clean(
    spark: SparkSession,
    docs: DataFrame,
    id_col: str,
    text_col: str,
    state_dir: str,
    k: int = 16,
) -> DataFrame:
    """The materialized CUT over the accumulated stream hits: for the
    (static) ``docs`` frame covering everything drained so far,
    read_decontaminated_clean(...) == decontaminate_clean(docs, ...,
    benchmark) — the same coalesce-spans-then-cut machinery, fed by the
    sink instead of a fresh corpus-vs-benchmark join."""
    from iodf_spark.operators.dedup import _cut_window_positions

    rm = _read_hit_windows(spark, state_dir).select(
        F.col("doc_id").alias("_id"), F.col("pos").alias("_pos")
    )
    return _cut_window_positions(docs, rm, id_col, text_col, k)
