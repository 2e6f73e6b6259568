"""Segment-store tests mirroring the reference's merge-invariant suite
(DfTest.scala:417-427, 469-496, 531-557: merged(i)==A(i),
merged(|A|+i)==B(i), size additivity, per-column and per-index-key) and the
empty/degenerate cases (DfTest.scala:593-627)."""

import shutil

import pytest
from pyspark.sql import functions as F

from iodf_spark.operators import index as idx
from iodf_spark.sources.segments import SegmentStore
from iodf_spark.sources.tables import load_table


@pytest.fixture()
def store(tmp_path):
    s = SegmentStore(str(tmp_path / "store"), bucket_size=1024)
    yield s
    shutil.rmtree(s.path, ignore_errors=True)


def _three_slices(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem", row_id=True)
    a = li.filter(F.col("row_id") < 2000).drop("row_id")
    b = li.filter((F.col("row_id") >= 2000) & (F.col("row_id") < 4500)).drop("row_id")
    c = li.filter(F.col("row_id") >= 4500).drop("row_id")
    return li, a, b, c


def test_multi_segment_union_preserves_rows(spark, sf_dir, store):
    li, a, b, c = _three_slices(spark, sf_dir)
    for part in (a, b, c):
        store.write_segment(part, order_keys=["l_orderkey", "l_linenumber", "l_extendedprice"])
    opened = store.open(spark)
    assert store.total_rows() == li.count()
    assert opened.count() == li.count()
    # merge invariant: merged(offset + i) == segment(i) for every column
    cols = ["row_id", "l_orderkey", "l_linenumber", "l_quantity", "l_returnflag"]
    got = [tuple(r) for r in opened.select(cols).orderBy("row_id").collect()]
    exp = [tuple(r) for r in li.select(cols).orderBy("row_id").collect()]
    assert got == exp  # slices were in row_id order, so concat == original


def test_missing_column_default_fill(spark, store):
    df1 = spark.createDataFrame([(1, True), (2, False)], "k long, flag boolean")
    df2 = spark.createDataFrame([(3,), (4,)], "k long")
    store.write_segment(df1, order_keys=["k"])
    store.write_segment(df2, order_keys=["k"])
    opened = store.open(spark, defaults={"flag": False})
    rows = {r["k"]: r["flag"] for r in opened.collect()}
    # MultiDf.scala:125-142 — absent bitmap columns read as all-false
    assert rows == {1: True, 2: False, 3: False, 4: False}


def test_indexed_multi_segment_probe_equals_whole(spark, sf_dir, store):
    li, a, b, c = _three_slices(spark, sf_dir)
    conf = idx.IndexConf(include=["l_returnflag", "l_linestatus"])
    for part in (a, b, c):
        store.write_segment(part, order_keys=["l_orderkey", "l_linenumber", "l_extendedprice"], index_conf=conf)
    n = store.total_rows()
    multi_ix = store.open_index(spark)
    whole_ix = idx.build_index(li, conf, bucket_size=1024)
    for col, val in [("l_returnflag", "R"), ("l_linestatus", "F")]:
        assert idx.f(multi_ix, col, val) == idx.f(whole_ix, col, val)
        assert (
            idx.probe(multi_ix, col, val, n, 1024).to_list()
            == idx.probe(whole_ix, col, val, n, 1024).to_list()
        )


def test_compaction_preserves_order_and_index(spark, sf_dir, store):
    li, a, b, c = _three_slices(spark, sf_dir)
    conf = idx.IndexConf(include=["l_returnflag"])
    for part in (a, b, c):
        store.write_segment(part, order_keys=["l_orderkey", "l_linenumber", "l_extendedprice"], index_conf=conf)
    before = [tuple(r) for r in store.open(spark).orderBy("row_id").select("row_id", "l_orderkey").collect()]
    store.compact(spark, index_conf=conf)
    assert len(store.manifest()) == 1
    after = [tuple(r) for r in store.open(spark).orderBy("row_id").select("row_id", "l_orderkey").collect()]
    assert before == after
    n = store.total_rows()
    assert idx.f(store.open_index(spark), "l_returnflag", "R") == li.filter(
        F.col("l_returnflag") == "R"
    ).count()
    assert n == li.count()


def test_empty_store(spark, store):
    # zero-segment merge (DfTest.scala:593-627)
    assert store.manifest() == []
    assert store.open(spark).count() == 0


def test_have_segments_is_create_if_absent(spark, sf_dir, store):
    # haveIndexedDf (Dfs.scala:546-554): second call is a no-op
    li, a, _, _ = _three_slices(spark, sf_dir)
    calls = []

    def build():
        calls.append(1)
        return a

    first = store.have_segments(build, order_keys=["l_orderkey", "l_linenumber", "l_extendedprice"])
    assert first is not None and calls == [1]
    again = store.have_segments(build, order_keys=["l_orderkey", "l_linenumber", "l_extendedprice"])
    assert again is None and calls == [1]
    assert len(store.manifest()) == 1


def test_write_open_seq_roundtrip(spark, sf_dir, tmp_path):
    from iodf_spark.sources.tables import load_table, open_seq, write_seq

    li = load_table(spark, sf_dir, "lineitem", row_id=True)
    path = str(tmp_path / "qty_seq")
    write_seq(li, "l_quantity", path)
    col = open_seq(spark, path)
    assert col.columns == ["row_id", "l_quantity"]
    got = {r["row_id"]: r["l_quantity"] for r in col.collect()}
    want = {r["row_id"]: r["l_quantity"] for r in li.select("row_id", "l_quantity").collect()}
    assert got == want


def test_reconcile_sweeps_orphan_dirs(spark, store):
    """A crash between compact's manifest publish and its cleanup loop
    leaves superseded seg-* dirs on disk; reconcile (run at the start of
    every compact) must sweep exactly the unreferenced dirs — but only
    once they outlive the orphan grace window, because a YOUNG
    unreferenced dir may be a concurrent writer's commit in flight
    (Delta's VACUUM retention rule at segment grain)."""
    import os
    import time as _time

    df = spark.createDataFrame([(i, i * 10) for i in range(50)], "k long, v long")
    store.write_segment(df, order_keys=["k"])
    # simulate the orphan: a seg dir present on disk but absent from the
    # manifest (as left by a compact that crashed before cleanup)
    orphan = os.path.join(store.path, "seg-00999")
    os.makedirs(os.path.join(orphan, "data"), exist_ok=True)
    with open(os.path.join(orphan, "data", "junk"), "w") as fh:
        fh.write("x")
    # fresh orphan = possibly another writer mid-commit: protected
    assert store.reconcile() == []
    assert os.path.exists(orphan)
    # ...until it ages past the grace window (backdate the mtime)
    old = _time.time() - store.orphan_grace_seconds - 1
    from tests.conftest import backdate_tree

    backdate_tree(orphan, old)  # whole tree: fsio.mtime = newest write under the prefix
    removed = store.reconcile()
    assert removed == ["seg-00999"]
    assert not os.path.exists(orphan)
    # the live segment is untouched and the store still opens
    assert store.open(spark).count() == 50
    # idempotent: nothing left to sweep
    assert store.reconcile() == []


def test_snapshot_time_travel_and_vacuum(spark, store):
    """Every publish archives an immutable manifest version; open_at(v)
    reads the store exactly as of v (segments are immutable, so an old
    manifest against them IS the old store). Compaction keeps old versions
    readable (their segment dirs stay live until vacuum); vacuum drops old
    versions and only then sweeps their now-unreferenced segment dirs."""
    import pytest as _pytest

    df1 = spark.createDataFrame([(i,) for i in range(10)], "k long")
    df2 = spark.createDataFrame([(i,) for i in range(10, 30)], "k long")
    store.write_segment(df1, order_keys=["k"])  # v1: [seg0]
    store.write_segment(df2, order_keys=["k"])  # v2: [seg0, seg1]
    assert store.versions() == [1, 2]
    assert store.open_at(spark, 1).count() == 10
    assert store.open_at(spark, 2).count() == 30
    store.compact(spark)  # v3: [merged]; seg0/seg1 retained for v1/v2
    assert store.versions() == [1, 2, 3]
    assert len(store.manifest()) == 1
    # pre-compact snapshots still read bit-identically
    v2 = [tuple(r) for r in store.open_at(spark, 2).orderBy("row_id").collect()]
    now = [tuple(r) for r in store.open(spark).orderBy("row_id").collect()]
    assert v2 == now and store.open_at(spark, 1).count() == 10
    # vacuum to the latest version: old manifests go, then their seg dirs
    removed = store.vacuum(keep_last=1)
    assert sorted(removed) == ["seg-00000", "seg-00001"]
    assert store.versions() == [3]
    assert store.open(spark).count() == 30  # current unharmed
    with _pytest.raises(ValueError, match="not found"):
        store.open_at(spark, 2)


def test_describe_history_consistent_after_vacuum(spark, store):
    """Catalog surfaces must track vacuum, not resurrect dropped state:
    describe().versions and history() list ONLY retained versions, their
    row/segment numbers agree with the live manifest, and history's deltas
    re-baseline against the oldest RETAINED version (the reference's
    closest lifecycle cousin: ref-counted close safety, store/Dir.scala:
    35-50 — lifecycle edges are where stores corrupt)."""
    import pytest as _pytest

    for lo, n in ((0, 10), (10, 20), (30, 5)):
        store.write_segment(
            spark.createDataFrame([(i,) for i in range(lo, lo + n)], "k long"),
            order_keys=["k"],
        )
    pre = store.describe()
    assert pre["versions"] == [1, 2, 3]
    assert [h["version"] for h in store.history()] == [1, 2, 3]
    store.vacuum(keep_last=2)
    post = store.describe()
    assert post["versions"] == [2, 3]
    assert post["n_rows"] == pre["n_rows"] == 35
    assert post["n_segments"] == 3
    hist = store.history()
    assert [h["version"] for h in hist] == [2, 3]
    # deltas re-baseline at the oldest retained version (v2 = 30 rows)
    assert hist[0]["n_rows"] == 30 and hist[0]["rows_delta"] == 30
    assert hist[1]["n_rows"] == 35 and hist[1]["rows_delta"] == 5
    # every retained version is actually readable; the dropped one raises
    assert store.open_at(spark, 2).count() == 30
    assert store.open_at(spark, 3).count() == 35
    with _pytest.raises(ValueError, match="not found"):
        store.open_at(spark, 1)
    # a segment dir deleted out-of-band (manual cleanup) -> open_at on a
    # RETAINED version that needs it raises the 'no longer readable' error
    import shutil

    seg0 = store.manifest_at(2)[0]["segment_id"]
    shutil.rmtree(f"{store.path}/seg-{seg0:05d}")
    with _pytest.raises(ValueError, match="no longer readable"):
        store.open_at(spark, 2)


def test_write_segments_by_equals_sequential_writes(spark, sf_dir, store, tmp_path):
    """One-pass partitioned ingest must produce the identical store
    (manifest offsets, opened rows, index probes) as N sequential
    write_segment calls — same layout at one shuffle+checkpoint total."""
    orders = load_table(spark, sf_dir, "orders")
    conf = idx.IndexConf(include=["o_orderpriority"])

    seq = SegmentStore(str(tmp_path / "seq"), bucket_size=1024)
    for status in ["F", "O", "P"]:
        seq.write_segment(
            orders.filter(F.col("o_orderstatus") == status),
            order_keys=["o_orderkey"], index_conf=conf,
        )
    one = SegmentStore(str(tmp_path / "one"), bucket_size=1024)
    entries = one.write_segments_by(
        orders, "o_orderstatus", ["F", "O", "P"], ["o_orderkey"], index_conf=conf
    )
    assert [e["n_rows"] for e in entries] == [e["n_rows"] for e in seq.manifest()]
    assert [e["row_id_offset"] for e in one.manifest()] == [
        e["row_id_offset"] for e in seq.manifest()
    ]
    a = seq.open(spark).select("row_id", "o_orderkey").orderBy("row_id").collect()
    b = one.open(spark).select("row_id", "o_orderkey").orderBy("row_id").collect()
    assert a == b
    # bucket_size MUST match the store's (dense words decode positions as
    # bucket*bucket_size + word*64 + bit — a default-bucket probe against a
    # 1024-bucket store silently yields garbage ids); assert against the
    # DATA, not probe-vs-probe (which would mask a shared decode bug)
    pa = idx.probe(
        seq.open_index(spark), "o_orderpriority", "1-URGENT",
        seq.total_rows(), seq.bucket_size,
    )
    pb = idx.probe(
        one.open_index(spark), "o_orderpriority", "1-URGENT",
        one.total_rows(), one.bucket_size,
    )
    truth = sorted(
        r["row_id"]
        for r in seq.open(spark)
        .filter("o_orderpriority = '1-URGENT'")
        .collect()
    )
    assert pa.to_list() == pb.to_list() == truth


def test_open_sweeps_crash_orphans(spark, store):
    """A store that crashed mid-write (segment dir on disk, never published
    to any manifest) and is only ever READ afterwards must still come back
    clean: open() runs the reconcile sweep, so the orphan cannot live
    forever on a read-only workload (compact-time sweeping never reaches
    it)."""
    import os

    import time as _time

    df = spark.createDataFrame([(i, i * 10) for i in range(50)], "k long, v long")
    store.write_segment(df, order_keys=["k"])
    orphan = os.path.join(store.path, "seg-00777")
    os.makedirs(os.path.join(orphan, "data"), exist_ok=True)
    with open(os.path.join(orphan, "data", "junk"), "w") as fh:
        fh.write("x")
    old = _time.time() - store.orphan_grace_seconds - 1
    from tests.conftest import backdate_tree

    backdate_tree(orphan, old)  # aged past the in-flight grace window
    opened = store.open(spark)
    assert not os.path.exists(orphan)
    assert opened.count() == 50


def test_reconcile_sweeps_stale_manifest_tmp(spark, store):
    """A crash between mkstemp and the atomic replace in _publish leaves a
    .manifest.tmp no code path ever reads; reconcile must remove it."""
    import os

    import time as _time

    df = spark.createDataFrame([(1, 2)], "k long, v long")
    store.write_segment(df, order_keys=["k"])
    stale = os.path.join(store.path, "xyz123.manifest.tmp")
    with open(stale, "w") as fh:
        fh.write("{}")
    old = _time.time() - store.orphan_grace_seconds - 1
    os.utime(stale, (old, old))  # a FRESH tmp may be a publish in flight
    removed = store.reconcile()
    assert "xyz123.manifest.tmp" in removed
    assert not os.path.exists(stale)
    assert store.open(spark).count() == 1


def test_manifest_publish_conflict_detected(spark, store):
    """Optimistic concurrency: if another writer already claimed the next
    manifest version, a publish must raise ManifestConflictError instead of
    clobbering that commit — and the store must still read consistently at
    the winner's version."""
    import os

    import pytest as _pt

    from iodf_spark.sources.segments import ManifestConflictError

    df = spark.createDataFrame([(i, i * 10) for i in range(20)], "k long, v long")
    store.write_segment(df, order_keys=["k"])
    before = store.manifest()
    # the race window is between the version-list read and the link claim:
    # freeze this writer's view of versions(), then let the competitor win
    stale = store.versions()
    store.versions = lambda: stale
    next_v = os.path.join(store.path, f"manifest-v{stale[-1] + 1:06d}.json")
    with open(next_v, "w") as fh:
        fh.write("[]")
    with _pt.raises(ManifestConflictError, match=f"version {stale[-1] + 1}"):
        store._publish(store.manifest_doc(), base_version=stale[-1])
    # the loser's publish touched neither the claimed version nor the pointer
    assert open(next_v).read() == "[]"
    assert store.manifest() == before
    # no stale tmp files left behind by the failed publish
    assert not [n for n in os.listdir(store.path) if n.endswith(".manifest.tmp")]


def test_format_connectors_land_identical_segments(spark, sf_dir, tmp_path):
    """CSV and JSON-lines drops of the same rows must land as segments
    identical to the parquet-sourced one: same row ids, same index
    probe results — the wire format must not leak into engine semantics."""
    from pyspark.sql import types as T

    from iodf_spark.operators.index import IndexConf, probe
    from iodf_spark.sources.formats import ingest_to_store, read_table
    from iodf_spark.sources.segments import SegmentStore
    from iodf_spark.sources.tables import load_table

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_orderpriority"
    ).limit(200)
    pq, csv, js = (str(tmp_path / d) for d in ("pq", "csv", "js"))
    orc = str(tmp_path / "orc")
    orders.write.parquet(pq)
    orders.write.option("header", "true").csv(csv)
    orders.write.json(js)
    orders.write.orc(orc)
    schema = T.StructType(
        [
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("o_orderstatus", T.StringType()),
            T.StructField("o_orderpriority", T.StringType()),
        ]
    )
    results = {}
    conf = IndexConf(include=["o_orderpriority"])
    for fmt, src in (("parquet", pq), ("csv", csv), ("json", js), ("orc", orc)):
        store = SegmentStore(str(tmp_path / f"store_{fmt}"))
        ingest_to_store(
            spark, src, store, fmt,
            schema=None if fmt in ("parquet", "orc") else schema,
            order_keys=["o_orderkey"], index_conf=conf,
        )
        ix = store.open_index(spark)
        rows = probe(ix, "o_orderpriority", "1-URGENT", store.total_rows()).to_list()
        data = sorted(
            tuple(r) for r in store.open(spark).select(
                "row_id", "o_orderkey", "o_orderstatus"
            ).collect()
        )
        results[fmt] = (rows, data)
    assert results["csv"] == results["parquet"]
    assert results["json"] == results["parquet"]
    assert results["orc"] == results["parquet"]
    # explicit-schema guard: schemaless CSV without opt-in must refuse
    import pytest as _pt

    with _pt.raises(ValueError, match="explicit schema"):
        read_table(spark, csv, "csv")
