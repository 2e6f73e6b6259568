"""Multi-writer commit protocol of the SegmentStore.

At cluster scale many jobs share one store, so the single-writer
assumption the reference's mmap dirs live under (store/Dir.scala holds
one process's file handles) does not survive; the store uses
Delta/Iceberg-style optimistic concurrency instead:

* segment dirs are claimed with an ATOMIC mkdir — two commits can never
  interleave files inside one seg-* dir;
* the manifest version file is claimed with an atomic link — the loser
  gets ManifestConflictError;
* appends always commute, so a losing append RETRIES against the fresh
  manifest (Delta's append-vs-append resolution); compact_run retries
  across concurrent appends and surfaces a conflict only when the run
  itself was concurrently compacted;
* the orphan sweep (reconcile) gives unreferenced dirs a grace window so
  another writer's written-but-not-yet-published segment is never
  deleted mid-commit (Delta's VACUUM retention, at segment grain).

The deterministic tests below inject the competitor INSIDE the victim's
first publish attempt and then force the conflict, which exercises the
exact interleaving a real race produces without sleeping on threads.
"""

import os

import pytest
from pyspark.sql import functions as F

from iodf_spark.sources.segments import ManifestConflictError, SegmentStore


@pytest.fixture(autouse=True)
def _both_backends(fsio_backend):
    """Every OCC race in this suite runs against BOTH fsio backends: the
    POSIX one (rename/link atomicity) and the object-store one
    (conditional-put claims, whole-object-PUT pointer flips,
    copy-list-delete adoption) — the commit protocol must not depend on
    which store carries it."""
    yield


@pytest.fixture()
def path(tmp_path):
    return str(tmp_path / "store")


def _df(spark, lo, hi):
    return spark.createDataFrame([(i, i * 10) for i in range(lo, hi)], "k long, v long")


def _inject_then_conflict(victim, competitor_action):
    """Patch `victim._publish` so its FIRST attempt runs the competitor's
    full commit and then loses the race; later attempts go through."""
    orig = SegmentStore._publish
    state = {"fired": False}

    def racy(entries, base_version=None):
        if not state["fired"]:
            state["fired"] = True
            competitor_action()
            raise ManifestConflictError("injected: competitor claimed the version")
        return orig(victim, entries, base_version)

    victim._publish = racy
    return state


def test_concurrent_appends_both_commit(spark, path):
    a, b = SegmentStore(path), SegmentStore(path)
    a.write_segment(_df(spark, 0, 10), order_keys=["k"])
    _inject_then_conflict(
        a, lambda: b.write_segment(_df(spark, 100, 130), order_keys=["k"])
    )
    a.write_segment(_df(spark, 10, 25), order_keys=["k"])
    entries = a.manifest()
    # all three segments committed, none lost, each with a unique dir
    assert [e["n_rows"] for e in entries] == [10, 30, 15]
    assert len({e["segment_id"] for e in entries}) == 3
    # offsets are the running concatenation in COMMIT order
    assert [e["row_id_offset"] for e in entries] == [0, 10, 40]
    got = a.open(spark).orderBy("row_id").select("k").collect()
    assert [r["k"] for r in got] == list(range(10)) + list(range(100, 130)) + list(
        range(10, 25)
    )


def test_append_retry_adopts_committed_batch_key(spark, path):
    """Two replicas of the SAME producer batch race: the loser must adopt
    the winner's committed entry and remove its duplicate files — the
    exactly-once contract holds across the race, not just across serial
    replays."""
    a, b = SegmentStore(path), SegmentStore(path)
    _inject_then_conflict(
        a,
        lambda: b.write_segment(
            _df(spark, 0, 20), order_keys=["k"], batch_key="job7-batch3"
        ),
    )
    entry = a.write_segment(
        _df(spark, 0, 20), order_keys=["k"], batch_key="job7-batch3"
    )
    entries = a.manifest()
    assert len(entries) == 1 and entries[0]["batch_key"] == "job7-batch3"
    assert entry["segment_id"] == entries[0]["segment_id"]
    # the loser's claimed dir is gone; only the winner's files remain
    segs = [n for n in os.listdir(path) if n.startswith("seg-")]
    assert segs == [f"seg-{entries[0]['segment_id']:05d}"]
    assert a.open(spark).count() == 20


def test_have_segments_race_converges_to_one_segment(spark, path):
    """create-if-absent raced by another creator lands exactly ONE
    segment: the initial write's reserved batch_key makes the loser adopt
    the winner's commit instead of appending a duplicate."""
    a, b = SegmentStore(path), SegmentStore(path)
    _inject_then_conflict(
        a, lambda: b.have_segments(lambda: _df(spark, 0, 40), order_keys=["k"])
    )
    entry = a.have_segments(lambda: _df(spark, 0, 40), order_keys=["k"])
    assert entry is not None
    assert len(a.manifest()) == 1
    assert a.open(spark).count() == 40


def test_write_segments_by_retries_across_concurrent_append(spark, path):
    """A batched append losing its race to a plain append re-offsets
    every one of its segments at the fresh end: all land, and the
    offsets stay the running concatenation in commit order."""
    a, b = SegmentStore(path), SegmentStore(path)
    a.write_segment(_df(spark, 0, 10), order_keys=["k"])
    _inject_then_conflict(
        a, lambda: b.write_segment(_df(spark, 100, 130), order_keys=["k"])
    )
    src = _df(spark, 10, 30).withColumn("part", F.col("k") % 2)
    a.write_segments_by(src, "part", [0, 1], ["k"])
    entries = a.manifest()
    assert [e["n_rows"] for e in entries] == [10, 30, 10, 10]
    assert [e["row_id_offset"] for e in entries] == [0, 10, 40, 50]
    got = a.open(spark).orderBy("row_id").select("k").collect()
    assert [r["k"] for r in got] == (
        list(range(10)) + list(range(100, 130))
        + list(range(10, 30, 2)) + list(range(11, 30, 2))
    )


@pytest.mark.parametrize(
    "op", ["write_segment", "write_segments_by", "delete_where", "compact_run"]
)
def test_always_losing_publish_gives_up_cleanly(spark, path, op):
    """A publish that loses every race: after _COMMIT_RETRIES attempts
    the op raises ManifestConflictError naming itself, removes what it
    staged, and the store reads exactly as before."""
    from iodf_spark.sources.segments import _COMMIT_RETRIES

    store = SegmentStore(path)
    store.write_segment(_df(spark, 0, 10), order_keys=["k"])
    store.write_segment(_df(spark, 10, 20), order_keys=["k"])
    before = (store.manifest_doc(), store.versions(), sorted(os.listdir(path)))
    attempts = []

    def losing(doc, base_version=None):
        attempts.append(base_version)
        raise ManifestConflictError("injected: always beaten")

    store._publish = losing
    run = {
        "write_segment": lambda: store.write_segment(
            _df(spark, 20, 30), order_keys=["k"]
        ),
        "write_segments_by": lambda: store.write_segments_by(
            _df(spark, 20, 30).withColumn("part", F.col("k") % 2),
            "part", [0, 1], ["k"],
        ),
        "delete_where": lambda: store.delete_where(spark, "k < 5"),
        "compact_run": lambda: store.compact_run(spark, 0, 2),
    }[op]
    with pytest.raises(ManifestConflictError, match=f"{op} lost the manifest race"):
        run()
    assert attempts == [2] * _COMMIT_RETRIES
    del store._publish
    assert (store.manifest_doc(), store.versions(), sorted(os.listdir(path))) == before
    got = sorted(r["k"] for r in store.open(spark).collect())
    assert got == list(range(20))


def test_compact_run_retries_across_concurrent_append(spark, path):
    """An append landing between the compactor's manifest read and its
    publish must not be lost OR fail the compaction: the compactor
    relocates the (unchanged) run in the fresh manifest and republishes
    around it."""
    a, b = SegmentStore(path), SegmentStore(path)
    for lo, hi in [(0, 10), (10, 30), (30, 35)]:
        a.write_segment(_df(spark, lo, hi), order_keys=["k"])
    _inject_then_conflict(
        a, lambda: b.write_segment(_df(spark, 200, 220), order_keys=["k"])
    )
    merged = a.compact_run(spark, 0, 3)
    entries = a.manifest()
    # merged run first, the concurrently appended segment intact after it
    assert [e["n_rows"] for e in entries] == [35, 20]
    assert entries[0]["segment_id"] == merged["segment_id"]
    assert [e["row_id_offset"] for e in entries] == [0, 35]
    got = a.open(spark).orderBy("row_id").select("k").collect()
    assert [r["k"] for r in got] == list(range(35)) + list(range(200, 220))


def test_compact_run_conflicting_compaction_raises_cleanly(spark, path):
    """Two compactors racing over overlapping runs cannot both win: the
    loser's merge is built against entries that no longer exist, so it
    must surface ManifestConflictError (re-plan and retry), drop its
    stale merged files, and leave the winner's store fully consistent."""
    a, b = SegmentStore(path), SegmentStore(path)
    for lo, hi in [(0, 10), (10, 30), (30, 35)]:
        a.write_segment(_df(spark, lo, hi), order_keys=["k"])
    winner = {}
    _inject_then_conflict(
        a, lambda: winner.setdefault("entry", b.compact_run(spark, 0, 2))
    )
    before_dirs = {n for n in os.listdir(path) if n.startswith("seg-")}
    with pytest.raises(ManifestConflictError, match="re-plan"):
        a.compact_run(spark, 0, 3)
    # loser's merged dir was dropped; only the winner's merge is new
    after_dirs = {n for n in os.listdir(path) if n.startswith("seg-")}
    assert after_dirs == before_dirs | {
        f"seg-{winner['entry']['segment_id']:05d}"
    }
    # winner's layout reads consistently, rows bit-identical
    assert [e["n_rows"] for e in a.manifest()] == [30, 5]
    got = a.open(spark).orderBy("row_id").select("k").collect()
    assert [r["k"] for r in got] == list(range(35))


def test_claimed_dirs_never_collide(spark, path):
    """The mkdir claim skips ids whose dir already exists on disk — even
    an unpublished one (another writer's in-flight claim): file-level
    interleaving inside a seg dir is structurally impossible."""
    a = SegmentStore(path)
    a.write_segment(_df(spark, 0, 5), order_keys=["k"])  # claims seg-00000
    os.makedirs(os.path.join(path, "seg-00001"))  # foreign in-flight claim
    e2 = a.write_segment(_df(spark, 5, 9), order_keys=["k"])
    assert e2["segment_id"] == 2  # skipped the claimed id
    assert [e["segment_id"] for e in a.manifest()] == [0, 2]
    assert a.open(spark).count() == 9
    # the foreign claim survives the sweep (grace window)
    a.reconcile()
    assert os.path.isdir(os.path.join(path, "seg-00001"))


def test_threaded_appends_all_commit(spark, path):
    """Real threads, real races: N writers append concurrently through
    independent store handles; every append must commit exactly once and
    the concatenation must stay offset-consistent."""
    import threading

    n_writers = 4
    errs = []

    def work(i):
        try:
            SegmentStore(path).write_segment(
                _df(spark, i * 100, i * 100 + 10 + i), order_keys=["k"]
            )
        except Exception as e:  # pragma: no cover - surfaced via assert
            errs.append(e)

    threads = [threading.Thread(target=work, args=(i,)) for i in range(n_writers)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert errs == []
    store = SegmentStore(path)
    entries = store.manifest()
    assert len(entries) == n_writers
    assert len({e["segment_id"] for e in entries}) == n_writers
    # offsets are exact prefix sums in manifest order
    acc = 0
    for e in entries:
        assert e["row_id_offset"] == acc
        acc += e["n_rows"]
    df = store.open(spark)
    assert df.count() == acc == sum(10 + i for i in range(n_writers))
    # row_id space is dense and collision-free
    assert df.select("row_id").distinct().count() == acc
    assert df.agg(F.max("row_id")).collect()[0][0] == acc - 1


def test_delete_where_racing_purge_raises_not_corrupts(spark, path):
    """HIGH-severity pin: delete_where losing its OCC race to a concurrent
    PURGE must raise (its computed row_ids were renumbered out from under
    it), NEVER republish the pre-purge id-list — that would silently hide
    the wrong rows while the rows the caller asked to delete stay live.
    The purge's renumber epoch bump is the detector."""
    store = SegmentStore(path)
    store.write_segment(_df(spark, 0, 40), order_keys=["k"])
    store.delete_where(spark, "k < 10")  # rows 0..9 tombstoned
    victim = SegmentStore(path)

    def competitor():
        SegmentStore(path).purge(spark)  # renumbers: live rows now 0..29

    _inject_then_conflict(victim, competitor)
    with pytest.raises(ManifestConflictError, match="re-run delete_where"):
        victim.delete_where(spark, "k >= 30")
    # the loser's id-list must not survive as a referenced tombstone: the
    # store still reads exactly the purge's 30 live rows
    fresh = SegmentStore(path)
    assert fresh.manifest_doc()["tombstones"] == []
    assert fresh.live_rows() == 30
    got = sorted(r["k"] for r in fresh.open(spark).collect())
    assert got == list(range(10, 40))
    # and the caller's re-run (the documented contract) deletes the right
    # rows in the renumbered space
    t = fresh.delete_where(spark, "k >= 30")
    assert t["n"] == 10
    assert sorted(r["k"] for r in fresh.open(spark).collect()) == list(range(10, 30))


def test_delete_where_racing_compact_retries_and_lands(spark, path):
    """delete_where losing its OCC race to a concurrent COMPACTION must
    retry and commit: global row_ids are invariant under compaction, so
    the loser's computed id-list still names exactly the right rows in
    the merged store (the append-vs-compact commute rule, extended to
    tombstones). Contrast with the purge race, which renumbers and must
    raise."""
    store = SegmentStore(path)
    store.write_segment(_df(spark, 0, 20), order_keys=["k"])
    store.write_segment(_df(spark, 20, 40), order_keys=["k"])
    victim = SegmentStore(path)

    def competitor():
        SegmentStore(path).compact(spark)  # 2 segments -> 1, ids unchanged

    _inject_then_conflict(victim, competitor)
    t = victim.delete_where(spark, "k < 5")
    assert t["n"] == 5
    fresh = SegmentStore(path)
    assert len(fresh.manifest()) == 1  # the compaction won and survived
    assert fresh.live_rows() == 35
    assert sorted(r["k"] for r in fresh.open(spark).collect()) == list(range(5, 40))


def test_delete_where_racing_append_retries_and_lands(spark, path):
    """delete_where losing to a concurrent APPEND retries and commits: the
    appended segment's rows get ids past the delete's computed id-list,
    so the tombstones still hide exactly the requested rows and the new
    rows stay fully live."""
    store = SegmentStore(path)
    store.write_segment(_df(spark, 0, 30), order_keys=["k"])
    victim = SegmentStore(path)

    def competitor():
        SegmentStore(path).write_segment(_df(spark, 100, 120), order_keys=["k"])

    _inject_then_conflict(victim, competitor)
    t = victim.delete_where(spark, "k < 10")
    assert t["n"] == 10
    fresh = SegmentStore(path)
    assert fresh.live_rows() == 40
    got = sorted(r["k"] for r in fresh.open(spark).collect())
    assert got == list(range(10, 30)) + list(range(100, 120))


def test_purge_bumps_renumber_epoch_monotonically(spark, path):
    store = SegmentStore(path)
    store.write_segment(_df(spark, 0, 20), order_keys=["k"])
    assert store.manifest_doc()["renumber_epoch"] == 0
    store.delete_where(spark, "k < 3")
    assert store.manifest_doc()["renumber_epoch"] == 0  # deletes don't renumber
    store.purge(spark)
    assert store.manifest_doc()["renumber_epoch"] == 1
    store.write_segment(_df(spark, 100, 110), order_keys=["k"])
    assert store.manifest_doc()["renumber_epoch"] == 1  # appends carry it
    store.compact(spark)
    assert store.manifest_doc()["renumber_epoch"] == 1  # compaction too
    store.delete_where(spark, "k >= 105")
    store.purge(spark)
    assert store.manifest_doc()["renumber_epoch"] == 2


def test_vacuum_retention_window_spares_young_versions(spark, path):
    """A concurrent reader that just resolved a version holds an invisible
    reference; vacuum's min-age retention (Delta's VACUUM window) must
    keep young version files — and their segment dirs — readable."""
    store = SegmentStore(path)
    store.write_segment(_df(spark, 0, 10), order_keys=["k"])  # v1
    store.write_segment(_df(spark, 10, 20), order_keys=["k"])  # v2
    store.compact(spark)  # v3: v1/v2's segments now unreferenced by latest
    removed = store.vacuum(keep_last=1, min_age_seconds=3600)
    assert store.versions() == [1, 2, 3]  # all younger than the window
    assert removed == []
    # the old snapshot is still fully readable (files spared)
    assert store.open_at(spark, 1).count() == 10
    # outside the window the same call reclaims
    store.vacuum(keep_last=1, min_age_seconds=0)
    assert store.versions() == [3]
    with pytest.raises(ValueError):
        store.open_at(spark, 1)
