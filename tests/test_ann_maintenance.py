"""Delete propagation into materialized ANN stores (ann_maintenance):
probed stores must never return a taken-down corpus row across the full
lifecycle delete -> compact -> reinsert -> purge -> rebuild, and the
change-feed cursor must surface a purge as FullRefreshRequired (the
renumber-epoch interplay). Reference parity: merged-index maintenance on
segment lifecycle events, reference io/Dfs.scala:476-487."""

import os

import pytest
from pyspark.sql import functions as F

from iodf_spark.operators.ann_maintenance import (
    ann_apply_deletes,
    ann_compact_deletes,
    ann_reinstate,
    ann_store_seed,
    ann_store_sync,
    read_ann_deletes,
    read_centroid_sidecar,
    FullRefreshRequired,
)
from iodf_spark.operators.similarity import ann_ivf, ann_ivf_store, ann_ivfpq_store
from iodf_spark.sources.segments import SegmentStore

DIM = 64
QUERIES = [200, 300, 400]
DELETED = [201, 202, 301]  # all >= n_centroids/n_codes: training rows survive


@pytest.fixture(autouse=True)
def _both_backends(fsio_backend):
    """Every manifest-commit / ledger-replay / vacuum / torn-window test
    in this suite runs against BOTH fsio backends — the ANN store's
    crash-safety story (vN.json-then-CURRENT, applied-window ledger,
    orphan vacuum) must hold on object-store semantics, not just POSIX
    rename."""
    yield


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return (
        spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
        .select("vec_id", "embedding")
        .orderBy("vec_id")
    )


@pytest.fixture()
def corpus(spark, emb, tmp_path):
    store = SegmentStore(str(tmp_path / "corpus"))
    store.write_segment(emb.filter(F.col("vec_id") < 450), order_keys=["vec_id"])
    return store


def _probe(spark, emb, path, query_ids=QUERIES, k=5):
    return {
        (r["query_id"], r["rank"]): r["neighbor_id"]
        for r in ann_ivf_store(
            emb, "vec_id", "embedding", path, query_ids, k=k, dim=DIM
        ).collect()
    }


def test_lifecycle_never_returns_deleted(spark, emb, corpus, tmp_path):
    """delete -> sync -> compact -> purge -> sync(raises) -> reseed: the
    probed store excludes taken-down ids at EVERY stage, and each stage's
    results equal a fresh IVF over the filtered corpus (same frozen
    centroids — deleted ids are outside the training prefix)."""
    path = str(tmp_path / "ivf")
    ann_store_seed(spark, corpus, path, "vec_id", "embedding", dim=DIM)

    live = corpus.open(spark).filter(~F.col("vec_id").isin(DELETED))
    want = {
        (r["query_id"], r["rank"]): r["neighbor_id"]
        for r in ann_ivf(live, "vec_id", "embedding", QUERIES, k=5, dim=DIM).collect()
    }

    # stage 1: corpus takedown -> sync -> deletion-list path
    corpus.delete_where(spark, F.col("vec_id").isin(DELETED))
    windows = ann_store_sync(spark, corpus, path, "vec_id", "embedding", dim=DIM)
    assert windows, "sync must consume the delete window"
    got = _probe(spark, emb, path)
    assert set(got.values()).isdisjoint(DELETED)
    assert got == want
    assert read_ann_deletes(spark, path) is not None  # list path, no rewrite yet

    # stage 2: compaction materializes the deletes into the touched cells
    cells = ann_compact_deletes(spark, path)
    assert cells
    assert read_ann_deletes(spark, path) is None
    physical = {
        r["neighbor_id"]
        for r in spark.read.parquet(path).select("neighbor_id").collect()
    }
    assert physical.isdisjoint(DELETED)
    assert _probe(spark, emb, path) == want

    # stage 3: corpus compaction is row_id-invariant -> sync is a no-op
    corpus.compact(spark)
    ann_store_sync(spark, corpus, path, "vec_id", "embedding", dim=DIM)
    assert _probe(spark, emb, path) == want

    # stage 4: PURGE renumbers the row space -> the cursor's epoch is
    # stale -> sync must refuse incrementally and demand a full refresh
    corpus.purge(spark)
    with pytest.raises(FullRefreshRequired):
        ann_store_sync(spark, corpus, path, "vec_id", "embedding", dim=DIM)

    # stage 5: re-seed (the prescribed recovery) -> identical results
    ann_store_seed(spark, corpus, path, "vec_id", "embedding", dim=DIM)
    assert _probe(spark, emb, path) == want


def test_sync_appends_inserts_and_is_idempotent(spark, emb, corpus, tmp_path):
    path = str(tmp_path / "ivf")
    ann_store_seed(spark, corpus, path, "vec_id", "embedding", dim=DIM)
    # corpus grows: rows 450..499 arrive as a new segment
    corpus.write_segment(
        emb.filter(F.col("vec_id") >= 450), order_keys=["vec_id"]
    )
    assert ann_store_sync(spark, corpus, path, "vec_id", "embedding", dim=DIM)
    # appended rows are probeable and results equal a full-corpus IVF
    want = {
        (r["query_id"], r["rank"]): r["neighbor_id"]
        for r in ann_ivf(
            corpus.open(spark), "vec_id", "embedding", QUERIES, k=5, dim=DIM
        ).collect()
    }
    assert _probe(spark, emb, path) == want
    # replay: caught-up sync does nothing; store row count stable
    n0 = spark.read.parquet(path).count()
    assert ann_store_sync(spark, corpus, path, "vec_id", "embedding", dim=DIM) == []
    assert spark.read.parquet(path).count() == n0


def test_seed_builds_from_the_version_it_pins(spark, emb, corpus, tmp_path):
    """A corpus commit landing between the seed's version read and its
    build input read must reach the store exactly once: the seed builds
    the pinned version, the next sync appends the commit."""
    read = corpus.manifest_doc_versioned

    def racy():
        del corpus.manifest_doc_versioned  # fire once
        out = read()
        SegmentStore(corpus.path).write_segment(
            emb.filter(F.col("vec_id") >= 450), order_keys=["vec_id"]
        )
        return out

    corpus.manifest_doc_versioned = racy
    path = str(tmp_path / "ivf")
    ann_store_seed(spark, corpus, path, "vec_id", "embedding", dim=DIM)
    ann_store_sync(spark, corpus, path, "vec_id", "embedding", dim=DIM)
    ids = [r["neighbor_id"] for r in spark.read.parquet(path).collect()]
    want = [r["vec_id"] for r in corpus.open(spark).collect()]
    assert sorted(ids) == sorted(want)


def test_reinsert_after_takedown(spark, emb, corpus, tmp_path):
    """A republished document (delete then insert of the same vec_id with
    a NEW vector) must surface with the new content — the deletion-list
    entry is reinstated, the stale codes dropped, the new codes appended."""
    path = str(tmp_path / "ivf")
    ann_store_seed(spark, corpus, path, "vec_id", "embedding", dim=DIM)
    victim = 210
    corpus.delete_where(spark, F.col("vec_id") == victim)
    ann_store_sync(spark, corpus, path, "vec_id", "embedding", dim=DIM)
    assert victim not in set(_probe(spark, emb, path, k=20).values())
    # republish: same id, a different vector (vec_id 480's embedding)
    newvec = emb.filter(F.col("vec_id") == 480).select(
        F.lit(victim).cast("long").alias("vec_id"), "embedding"
    )
    corpus.write_segment(newvec, order_keys=["vec_id"])
    ann_store_sync(spark, corpus, path, "vec_id", "embedding", dim=DIM)
    # the id is live again, once, with the NEW vector's codes
    rows = (
        spark.read.parquet(path)
        .filter(F.col("neighbor_id") == victim)
        .collect()
    )
    assert len(rows) == 1
    assert read_ann_deletes(spark, path) is None or (
        read_ann_deletes(spark, path)
        .filter(F.col("neighbor_id") == victim)
        .count()
        == 0
    )
    want = {
        (r["query_id"], r["rank"]): r["neighbor_id"]
        for r in ann_ivf(
            corpus.open(spark), "vec_id", "embedding", QUERIES, k=5, dim=DIM
        ).collect()
    }
    assert _probe(spark, emb, path) == want


def test_apply_deletes_is_replay_safe(spark, emb, tmp_path):
    from iodf_spark.operators.similarity import ivf_build_store

    path = str(tmp_path / "ivf")
    ivf_build_store(emb, "vec_id", "embedding", path, n_centroids=4, dim=DIM)
    ids = spark.createDataFrame([(i,) for i in DELETED], "vec_id long")
    assert ann_apply_deletes(spark, path, ids) == len(DELETED)
    p1 = _probe(spark, emb, path)
    ann_apply_deletes(spark, path, ids)  # replayed window
    assert _probe(spark, emb, path) == p1
    # reinstate clears both the list and the stale codes
    assert ann_reinstate(spark, path, ids) == len(DELETED)
    assert read_ann_deletes(spark, path) is None
    assert (
        spark.read.parquet(path)
        .filter(F.col("neighbor_id").isin(DELETED))
        .count()
        == 0
    )


def test_centroid_sidecar_survives_training_row_takedown(
    spark, emb, corpus, tmp_path
):
    """Deleting a training-prefix row must not drift later appends: the
    sidecar freezes the build-time centroids, so an append after the
    takedown still assigns against the ORIGINAL cells (legacy in-store
    recovery would lose centroid 2 once its member row is compacted)."""
    path = str(tmp_path / "ivf")
    ann_store_seed(spark, corpus, path, "vec_id", "embedding", dim=DIM)
    side = read_centroid_sidecar(spark, path)
    assert side is not None and side.count() == 4
    corpus.delete_where(spark, F.col("vec_id") == 2)  # centroid member
    ann_store_sync(spark, corpus, path, "vec_id", "embedding", dim=DIM)
    ann_compact_deletes(spark, path)  # centroid 2's member row physically gone
    # an append after the takedown still lands rows in all 4 original cells
    corpus.write_segment(
        emb.filter(F.col("vec_id") >= 450), order_keys=["vec_id"]
    )
    ann_store_sync(spark, corpus, path, "vec_id", "embedding", dim=DIM)
    side2 = read_centroid_sidecar(spark, path)
    assert {r["cid"] for r in side2.select("cid").collect()} == {0, 1, 2, 3}
    # and the store's appended rows match a fresh build with the SAME
    # frozen centroids (cells recovered from the sidecar, not members)
    new_ids = {
        r["neighbor_id"]
        for r in spark.read.parquet(path)
        .filter(F.col("neighbor_id") >= 450)
        .select("neighbor_id")
        .collect()
    }
    assert len(new_ids) == 50


def test_ivfpq_store_is_delete_aware(spark, emb, corpus, tmp_path):
    path = str(tmp_path / "ivfpq")
    ann_store_seed(
        spark, corpus, path, "vec_id", "embedding", kind="ivfpq", dim=DIM
    )
    corpus.delete_where(spark, F.col("vec_id").isin(DELETED))
    ann_store_sync(
        spark, corpus, path, "vec_id", "embedding", kind="ivfpq", dim=DIM
    )

    def probe():
        return {
            (r["query_id"], r["rank"]): r["neighbor_id"]
            for r in ann_ivfpq_store(
                emb, "vec_id", "embedding", path, QUERIES, k=5, dim=DIM,
                rerank=20,
            ).collect()
        }

    got = probe()
    assert set(got.values()).isdisjoint(DELETED)
    ann_compact_deletes(spark, path)
    assert probe() == got
    physical = {
        r["neighbor_id"]
        for r in spark.read.parquet(path).select("neighbor_id").collect()
    }
    assert physical.isdisjoint(DELETED)


def test_ivfpq_codebook_freeze_survives_training_row_takedown(
    spark, emb, corpus, tmp_path
):
    """THE round-9 advice (high): a takedown of an id < n_codes row must
    NOT drift the PQ codebooks for later appends. The codebooks are
    frozen into a sidecar at seed time; sync's append path encodes
    against the sidecar, so appended rows carry the SAME codes a one-shot
    encode against the seed-time codebooks produces — even after the
    training row is physically compacted away."""
    from iodf_spark.operators.ann_maintenance import read_codebook_sidecar
    from iodf_spark.operators.similarity import _pq_encode

    path = str(tmp_path / "ivfpq")
    ann_store_seed(
        spark, corpus, path, "vec_id", "embedding", kind="ivfpq", dim=DIM
    )
    cb0 = read_codebook_sidecar(spark, path)
    assert cb0 is not None and cb0.count() == 4 * 16
    frozen = sorted(
        (r["m"], r["code"], tuple(r["csub"])) for r in cb0.collect()
    )

    # take down a CODEBOOK training row (id < n_codes = 16) and compact:
    # the live corpus's id-prefix sample is now a different set
    corpus.delete_where(spark, F.col("vec_id") == 7)
    ann_store_sync(
        spark, corpus, path, "vec_id", "embedding", kind="ivfpq", dim=DIM
    )
    ann_compact_deletes(spark, path)

    # append fresh rows through sync — must encode against the FROZEN cb
    corpus.write_segment(
        emb.filter(F.col("vec_id") >= 450), order_keys=["vec_id"]
    )
    ann_store_sync(
        spark, corpus, path, "vec_id", "embedding", kind="ivfpq", dim=DIM
    )

    # sidecar unchanged by the whole lifecycle
    cb1 = read_codebook_sidecar(spark, path)
    assert (
        sorted((r["m"], r["code"], tuple(r["csub"])) for r in cb1.collect())
        == frozen
    )
    # appended codes == one-shot encode of the same rows vs the frozen cb
    new_rows = emb.filter(F.col("vec_id") >= 450)
    want = {
        r["neighbor_id"]: tuple(r[f"code{j}"] for j in range(4))
        for r in _pq_encode(
            new_rows, "vec_id", "embedding", 4, DIM // 4, cb0
        ).collect()
    }
    got = {
        r["neighbor_id"]: tuple(r[f"code{j}"] for j in range(4))
        for r in spark.read.parquet(path)
        .filter(F.col("neighbor_id") >= 450)
        .collect()
    }
    assert got == want and len(got) == 50


def test_ivfpq_sync_refuses_pre_freeze_store(spark, emb, corpus, tmp_path):
    """A store whose codebook sidecar is missing (pre-freeze layout)
    cannot be drift-appended: sync must demand a full refresh instead of
    silently re-deriving quantizers from the live corpus."""
    import shutil

    from iodf_spark.operators.ann_maintenance import CODEBOOKS_DIR

    path = str(tmp_path / "ivfpq")
    ann_store_seed(
        spark, corpus, path, "vec_id", "embedding", kind="ivfpq", dim=DIM
    )
    shutil.rmtree(os.path.join(path, CODEBOOKS_DIR))
    corpus.write_segment(
        emb.filter(F.col("vec_id") >= 450), order_keys=["vec_id"]
    )
    with pytest.raises(FullRefreshRequired, match="sidecar"):
        ann_store_sync(
            spark, corpus, path, "vec_id", "embedding", kind="ivfpq", dim=DIM
        )


def test_replayed_window_runs_no_store_scan(spark, emb, corpus, tmp_path, monkeypatch):
    """THE round-9 weak mark, fixed: a replayed (already fully applied)
    sync window must be decided from the O(1) applied-window ledger —
    NEVER by anti-joining the delivery against all ids physically in the
    store. We rewind the change-feed cursor (simulating the one crash
    window where apply committed but the cursor write was lost), re-sync,
    and assert (a) the store-id scan was never built, (b) no duplicate
    rows appeared."""
    from iodf_spark.operators import ann_maintenance as M

    path = str(tmp_path / "ivf")
    ann_store_seed(spark, corpus, path, "vec_id", "embedding", dim=DIM)
    corpus.write_segment(
        emb.filter(F.col("vec_id") >= 450), order_keys=["vec_id"]
    )
    windows = ann_store_sync(spark, corpus, path, "vec_id", "embedding", dim=DIM)
    assert windows
    n0 = spark.read.parquet(path).count()

    calls = {"n": 0}
    real = M._store_ids

    def counting(spark_, p):
        calls["n"] += 1
        return real(spark_, p)

    monkeypatch.setattr(M, "_store_ids", counting)
    # lost-cursor replay: rewind the cursor to before the applied window
    frm, to = windows[0]
    M._write_cdf_cursor(
        M._maint_dir(path), frm,
        corpus.manifest_doc_at(frm)["renumber_epoch"],
    )
    replayed = ann_store_sync(spark, corpus, path, "vec_id", "embedding", dim=DIM)
    assert replayed, "the rewound cursor must re-deliver the window"
    assert calls["n"] == 0, "replay must be decided by the ledger, not a store scan"
    assert spark.read.parquet(path).count() == n0, "replay appended rows"


def test_torn_window_converges_via_safe_path(spark, emb, corpus, tmp_path, monkeypatch):
    """A TORN window (crash mid-apply: the ledger's in-flight marker
    survives, the cursor never advanced) must take the safe store-scan
    path exactly once and converge — no duplicates, appended rows all
    present."""
    from iodf_spark.operators import ann_maintenance as M

    path = str(tmp_path / "ivf")
    ann_store_seed(spark, corpus, path, "vec_id", "embedding", dim=DIM)
    corpus.write_segment(
        emb.filter(F.col("vec_id") >= 450), order_keys=["vec_id"]
    )
    # simulate the crash: run the real sync (which appends + commits),
    # then forge the crash state — in-flight marker set, cursor rewound
    windows = ann_store_sync(spark, corpus, path, "vec_id", "embedding", dim=DIM)
    frm, to = windows[0]
    n0 = spark.read.parquet(path).count()
    M._write_ledger(path, frm, {"frm": frm, "to": to})
    M._write_cdf_cursor(
        M._maint_dir(path), frm,
        corpus.manifest_doc_at(frm)["renumber_epoch"],
    )
    calls = {"n": 0}
    real = M._store_ids

    def counting(spark_, p):
        calls["n"] += 1
        return real(spark_, p)

    monkeypatch.setattr(M, "_store_ids", counting)
    ann_store_sync(spark, corpus, path, "vec_id", "embedding", dim=DIM)
    assert calls["n"] == 1, "torn window must converge via ONE safe scan"
    assert spark.read.parquet(path).count() == n0
    led = M._read_ledger(path)
    assert led["applied_to"] == to and led["inflight"] is None


def test_delete_resolve_prunes_to_candidate_cells(spark, tmp_path):
    """The delete-resolve scan is bounded by parquet-footer id-ranges:
    on a corpus whose cells correlate with id ranges (time-ordered
    corpora — the normal case), a takedown touching one id neighborhood
    resolves against ONLY the cells whose footer range can contain it."""
    import math

    from iodf_spark.operators import ann_maintenance as M
    from iodf_spark.operators.similarity import ivf_build_store

    # planted: 4 tight clusters, ids sequential per cluster -> cell ids
    # correlate with id ranges (each cluster lands in one cell)
    rows = []
    vid = 0
    for c in range(4):
        center = [math.cos(0.9 * c + 0.37 * j) for j in range(8)]
        for m in range(50):
            rows.append(
                (
                    vid,
                    [
                        center[j] + 0.03 * math.sin(1.7 * m + 2.3 * j + c)
                        for j in range(8)
                    ],
                )
            )
            vid += 1
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    # centroids = one member of each planted cluster (ids 0,50,100,150)
    cents = [rows[c * 50][1] for c in range(4)]
    path = str(tmp_path / "ivf")
    ivf_build_store(
        df, "vec_id", "embedding", path, n_centroids=4, dim=8, cent_vecs=cents
    )
    ranges = M._cell_id_ranges(path)
    assert ranges is not None and len(ranges) == 4
    # takedown ids all inside cluster 2's id range [100, 150)
    ids = spark.createDataFrame([(110,), (111,), (145,)], "vec_id long")
    cand = M._delete_candidate_cells(spark, path, ids)
    assert cand is not None and len(cand) == 1, (
        f"expected one candidate cell, got {cand} (ranges {ranges})"
    )
    # and the apply itself still lands exactly the right deletion rows
    assert M.ann_apply_deletes(spark, path, ids) == 3
    dels = M.read_ann_deletes(spark, path)
    assert {r["neighbor_id"] for r in dels.collect()} == {110, 111, 145}
    assert {r["cid"] for r in dels.collect()} == set(cand)


def test_probe_is_snapshot_isolated_from_compaction(spark, emb, corpus, tmp_path):
    """A probe PLANNED before compaction keeps reading the intact
    pre-compaction files (manifest snapshot + deferred vacuum), a probe
    planned after reads the compacted cells — both return identical
    results, and vacuum reclaims the retired files afterward."""
    from iodf_spark.operators import ann_maintenance as M

    path = str(tmp_path / "ivf")
    ann_store_seed(spark, corpus, path, "vec_id", "embedding", dim=DIM)
    corpus.delete_where(spark, F.col("vec_id").isin(DELETED))
    ann_store_sync(spark, corpus, path, "vec_id", "embedding", dim=DIM)
    v0 = M.ann_manifest_read(path)["version"]

    # plan (but do not run) a probe against the pre-compaction snapshot
    pre = ann_ivf_store(
        emb, "vec_id", "embedding", path, QUERIES, k=5, dim=DIM
    )
    ann_compact_deletes(spark, path, vacuum=False)  # flip, keep old files
    assert M.ann_manifest_read(path)["version"] > v0
    post = ann_ivf_store(
        emb, "vec_id", "embedding", path, QUERIES, k=5, dim=DIM
    )
    rows_pre = [(r["query_id"], r["rank"], r["neighbor_id"]) for r in pre.collect()]
    rows_post = [(r["query_id"], r["rank"], r["neighbor_id"]) for r in post.collect()]
    assert rows_pre == rows_post
    assert all(nid not in DELETED for _, _, nid in rows_pre)
    # deferred vacuum reclaims the retired cell files + the deletes list
    assert M.ann_vacuum(path) > 0
    physical = {
        r["neighbor_id"]
        for r in spark.read.parquet(path).select("neighbor_id").collect()
    }
    assert physical.isdisjoint(DELETED)
    assert M.ann_manifest_read(path)["stale"] == []


def test_vacuum_retention_spares_reader_planned_at_previous_version(
    spark, emb, corpus, tmp_path
):
    """A probe planned against version N-1 holds invisible references to
    that snapshot's files; a vacuum running after the compaction flip to N
    with a retention window (SegmentStore.vacuum's min_age contract, at
    ANN-file grain) must spare every file a YOUNG manifest version
    references — the pre-planned probe still reads complete files — and a
    later out-of-window vacuum reclaims them."""
    from iodf_spark.operators import ann_maintenance as M

    path = str(tmp_path / "ivf")
    ann_store_seed(spark, corpus, path, "vec_id", "embedding", dim=DIM)
    corpus.delete_where(spark, F.col("vec_id").isin(DELETED))
    ann_store_sync(spark, corpus, path, "vec_id", "embedding", dim=DIM)

    # reader resolves CURRENT = N-1 at plan time; the maintainer compacts
    # WITH the retention window plumbed through (the standing-maintainer
    # call shape) — the flip to N happens, but the in-window vacuum spares
    # every file a young version references
    pre = ann_ivf_store(emb, "vec_id", "embedding", path, QUERIES, k=5, dim=DIM)
    ann_compact_deletes(spark, path, vacuum=True, vacuum_min_age_seconds=3600)
    stale_before = M.ann_manifest_read(path)["stale"]
    assert stale_before  # the N-1 files are spared, awaiting reclamation

    # an explicit in-window vacuum is likewise a no-op under the reader
    assert M.ann_vacuum(path, min_age_seconds=3600) == 0
    assert M.ann_manifest_read(path)["stale"] == stale_before  # still listed
    rows_pre = [(r["query_id"], r["rank"], r["neighbor_id"]) for r in pre.collect()]
    assert rows_pre and all(nid not in DELETED for _, _, nid in rows_pre)

    # outside the window the same call reclaims, and a freshly planned
    # probe (against N) is untouched
    assert M.ann_vacuum(path, min_age_seconds=0) > 0
    assert M.ann_manifest_read(path)["stale"] == []
    assert _probe(spark, emb, path) == {
        (q, rk): n for (q, rk), n in zip(
            [(q, rk) for q, rk, _ in rows_pre], [n for _, _, n in rows_pre]
        )
    }


def test_crash_mid_compaction_leaves_old_snapshot(spark, emb, corpus, tmp_path, monkeypatch):
    """A crash between compaction's replacement-file append and its
    manifest commit must leave the OLD snapshot current — probes stay
    delete-aware and identical, never a half-rewritten cell — and
    ann_vacuum reconciles the orphan files; the retried compaction then
    succeeds."""
    from iodf_spark.operators import ann_maintenance as M

    path = str(tmp_path / "ivf")
    ann_store_seed(spark, corpus, path, "vec_id", "embedding", dim=DIM)
    corpus.delete_where(spark, F.col("vec_id").isin(DELETED))
    ann_store_sync(spark, corpus, path, "vec_id", "embedding", dim=DIM)
    want = _probe(spark, emb, path)
    v0 = M.ann_manifest_read(path)["version"]

    real = M._manifest_commit

    def boom(store_path, doc):
        raise RuntimeError("simulated crash before manifest commit")

    monkeypatch.setattr(M, "_manifest_commit", boom)
    with pytest.raises(RuntimeError, match="simulated crash"):
        ann_compact_deletes(spark, path)
    monkeypatch.setattr(M, "_manifest_commit", real)

    # old snapshot current: same version, deletes still pending, probe
    # identical (old files intact — never mixed with the torn rewrite)
    assert M.ann_manifest_read(path)["version"] == v0
    assert read_ann_deletes(spark, path) is not None
    assert _probe(spark, emb, path) == want
    # reconcile: the torn attempt's orphan files are reclaimed
    assert M.ann_vacuum(path) > 0
    assert _probe(spark, emb, path) == want
    # the retried compaction completes normally
    cells = ann_compact_deletes(spark, path)
    assert cells and read_ann_deletes(spark, path) is None
    assert _probe(spark, emb, path) == want
    physical = {
        r["neighbor_id"]
        for r in spark.read.parquet(path).select("neighbor_id").collect()
    }
    assert physical.isdisjoint(DELETED)


def test_ann_store_describe(spark, emb, corpus, tmp_path):
    from iodf_spark.operators.ann_maintenance import ann_store_describe

    path = str(tmp_path / "ivf")
    ann_store_seed(spark, corpus, path, "vec_id", "embedding", dim=DIM)
    d0 = ann_store_describe(spark, path)
    assert d0["n_cells"] == 4 and d0["n_rows"] == 450
    assert d0["pending_deletes"] == 0 and d0["has_centroid_sidecar"]
    assert d0["sidecar_k"] == 4 and d0["cursor"]["version"] >= 1
    assert d0["cell_rows_min"] >= 1 and sum((d0["cell_rows_min"],)) <= d0["cell_rows_max"]

    corpus.delete_where(spark, F.col("vec_id").isin(DELETED))
    ann_store_sync(spark, corpus, path, "vec_id", "embedding", dim=DIM)
    d1 = ann_store_describe(spark, path)
    assert d1["pending_deletes"] == len(DELETED)
    assert d1["n_rows"] == 450  # physical rows until compaction
    assert d1["cursor"]["version"] > d0["cursor"]["version"]

    ann_compact_deletes(spark, path)
    d2 = ann_store_describe(spark, path)
    assert d2["pending_deletes"] == 0
    assert d2["n_rows"] == 450 - len(DELETED)

    # the serving sidecar surfaces once the tuner has run (None before)
    from iodf_spark.operators.ann_maintenance import ann_tune_n_probe

    assert d2["serving"] is None
    tuned = ann_tune_n_probe(spark, path, k=5, recall_target=0.8)
    d3 = ann_store_describe(spark, path)
    assert d3["serving"] == tuned and 1 <= d3["serving"]["n_probe"] <= 4


def test_ann_compaction_survives_objectstore_crash_at_every_mutation(
    spark, emb, tmp_path_factory
):
    """EXHAUSTIVE crash sweep over the ANN store's compaction commit
    choreography on the object-store backend (the corpus-store twin lives
    in test_fsio): a FaultyService outage at EVERY mutating-operation
    index must leave probes returning the identical delete-aware result
    (old snapshot with the pending deletion list, or new snapshot with
    the cells rewritten — never a torn mix), and the retried compaction
    must converge. Spark's parquet writes bypass the seam — the sweep
    covers the metadata protocol, which is where the crash-safety claims
    live."""
    import shutil

    from iodf_spark.operators import ann_maintenance as M
    from iodf_spark.sources import fsio
    from tests.test_fsio import FaultyService

    template_root = tmp_path_factory.mktemp("annfaulty")
    corpus_t = str(template_root / "corpus")
    store_t = str(template_root / "ivf")
    with fsio.using_backend(fsio.ObjectStoreBackend()):
        corpus = SegmentStore(corpus_t)
        corpus.write_segment(emb.filter(F.col("vec_id") < 450), order_keys=["vec_id"])
        ann_store_seed(spark, corpus, store_t, "vec_id", "embedding", dim=DIM)
        corpus.delete_where(spark, F.col("vec_id").isin(DELETED))
        ann_store_sync(spark, corpus, store_t, "vec_id", "embedding", dim=DIM)
        want = _probe(spark, emb, store_t)
    assert all(nid not in DELETED for nid in want.values())

    def copy_of(tag):
        dst = str(tmp_path_factory.mktemp(f"annfaulty_{tag}") / "ivf")
        shutil.copytree(store_t, dst)
        return dst

    probe_svc = FaultyService(fail_after=None)
    dry = copy_of("dry")
    with fsio.using_backend(fsio.ObjectStoreBackend(probe_svc)):
        ann_compact_deletes(spark, dry)
    n_ops = probe_svc.mutations
    assert n_ops >= 2  # vN.json + CURRENT at minimum

    for k in range(n_ops):
        dst = copy_of(k)
        with fsio.using_backend(fsio.ObjectStoreBackend(FaultyService(k))):
            try:
                ann_compact_deletes(spark, dst)
            except Exception:
                pass  # the injected outage
        with fsio.using_backend(fsio.ObjectStoreBackend()):
            assert _probe(spark, emb, dst) == want, (
                f"probe drifted after crash at op {k}"
            )
            cells = ann_compact_deletes(spark, dst)  # the retry
            if read_ann_deletes(spark, dst) is not None:
                # list survived the crashed+retried pair: compact once more
                ann_compact_deletes(spark, dst)
            assert read_ann_deletes(spark, dst) is None
            assert _probe(spark, emb, dst) == want, (
                f"post-recovery drift at op {k}"
            )
        shutil.rmtree(os.path.dirname(dst), ignore_errors=True)


def test_manifest_history_pruning_is_age_aware(tmp_path, monkeypatch):
    """Round-12 ADVICE fix: _manifest_commit's history pruning was
    count-only (MANIFEST_RETAIN), so a standing maintainer committing
    more than RETAIN times inside a vacuum retention window deleted
    history that ann_vacuum(min_age_seconds) still needed for its
    concurrent-reader spare set. Pruning now has an AGE floor: a version
    younger than MANIFEST_RETAIN_SECONDS survives any commit rate; with
    the floor off, count pruning applies as before."""
    from iodf_spark.operators import ann_maintenance as M
    from iodf_spark.sources import fsio

    path = str(tmp_path / "store")
    monkeypatch.setattr(M, "MANIFEST_RETAIN", 2)
    doc = {"cells": {}, "deletes": set(), "stale": []}
    for _ in range(8):
        M._manifest_commit(path, dict(doc))
    d = M._manifest_dir(path)
    # every version is younger than the age floor: NONE pruned, even
    # though 6 of them are past the count horizon
    assert len(fsio.list_files(d, ".json")) == 8
    # the spare-set derivation can therefore still see all of them
    assert M.ann_manifest_read(path)["version"] == 8
    # floor off -> count pruning bites exactly as documented
    monkeypatch.setattr(M, "MANIFEST_RETAIN_SECONDS", 0.0)
    M._manifest_commit(path, dict(doc))
    kept = sorted(fsio.list_files(d, ".json"))
    assert kept == ["v00000007.json", "v00000008.json", "v00000009.json"]


def test_ann_compaction_survives_strict_objectstore_crash_at_every_mutation(
    spark, emb, tmp_path_factory
):
    """The ANN-store compaction crash sweep on the STRICT backend (the
    corpus-store strict twin lives in test_fsio): the store's manifest,
    ledger and deletion-list METADATA exist only in the in-memory
    service, so this proves the delete-aware probe's old-or-new snapshot
    guarantee holds with no local-file shadow of the commit protocol —
    the outage ends by clearing fail_after on the SAME service (durable
    objects survive an outage)."""
    import shutil

    from iodf_spark.sources import fsio
    from tests.test_fsio import FaultyStrictService

    template_root = tmp_path_factory.mktemp("sannfaulty")
    corpus_t = str(template_root / "corpus")
    store_t = str(template_root / "ivf")
    tpl_svc = fsio.StrictObjectStore()
    with fsio.using_backend(fsio.StrictObjectStoreBackend(tpl_svc)):
        corpus = SegmentStore(corpus_t)
        corpus.write_segment(emb.filter(F.col("vec_id") < 450), order_keys=["vec_id"])
        ann_store_seed(spark, corpus, store_t, "vec_id", "embedding", dim=DIM)
        corpus.delete_where(spark, F.col("vec_id").isin(DELETED))
        ann_store_sync(spark, corpus, store_t, "vec_id", "embedding", dim=DIM)
        want = _probe(spark, emb, store_t)
    assert all(nid not in DELETED for nid in want.values())

    def clone(tag, fail_after):
        dst = str(tmp_path_factory.mktemp(f"sannfaulty_{tag}") / "ivf")
        shutil.copytree(store_t, dst)
        svc = FaultyStrictService(fail_after)
        with tpl_svc._lock:
            for key, val in tpl_svc._objs.items():
                if key.startswith(store_t + os.sep):
                    svc._objs[key.replace(store_t, dst, 1)] = val
        return dst, svc

    dry, svc = clone("dry", None)
    with fsio.using_backend(fsio.StrictObjectStoreBackend(svc)):
        ann_compact_deletes(spark, dry)
    n_ops = svc.mutations
    assert n_ops >= 2  # vN.json + CURRENT at minimum

    for k in range(n_ops):
        dst, svc = clone(k, k)
        with fsio.using_backend(fsio.StrictObjectStoreBackend(svc)):
            try:
                ann_compact_deletes(spark, dst)
            except Exception:
                pass  # the injected outage
        svc.fail_after = None  # outage over; durable objects all survive
        with fsio.using_backend(fsio.StrictObjectStoreBackend(svc)):
            assert _probe(spark, emb, dst) == want, (
                f"probe drifted after crash at op {k}"
            )
            ann_compact_deletes(spark, dst)  # the retry
            if read_ann_deletes(spark, dst) is not None:
                ann_compact_deletes(spark, dst)
            assert read_ann_deletes(spark, dst) is None
            assert _probe(spark, emb, dst) == want, (
                f"post-recovery drift at op {k}"
            )
        shutil.rmtree(os.path.dirname(dst), ignore_errors=True)
