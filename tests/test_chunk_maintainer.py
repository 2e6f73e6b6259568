"""The STANDING chunk-store maintainer (round-13 verdict #3): the
amortized RAG indexer — document corpus change feed -> chunk -> cid ->
hash_embed -> ivf_append against the frozen sidecar quantizer, ledger-
tracked exactly like ann_store_sync. What round 12 pinned piecewise
(append == rebuild, doc takedown at chunk grain, tuner composition —
tests/test_chunk_retrieval.py) is here composed END-TO-END off
stream_changes: the delta path a user runs daily is delta == rebuild
under any micro-batch split, replay-idempotent from the O(1) ledger,
torn-window recoverable via exactly one safe scan, and document
takedowns propagate to every chunk THROUGH the feed (the delete's
pre-delete text, resolved touched-segments-only, recomputes the chunk
cids with the same deterministic geometry).

Reference family: the derived-index maintenance contract of
io/Dfs.scala:476-487 applied one transform earlier in the pipeline
(document -> chunks -> vectors instead of vectors directly)."""

import pytest
from pyspark.sql import functions as F

from iodf_spark.operators.ann_maintenance import (
    ann_compact_deletes,
    chunk_store_seed,
    chunk_store_sync,
    read_ann_deletes,
)
from iodf_spark.operators.similarity import ann_ivf_store

DIM = 16
CELLS = 4
ENC = 1_000_000
# deterministic quantizer shared by every store in the file: same cells
# for the incremental store, the split twin, and the rebuild control
CENTS = [[1.0 * (i == j) + 0.05 for j in range(DIM)] for i in range(CELLS)]
GEO = dict(dim=DIM, n_centroids=CELLS, chunk_toks=16, overlap=4)


def _docs(spark, ids, salt=""):
    rows = [
        (i, " ".join(f"w{salt}{i}_{j % 11}" for j in range(24 + (i * 7) % 40)))
        for i in ids
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def _probe_all(spark, path):
    """Exhaustive live ranking (every cell, every chunk) — the equality
    instrument: two stores with the same live chunks rank identically."""
    dummy = spark.createDataFrame(
        [(0, [0.0] * DIM)], "cid long, vec array<double>"
    )
    qv = {-1: [1.0, 0.4] + [0.1] * (DIM - 2)}
    return sorted(
        (r["rank"], r["neighbor_id"])
        for r in ann_ivf_store(
            dummy, "cid", "vec", path, [], k=1_000_000_000,
            n_centroids=CELLS, n_probe=CELLS, dim=DIM, query_vecs=qv,
        ).collect()
    )


def _rows(spark, path):
    return sorted(map(tuple, spark.read.parquet(path).collect()))


@pytest.fixture(autouse=True)
def _both_backends(fsio_backend):
    """The maintainer suite runs against all three fsio backends (the
    r12/r13 store-suite discipline): its cursor/ledger/manifest/sidecar
    metadata choreography must hold on object-store semantics, and the
    strict in-memory backend makes any seam bypass fail loudly."""
    yield


@pytest.fixture()
def corpus(spark, tmp_path):
    from iodf_spark.sources.segments import SegmentStore

    store = SegmentStore(str(tmp_path / "corpus"))
    store.write_segment(_docs(spark, range(0, 6)), order_keys=["doc_id"])
    return store


def test_delta_equals_rebuild_under_any_split(spark, corpus, tmp_path):
    """Two maintainers off the same feed — one syncing after EVERY corpus
    commit, one once at the end — and a one-shot rebuild at the final
    version all agree exactly: same physical rows (after compaction),
    same exhaustive ranking. Lifecycle covered: two append waves, a doc
    takedown, and a republish with DIFFERENT text."""
    per = str(tmp_path / "per_commit")
    lump = str(tmp_path / "lumped")
    chunk_store_seed(spark, corpus, per, "doc_id", "text",
                     cent_vecs=CENTS, **GEO)
    chunk_store_seed(spark, corpus, lump, "doc_id", "text",
                     cent_vecs=CENTS, **GEO)
    # wave 2: new docs
    corpus.write_segment(_docs(spark, range(6, 9)), order_keys=["doc_id"])
    chunk_store_sync(spark, corpus, per, "doc_id", "text", **GEO)
    # takedown: doc 2 leaves the corpus entirely
    corpus.delete_where(spark, F.col("doc_id") == 2)
    chunk_store_sync(spark, corpus, per, "doc_id", "text", **GEO)
    # republish: doc 4 deleted then re-inserted with different text
    corpus.delete_where(spark, F.col("doc_id") == 4)
    corpus.write_segment(_docs(spark, [4], salt="B"), order_keys=["doc_id"])
    chunk_store_sync(spark, corpus, per, "doc_id", "text", **GEO)
    # the lumped maintainer catches up in ONE call over all four commits
    assert chunk_store_sync(spark, corpus, lump, "doc_id", "text", **GEO)
    # rebuild control at the final corpus version
    ctl = str(tmp_path / "rebuild")
    chunk_store_seed(spark, corpus, ctl, "doc_id", "text",
                     cent_vecs=CENTS, **GEO)
    want = _probe_all(spark, ctl)
    assert _probe_all(spark, per) == want
    assert _probe_all(spark, lump) == want
    # takedown propagated to CHUNK grain through the feed
    gone = {nid for _r, nid in want if nid // ENC == 2}
    assert not gone
    assert all(nid // ENC != 2 for _r, nid in _probe_all(spark, per))
    # republished doc serves its NEW text's chunks
    assert any(nid // ENC == 4 for _r, nid in _probe_all(spark, per))
    # after compaction the physical stores are row-identical to the
    # rebuild (same frozen quantizer -> same cells -> same files' rows)
    ann_compact_deletes(spark, per)
    ann_compact_deletes(spark, lump)
    assert _rows(spark, per) == _rows(spark, ctl)
    assert _rows(spark, lump) == _rows(spark, ctl)


def test_seed_builds_from_the_version_it_pins(spark, corpus, tmp_path):
    """A corpus commit landing between the seed's version read and its
    build input read must reach the chunk store exactly once: the seed
    builds the pinned version, the next sync appends the commit."""
    from iodf_spark.sources.segments import SegmentStore

    read = corpus.manifest_doc_versioned

    def racy():
        del corpus.manifest_doc_versioned  # fire once
        out = read()
        SegmentStore(corpus.path).write_segment(
            _docs(spark, range(6, 9)), order_keys=["doc_id"]
        )
        return out

    corpus.manifest_doc_versioned = racy
    path = str(tmp_path / "chunks")
    chunk_store_seed(spark, corpus, path, "doc_id", "text",
                     cent_vecs=CENTS, **GEO)
    chunk_store_sync(spark, corpus, path, "doc_id", "text", **GEO)
    ctl = str(tmp_path / "rebuild")
    chunk_store_seed(spark, corpus, ctl, "doc_id", "text",
                     cent_vecs=CENTS, **GEO)
    got = _probe_all(spark, path)
    assert len({nid for _r, nid in got}) == len(got)
    assert got == _probe_all(spark, ctl)


def test_replayed_window_skips_via_ledger_no_store_scan(
    spark, corpus, tmp_path, monkeypatch
):
    """O(delta) discipline: a replayed (lost-cursor) window is decided by
    the O(1) applied-window ledger — the store-cid anti-join scan is
    never even built, and no duplicate chunks appear."""
    from iodf_spark.operators import ann_maintenance as M

    path = str(tmp_path / "chunks")
    chunk_store_seed(spark, corpus, path, "doc_id", "text",
                     cent_vecs=CENTS, **GEO)
    corpus.write_segment(_docs(spark, range(6, 9)), order_keys=["doc_id"])
    windows = chunk_store_sync(spark, corpus, path, "doc_id", "text", **GEO)
    assert windows
    n0 = spark.read.parquet(path).count()
    calls = {"n": 0}
    real = M._store_ids

    def counting(spark_, p):
        calls["n"] += 1
        return real(spark_, p)

    monkeypatch.setattr(M, "_store_ids", counting)
    frm, to = windows[0]
    M._write_cdf_cursor(
        M._maint_dir(path), frm,
        corpus.manifest_doc_at(frm)["renumber_epoch"],
    )
    replayed = chunk_store_sync(spark, corpus, path, "doc_id", "text", **GEO)
    assert replayed, "the rewound cursor must re-deliver the window"
    assert calls["n"] == 0, "replay must be ledger-decided, not store-scanned"
    assert spark.read.parquet(path).count() == n0
    # caught-up: a further sync is a no-op
    assert chunk_store_sync(spark, corpus, path, "doc_id", "text", **GEO) == []


def test_torn_window_restart_converges(spark, corpus, tmp_path, monkeypatch):
    """Crash mid-apply (in-flight marker survives, cursor rewound): the
    restarted maintainer takes the safe store-cid anti-join EXACTLY once
    and converges — no duplicate chunks, ledger clean, ranking equal to
    the rebuild control."""
    from iodf_spark.operators import ann_maintenance as M

    path = str(tmp_path / "chunks")
    chunk_store_seed(spark, corpus, path, "doc_id", "text",
                     cent_vecs=CENTS, **GEO)
    corpus.write_segment(_docs(spark, range(6, 9)), order_keys=["doc_id"])
    corpus.delete_where(spark, F.col("doc_id") == 1)
    windows = chunk_store_sync(spark, corpus, path, "doc_id", "text", **GEO)
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
    chunk_store_sync(spark, corpus, path, "doc_id", "text", **GEO)
    assert calls["n"] == 1, "torn window must converge via ONE safe scan"
    assert spark.read.parquet(path).count() == n0
    led = M._read_ledger(path)
    assert led["applied_to"] == to and led["inflight"] is None
    ctl = str(tmp_path / "rebuild")
    chunk_store_seed(spark, corpus, ctl, "doc_id", "text",
                     cent_vecs=CENTS, **GEO)
    assert _probe_all(spark, path) == _probe_all(spark, ctl)


def test_purge_demands_full_refresh_and_seed_recovers(spark, corpus, tmp_path):
    """A corpus purge renumbers the row space: the maintainer must
    refuse to guess (FullRefreshRequired) and chunk_store_seed must
    recover to the rebuild state."""
    from iodf_spark.streaming.ingest import FullRefreshRequired

    path = str(tmp_path / "chunks")
    chunk_store_seed(spark, corpus, path, "doc_id", "text",
                     cent_vecs=CENTS, **GEO)
    corpus.delete_where(spark, F.col("doc_id") == 0)
    corpus.purge(spark)
    with pytest.raises(FullRefreshRequired):
        chunk_store_sync(spark, corpus, path, "doc_id", "text", **GEO)
    chunk_store_seed(spark, corpus, path, "doc_id", "text",
                     cent_vecs=CENTS, **GEO)
    assert read_ann_deletes(spark, path) is None
    assert all(nid // ENC != 0 for _r, nid in _probe_all(spark, path))
    # and the recovered maintainer keeps consuming the feed
    corpus.write_segment(_docs(spark, [20]), order_keys=["doc_id"])
    assert chunk_store_sync(spark, corpus, path, "doc_id", "text", **GEO)
    assert any(nid // ENC == 20 for _r, nid in _probe_all(spark, path))


def test_maintained_store_probe_keeps_partition_pruning(spark, corpus, tmp_path):
    """The serving plan property survives maintenance: a probe against
    the SYNCED store (seed half + delta appends) still carries the
    static cid predicate as PartitionFilters — file-level pruning before
    any IO, reading strictly fewer cells than the store holds — and no
    exchange anywhere in the chain keys on text."""
    import contextlib
    import io

    path = str(tmp_path / "chunks")
    chunk_store_seed(spark, corpus, path, "doc_id", "text",
                     cent_vecs=CENTS, **GEO)
    corpus.write_segment(_docs(spark, range(6, 9)), order_keys=["doc_id"])
    chunk_store_sync(spark, corpus, path, "doc_id", "text", **GEO)
    dummy = spark.createDataFrame(
        [(0, [0.0] * DIM)], "cid long, vec array<double>"
    )
    df = ann_ivf_store(
        dummy, "cid", "vec", path, [], k=15,
        n_centroids=CELLS, n_probe=2, dim=DIM,
        query_vecs={-1: [1.0, 0.4] + [0.1] * (DIM - 2)},
    )
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    assert "PartitionFilters" in plan
    tail = plan.split("PartitionFilters", 1)[1][:400]
    assert "cid" in tail, tail
    for seg in plan.split("Exchange hashpartitioning(")[1:]:
        keys = seg.split(")", 1)[0]
        assert "text" not in keys, keys


def test_describe_covers_the_maintained_chunk_store(spark, corpus, tmp_path):
    """ann_store_describe is the chunk store's ops surface too (same
    layout, same manifest/ledger/sidecar files): cursor tracks the
    corpus version the store reflects, pending deletes surface after a
    takedown window, and the staleness field rides along for the tuner
    composition test_chunk_retrieval pins."""
    from iodf_spark.operators.ann_maintenance import ann_store_describe

    path = str(tmp_path / "chunks")
    v = chunk_store_seed(spark, corpus, path, "doc_id", "text",
                         cent_vecs=CENTS, **GEO)
    d0 = ann_store_describe(spark, path)
    assert d0["cursor"]["version"] == v
    assert d0["n_cells"] >= 1 and d0["has_centroid_sidecar"]
    assert d0["pending_deletes"] == 0
    corpus.delete_where(spark, F.col("doc_id") == 0)
    chunk_store_sync(spark, corpus, path, "doc_id", "text", **GEO)
    d1 = ann_store_describe(spark, path)
    assert d1["cursor"]["version"] == v + 1
    assert d1["pending_deletes"] >= 1  # doc 0's chunks await compaction
    assert d1["serving"] is None and d1["serving_staleness"] is None


def _chunk_emb_of(spark, corpus):
    """The recomputable chunk embeddings of the corpus's live docs —
    the rerank source for codes-only chunk stores (hash_embed is a pure
    function of text, so the float vectors never need storing)."""
    from iodf_spark.operators.packing import chunk_cid_expr, chunk_documents
    from iodf_spark.operators.similarity import hash_embed

    ch = chunk_documents(
        corpus.open(spark).select("doc_id", "text"), "doc_id", "text",
        chunk_toks=GEO["chunk_toks"], overlap=GEO["overlap"],
    )
    return hash_embed(
        ch.select(chunk_cid_expr().alias("cid"), "chunk_text"),
        "cid", "chunk_text", dim=DIM,
    )


def test_ivfpq_chunk_store_delta_equals_rebuild_with_carried_width(
    spark, corpus, tmp_path
):
    """The 100 TB RAG serving configuration end-to-end: the chunk store
    holds m one-byte PQ codes per chunk (no float vectors), is
    maintained by deltas off the document change feed, gets its serving
    width from the carry recipe (tune a plain-IVF store over the chunk
    training slice sharing the frozen centroids), and serves
    n_probe='auto' with rerank against the RECOMPUTED chunk embeddings.
    Delta == rebuild exact (both frozen quantizers), takedown propagates
    at chunk grain through the feed."""
    from iodf_spark.operators.ann_maintenance import ann_tune_ivfpq
    from iodf_spark.operators.similarity import ann_ivfpq_store

    pq_geo = dict(kind="ivfpq", m_subspaces=4, n_codes=2)
    path = str(tmp_path / "pqchunks")
    chunk_store_seed(spark, corpus, path, "doc_id", "text",
                     cent_vecs=CENTS, **GEO, **pq_geo)
    corpus.write_segment(_docs(spark, range(6, 9)), order_keys=["doc_id"])
    corpus.delete_where(spark, F.col("doc_id") == 3)
    assert chunk_store_sync(spark, corpus, path, "doc_id", "text",
                            **GEO, **pq_geo)
    ctl = str(tmp_path / "rebuild")
    chunk_store_seed(spark, corpus, ctl, "doc_id", "text",
                     cent_vecs=CENTS, **GEO, **pq_geo)
    # width carry: the training slice is the recomputable chunk corpus
    emb = _chunk_emb_of(spark, corpus)
    doc = ann_tune_ivfpq(
        spark, path, emb, "cid", "vec", str(tmp_path / "tuning"),
        k=5, recall_target=0.8, dim=DIM,
    )
    assert 1 <= doc["n_probe"] <= CELLS and "carried_from" in doc

    def probe(p):
        # rerank large = exact ranking over every probed candidate, so
        # the serving result is pure cell-prune + exact cosine — the
        # equality instrument for delta == rebuild on a codes-only store
        return sorted(
            (r["rank"], r["neighbor_id"])
            for r in ann_ivfpq_store(
                emb, "cid", "vec", p, [], k=25,
                n_centroids=CELLS, n_probe="auto" if p == path else doc["n_probe"],
                m_subspaces=4, n_codes=2, dim=DIM, rerank=100000,
                query_vecs={-1: [1.0, 0.4] + [0.1] * (DIM - 2)},
            ).collect()
        )

    got, want = probe(path), probe(ctl)
    assert got == want
    # takedown propagated through the feed: doc 3 serves no chunk
    assert all(nid // ENC != 3 for _r, nid in got)
    # the maintained store is codes-only: no float vector column on disk
    cols = set(spark.read.parquet(path).columns)
    assert "_cv" not in cols and "vec" not in cols
