"""Trained quantizers (round-8 verdict #2): deterministic driver-side
Lloyd's replaces id-prefix sampling for IVF centroids and PQ codebooks —
dialect-twinned as full-precision literals, frozen into the store sidecar,
and shown to raise recall materially WHERE CLUSTER STRUCTURE EXISTS.

The fixture corpus itself is measured ISOTROPIC (same-label mean cosine
0.002 vs 0.000 cross-label; top-10 co-label rate 11% ≈ the 10% chance
floor), so no trainer can move recall on it — the quality evidence
therefore lives on a planted-cluster corpus in this file, and the
fixture-based tests pin exact dialect parity instead."""

import math
import os

import duckdb
import pytest
from pyspark.sql import functions as F

from iodf_spark.functions.kmeans import (
    lloyd_kmeans,
    train_ivf_centroids,
    train_pq_codebooks,
)
from iodf_spark.operators import similarity as S
from iodf_spark.sources.tables import load_table


@pytest.fixture(scope="module")
def con(sf_dir):
    c = duckdb.connect()
    c.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{sf_dir}/embeddings.parquet')"
    )
    return c


def _sample(sf_dir, n=256):
    """The deterministic training sample BOTH engines see: the first n
    vectors by id, as float64 (float32 -> float64 widening is exact)."""
    rows = (
        duckdb.sql(
            f"SELECT embedding FROM read_parquet('{sf_dir}/embeddings.parquet') "
            f"WHERE vec_id < {n} ORDER BY vec_id"
        )
        .fetchall()
    )
    return [[float(x) for x in r[0]] for r in rows]


def test_lloyd_is_deterministic_and_valid():
    sample = [[math.sin(i * 7 + j) for j in range(8)] for i in range(40)]
    a = lloyd_kmeans(sample, 4, iters=6, metric="cos")
    b = lloyd_kmeans(sample, 4, iters=6, metric="cos")
    assert a == b  # bit-identical, not approximately
    assert len(a) == 4 and all(len(c) == 8 for c in a)
    l2 = lloyd_kmeans(sample, 4, iters=6, metric="l2")
    assert l2 == lloyd_kmeans(sample, 4, iters=6, metric="l2")
    with pytest.raises(ValueError):
        lloyd_kmeans(sample[:3], 4)
    with pytest.raises(ValueError):
        lloyd_kmeans(sample, 4, metric="manhattan")


def test_spherical_centroids_are_unit_norm():
    """The 'cos' metric is REAL spherical k-means (Dhillon–Modha): every
    update re-normalizes the member mean, so centroids stay on the unit
    sphere and the training argmax of P @ C.T IS max-cosine — the same
    assignment rule the distributed _ivf_assign/assign_cos serve with. An
    unnormalized mean biases the dot toward tight (large-norm-mean)
    clusters: training-time and serving-time assignments diverge."""
    sample = [
        [math.sin(i * 7 + j) * (1.0 + (i % 5)) for j in range(8)]
        for i in range(60)
    ]
    cents = lloyd_kmeans(sample, 5, iters=8, metric="cos")
    for c in cents:
        assert abs(math.sqrt(sum(x * x for x in c)) - 1.0) < 1e-12
    # with unit centroids, argmax dot == argmax cosine for every sample
    # point — i.e. training assignment equals the serving assignment
    from iodf_spark.functions.kmeans import assign_cos

    for v in sample[:20]:
        dots = [sum(a * b for a, b in zip(v, c)) for c in cents]
        assert dots.index(max(dots)) == assign_cos(v, cents)


def test_trained_literal_dim_validation(spark, sf_dir):
    """A wrong-LENGTH trained vector fails fast at the entry point (the
    _check_query_vecs contract) instead of flowing into the unrolled
    element_at expressions and surfacing as nulls deep in the plan."""
    emb = load_table(spark, sf_dir, "embeddings")
    short_cents = [[0.1] * 32 for _ in range(4)]  # dim is 64
    with pytest.raises(ValueError, match="dimension mismatch"):
        S.ann_ivf(
            emb, "vec_id", "embedding", [0], n_centroids=4, dim=64,
            cent_vecs=short_cents,
        )
    bad_cb = [[[0.1] * 9] * 16] * 4  # sub_dim is 64/4 = 16, not 9
    with pytest.raises(ValueError, match="sub_dim mismatch"):
        S.ann_pq(
            emb, "vec_id", "embedding", [0], dim=64, codebook_vecs=bad_cb
        )


def test_trained_build_store_probes_with_frozen_sidecar(spark, sf_dir, tmp_path):
    """A store built DIRECTLY with ivf_build_store(cent_vecs=...) — not
    through ann_store_seed — must probe against those trained centroids
    (the build now freezes them into the sidecar and ann_ivf_store reads
    it): before the fix the probe silently derived query cells from the
    id-prefix centroids of the source df, probing the wrong cells."""
    from iodf_spark.operators.similarity import ann_ivf_store, ivf_build_store

    emb = load_table(spark, sf_dir, "embeddings")
    cents = train_ivf_centroids(_sample(sf_dir), k=8, iters=6)
    path = str(tmp_path / "ivf_t")
    ivf_build_store(
        emb, "vec_id", "embedding", path, n_centroids=8, dim=64,
        cent_vecs=cents,
    )
    want = [
        (r["query_id"], r["rank"], r["neighbor_id"])
        for r in S.ann_ivf(
            emb, "vec_id", "embedding", [0, 1, 2],
            n_centroids=8, n_probe=2, dim=64, cent_vecs=cents,
        ).collect()
    ]
    got = [
        (r["query_id"], r["rank"], r["neighbor_id"])
        for r in ann_ivf_store(
            emb, "vec_id", "embedding", path, [0, 1, 2],
            n_centroids=8, n_probe=2, dim=64,  # no cent_vecs: sidecar path
        ).collect()
    ]
    assert got == want


def _match(sdf, con, sql):
    s = sorted(tuple(r) for r in sdf.collect())
    d = sorted(tuple(r) for r in con.execute(sql).fetchall())
    assert len(s) == len(d) > 0
    assert s == d


def test_trained_ivf_matches_oracle(spark, sf_dir, con):
    """Spark with trained-centroid literals == DuckDB with the SAME
    literals: training runs once driver-side, both engines consume the
    identical float64s, so the parity is exact like every other arm."""
    emb = load_table(spark, sf_dir, "embeddings")
    cents = train_ivf_centroids(_sample(sf_dir), k=8, iters=6)
    _match(
        S.ann_ivf(
            emb, "vec_id", "embedding", [0, 1, 2],
            n_centroids=8, n_probe=2, dim=64, cent_vecs=cents,
        ),
        con,
        S.ann_ivf_oracle(
            "vec_id", "embedding", "embeddings", [0, 1, 2],
            n_centroids=8, n_probe=2, dim=64, cent_vecs=cents,
        ),
    )


def test_trained_pq_matches_oracle(spark, sf_dir, con):
    emb = load_table(spark, sf_dir, "embeddings")
    cbs = train_pq_codebooks(_sample(sf_dir), m_subspaces=4, n_codes=16, iters=6)
    _match(
        S.ann_pq(
            emb, "vec_id", "embedding", [0, 1, 2], dim=64,
            rerank=50, codebook_vecs=cbs,
        ),
        con,
        S.ann_pq_oracle(
            "vec_id", "embedding", "embeddings", [0, 1, 2], dim=64,
            rerank=50, codebook_vecs=cbs,
        ),
    )


def _planted(spark, n_clusters=8, per=40, dim=16):
    """A deterministic clustered corpus (no RNG): cluster centers are
    orthogonal-ish trig rays; members are small deterministic
    perturbations — tight enough that a member's true neighbors are its
    own cluster."""
    rows = []
    vid = 0
    for c in range(n_clusters):
        center = [math.cos(0.7 * c + 0.31 * j) for j in range(dim)]
        for m in range(per):
            vec = [
                center[j] + 0.05 * math.sin(1.3 * m + 2.9 * j + c)
                for j in range(dim)
            ]
            rows.append((vid, vec))
            vid += 1
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_trained_centroids_raise_recall_on_clustered_data(spark):
    """THE quality claim: with real cluster structure, trained centroids
    align cells with clusters, so IVF at n_probe=1 finds the whole
    neighborhood; id-prefix 'centroids' (the first k corpus vectors — all
    from cluster 0) collapse most of the corpus into few cells and miss.
    The fixture corpus is isotropic (see module docstring) and cannot
    show this — the planted corpus can, deterministically."""
    df = _planted(spark).cache()
    qids = [0, 45, 90, 135]
    exact = {}
    for r in S.ann_brute_force(df, "vec_id", "embedding", qids, dim=16).collect():
        exact.setdefault(r["query_id"], set()).add(r["neighbor_id"])

    sample = [
        [float(x) for x in r["embedding"]]
        for r in df.orderBy("vec_id").limit(320).collect()
    ]
    trained = train_ivf_centroids(sample, k=8, iters=8)

    def recall(res):
        got = {}
        for r in res.collect():
            got.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        hits = sum(len(exact[q] & got.get(q, set())) for q in qids)
        return hits / sum(len(exact[q]) for q in qids)

    r_prefix = recall(
        S.ann_ivf(df, "vec_id", "embedding", qids, n_centroids=8, n_probe=1, dim=16)
    )
    r_trained = recall(
        S.ann_ivf(
            df, "vec_id", "embedding", qids, n_centroids=8, n_probe=1,
            dim=16, cent_vecs=trained,
        )
    )
    df.unpersist()
    assert r_trained >= 0.95, f"trained recall {r_trained:.2f}"
    assert r_trained >= r_prefix + 0.2, (
        f"trained {r_trained:.2f} vs prefix {r_prefix:.2f}: training must "
        "materially beat the id-prefix sample where structure exists"
    )


def _planted_wide(spark, n_clusters=8, per=80, dim=16):
    """The _planted corpus at 2x size — big enough that a 256-row
    id-PREFIX sample covers only clusters 0..3 (ids are sequential per
    cluster: the id-order-correlates-with-content shape of a
    time-ordered crawl)."""
    return _planted(spark, n_clusters=n_clusters, per=per, dim=dim)


def test_hash_ordered_sample_debiases_id_correlated_corpora(spark):
    """Round-10 verdict #3: the quantizer-training sample is drawn
    hash-ordered (kmeans.hash_order_key), not id-prefix. On a corpus
    whose cluster membership correlates with id ranges (640 rows, ids
    sequential per cluster), a 256-row prefix sees ONLY clusters 0..3;
    the hash-ordered 256 rows cover all 8 — and the trained centroids
    keep the >=0.95 recall pin for queries in the LATE clusters the
    prefix never saw."""
    from iodf_spark.functions.kmeans import hash_order_key

    df = _planted_wide(spark).cache()
    rows = {
        r["vec_id"]: [float(x) for x in r["embedding"]]
        for r in df.collect()
    }
    n = len(rows)
    assert n == 640
    # queries from the late clusters (ids >= 320: outside any 256-prefix)
    qids = [330, 410, 490, 570, 635]
    exact = {}
    for r in S.ann_brute_force(df, "vec_id", "embedding", qids, dim=16).collect():
        exact.setdefault(r["query_id"], set()).add(r["neighbor_id"])

    hash_ids = sorted(range(n), key=lambda i: (hash_order_key(i), i))[:256]
    # the de-biased sample reaches every id-range octant of the corpus
    assert {i // 80 for i in hash_ids} == set(range(8))
    trained = train_ivf_centroids([rows[i] for i in hash_ids], k=8, iters=8)

    got = {}
    for r in S.ann_ivf(
        df, "vec_id", "embedding", qids, n_centroids=8, n_probe=1,
        dim=16, cent_vecs=trained,
    ).collect():
        got.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    df.unpersist()
    recall = sum(len(exact[q] & got.get(q, set())) for q in qids) / sum(
        len(exact[q]) for q in qids
    )
    assert recall >= 0.95, f"hash-sample trained recall {recall:.2f}"


def test_semdedup_trained_centroids_catch_cross_prefix_cell_dups(spark):
    """Round-10 verdict #4: semdedup(cent_vecs=...) clusters around
    trained centroids. Planted twins (cosine ~1) inside each of 8 real
    clusters: trained cells align with the clusters, so EVERY twin pair
    is co-cell and deduped; the id-prefix cells (first 8 corpus vectors
    — all from cluster 0) split at least one twin pair apart and miss
    it."""
    import math as _m

    rows = []
    vid = 0
    twins = []
    for c in range(8):
        center = [_m.cos(0.7 * c + 0.31 * j) for j in range(16)]
        for m in range(20):
            # hash-sin noise (fract(sin(x)*43758.5453), the classic
            # deterministic scatter) so no two MEMBERS are accidental
            # near-dups — only the planted twins clear the 0.999
            # quantized-cosine threshold
            vec = [
                center[j]
                + 0.3
                * (
                    2.0
                    * _m.modf(
                        abs(_m.sin(m * 16 + j + c * 301 + 1)) * 43758.5453
                    )[0]
                    - 1.0
                )
                for j in range(16)
            ]
            rows.append((vid, vec))
            vid += 1
        # the planted near-dup twin of this cluster's first member — with
        # a 15% lean toward ANOTHER cluster's center: quantized cosine to
        # the base stays >= 0.98 (a real near-dup above the 0.975
        # threshold) but the lean is big enough to flip the argmax
        # between the nearly-tied id-PREFIX centroids (all cluster-0
        # members), splitting at least one pair across prefix cells;
        # trained cells, aligned with the real clusters, keep every pair
        # together (both margins checked numerically for this fixture)
        base = rows[vid - 20][1]
        other = [_m.cos(0.7 * ((c + 3) % 8) + 0.31 * j) for j in range(16)]
        rows.append(
            (vid, [0.895 * base[j] + 0.15 * other[j] for j in range(16)])
        )
        twins.append((vid - 20, vid))
        vid += 1
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>").cache()
    sample = [v for _, v in rows]
    trained = train_ivf_centroids(sample, k=8, iters=8)

    def removed(cent_vecs):
        out = S.semdedup(
            df, "vec_id", "embedding", n_centroids=8, threshold=0.975,
            dim=16, cent_vecs=cent_vecs,
        )
        return {r["doc_id"] for r in out.collect() if not r["keep"]}

    r_trained = removed(trained)
    r_prefix = removed(None)
    df.unpersist()
    want = {b for _, b in twins}  # the larger id of each twin pair
    assert want <= r_trained, (
        f"trained cells must co-cell (and dedup) EVERY planted twin: "
        f"missed {sorted(want - r_trained)}"
    )
    assert want - r_prefix, (
        f"id-prefix cells should split at least one twin pair here "
        f"(prefix removed {sorted(r_prefix & want)} of {sorted(want)}) — "
        "if this ever catches all, the planted geometry no longer "
        "exercises the bias"
    )


def test_trained_store_freezes_centroids_in_sidecar(spark, sf_dir, tmp_path):
    """ann_store_seed(cent_vecs=...) freezes the TRAINED quantizer into
    the sidecar: appends and probes then run on it (never on corpus
    member rows), and the probe equals the in-flight trained query."""
    from iodf_spark.operators.ann_maintenance import (
        ann_store_seed,
        read_centroid_sidecar,
    )
    from iodf_spark.sources.segments import SegmentStore

    emb = load_table(spark, sf_dir, "embeddings")
    cents = train_ivf_centroids(_sample(sf_dir), k=8, iters=6)
    corpus = SegmentStore(str(tmp_path / "corpus"))
    corpus.write_segment(emb.select("vec_id", "embedding"))
    path = str(tmp_path / "ivf")
    ann_store_seed(
        spark, corpus, path, "vec_id", "embedding",
        n_centroids=8, dim=64, cent_vecs=cents,
    )
    side = read_centroid_sidecar(spark, path)
    got = {r["cid"]: [float(x) for x in r["_ce"]] for r in side.collect()}
    assert got == {i: v for i, v in enumerate(cents)}
    # probe through the store == in-flight trained query (rank/neighbor)
    want = [
        (r["query_id"], r["rank"], r["neighbor_id"])
        for r in S.ann_ivf(
            emb, "vec_id", "embedding", [0, 1, 2],
            n_centroids=8, n_probe=2, dim=64, cent_vecs=cents,
        ).collect()
    ]
    got_rows = [
        (r["query_id"], r["rank"], r["neighbor_id"])
        for r in S.ann_ivf_store(
            emb, "vec_id", "embedding", path, [0, 1, 2],
            n_centroids=8, n_probe=2, dim=64,
        ).collect()
    ]
    assert got_rows == want


# ---------------------------------------------------------------------------
# SemDeDup multi-probe (round-9 verdict #5)


def _semdedup_removed(spark, rows, n_probe, n_centroids=3, threshold=0.8):
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = S.semdedup(
        df, "vec_id", "embedding", n_centroids=n_centroids,
        threshold=threshold, dim=len(rows[0][1]), n_probe=n_probe,
    )
    return {r["doc_id"] for r in out.collect() if not r["keep"]}


def _exact_removed(rows, threshold=0.8):
    """Ground truth WITHOUT cell scoping: a row is removed iff ANY
    smaller-id row clears the quantized-cosine threshold (semdedup's
    smallest-witness rule over ALL pairs), computed the way the engine
    documents it (similarity.quant_expr and _blocked_pair_scores): each
    raw component snapped to floor(x * 2^20 + 0.5), exact integer dots,
    and dot / (sqrt(|a|^2) * sqrt(|b|^2)) >= threshold in float64."""

    def q(v):
        return [math.floor(x * 2**20 + 0.5) for x in v]

    qs = {i: q(v) for i, v in rows}
    norm = {i: math.sqrt(float(sum(a * a for a in qv))) for i, qv in qs.items()}
    removed = set()
    for i, _ in rows:
        for j, _ in rows:
            if j < i:
                d = sum(a * b for a, b in zip(qs[i], qs[j]))
                if norm[i] and norm[j] and d / (norm[i] * norm[j]) >= threshold:
                    removed.add(i)
                    break
    return removed


from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st


@st.composite
def small_corpora(draw):
    n = draw(st.integers(6, 14))
    dim = 4
    rows = []
    for i in range(n):
        vec = [
            float(draw(st.integers(-5, 5))) + 0.5  # +0.5 keeps vectors nonzero
            for _ in range(dim)
        ]
        rows.append((i, vec))
    return rows


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(rows=small_corpora())
# a falsifying draw of the old reference: rows 4 and 5 sit at a cosine of
# exactly the 0.8 threshold, which the engine's float64 formula puts just
# below it
@example(
    rows=[(i, [0.5] * 4) for i in range(4)]
    + [(4, [0.5, 3.5, 1.5, 0.5]), (5, [-0.5, 3.5, 0.5, -1.5])]
)
def test_semdedup_recall_monotone_in_probes_and_exact_at_full(spark, rows):
    """The multi-probe property (round-9 verdict #5): the probed-cell
    pair set grows monotonically with n_probe (probe-1 cells ⊆ probe-2
    cells per row), so the removed set can only GROW — and at
    n_probe == n_centroids every row is in every cell, so the result
    equals the unscoped exact semantics."""
    r1 = _semdedup_removed(spark, rows, n_probe=1)
    r2 = _semdedup_removed(spark, rows, n_probe=2)
    r3 = _semdedup_removed(spark, rows, n_probe=3)
    assert r1 <= r2 <= r3
    assert r3 == _exact_removed(rows)


def test_semdedup_multiprobe_catches_cross_cell_pair(spark):
    """A constructed boundary case: two near-identical vectors straddling
    the Voronoi boundary between two centroids — single-probe puts them
    in DIFFERENT cells and misses the pair by design (the paper's
    documented recall trade); probe-2 shares a cell and finds it.

    Geometry: centroids c0/c1 are orthogonal rays (boundary at 45°);
    rows 3/4 sit at 37°/53° — 16° apart (cos 0.961, a true near-dup at
    threshold 0.82) but each 37° from its own centroid (cos 0.799 <
    0.82, so the centroid member rows are NOT witnesses)."""
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),        # centroid 0 (corpus member)
        (1, [0.0, 1.0, 0.0, 0.0]),        # centroid 1
        (2, [0.0, 0.0, 1.0, 0.0]),        # centroid 2, far from everything
        (3, [0.79864, 0.60182, 0.0, 0.0]),  # 37°: cell c0
        (4, [0.60182, 0.79864, 0.0, 0.0]),  # 53°: cell c1
    ]
    r1 = _semdedup_removed(spark, rows, n_probe=1, threshold=0.82)
    r2 = _semdedup_removed(spark, rows, n_probe=2, threshold=0.82)
    assert 4 not in r1, "single-probe should miss the cross-cell pair here"
    assert 4 in r2, "probe-2 must recover the cross-cell near-dup"
    assert 3 not in r2, "the smaller id is the survivor/witness"


def test_trained_ivfpq_store_matches_oracle(spark, sf_dir, con, tmp_path):
    """The composed trained path (round-9 completion of verdict #2): a
    RESIDUAL IVF-PQ store built with trained centroids AND residual
    codebooks trained on driver-side residuals (the IVFADC training
    recipe) probes bit-equal to the DuckDB twin consuming the same
    literals."""
    import duckdb as _duck

    from iodf_spark.functions.kmeans import train_residual_codebooks
    from iodf_spark.operators.similarity import ann_ivfpq_store, ivfpq_build_store

    emb = load_table(spark, sf_dir, "embeddings")
    sample = _sample(sf_dir)
    cents = train_ivf_centroids(sample, k=4, iters=6)
    rcbs = train_residual_codebooks(sample, cents, m_subspaces=4, n_codes=16, iters=6)
    path = str(tmp_path / "ivfpq_t")
    ivfpq_build_store(
        emb, "vec_id", "embedding", path, n_centroids=4, dim=64,
        residual=True, cent_vecs=cents, codebook_vecs=rcbs,
    )
    _match(
        ann_ivfpq_store(
            emb, "vec_id", "embedding", path, [0, 1, 2],
            n_centroids=4, n_probe=2, dim=64, rerank=50, residual=True,
            cent_vecs=cents, codebook_vecs=rcbs,
        ),
        con,
        S.ann_ivfpq_oracle(
            "vec_id", "embedding", "embeddings", [0, 1, 2],
            n_centroids=4, n_probe=2, dim=64, rerank=50, residual=True,
            cent_vecs=cents, codebook_vecs=rcbs,
        ),
    )


def test_trained_literal_shape_validation(spark, sf_dir):
    """Geometry params and literal shapes must agree — a mismatched
    cent_vecs/n_centroids (or a ragged codebook) would silently change
    the probed geometry out from under the oracle twin."""
    emb = load_table(spark, sf_dir, "embeddings")
    cents = train_ivf_centroids(_sample(sf_dir), k=8, iters=2)
    with pytest.raises(ValueError, match="n_centroids"):
        S.ann_ivf(
            emb, "vec_id", "embedding", [0], n_centroids=4, dim=64,
            cent_vecs=cents,  # 8 centroids vs n_centroids=4
        ).collect()
    with pytest.raises(ValueError, match="non-empty"):
        S._cent_sql("vec_id", "embedding", "embeddings", 4, [])
    bad_cb = [[[0.0] * 16] * 15] * 4  # 15 codes, n_codes expects 16
    with pytest.raises(ValueError, match="codebook_vecs"):
        S.ann_pq(
            emb, "vec_id", "embedding", [0], dim=64, codebook_vecs=bad_cb
        ).collect()
