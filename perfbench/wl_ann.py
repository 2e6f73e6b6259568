"""ann_search: small query batches over a materialized IVF store and an
IVF-PQ store with exact re-rank, with IVF append deliveries between them.
Time goes to executor CPU in the vector kernels, with few jobs; the index
and segment layers are not touched."""

from __future__ import annotations

import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import checks
from harness import dir_bytes, run_rounds

N_VECS = 50_000
DIM = 64
CLUSTERS = 32
CELLS = 16
N_PROBE = 2
PQ_M = 8
PQ_CODES = 16
RERANK = 50
BATCH = 16
EXACT_BATCH = 4
DELIVERY = 500
QUERY_ID0 = 10**9  # query ids never collide with corpus ids
K = 10
WARMUP_ROUNDS = 1


def _unit(x: np.ndarray) -> np.ndarray:
    return x / np.linalg.norm(x, axis=1, keepdims=True)


def make_vectors(rng, centers: np.ndarray, n: int) -> np.ndarray:
    """Unit vectors scattered around randomly chosen cluster centres."""
    return _unit(centers[rng.integers(0, len(centers), n)] + 0.35 * rng.standard_normal((n, DIM)))


def write_vectors(path: str, first_id: int, vecs: np.ndarray) -> None:
    """Parquet of (id bigint, vec array<double>), ids from ``first_id``."""
    offsets = pa.array(np.arange(0, vecs.size + 1, DIM, dtype=np.int32))
    table = pa.table({
        "id": pa.array(np.arange(first_id, first_id + len(vecs), dtype=np.int64)),
        "vec": pa.ListArray.from_arrays(offsets, pa.array(vecs.ravel())),
    })
    pq.write_table(table, path)


class Reference:
    """Exact and IVF answers computed with numpy over the current corpus.

    The IVF model mirrors the store's contract: centroids are the corpus
    vectors with id < CELLS, each vector lives in its highest-cosine cell
    (lowest cell id on ties), a query scans its ``n_probe`` highest-cosine
    cells and ranks by cosine, then id."""

    def __init__(self, vecs: np.ndarray):
        self.vecs = vecs
        self.cent = vecs[:CELLS]
        self.cells = self._cell(vecs)

    def _cos(self, a, b):
        return (a @ b.T) / (np.linalg.norm(a, axis=1)[:, None] * np.linalg.norm(b, axis=1)[None, :])

    def _cell(self, x):
        return np.argmax(self._cos(x, self.cent), axis=1)

    def add(self, new: np.ndarray) -> None:
        self.vecs = np.vstack([self.vecs, new])
        self.cells = np.concatenate([self.cells, self._cell(new)])

    def top(self, q: np.ndarray, n_probe: int | None, upto: int | None = None) -> list[int]:
        vecs = self.vecs[:upto] if upto else self.vecs
        cos = self._cos(vecs, q[None, :])[:, 0]
        ids = np.arange(len(vecs))
        if n_probe is not None:
            ccos = self._cos(q[None, :], self.cent)[0]
            probed = np.lexsort((np.arange(CELLS), -ccos))[:n_probe]
            keep = np.isin(self.cells[: len(vecs)], probed)
            ids, cos = ids[keep], cos[keep]
        order = np.lexsort((ids, -cos))[:K]
        return ids[order].tolist()


def run(spark, log, tracer, work: str, seed: int, seconds: float) -> dict:
    from iodf_spark.operators import ann_maintenance, similarity

    rng = np.random.default_rng([seed, 20])
    centers = rng.standard_normal((CLUSTERS, DIM))
    vecs = make_vectors(rng, centers, N_VECS)
    src = f"{work}/corpus.parquet"
    write_vectors(src, 0, vecs)
    ref = Reference(vecs)
    corpus = spark.read.parquet(src)
    ivf, pq = f"{work}/ivf", f"{work}/ivfpq"

    t0 = time.perf_counter()
    with tracer.span("bench.build", "bench"):
        similarity.ivf_build_store(corpus, "id", "vec", ivf, n_centroids=CELLS, dim=DIM)
        similarity.ivfpq_build_store(corpus, "id", "vec", pq, n_centroids=CELLS, dim=DIM,
                                     m_subspaces=PQ_M, n_codes=PQ_CODES)
    build_s = time.perf_counter() - t0

    def queries(rr, n: int) -> dict[int, list[float]]:
        qs = make_vectors(rr, centers, n)
        return {QUERY_ID0 + i: qs[i].tolist() for i in range(n)}

    def rows(df):
        return [(r.query_id, r.rank, r.neighbor_id, r.cos) for r in df.collect()]

    def one_round(r: int) -> None:
        rr = np.random.default_rng([seed, 21, r])
        # IVF at the serving width: exactly the numpy IVF model over every
        # vector delivered so far (a store built over the union)
        qv = queries(rr, BATCH)
        truth = {q: ref.top(np.asarray(v), None) for q, v in qv.items()}
        want = {q: ref.top(np.asarray(v), N_PROBE) for q, v in qv.items()}
        log.run("ivf_probe", "read",
                lambda: rows(similarity.ann_ivf_store(corpus, "id", "vec", ivf, [], k=K,
                                                      n_centroids=CELLS, n_probe=N_PROBE,
                                                      dim=DIM, query_vecs=qv)),
                checks.ann_result(want, ref.vecs, qv, K, exact=True,
                                  recall_truth=truth, sink=log.recall),
                call="similarity.ann_ivf_store")
        # IVF-PQ over the base corpus, exact re-rank of the ADC shortlist
        qv = queries(rr, BATCH)
        truth = {q: ref.top(np.asarray(v), None, upto=N_VECS) for q, v in qv.items()}
        log.run("ivfpq_probe", "read",
                lambda: rows(similarity.ann_ivfpq_store(corpus, "id", "vec", pq, [], k=K,
                                                        n_centroids=CELLS, n_probe=N_PROBE,
                                                        m_subspaces=PQ_M, n_codes=PQ_CODES,
                                                        dim=DIM, rerank=RERANK, query_vecs=qv)),
                checks.ann_result(truth, ref.vecs, qv, K, exact=False, sink=log.recall),
                call="similarity.ann_ivfpq_store")
        # a delivery appended against the store's frozen centroids
        new = make_vectors(rr, centers, DELIVERY)
        start = len(ref.vecs)
        path = f"{work}/delivery-{r}.parquet"
        write_vectors(path, start, new)
        ref.add(new)
        log.run("ivf_append", "write",
                lambda: similarity.ivf_append(
                    spark, ivf, spark.read.parquet(path), "id", "vec", n_centroids=CELLS,
                    dim=DIM, cent=ann_maintenance.read_centroid_sidecar(spark, ivf)),
                call="similarity.ivf_append")
        # every cell probed: exactly the brute-force top-k over the union
        qv = queries(rr, EXACT_BATCH)
        want = {q: ref.top(np.asarray(v), None) for q, v in qv.items()}
        log.run("ivf_probe_all", "read",
                lambda: rows(similarity.ann_ivf_store(corpus, "id", "vec", ivf, [], k=K,
                                                      n_centroids=CELLS, n_probe=CELLS,
                                                      dim=DIM, query_vecs=qv)),
                checks.ann_result(want, ref.vecs, qv, K, exact=True))

    rounds = run_rounds(log, seconds, one_round, WARMUP_ROUNDS)
    return {
        "build_s": build_s,
        "bytes_per_row": dir_bytes(pq) / N_VECS,
        "recall_at_10": checks.mean_recall(log.recall),
        "rounds": rounds,
    }
