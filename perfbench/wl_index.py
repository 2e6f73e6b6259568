"""index_lookup: the paper's core lookups and statistics on one in-memory
index — key frequencies, point probes (some on absent keys), 3-way set
algebra, a range probe, index-vs-scan access paths and co-occurrence
statistics. Time goes to the driver, Catalyst and job scheduling, with
little executor work."""

from __future__ import annotations

import time

import numpy as np
import pandas as pd

import checks
from harness import dir_bytes, run_rounds

N_ROWS = 100_000
WARMUP_ROUNDS = 2  # rounds are short (~2 s), so two warm up cheaply
LETTERS = np.array(list("abcdefghijklmnopqrstuvxyz"))
TOKENS = np.array(list(LETTERS) + [a + b for a in LETTERS for b in LETTERS])


def _zipf_p(k: int, s: float) -> np.ndarray:
    p = 1.0 / np.arange(1, k + 1) ** s
    return p / p.sum()


def make_items(seed: int, n: int = N_ROWS) -> tuple[pd.DataFrame, list[list[str]]]:
    """An ExampleItem-shaped table (FIXTURES.md §1) with Zipf-skewed names
    and text tokens, so the adaptive index stores both dense and sparse
    keys, plus a high-cardinality ``uid`` column."""
    rng = np.random.default_rng([seed, 1])
    name = rng.permutation(LETTERS)[rng.choice(len(LETTERS), n, p=_zipf_p(len(LETTERS), 2.0))]
    vocab = rng.permutation(TOKENS)
    ntok = rng.integers(0, 4, n)
    tok_ix = rng.choice(len(vocab), (n, 3), p=_zipf_p(len(vocab), 1.05))
    toks = [list(vocab[tok_ix[i, : ntok[i]]]) for i in range(n)]
    pdf = pd.DataFrame({
        "row_id": np.arange(n, dtype=np.int64),
        "name": name,
        "property": rng.random(n) < 0.5,
        "quantity": (rng.standard_normal(n) * 5).astype(np.int32),
        "text": [" ".join(t) for t in toks],
        "bigNumber": (rng.standard_normal(n) * 5).astype(np.int64) * 1_000_000_000,
        "uid": rng.choice(10 * n, n, replace=False).astype(np.int64),
    })
    return pdf, toks


class Reference:
    """Row sets of the generated table, computed with numpy alone."""

    def __init__(self, pdf: pd.DataFrame, toks: list[list[str]]):
        self.n = len(pdf)
        self.cols = {c: pdf[c].to_numpy() for c in ("name", "property", "quantity", "bigNumber", "uid")}
        by_tok: dict[str, list[int]] = {}
        for i, ts in enumerate(toks):
            for t in set(ts):
                by_tok.setdefault(t, []).append(i)
        self.text = {t: np.asarray(v, dtype=np.int64) for t, v in by_tok.items()}

    def ids(self, col, value) -> np.ndarray:
        if col == "text":
            return self.text.get(value, np.empty(0, dtype=np.int64))
        return np.flatnonzero(self.cols[col] == value).astype(np.int64)

    def f(self, col, value) -> int:
        return len(self.ids(col, value))

    def range_ids(self, col, lo, hi) -> np.ndarray:
        a = self.cols[col]
        return np.flatnonzero((a >= lo) & (a <= hi)).astype(np.int64)


def _keys_for_round(ref: Reference, seed: int, r: int) -> dict:
    """The keys one round probes, drawn from the seed and the round number."""
    rng = np.random.default_rng([seed, 2, r])
    names, counts = np.unique(ref.cols["name"], return_counts=True)
    dense_names = names[counts * 256 > ref.n]
    sparse_names = names[(counts * 256 <= ref.n) & (counts > 0)]
    toks = sorted(ref.text)
    rare_toks = [t for t in toks if 1 <= len(ref.text[t]) <= 300]
    q_vals, q_counts = np.unique(ref.cols["quantity"], return_counts=True)
    selective_q = q_vals[(q_counts > 50) & (q_counts <= 0.1 * ref.n)]
    uid = int(rng.choice(ref.cols["uid"]))
    pick = lambda a: a[int(rng.integers(len(a)))]  # noqa: E731
    top_name = str(names[np.argmax(counts)])
    return {
        "fs": [("name", str(pick(dense_names))), ("name", str(pick(sparse_names))),
               ("quantity", int(pick(q_vals))), ("text", str(pick(toks))), ("uid", uid)],
        # one probe in ten is on an absent key: every other round, one of five
        "probes": [("name", str(pick(dense_names))), ("text", str(pick(toks))),
                   ("quantity", int(pick(q_vals))),
                   ("bigNumber", int(pick(np.unique(ref.cols["bigNumber"])))),
                   ("name", "absent-key") if r % 2 == 0 else ("uid", uid)],
        "rows": ("text", str(pick(rare_toks))),
        "and": [("name", str(pick(dense_names))), ("property", bool(r % 2)),
                ("quantity", int(pick(q_vals[np.abs(q_vals) < 5])))],
        "or": [("name", str(pick(sparse_names))), ("text", str(pick(toks))),
               ("quantity", int(pick(q_vals)))],
        "andnot": [("name", str(pick(dense_names))), ("property", True)],
        "range": ("quantity", int(rng.integers(-8, 0)), int(rng.integers(0, 8))),
        "selective": ("quantity", int(pick(selective_q))),
        "unselective": ("name", top_name),
        "costats": [("name", str(pick(dense_names))), ("property", bool(r % 2 == 0))],
    }


def run(spark, log, tracer, work: str, seed: int, seconds: float) -> dict:
    from iodf_spark.operators import access, costats
    from iodf_spark.operators import index as idx
    from iodf_spark.plans import rowset

    pdf, toks = make_items(seed)
    src = f"{work}/items.parquet"
    pdf.to_parquet(src, index=False)
    ref = Reference(pdf, toks)
    n = ref.n
    data = spark.read.parquet(src)

    t0 = time.perf_counter()
    with tracer.span("bench.build", "bench"):
        ix = idx.build_index(data, idx.IndexConf(analyzers={"text": idx.text_analyzer}), n_rows=n)
        ix = ix.localCheckpoint()  # held in memory: every probe reads it
        t1 = time.perf_counter()
        ix = idx.stamp_key_encodings(ix)
    build_s = time.perf_counter() - t0

    def probe(col, value):
        return idx.probe(ix, col, value, n, encoding_hint="auto")

    def row_ids(df) -> np.ndarray:
        return df.select("row_id").toPandas()["row_id"].to_numpy()

    def one_round(r: int) -> None:
        k = _keys_for_round(ref, seed, r)
        log.run("fs", "read", lambda: idx.fs(ix, k["fs"]),
                checks.equal_counts([ref.f(c, v) for c, v in k["fs"]]), call="index.fs")
        for col, value in k["probes"]:
            log.run("probe", "read", lambda: probe(col, value).f(),
                    checks.equal_counts(ref.f(col, value)), call="index.probe")
        col, value = k["rows"]
        log.run("probe_rows", "read", lambda: [x.row_id for x in probe(col, value).to_rows().collect()],
                checks.same_ids(ref.ids(col, value), log.recall), call="rowset.to_rows")
        want = ref.ids(*k["and"][0])
        for key in k["and"][1:]:
            want = np.intersect1d(want, ref.ids(*key))
        log.run("intersect_all", "read",
                lambda: rowset.intersect_all([probe(*key) for key in k["and"]]).f(),
                checks.equal_counts(len(want)), call="rowset.intersect_all")
        want = np.unique(np.concatenate([ref.ids(*key) for key in k["or"]]))
        log.run("union_all", "read",
                lambda: rowset.union_all([probe(*key) for key in k["or"]]).f(),
                checks.equal_counts(len(want)), call="rowset.union_all")
        a, b = k["andnot"]
        log.run("andnot", "read", lambda: probe(*a).andnot(probe(*b)).f(),
                checks.equal_counts(len(np.setdiff1d(ref.ids(*a), ref.ids(*b)))),
                call="rowset.andnot")
        col, lo, hi = k["range"]
        log.run("probe_range", "read", lambda: idx.probe_range(ix, col, lo, hi, n).f(),
                checks.equal_counts(len(ref.range_ids(col, lo, hi))), call="index.probe_range")
        # the same key through both physical paths: each must return exactly
        # the rows numpy selects, hence the same rows as each other
        for label, key, threshold in (("selective", k["selective"], access.DEFAULT_THRESHOLD),
                                      ("selective_scan", k["selective"], 0.0),
                                      ("unselective", k["unselective"], access.DEFAULT_THRESHOLD)):
            log.run(f"smart_filter_{label}", "read",
                    lambda: row_ids(access.smart_filter(data, ix, *key, n, threshold)[0]),
                    checks.same_ids(ref.ids(*key), log.recall), call="access.smart_filter")
        ka, kb = k["costats"]
        log.run("costats_index", "read",
                lambda: costats.costats_index(ix, ka, kb, n).collect()[0].asDict(),
                checks.costats_match(pdf, ka, kb), call="costats.costats_index")

    rounds = run_rounds(log, seconds, one_round, WARMUP_ROUNDS)

    # persisting the index is the workload's write (writeIndexedDf); seven
    # ~0.3 s writes give write_p50_ms a steady median
    log.phase = "post"
    for i in range(7):
        log.run("write_index", "write", lambda: idx.write_index(ix, f"{work}/index-{i}"),
                call="index.write_index")
    log.phase = None
    index_bytes = dir_bytes(f"{work}/index-0")
    extra = {"rounds": rounds, "index.index_bytes": float(index_bytes),
             "index.build_index_ms": (t1 - t0) * 1000.0}
    if tracer.enabled:
        from pyspark.sql import functions as F

        with tracer.span("bench.count", "bench"):
            extra["index.dense_keys"] = float(
                ix.filter(F.col("words").isNotNull()).select(*idx.INDEX_KEY_COLS).distinct().count()
            )
    return {
        "build_s": build_s,
        "bytes_per_row": index_bytes / n,
        "recall_at_10": checks.mean_recall(log.recall),
        **extra,
    }
