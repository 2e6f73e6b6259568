"""The benchmark's own tests: every output check passes the right answer and
fails a corrupted one, and the numpy references agree with brute force.
Run with ``python3 -m pytest perfbench/test_checks.py`` (no Spark needed)."""

import json
import os

import numpy as np
import pandas as pd

import checks
import spans
import wl_ann
import wl_index

HERE = os.path.dirname(os.path.abspath(__file__))


def test_equal_counts():
    assert checks.equal_counts([3, 0])([3, 0]) is None
    assert checks.equal_counts([3, 0])([3, 1])
    assert checks.equal_counts(7)(7) is None
    assert checks.equal_counts(7)(8)


def test_same_ids_and_recall_sink():
    sink = []
    assert checks.same_ids([5, 1, 3], sink)([1, 3, 5]) is None
    assert checks.same_ids([5, 1, 3], sink)([1, 3]) is not None  # a row lost
    assert checks.same_ids([5, 1, 3], sink)([1, 3, 6]) is not None  # a wrong row
    assert checks.same_ids([5, 1, 3])([1, 3, 3, 5]) is not None  # a row twice
    assert sink[0] == 1.0 and sink[1] < 1.0 and sink[2] < 1.0


def test_costats_match():
    pdf = pd.DataFrame({"a": ["x", "x", "y", "y"], "b": [True, False, True, True]})
    good = {"n": 4, "fa": 2, "fb": 3, "fab": 1}
    check = checks.costats_match(pdf, ("a", "x"), ("b", True))
    assert check(good) is None
    assert check(dict(good, fab=2))
    assert check(dict(good, n=5))


def test_same_rows():
    want = pd.DataFrame({"k": [1, 2], "v": [0.5, 1.5]})
    check = checks.same_rows(want, ["k", "v"])
    assert check(want.iloc[::-1]) is None
    assert check(want.iloc[:1])
    assert check(want.assign(v=[0.5, 1.25]))
    assert check(pd.concat([want, want.iloc[:1]]))


def _ann_case():
    rng = np.random.default_rng(0)
    vecs = rng.standard_normal((40, 8))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    q = vecs[3] + 0.1
    q /= np.linalg.norm(q)
    order = np.lexsort((np.arange(40), -(vecs @ q)))[:5]
    rows = [(99, r + 1, int(i), round(float(vecs[i] @ q), 6)) for r, i in enumerate(order)]
    return vecs, {99: q.tolist()}, {99: order.tolist()}, rows


def test_ann_result_passes_and_fails():
    vecs, queries, truth, rows = _ann_case()
    assert checks.ann_result(truth, vecs, queries, 5, exact=True)(rows) is None
    bad_cos = [rows[0][:3] + (rows[0][3] + 0.01,)] + rows[1:]
    assert checks.ann_result(truth, vecs, queries, 5, exact=False)(bad_cos)
    swapped = [rows[1][:1] + (1,) + rows[1][2:], rows[0][:1] + (2,) + rows[0][2:]] + rows[2:]
    assert checks.ann_result(truth, vecs, queries, 5, exact=False)(swapped)
    wrong_nb = rows[:4] + [(99, 5, int(truth[99][0]), rows[0][3])]
    assert checks.ann_result(truth, vecs, queries, 5, exact=True)(wrong_nb)
    assert checks.ann_result(truth, vecs, queries, 5, exact=True)(rows[:4])
    assert checks.ann_result(truth, vecs, queries, 5, exact=True)([])


def test_ann_reference_full_probe_is_brute_force():
    rng = np.random.default_rng(1)
    centers = rng.standard_normal((4, wl_ann.DIM))
    ref = wl_ann.Reference(wl_ann.make_vectors(rng, centers, 400))
    ref.add(wl_ann.make_vectors(rng, centers, 50))
    q = wl_ann.make_vectors(rng, centers, 1)[0]
    brute = np.lexsort((np.arange(len(ref.vecs)), -(ref.vecs @ q)))[: wl_ann.K].tolist()
    assert ref.top(q, wl_ann.CELLS) == ref.top(q, None) == brute
    probed = ref.top(q, 1)
    assert set(ref.cells[probed]) == {ref.cells[probed[0]]}


def test_index_reference_on_a_small_table():
    pdf, toks = wl_index.make_items(seed=3, n=2000)
    ref = wl_index.Reference(pdf, toks)
    assert ref.f("name", "absent-key") == 0
    name = pdf["name"].iloc[0]
    assert ref.ids("name", name).tolist() == pdf.index[pdf["name"] == name].tolist()
    tok = toks[next(i for i, t in enumerate(toks) if t)][0]
    assert ref.ids("text", tok).tolist() == [i for i, t in enumerate(toks) if tok in t]
    names, counts = np.unique(pdf["name"], return_counts=True)
    assert (counts * 256 > len(pdf)).any() and (counts * 256 <= len(pdf)).any()


def test_per_layer_list_matches_benchmark_json():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    listed = {m["name"]: m["unit"] for m in bench["per_layer"]}
    assert listed == spans.PER_LAYER
