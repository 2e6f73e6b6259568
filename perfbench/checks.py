"""Checks of the program's outputs against computations made with numpy and
pandas alone. Each factory takes the expected value and returns a check:
a function of the op's result that returns None when it matches and a
one-line description of the difference when it does not."""

from __future__ import annotations

import numpy as np
import pandas as pd


def equal_counts(want):
    """Counts (an int or a list of ints) equal numpy's."""

    def check(got):
        g = [int(x) for x in got] if isinstance(got, (list, tuple)) else int(got)
        w = [int(x) for x in want] if isinstance(want, (list, tuple)) else int(want)
        return None if g == w else f"counts {g} != expected {w}"

    return check


def recall_at_k(want_ranked, got, k: int = 10) -> float:
    """Share of the first ``k`` reference results present in ``got``."""
    head = list(want_ranked)[:k]
    if not head:
        return 1.0
    return len(set(head) & set(got)) / len(head)


def same_ids(want, sink: list | None = None):
    """Row ids equal the reference's, as sets with multiplicity. ``sink``
    collects recall@10 of the ids (ascending order)."""
    want = np.sort(np.asarray(want, dtype=np.int64))

    def check(got):
        g = np.sort(np.asarray(list(got), dtype=np.int64))
        if sink is not None:
            sink.append(recall_at_k(want, g))
        if len(g) != len(want):
            return f"{len(g)} row ids, expected {len(want)}"
        diff = np.flatnonzero(g != want)
        return None if diff.size == 0 else f"row id {g[diff[0]]} where {want[diff[0]]} expected"

    return check


def costats_match(pdf: pd.DataFrame, key_a, key_b):
    """n, fa, fb and fab of ``costats_index`` equal a pandas crosstab."""
    a = pdf[key_a[0]] == key_a[1]
    b = pdf[key_b[0]] == key_b[1]
    tab = pd.crosstab(a, b)
    cell = lambda x, y: int(tab.loc[x, y]) if x in tab.index and y in tab.columns else 0  # noqa: E731
    want = {"n": len(pdf), "fa": int(a.sum()), "fb": int(b.sum()), "fab": cell(True, True)}

    def check(row):
        got = {k: int(row[k]) for k in want}
        return None if got == want else f"costats {got} != crosstab {want}"

    return check


def same_rows(want: pd.DataFrame, cols: list[str], sink: list | None = None):
    """The returned rows equal ``want`` as a multiset over ``cols``."""

    def canon(df):
        return sorted(tuple(r) for r in df[cols].itertuples(index=False, name=None))

    w = canon(want)

    def check(got: pd.DataFrame):
        g = canon(got)
        if sink is not None:
            sink.append(recall_at_k(w, g))
        if len(g) != len(w):
            return f"{len(g)} rows, expected {len(w)}"
        bad = next((i for i, (x, y) in enumerate(zip(g, w)) if x != y), None)
        return None if bad is None else f"row {g[bad]} where {w[bad]} expected"

    return check


def ann_result(truth_ids: dict, vecs, queries: dict, k: int, exact: bool,
               recall_truth: dict | None = None, sink: list | None = None):
    """An ANN answer (rows of query_id, rank, neighbor_id, cos): every cosine
    equals the numpy dot product (to the 6 digits the program rounds to),
    ranks run 1..k in descending cosine, and with ``exact`` the neighbours
    equal ``truth_ids`` (query -> expected ranked ids). ``sink`` collects
    recall@10 per query against ``recall_truth`` (default ``truth_ids``)."""
    recall_truth = recall_truth or truth_ids

    def check(rows):
        by_q: dict[int, list] = {}
        for q, rank, nid, cos in rows:
            by_q.setdefault(int(q), []).append((int(rank), int(nid), float(cos)))
        if set(by_q) != set(queries):
            return f"answered queries {sorted(by_q)} != asked {sorted(queries)}"
        for q, got in by_q.items():
            got.sort()
            if [r for r, _, _ in got] != list(range(1, len(got) + 1)) or len(got) > k:
                return f"query {q}: ranks {[r for r, _, _ in got]}"
            ids = [nid for _, nid, _ in got]
            cos = np.array([c for _, _, c in got])
            want_cos = vecs[ids] @ np.asarray(queries[q])
            if np.any(np.abs(cos - want_cos) > 2e-6):
                return f"query {q}: cosines {cos.tolist()} != numpy {want_cos.round(6).tolist()}"
            if np.any(np.diff(cos) > 2e-6):
                return f"query {q}: cosines not descending"
            if sink is not None:
                sink.append(recall_at_k(recall_truth[q], ids))
            if exact and ids != list(truth_ids[q])[: len(ids)]:
                return f"query {q}: neighbours {ids} != expected {list(truth_ids[q])[:k]}"
            if exact and len(ids) != min(k, len(truth_ids[q])):
                return f"query {q}: {len(ids)} neighbours, expected {min(k, len(truth_ids[q]))}"
        return None

    return check


def mean_recall(sink: list) -> float:
    return float(np.mean(sink)) if sink else 0.0
