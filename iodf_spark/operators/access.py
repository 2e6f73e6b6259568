"""Selectivity-driven access-path selection — the reference's core premise
made explicit: a (col = value) predicate should be answered by the bitmap
index when the key is selective, and by a scan when it is not
(IndexedDf.scala:71-96 exposes exactly this pair: `openIndex` row sets for
point probes and `f` selectivity to decide with; SURVEY.md §2.2 P7).

The decision input is the index's own statistics (`f` = key popcount — a
near-point read under col_name partition pruning + value row-group
skipping), so choosing a path costs one tiny aggregation, never a data
scan. The two physical plans:

* **index path** (f <= threshold * n): probe -> posting row-ids ->
  LEFT SEMI join on row_id. On a cluster the data side is row_id-sorted
  Parquet, so the semi join prunes row groups via min/max on row_id; the
  posting side is tiny by construction (that is why this path was chosen).
* **scan path** (f above threshold): plain `filter(col = value)` —
  Catalyst pushes the predicate into the Parquet scan; at high selectivity
  reading the column run beats materializing a huge row-id set (the same
  break-even the reference's dense/sparse split encodes at storage level).

Both paths return identical rows by construction; tests assert it and the
driver oracle attests both against the same SQL.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from iodf_spark.operators.index import DEFAULT_BUCKET_SIZE
from iodf_spark.operators.index import f as key_f
from iodf_spark.operators.index import probe

# default break-even: probe when the key selects <= 10% of rows. The exact
# constant is workload-tunable; what matters is that the decision is made
# from index statistics, not guessed per query.
DEFAULT_THRESHOLD = 0.1


def _scan_pred(p: tuple) -> Column:
    """The scan-path Column for one predicate tuple — the single builder
    both the in-memory and the segment-store planners filter with.
    ``(col, value)`` is equality; ``(col, lo, hi)`` is an inclusive range
    with None for an unbounded side, and ``(col, None, None)`` matches
    every non-null value (as its index-path range probe does)."""
    if len(p) == 2:
        return F.col(p[0]) == F.lit(p[1])
    c, lo, hi = F.col(p[0]), p[1], p[2]
    if lo is None:
        return c.isNotNull() if hi is None else c <= F.lit(hi)
    return c >= F.lit(lo) if hi is None else (c >= F.lit(lo)) & (c <= F.lit(hi))


def _scan_any(preds: list[tuple]) -> Column:
    """OR of :func:`_scan_pred` over ``preds`` (the disjunctive scan)."""
    return reduce(lambda a, b: a | b, [_scan_pred(p) for p in preds])


def plan_stats(index_df: DataFrame, preds: list[tuple]) -> dict:
    """Batch the selectivity stats for EVERY predicate of a query's access
    plan — equality 2-tuples and range 3-tuples mixed — in ONE aggregation
    job, returned as {pred: f}. Pass the result as ``sel=`` to any number
    of smart_filter/smart_filter_all/smart_filter_any calls: the planner
    decisions stay statistics-driven but the whole plan pays one stats
    read instead of one per call (at interactive latencies the per-job
    floor, not the stats volume, is the dominant term).

    Predicates that compare equal dedupe to the FIRST occurrence — note
    Python tuple equality makes ``(col, 1)`` and ``(col, 1.0)`` one key;
    the int probe is the superset predicate (matches long- OR double-typed
    stored keys), so list the int form first when mixing them."""
    from iodf_spark.operators.index import fs_mixed

    uniq = list(dict.fromkeys(preds))
    return dict(zip(uniq, fs_mixed(index_df, uniq)))


def choose_access_path(
    index_df: DataFrame, col: str, value, n: int,
    threshold: float = DEFAULT_THRESHOLD,
    sel: dict | None = None,
) -> str:
    """'index' or 'scan' for a (col = value) predicate, decided from the
    key's stored selectivity (one near-point agg over pruned index rows,
    or a hit in a precomputed ``sel`` batch from :func:`plan_stats`)."""
    fv = sel[(col, value)] if sel is not None and (col, value) in sel \
        else key_f(index_df, col, value)
    return "index" if fv <= threshold * n else "scan"


def smart_filter(
    data: DataFrame,
    index_df: DataFrame,
    col: str,
    value,
    n: int,
    threshold: float = DEFAULT_THRESHOLD,
    sel: dict | None = None,
    bucket_size: int = DEFAULT_BUCKET_SIZE,
) -> tuple[DataFrame, str]:
    """Filter `data` (must carry row_id in the index's row space) to rows
    where col = value, via whichever physical path the key's selectivity
    favors. Returns (rows, chosen_path). ``bucket_size`` MUST match the
    probed index's build-time bucket size — dense posting words decode
    positions as bucket*bucket_size + word*64 + bit, so a mismatch
    silently yields wrong row ids (sparse postings don't care)."""
    path = choose_access_path(index_df, col, value, n, threshold, sel)
    if path == "index":
        ids = probe(
            index_df, col, value, n, bucket_size, encoding_hint="auto"
        ).to_rows()
        return data.join(ids, "row_id", "left_semi"), path
    return data.filter(_scan_pred((col, value))), path


def smart_filter_all(
    data: DataFrame,
    index_df: DataFrame,
    preds: list[tuple],
    n: int,
    threshold: float = DEFAULT_THRESHOLD,
    sel: dict | None = None,
    bucket_size: int = DEFAULT_BUCKET_SIZE,
) -> tuple[DataFrame, dict]:
    """Conjunctive predicate planning over [(col, value), ...]: each key's
    STORED selectivity routes it to the index or the scan; all indexed
    keys combine via the one-stage n-ary intersect (plans/rowset.
    intersect_all) into a single row-id semi join, residual keys stay
    Catalyst filters pushed into the scan. This is the multi-key form of
    the reference's probe-vs-scan premise (IndexedDf.scala:71-96): at
    100 TB a 3-key conjunction answered by three selective probes touches
    posting lists + one semi join, never the fact columns.

    Predicates may be 2-tuples ``(col, value)`` (equality) or 3-tuples
    ``(col, lo, hi)`` (numeric range, None = unbounded side, routed through
    probe_range). Returns (rows, {"index": [...], "scan": [...]}). Decision
    cost is ONE batched stats aggregation for every key — statistics,
    never data."""
    from iodf_spark.operators.index import probe_range
    from iodf_spark.plans.rowset import intersect_all

    if not preds:
        raise ValueError("smart_filter_all needs at least one predicate")
    if sel is None or any(p not in sel for p in preds):
        sel = plan_stats(index_df, preds)
    routed = {"index": [], "scan": []}
    for p in preds:
        routed["index" if sel[p] <= threshold * n else "scan"].append(p)
    out = data
    if routed["index"]:
        sets = [
            probe(index_df, p[0], p[1], n, bucket_size, encoding_hint="auto")
            if len(p) == 2
            else probe_range(index_df, p[0], p[1], p[2], n, bucket_size)
            for p in routed["index"]
        ]
        out = out.join(intersect_all(sets).to_rows(), "row_id", "left_semi")
    for p in routed["scan"]:
        out = out.filter(_scan_pred(p))
    return out, routed


def smart_filter_any(
    data: DataFrame,
    index_df: DataFrame,
    preds: list[tuple],
    n: int,
    threshold: float = DEFAULT_THRESHOLD,
    sel: dict | None = None,
    bucket_size: int = DEFAULT_BUCKET_SIZE,
) -> tuple[DataFrame, str]:
    """Disjunctive twin of :func:`smart_filter_all`: rows matching ANY
    (col, value). The index path is only right when the UNION of posting
    sets is still small — decided from the stored f stats (sum of key
    selectivities, an upper bound on the union) — in which case all
    probes combine via the one-stage union_all into a single row-id semi
    join; otherwise one scan with an OR filter (a disjunction containing
    even one unselective key reads most row groups anyway, so the scan
    wins).

    Predicates may be 2-tuples ``(col, value)`` (equality) or 3-tuples
    ``(col, lo, hi)`` (numeric range, None = unbounded side) — symmetric
    with :func:`smart_filter_all`, mirroring the reference's
    MinBound/MaxBound key-range scans which apply in both AND and OR
    contexts (IoTypes.scala:50-52, IndexedDf.scala:50-66). Range
    selectivities come from the same batched fs_mixed aggregation; range
    probes route through probe_range. Returns (rows, 'index'|'scan')."""
    from iodf_spark.operators.index import probe_range
    from iodf_spark.plans.rowset import union_all

    if not preds:
        raise ValueError("smart_filter_any needs at least one predicate")
    if sel is None or any(p not in sel for p in preds):
        sel = plan_stats(index_df, preds)
    total_f = sum(sel[p] for p in preds)
    if total_f <= threshold * n:
        sets = [
            probe(index_df, p[0], p[1], n, bucket_size, encoding_hint="auto")
            if len(p) == 2
            else probe_range(index_df, p[0], p[1], p[2], n, bucket_size)
            for p in preds
        ]
        return data.join(union_all(sets).to_rows(), "row_id", "left_semi"), "index"
    return data.filter(_scan_any(preds)), "scan"
