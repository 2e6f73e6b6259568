"""Driver contract for the spark-graft builder (PySpark target).

`entry(spark)` runs the flagship query (co-occurrence statistics sweep over
an indexed table — the reference's signature workload batched into one job).
`queries()` exposes one entry per implemented operator from SURVEY.md §2;
`oracle_sql()` gives the DuckDB-equivalent SQL for each.
"""

from __future__ import annotations

import atexit
import shutil
import tempfile
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from iodf_spark.functions import texthash
from iodf_spark.functions.costats_math import costats_sql_exprs
from iodf_spark.operators import (
    dedup,
    packing,
    sampling,
    search,
    sessions,
    similarity,
    textstats,
)
from iodf_spark.operators import profile as profile_mod
from iodf_spark.operators import index as idx
from iodf_spark.operators.costats import costats_index, costats_sweep
from iodf_spark.plans.rowset import PostingSet
from iodf_spark.sources.tables import load_table

SF001 = "/root/testdata/sf0.001"

# ---------------------------------------------------------------------------
# helpers

_cache: dict[tuple[str, str], object] = {}
_tmp_root: list[str] = []


def _mkdtemp(prefix: str) -> str:
    """tempfile.mkdtemp under ONE per-process root that is removed at
    interpreter exit, so the stores, stream sources and checkpoints the
    queries stage never outlive the process."""
    if not _tmp_root:
        _tmp_root.append(tempfile.mkdtemp(prefix="iodf_run_"))
        atexit.register(shutil.rmtree, _tmp_root[0], ignore_errors=True)
    return tempfile.mkdtemp(prefix=prefix, dir=_tmp_root[0])


def _lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    key = ("lineitem", sf_dir)
    if key not in _cache:
        _cache[key] = load_table(spark, sf_dir, "lineitem", row_id=True).cache()
    return _cache[key]  # type: ignore[return-value]


def _lineitem_index(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, int]:
    key = ("lineitem_index", sf_dir)
    if key not in _cache:
        li = _lineitem(spark, sf_dir)
        n = li.count()
        # localCheckpoint, not cache(): .cache() keeps the full ~200-op
        # build tree as the DataFrame's logical plan, and EVERY probe
        # re-analyzes it before the cache substitution kicks in —
        # q_bitmap_ops alone plans ~27 copies (9 combinators x 2-3 probe
        # subtrees), pure driver-side Catalyst time (guide §7.3 'very
        # large plans'). The checkpoint truncates the plan to a leaf scan
        # of the same materialized partitions. Its blocks sit in executor
        # storage with no replica, and the truncated lineage cannot
        # recompute them: losing an executor fails later probes. They grow
        # with the corpus — sparse rows with key cardinality, and each
        # dense key adds n/8 bytes of words.
        ix = idx.build_index(
            li,
            idx.IndexConf(include=["l_returnflag", "l_linestatus", "l_quantity"]),
            n_rows=n,
        ).localCheckpoint()
        # stamp the exact per-key encoding map (bounded: <=256 dense keys
        # per column) over the checkpointed leaf — every
        # encoding_hint="auto" probe then compiles the bare specialized
        # posting kernels job-free
        idx.stamp_key_encodings(ix)
        _cache[key] = (ix, n)
    return _cache[key]  # type: ignore[return-value]


# SQL fragment: lineitem with the deterministic row_id (matches
# iodf_spark.sources.tables.with_row_id's natural-key numbering)
LI_RID = (
    "(SELECT *, row_number() OVER (ORDER BY l_orderkey, l_linenumber,"
    " l_extendedprice) - 1 AS row_id FROM lineitem)"
)


# ---------------------------------------------------------------------------
# flagship


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full co-occurrence statistics sweep (every value pair of
    l_returnflag x l_linestatus) over sf0.001 — the reference's '1024 cofreq
    calculations' loop as one distributed job."""
    li = load_table(spark, SF001, "lineitem", row_id=True)
    return costats_sweep(li, "l_returnflag", "l_linestatus").orderBy("va", "vb")


# ---------------------------------------------------------------------------
# queries (SURVEY.md §2 inventory)


def q_index_distinct_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """I4: sorted distinct values of a column via the index key space."""
    ix, _ = _lineitem_index(spark, sf_dir)
    return idx.col_values(ix, "l_returnflag").select(F.col("value_str").alias("value"))


def q_index_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """I1/I6: the index itself as a queryable table — (col, value, f) for two
    columns, in typed key order."""
    ix, _ = _lineitem_index(spark, sf_dir)
    return (
        idx.key_stats(ix)
        .filter(F.col("col_name").isin("l_returnflag", "l_linestatus"))
        .select("col_name", F.col("value_str").alias("value"), F.col("f").cast("long").alias("f"))
        .orderBy("col_name", "value")
    )


def q_index_probe_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """I3/P7 + selectivity-driven access-path selection in one attested
    entry. 'probe': one key -> materialized row-id set (posting lists).
    'auto_index' / 'auto_scan': operators/access.smart_filter answers a
    (col = value) predicate via whichever physical path the key's STORED
    selectivity favors — the selective key (l_quantity = 1, ~2%) routes
    through an index probe + semi join, the unselective one
    (l_returnflag = 'R', ~33%) through a pushed-down scan filter — the
    reference's probe-vs-scan premise as a first-class planner decision
    (IndexedDf.scala:71-96: openIndex + f). The chosen path is asserted
    in-process; the oracle checks both paths return exactly the
    predicate's rows."""
    out = None
    for _name, thunk in _index_probe_arms(spark, sf_dir):
        df = thunk()
        out = df if out is None else out.unionByName(df)
    return out


def _index_probe_arms(spark: SparkSession, sf_dir: str):
    """ORDERED arm thunks of index_probe_rows (bench times each arm;
    q_index_probe_rows unions them for the oracle). The batched planner
    stats read (plan_stats — ONE aggregation feeding every routing
    decision; five separate smart_filter* calls would each pay their own
    near-point job) is lazily memoized, so its one-time cost lands in the
    first planner arm's timing."""
    from iodf_spark.operators.access import (
        plan_stats,
        smart_filter,
        smart_filter_all,
        smart_filter_any,
    )

    memo: dict[str, object] = {}

    def ixn() -> tuple[DataFrame, int]:
        # lazy: the factory itself is side-effect-free (the contract test
        # enumerates arm names without a SparkSession); the one-time index
        # build cost lands in the first arm that touches it
        if "ixn" not in memo:
            memo["ixn"] = _lineitem_index(spark, sf_dir)
        return memo["ixn"]  # type: ignore[return-value]

    def li() -> DataFrame:
        if "li" not in memo:
            memo["li"] = _lineitem(spark, sf_dir)
        return memo["li"]  # type: ignore[return-value]

    def stats() -> dict:
        if "s" not in memo:
            ix, _ = ixn()
            memo["s"] = plan_stats(ix, [
                ("l_quantity", 1), ("l_returnflag", "R"), ("l_quantity", 1.0),
                ("l_linestatus", "F"), ("l_quantity", 2.0), ("l_quantity", 49.0),
                ("l_quantity", 1.0, 2.0),
            ])
        return memo["s"]  # type: ignore[return-value]

    def arm_probe() -> DataFrame:
        ix, n = ixn()
        return (
            idx.probe(ix, "l_returnflag", "R", n, encoding_hint="auto")
            .to_rows()
            .select(F.lit("probe").alias("variant"), "row_id")
        )

    def arm_auto_index() -> DataFrame:
        # the selective key (l_quantity = 1, ~2%) must route through an
        # index probe + semi join — the decision itself is the feature
        ix, n = ixn()
        via_index, p = smart_filter(li(), ix, "l_quantity", 1, n, sel=stats())
        if p != "index":
            raise AssertionError(f"unexpected access path: {p}")
        return via_index.select(F.lit("auto_index").alias("variant"), "row_id")

    def arm_auto_scan() -> DataFrame:
        # the unselective key (l_returnflag = 'R', ~33%) must route
        # through a pushed-down scan filter
        ix, n = ixn()
        via_scan, p = smart_filter(li(), ix, "l_returnflag", "R", n, sel=stats())
        if p != "scan":
            raise AssertionError(f"unexpected access path: {p}")
        return via_scan.select(F.lit("auto_scan").alias("variant"), "row_id")

    def arm_auto_multi() -> DataFrame:
        # CONJUNCTIVE planning — the two selective keys route to index
        # probes combined by the one-stage n-ary intersect + ONE semi
        # join, the unselective key stays a pushed-down scan filter
        ix, n = ixn()
        via_multi, routed = smart_filter_all(
            li(),
            ix,
            [("l_quantity", 1.0), ("l_returnflag", "R"), ("l_linestatus", "F")],
            n,
            threshold=0.4,  # l_quantity ~2% and l_returnflag ~33% route to
            # the index (combined by intersect_all); l_linestatus ~50% scans
            sel=stats(),
        )
        if [c for c, _ in routed["index"]] != ["l_quantity", "l_returnflag"] or [
            c for c, _ in routed["scan"]
        ] != ["l_linestatus"]:
            raise AssertionError(f"unexpected multi-key routing: {routed}")
        return via_multi.select(F.lit("auto_multi").alias("variant"), "row_id")

    def arm_auto_any() -> DataFrame:
        # DISJUNCTIVE planning — two selective keys, union bound ~4% of
        # rows, so the plan is union_all of the probes + ONE semi join
        ix, n = ixn()
        via_any, p = smart_filter_any(
            li(), ix, [("l_quantity", 1.0), ("l_quantity", 2.0)], n, sel=stats()
        )
        if p != "index":
            raise AssertionError(f"unexpected disjunctive path: {p}")
        return via_any.select(F.lit("auto_any").alias("variant"), "row_id")

    def arm_auto_any_range() -> DataFrame:
        # disjunctive planning with a RANGE term — mixing a (col, lo, hi)
        # 3-tuple with an equality key, symmetric with the conjunctive
        # planner (reference: MinBound/MaxBound key-range scans,
        # IoTypes.scala:50-52 / IndexedDf.scala:50-66, apply in OR
        # contexts too). Union bound ~6% -> probe_range + probe, union_all.
        ix, n = ixn()
        via_rng, p = smart_filter_any(
            li(), ix, [("l_quantity", 1.0, 2.0), ("l_quantity", 49.0)], n,
            sel=stats(),
        )
        if p != "index":
            raise AssertionError(f"unexpected disjunctive range path: {p}")
        return via_rng.select(F.lit("auto_any_range").alias("variant"), "row_id")

    def seek_arm(tag: str, t, k: int):
        # B6 seekable-cursor parity: PostingSet.trues_after(t, k) = the
        # first k set ids >= t of the l_returnflag='R' posting set
        # (Scanner.seek, utils/MergeSortIterator.scala:34-58). Arms cover
        # seek-to-0, a mid-bucket seek, and a near-tail seek whose page
        # runs past the end — the distributed 'cursor' is bucket pruning
        # + TakeOrdered; repeated calls with t = last + 1 paginate exactly
        # like the reference's loop. ``t`` may be a callable of n (the
        # tail seek depends on the corpus size, unknown until the lazy
        # index build runs).
        def arm() -> DataFrame:
            ix, n = ixn()
            t_val = t(n) if callable(t) else t
            ps = idx.probe(ix, "l_returnflag", "R", n, encoding_hint="auto")
            return ps.trues_after(t_val, k).select(
                F.lit(tag).alias("variant"), "row_id"
            )

        return arm

    return [
        ("probe", arm_probe),
        ("auto_index", arm_auto_index),
        ("auto_scan", arm_auto_scan),
        ("auto_multi", arm_auto_multi),
        ("auto_any", arm_auto_any),
        ("auto_any_range", arm_auto_any_range),
        ("seek0", seek_arm("seek0", 0, 20)),
        ("mid", seek_arm("mid", 1234, 50)),
        ("tail", seek_arm("tail", lambda n: max(n - 500, 0), 1000)),
    ]


def q_bitmap_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B1-B4 + B8 and I5/A1: f, fAnd, OR, ANDNOT, NOT over two index
    bitmaps, all via the bucket-local posting-list kernels. ``f_a`` IS the
    I5 selectivity f(l_returnflag='R') — same popcount kernel the reference
    exposes as `f(idValue)` (the former separate index_f entry).

    encoding_hint="auto" resolves each key's true stored encoding job-free
    from the encoding map stamped at index build time
    (index.stamp_key_encodings), unlocking the bare specialized kernels
    without coupling correctness to the adaptive build threshold (a
    hardcoded hint would; the general dual-dispatch plans cost ~4x in dead
    sub-plans across this query's nine combinator results — the round-13
    regression that motivated the stamp)."""
    from iodf_spark.plans.rowset import intersect_all, union_all

    ix, n = _lineitem_index(spark, sf_dir)
    a = idx.probe(ix, "l_returnflag", "R", n, encoding_hint="auto")
    b = idx.probe(ix, "l_linestatus", "F", n, encoding_hint="auto")
    # third operand for the n-ary combinators: one-stage k-way AND/OR
    # (intersect_all/union_all) vs the binary chain's k-1 join stages
    c = idx.probe(ix, "l_quantity", 25.0, n, encoding_hint="auto")
    rows = [
        a.f_col().select(F.col("f").alias("f_a")),
        b.f_col().select(F.col("f").alias("f_b")),
        (a & b).f_col().select(F.col("f").alias("f_and")),
        (a | b).f_col().select(F.col("f").alias("f_or")),
        a.andnot(b).f_col().select(F.col("f").alias("f_andnot")),
        (~a).f_col().select(F.col("f").alias("f_not_a")),
        intersect_all([a, b, c]).f_col().select(F.col("f").alias("f_and3")),
        union_all([a, b, c]).f_col().select(F.col("f").alias("f_or3")),
        # P5 sorted-key range probe: OR of every l_quantity key in [10, 20]
        # — one aggregation stage at any matching-key count (probe_range)
        idx.probe_range(ix, "l_quantity", 10, 20, n)
        .f_col()
        .select(F.col("f").alias("f_range")),
    ]
    out = rows[0]
    for r in rows[1:]:
        out = out.crossJoin(r)
    return out


def q_rowset_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B5 merge + P4 view in one attested entry (former merge_concat +
    view_slice): merge = concatenation of row SPACES (not logical OR);
    view = contiguous row-range slice [100, 600) re-based to 0."""
    ix, n = _lineitem_index(spark, sf_dir)
    a = idx.probe(ix, "l_returnflag", "R", n, encoding_hint="auto")
    b = idx.probe(ix, "l_linestatus", "F", n, encoding_hint="auto")
    merged = a.merge(b).to_rows().select(F.lit("merge").alias("op"), "row_id")
    viewed = a.view(100, 600).to_rows().select(F.lit("view").alias("op"), "row_id")
    return merged.unionByName(viewed)


def q_point_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P2/P3: materialize row at position 123 (cell/row access)."""
    li = _lineitem(spark, sf_dir)
    return li.filter(F.col("row_id") == 123).select(
        "row_id",
        "l_orderkey",
        "l_linenumber",
        F.col("l_quantity").alias("l_quantity"),
        "l_returnflag",
        F.col("l_shipdate").cast("string").alias("l_shipdate_str"),
    )


def q_costats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2/A3, ALL THREE execution paths in one attested entry (former
    costats + costats_sweep): the 'index' row computes one pair's
    contingency stats purely from the inverted index (bucket-local
    intersect popcounts, no data scan); the 'pred' row computes the same
    pair from one data scan of conditional aggregates (the predicate path
    — used when no index exists); the 'sweep' rows batch every (va, vb)
    value pair of two columns into one groupBy job — the reference's
    1024-probe loop as one distributed job. index and pred rows must agree
    exactly (same oracle row, different physical paths)."""
    from iodf_spark.operators.costats import costats_predicates

    ix, n = _lineitem_index(spark, sf_dir)
    single = costats_index(ix, ("l_returnflag", "R"), ("l_linestatus", "F"), n).select(
        F.lit("index").alias("path"),
        F.lit("R").alias("va"),
        F.lit("F").alias("vb"),
        "*",
    )
    li = _lineitem(spark, sf_dir)
    pred = costats_predicates(
        li, F.col("l_returnflag") == "R", F.col("l_linestatus") == "F"
    ).select(
        F.lit("pred").alias("path"),
        F.lit("R").alias("va"),
        F.lit("F").alias("vb"),
        "*",
    )
    sweep = costats_sweep(li, "l_returnflag", "l_linestatus").select(
        F.lit("sweep").alias("path"), "*"
    )
    return single.unionByName(pred).unionByName(sweep).orderBy("path", "va", "vb")


def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape (SURVEY.md §2.5 'absent in reference' aggregates):
    grouped sum/avg/count with arithmetic — whole-stage-codegen'd partial+
    final hash aggregation."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 4).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias(
                "sum_disc_price"
            ),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 6).alias("avg_price"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


# ---------------------------------------------------------------------------
# training-data pipeline suite: dedup, similarity search, text analysis,
# multimodal plumbing (first-class components per the build brief)

EMB_DIM = 64  # fixed embedding width of the testdata corpus
ANN_QUERY_IDS = [0, 1, 2]
# deterministic per-language downsampling policy for q_stratified_sample
SAMPLE_RATES = {"en": 0.5, "de": 0.25, "unknown": 1.0}
# target keep fraction for the temperature-rebalanced variant (SQL literal
# text so both dialects parse the identical double)
TEMP_TARGET_FRAC = "4e-1"
CAP_K = 40  # per-source quota for the 'cap' sampling variant
# target training mixture by char mass (DoReMi/Pile-style): weights are
# SQL literal strings so both dialects parse the identical double; the
# 16 unlisted sources are dropped (weight 0)
MIX_WEIGHTS = {"src0": "4e-1", "src1": "3e-1", "src2": "2e-1", "src3": "1e-1"}
TOKEN_BUDGET = 16_000  # token budget for quality_filter's cum_tokens/in_budget


# line_dedup fixture: the synthetic corpus has no newlines, so line-level
# boilerplate removal is exercised on composed multi-line "pages" — regular
# docs land on one page each (doc_id % LINE_PAGES); every LINE_BP_MOD-th doc
# is replicated onto ALL pages as synthetic boilerplate (the site-template /
# cookie-banner scenario line dedup exists for).
LINE_PAGES = 40
LINE_BP_MOD = 25


def _boilerplate_pages(docs: DataFrame) -> DataFrame:
    regular = docs.filter(F.col("doc_id") % LINE_BP_MOD != 0).select(
        (F.col("doc_id") % LINE_PAGES).alias("page_id"), "doc_id", "text"
    )
    bp = docs.filter(F.col("doc_id") % LINE_BP_MOD == 0).select(
        F.explode(
            F.sequence(F.lit(0).cast("bigint"), F.lit(LINE_PAGES - 1).cast("bigint"))
        ).alias("page_id"),
        "doc_id",
        "text",
    )
    return (
        regular.unionByName(bp)
        .groupBy("page_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("doc_id", "text"))),
                    lambda s: s["text"],
                ),
                "\n",
            ).alias("text")
        )
    )


def _boilerplate_pages_sql() -> str:
    """DuckDB mirror of _boilerplate_pages as a derived-table subquery."""
    return f"""
        (SELECT page_id, string_agg(text, chr(10) ORDER BY doc_id) AS text
         FROM (SELECT doc_id % {LINE_PAGES} AS page_id, doc_id, text
               FROM documents WHERE doc_id % {LINE_BP_MOD} <> 0
               UNION ALL
               SELECT _pg AS page_id, doc_id, text
               FROM (SELECT unnest(range({LINE_PAGES})) AS _pg),
                    (SELECT doc_id, text FROM documents
                     WHERE doc_id % {LINE_BP_MOD} = 0))
         GROUP BY page_id)
    """


SPAN_K = 16  # window width for the substring-dedup arms (tokens)
SSTREAM_MOD = 4  # sstream arm's corpus subset: doc_id % SSTREAM_MOD = 0


def _sstream_spans(spark: SparkSession, docs: DataFrame) -> DataFrame:
    """Drive the incremental ExactSubstr stream for the 'sstream' arm (see
    _dedup_exact_arms) and return its accumulated spans."""

    from iodf_spark.streaming.ingest import (
        read_duplicated_spans,
        stream_duplicated_windows,
    )

    sub = docs.filter(F.col("doc_id") % SSTREAM_MOD == 0).select("doc_id", "text")
    src = _mkdtemp(prefix="iodf_ss_src_")
    state = _mkdtemp(prefix="iodf_ss_state_")
    # 2-file source + maxFilesPerTrigger=1 -> 2 micro-batches: cross-batch
    # duplicates take the retroactive-emission path
    sub.repartition(2).write.mode("overwrite").parquet(src)
    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    # session-default partition width ON PURPOSE: this stateful op is a
    # PYTHON state fn over many tiny keys, where worker parallelism beats
    # state-store-count frugality — the bounded_state_partitions sizing
    # that wins for JVM stateful ops LOSES here, measured isolated A/B at
    # this exact geometry: sp=2 57-64 s, sp=8 22 s, sp=16 13.6 s,
    # sp=32 11.9 s (BENCH_NOTES.md round-10 sstream sizing)
    stream_duplicated_windows(stream, "doc_id", "text", state, k=SPAN_K)
    return read_duplicated_spans(spark, state, k=SPAN_K)


def _dedup_exact_arms(spark: SparkSession, sf_dir: str):
    """ORDERED arm thunks of the dedup_exact entry (see q_dedup_exact)."""
    from iodf_spark.functions import texthash as TH
    from iodf_spark.operators.dedup import (
        duplicated_spans,
        exact_dedup,
        line_dedup,
        line_dedup_clean,
        substring_dedup_clean,
    )

    memo: dict[str, DataFrame] = {}

    def docs() -> DataFrame:
        if "docs" not in memo:
            memo["docs"] = load_table(spark, sf_dir, "documents")
        return memo["docs"]

    return [
        (
            "doc",
            lambda: exact_dedup(docs(), "doc_id", "text").select(
                F.lit("doc").alias("variant"),
                F.col("keeper_id").alias("id"),
                F.col("dup_count").alias("n"),
                F.lit(0).cast("bigint").alias("m"),
                F.lit(0).cast("bigint").alias("fp"),
            ),
        ),
        (
            "line",
            lambda: line_dedup(_boilerplate_pages(docs()), "page_id", "text").select(
                F.lit("line").alias("variant"),
                F.col("doc_id").alias("id"),
                F.col("n_kept").alias("n"),
                F.col("n_dropped").alias("m"),
                F.col("cleaned_fp").alias("fp"),
            ),
        ),
        (
            # 'clean' attests the MATERIALIZED boilerplate-stripped text
            # (the artifact a pipeline ships), via its length + content hash
            "clean",
            lambda: line_dedup_clean(
                _boilerplate_pages(docs()), "page_id", "text"
            ).select(
                F.lit("clean").alias("variant"),
                F.col("doc_id").alias("id"),
                F.length("clean_text").cast("bigint").alias("n"),
                F.lit(0).cast("bigint").alias("m"),
                F.expr(TH.text_hash("clean_text", "spark")).alias("fp"),
            ),
        ),
        (
            # substring granularity (the ExactSubstr family, Lee et al.
            # ACL 2022): 'spans' rows = maximal duplicated token runs with
            # exact boundaries (n=span_start, m=span_toks, fp=n_windows)
            "spans",
            lambda: duplicated_spans(docs(), "doc_id", "text", k=SPAN_K).select(
                F.lit("spans").alias("variant"),
                F.col("doc_id").alias("id"),
                F.col("span_start").alias("n"),
                F.col("span_toks").alias("m"),
                F.col("n_windows").alias("fp"),
            ),
        ),
        (
            # 'sstream' attests the INCREMENTAL path: the same duplicated
            # spans discovered by micro-batch over a 2-file split of a
            # deterministic corpus subset (doc_id % 4 = 0 — the smallest
            # mod whose subset still contains duplicated runs at sf0.01),
            # each occurrence emitted exactly once in the batch where it
            # became duplicated (stateful applyInPandasWithState keyed by
            # window hash; held first occurrences emit retroactively);
            # checked against the BATCH spans oracle on the same subset —
            # stream == batch, the dedup_minhash contract at substring
            # granularity
            "sstream",
            lambda: _sstream_spans(spark, docs()).select(
                F.lit("sstream").alias("variant"),
                F.col("doc_id").alias("id"),
                F.col("span_start").alias("n"),
                F.col("span_toks").alias("m"),
                F.col("n_windows").alias("fp"),
            ),
        ),
        (
            # 'sclean' attests the MATERIALIZED substring-deduplicated
            # corpus — each duplicated k-window keeps exactly its
            # lexicographically-first occurrence (n=n_toks, m=removed_toks,
            # fp=text_hash(clean_text))
            "sclean",
            lambda: substring_dedup_clean(docs(), "doc_id", "text", k=SPAN_K).select(
                F.lit("sclean").alias("variant"),
                F.col("doc_id").alias("id"),
                F.col("n_toks").alias("n"),
                F.col("removed_toks").alias("m"),
                F.expr(TH.text_hash("clean_text", "spark")).alias("fp"),
            ),
        ),
    ]


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup at THREE granularities, one tagged union: 'doc' rows =
    content-hash dedup groups over whole documents; 'line' rows = per-page
    line-level boilerplate-removal verdicts over the derived pages fixture
    (id=page_id, n=lines kept, m=lines dropped, fp=ordered fingerprint of
    the cleaned page) with 'clean' rows attesting the materialized stripped
    text; 'spans'/'sclean' rows = substring-level dedup (the ExactSubstr
    family, Lee et al. ACL 2022 — the suffix-array detector re-expressed as
    a shuffle-local duplicated-window join): maximal duplicated token runs
    with exact boundaries, and the materialized corpus with every
    duplicated k-window cut except its lexicographically-first
    occurrence."""
    out = None
    for _name, thunk in _dedup_exact_arms(spark, sf_dir):
        df = thunk()
        out = df if out is None else out.unionByName(df)
    return out


def q_dedup_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tagged union of the two exact-verified gram-overlap detectors:
    'shingle' = whole-set n-gram Jaccard (prefix-filtered AllPairs join);
    'winnow' = winnowing-fingerprint Jaccard (SIGMOD'03 rolling-hash
    fingerprints — the brief's document-fingerprinting operator), whose
    ~2/(w+1)-compressed sketch keys the same inverted join topology;
    'capped' = the shingle detector with the hot-key cap ON (max_df=4 —
    sf0.01's prefix-df tail reaches 7, so the star representation is
    genuinely exercised, not dead-coded) — the 100 TB skew guard for
    boilerplate grams, oracle-attested against the identically-capped
    DuckDB twin."""
    out = None
    for _name, thunk in _dedup_jaccard_arms(spark, sf_dir):
        df = thunk()
        out = df if out is None else out.unionByName(df)
    return out


def _dedup_jaccard_arms(spark: SparkSession, sf_dir: str):
    """ORDERED arm thunks of the dedup_jaccard entry (see q_dedup_jaccard)."""
    from iodf_spark.operators.dedup import jaccard_pairs, winnow_pairs

    memo: dict[str, DataFrame] = {}

    def docs() -> DataFrame:
        if "docs" not in memo:
            memo["docs"] = load_table(spark, sf_dir, "documents")
        return memo["docs"]

    def tag(name: str, df: DataFrame) -> DataFrame:
        return df.select(F.lit(name).alias("variant"), "*")

    return [
        ("shingle", lambda: tag("shingle", jaccard_pairs(docs(), "doc_id", "text"))),
        ("winnow", lambda: tag("winnow", winnow_pairs(docs(), "doc_id", "text"))),
        (
            "capped",
            lambda: tag(
                "capped", jaccard_pairs(docs(), "doc_id", "text", max_df=4)
            ),
        ),
    ]


def q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tagged union proving the incremental path: 'batch' rows = one-shot
    MinHash-LSH pairs over the whole corpus; 'stream' rows = the SAME pairs
    discovered incrementally by micro-batch (each delivery banded + verified
    against the accumulated signature store only — no corpus re-scan). The
    two variants must be identical pair-for-pair; both check against one
    oracle SQL. 'capped' rows = batch LSH with the hot-bucket cap ON
    (max_df=2 — sf0.01's largest band bucket holds 3 docs, so a bucket
    actually takes the star path), the 100 TB guard against template
    pages collapsing into one quadratic band bucket."""
    out = None
    for _name, thunk in _dedup_minhash_arms(spark, sf_dir):
        df = thunk()
        out = df if out is None else out.unionByName(df)
    return out


def _dedup_minhash_arms(spark: SparkSession, sf_dir: str):
    """ORDERED arm thunks of the dedup_minhash entry (see q_dedup_minhash).
    The 'stream' arm's side effects (writing the 4-file source, driving the
    micro-batches) happen at THUNK time so the bench charges them to the
    arm, not the factory."""
    from iodf_spark.operators.dedup import minhash_lsh_pairs

    memo: dict[str, DataFrame] = {}

    def docs() -> DataFrame:
        if "docs" not in memo:
            memo["docs"] = load_table(spark, sf_dir, "documents")
        return memo["docs"]

    def tag(name: str, df: DataFrame) -> DataFrame:
        return df.select(F.lit(name).alias("variant"), "*")

    def stream_arm() -> DataFrame:
        from iodf_spark.streaming.ingest import (
            read_neardup_pairs,
            stream_neardup_pairs,
        )

        src = _mkdtemp(prefix="iodf_nd_src_")
        state = _mkdtemp(prefix="iodf_nd_state_")
        # 4-file source + maxFilesPerTrigger=1 -> 4 micro-batches in
        # arbitrary hash order: exercises the order-independence of
        # exactly-once pair discovery
        docs().select("doc_id", "text").repartition(4).write.mode(
            "overwrite"
        ).parquet(src)
        stream = (
            spark.readStream.schema(spark.read.parquet(src).schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        stream_neardup_pairs(stream, "doc_id", "text", state)
        return tag("stream", read_neardup_pairs(spark, state))

    return [
        ("batch", lambda: tag("batch", minhash_lsh_pairs(docs(), "doc_id", "text"))),
        ("stream", stream_arm),
        (
            "capped",
            lambda: tag(
                "capped", minhash_lsh_pairs(docs(), "doc_id", "text", max_df=2)
            ),
        ),
    ]


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from iodf_spark.operators.dedup import simhash_pairs

    return simhash_pairs(load_table(spark, sf_dir, "documents"), "doc_id", "text")


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clusters + canonical selection in one attested entry:
    connected components over the jaccard pair graph (iterative min-label
    propagation; oracle = recursive-CTE transitive closure) with BOTH
    survivor policies — min-id (`keep`) and quality-argmax (`best_id`/
    `keep_best`, longest member wins, ties -> smallest id; one struct-max
    groupBy, no window sort, no text on the wire)."""
    from iodf_spark.operators.dedup import dedup_clusters, keep_best

    docs = load_table(spark, sf_dir, "documents")
    labeled = dedup_clusters(docs, "doc_id", "text")
    scores = docs.select("doc_id", F.col("n_chars").cast("long").alias("score"))
    return keep_best(labeled, scores).select(
        "doc_id", "cluster_id", "keep", "best_id", "keep_best"
    ).orderBy("doc_id")


def q_embedding_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine near-dup pairs, two corpora in one attested entry:
    'vec' over the pre-embedded table, 'hashdoc' over vectors the engine
    DERIVES from plain text by signed feature hashing (hash_embed,
    Weinberger et al. ICML'09) — the text->vector bridge that runs the
    whole vector stack on a table with no embedding column. dim=256 /
    threshold=0.95 sits on the measured plateau that separates planted
    near-dups (cos ~0.99) from template-shared vocabulary (cos <~0.9)."""
    out = None
    for _name, thunk in _embedding_pairs_arms(spark, sf_dir):
        df = thunk()
        out = df if out is None else out.unionByName(df)
    return out.orderBy("method", "id_a", "id_b")


def _embedding_pairs_arms(spark: SparkSession, sf_dir: str):
    """ORDERED arm thunks of the embedding_pairs entry (see
    q_embedding_pairs)."""
    from iodf_spark.operators.similarity import cosine_pairs, hash_embed

    def tag(name: str, df: DataFrame) -> DataFrame:
        return df.select(F.lit(name).alias("method"), "*")

    def hashdoc_arm() -> DataFrame:
        # localCheckpoint: cosine_pairs evaluates its source 3x (block
        # sizing count + the A/B grid sides); the hashed frame is
        # n_docs x dim doubles — pin the tiny result instead of re-running
        # explode+agg per branch (measured 8.4 s -> ~2.5 s at sf0.1)
        hv = hash_embed(
            load_table(spark, sf_dir, "documents"), "doc_id", "text", dim=256
        ).localCheckpoint()
        return tag(
            "hashdoc", cosine_pairs(hv, "doc_id", "vec", threshold=0.95, dim=256)
        )

    return [
        (
            "vec",
            lambda: tag(
                "vec",
                cosine_pairs(
                    load_table(spark, sf_dir, "embeddings"),
                    "vec_id", "embedding", dim=EMB_DIM,
                ),
            ),
        ),
        ("hashdoc", hashdoc_arm),
    ]


def _extq_vecs() -> dict[int, list[float]]:
    """Three deterministic EXTERNAL query vectors — the serving shape: a
    user queries the ANN store with a fresh embedding, not a corpus row
    id. Components are dyadic rationals (k/8), exact in float64, and their
    repr round-trips bit-identically into the oracle's VALUES literal.
    Negative ids guarantee no accidental corpus-id collision."""
    return {
        -(qi + 1): [(((qi * 37 + j * 11) % 19) - 9) / 8.0 for j in range(EMB_DIM)]
        for qi in range(3)
    }


def _ivfpq_store_path(spark: SparkSession, emb: DataFrame, memo: dict) -> str:
    """Memoized build of the composed IVF-PQ codes store — shared by the
    ivfpq_rr and extq arms so the ORDERED bench attributes the build to
    ivfpq_rr and times extq as a pure serving probe. (Round 9 measured
    the obvious-looking consolidation — ONE residual store for all three
    ivfpq arms — and it LOST ~2 s/sweep: residual PROBING adds five
    broadcast-table jobs per probe, so upgrading the two rerank arms to
    residual scoring cost more than the saved ~3.5 s build. The split
    kept: plain store shared here, the residual build lives only in the
    one arm that attests residual scoring.)"""
    if "ivfpq_path" not in memo:
        from iodf_spark.operators.similarity import ivfpq_build_store

        path = _mkdtemp(prefix="iodf_ivfpq_store_")
        ivfpq_build_store(emb, "vec_id", "embedding", path, n_centroids=4, dim=EMB_DIM)
        memo["ivfpq_path"] = path
    return memo["ivfpq_path"]


def _ivfpq_store_arm(spark: SparkSession, sf_dir: str, emb: DataFrame, memo: dict) -> DataFrame:
    """Build + probe the composed IVF-PQ store (ivfpq_build_store): codes
    only, partitioned by cell — the probe prunes cell partitions at the
    file level AND reads 4 small ints per row instead of 64 floats; the
    rerank=50 second stage is the only float reader (Q*50 rows)."""
    from iodf_spark.operators.similarity import ann_ivfpq_store

    return ann_ivfpq_store(
        emb, "vec_id", "embedding", _ivfpq_store_path(spark, emb, memo),
        ANN_QUERY_IDS, n_centroids=4, n_probe=2, dim=EMB_DIM, rerank=50,
    )


def _ivfpq_res_arm(spark: SparkSession, sf_dir: str, emb: DataFrame) -> DataFrame:
    """Residual IVF-PQ (IVFADC proper, Jégou TPAMI'11 §III): the store
    encodes x - centroid(x); probing adds the per-(query, cell) centroid
    dot and the per-(cell, code) cross terms — three broadcast lookup
    tables, candidate rows still cid + 4 codes. Ranked in the compressed
    domain ONLY (no rerank — round 9 dropped it: the rerank stage is
    attested by pq16_rr/ivfpq_rr, while the rerank-free ranking is the
    first-stage-retriever shape whose candidates never touch the float
    corpus, and the pure-ADC ordering is exactly what the recall-floor
    pytests gate)."""

    from iodf_spark.operators.similarity import ann_ivfpq_store, ivfpq_build_store

    path = _mkdtemp(prefix="iodf_ivfpq_res_")
    ivfpq_build_store(
        emb, "vec_id", "embedding", path, n_centroids=4, dim=EMB_DIM, residual=True
    )
    return ann_ivfpq_store(
        emb, "vec_id", "embedding", path, ANN_QUERY_IDS,
        n_centroids=4, n_probe=2, dim=EMB_DIM, residual=True,
    )


def _extq_arm(spark: SparkSession, sf_dir: str, emb: DataFrame, memo: dict) -> DataFrame:
    """Query the SAME IVF-PQ store with external vectors (query_vecs) —
    the production serving path end-to-end: literal query frame, frozen
    centroids/codebooks recovered from the corpus, partition-pruned codes
    scan, ADC, exact rerank. The oracle sees the identical vectors as
    full-precision VALUES literals."""
    from iodf_spark.operators.similarity import ann_ivfpq_store

    return ann_ivfpq_store(
        emb, "vec_id", "embedding", _ivfpq_store_path(spark, emb, memo),
        [], n_centroids=4, n_probe=2, dim=EMB_DIM, rerank=50,
        query_vecs=_extq_vecs(),
    )


_TRAINED_Q: dict = {}


def _trained_sample(n: int = 256) -> list[list[float]]:
    """The deterministic quantizer-training sample: ``n`` embedding
    vectors drawn HASH-ORDERED (Knuth multiplicative hash of vec_id —
    functions/kmeans.hash_order_key; round-10 de-bias: an id-prefix
    sample is one id-era's distribution on any corpus where content
    correlates with id order, e.g. time-ordered crawls) from the
    CORRECTNESS-gate scale (/root/testdata/sf0.01 — the driver compares
    Spark vs oracle there, TESTDATA.md), as exact float64. Trained ONCE
    per process and frozen: bench (sf0.1) and smoke (sf0.001) reuse the
    same frozen quantizer, which is the production shape — faiss trains
    on a sample and serves every later corpus size. Read via duckdb so
    oracle_sql() (which has no SparkSession) derives the IDENTICAL
    literals."""
    if "sample" not in _TRAINED_Q:
        import duckdb

        rows = duckdb.sql(
            "SELECT embedding FROM "
            "read_parquet('/root/testdata/sf0.01/embeddings.parquet') "
            f"ORDER BY (vec_id * 2654435761) % 4294967296, vec_id LIMIT {n}"
        ).fetchall()
        _TRAINED_Q["sample"] = [[float(x) for x in r[0]] for r in rows]
    return _TRAINED_Q["sample"]


def _trained_ivf64() -> list[list[float]]:
    """64 spherical-Lloyd's centroids (functions/kmeans) — the trained
    coarse quantizer behind the ivf64_t arm; both dialects consume these
    as full-precision literals. NOTE the measured context: this fixture's
    embeddings are ISOTROPIC (same-label mean cosine 0.002 vs 0.000
    cross-label), so training cannot move recall HERE — the material
    recall gain is pinned on a planted-cluster corpus in
    tests/test_trained_quantizers.py; this arm attests the trained
    serving path end-to-end."""
    if "ivf64" not in _TRAINED_Q:
        from iodf_spark.functions.kmeans import train_ivf_centroids

        _TRAINED_Q["ivf64"] = train_ivf_centroids(_trained_sample(), 64, iters=8)
    return _TRAINED_Q["ivf64"]


def _trained_pq() -> list[list[list[float]]]:
    """4x16 per-subspace L2-Lloyd's codebooks for the pq16t_rr arm."""
    if "pq" not in _TRAINED_Q:
        from iodf_spark.functions.kmeans import train_pq_codebooks

        _TRAINED_Q["pq"] = train_pq_codebooks(
            _trained_sample(), m_subspaces=4, n_codes=16, iters=8
        )
    return _TRAINED_Q["pq"]


CHUNKIVF_CELLS = 8  # coarse cells of the chunk-grain IVF store
# serving n_probe: probes read 3/8 of the chunk corpus at the file level.
# Chosen from a measured sweep on the trained store (hashed-TF vectors
# are weakly clustered on this fixture): recall@15 vs the exact chunkvec
# ranking = 0.6/0.6 at n_probe=2, 1.0/0.8 at 3, 1.0/1.0 at 4
# (sf0.001/sf0.01) — 3 is the knee; the floor is pinned in
# tests/test_chunk_retrieval.py via ann_recall.
CHUNKIVF_PROBE = 3


def _chunk_emb_table_sql(doc_table: str = "documents", include_query: bool = True) -> str:
    """SQL for the embedded chunk corpus (cid, vec) — optionally with the
    free-text query embedded as id -1 through the same transform — shared
    by the chunkvec (brute-force) and chunkivf (store-probed) oracles and
    by the chunk-quantizer training sample."""
    from iodf_spark.operators import packing, similarity

    chunks = (
        "(SELECT doc_id * " + str(CHUNKVEC_ENC)
        + " + chunk_idx AS cid, chunk_text FROM ("
        + packing.chunk_documents_oracle(
            "doc_id", "text", doc_table,
            chunk_toks=CHUNK_TOKS, overlap=CHUNK_OVERLAP)
        + ")"
        + (
            " UNION ALL SELECT * FROM (VALUES (-1, '" + SEMVEC_QUERY + "')) "
            "AS _q(cid, chunk_text)"
            if include_query
            else ""
        )
        + ")"
    )
    return "(" + similarity.hash_embed_oracle(
        "cid", "chunk_text", chunks, dim=SEMVEC_DIM
    ) + ")"


def _trained_chunk_cent() -> list[list[float]]:
    """Trained coarse quantizer for the CHUNK-grain IVF store (round-12
    verdict #3): CHUNKIVF_CELLS spherical-Lloyd's centroids over a
    hash-ordered 256-vector sample of the sf0.01 CHUNK embeddings —
    derived via duckdb with the SAME chunk/embed SQL the oracle twin uses
    (the hash_embed dialects are bit-equal), so oracle_sql(), which has
    no SparkSession, reproduces identical full-precision literals. Same
    freeze-once-per-process discipline as _trained_sample."""
    if "chunkivf" not in _TRAINED_Q:
        import duckdb

        from iodf_spark.functions.kmeans import train_ivf_centroids

        emb_sql = _chunk_emb_table_sql(
            "read_parquet('/root/testdata/sf0.01/documents.parquet')",
            include_query=False,
        )
        rows = duckdb.sql(
            f"SELECT vec FROM {emb_sql} "
            # all-cancelled (zero) vectors are untrainable under the cos
            # metric; chunks always carry >= 1 token so this filter is a
            # guard, not a selector
            "WHERE list_sum(list_transform(vec, _x -> abs(_x))) > 0 "
            "ORDER BY (cid * 2654435761) % 4294967296, cid LIMIT 256"
        ).fetchall()
        _TRAINED_Q["chunkivf"] = train_ivf_centroids(
            [[float(x) for x in r[0]] for r in rows], CHUNKIVF_CELLS, iters=8
        )
    return _TRAINED_Q["chunkivf"]


ANN_LIFE_DELETED = [210, 211, 310]  # all >= the training prefix (4/16)

# the lifecycle oracle's corpus: embeddings minus the taken-down ids —
# deleted ids sit OUTSIDE the id-prefix training rows, so centroids (and
# therefore cell assignment) are identical before and after the takedown
# and one filtered-IVF query oracles all three lifecycle stages
_ANN_LIVE_TABLE = (
    "(SELECT vec_id, embedding FROM embeddings WHERE vec_id NOT IN "
    f"({', '.join(str(i) for i in ANN_LIFE_DELETED)}))"
)


def _ann_lifecycle_stage(spark: SparkSession, emb_fn, memo: dict, stage: int) -> str:
    """Advance the SHARED delete-propagation fixture to ``stage`` and
    return the ANN store path. The fixture is the round-9 headline: a
    SegmentStore corpus with an IVF store maintained off its CHANGE FEED
    (ann_maintenance) — takedowns must stop surfacing from probes at
    every lifecycle stage. Stages (monotonic; arms run in order and each
    arm advances as far as it needs, so a standalone run self-bootstraps):
    1. corpus delete_where -> ann_store_sync: the tombstoned row_ids are
       resolved to vector ids (touched segments only) and pushed onto the
       store's deletion list — probes anti-join it, NO cell rewrite;
    2. ann_compact_deletes: only the cells the list names are rewritten
       (dynamic partition overwrite) and the list clears — deleted ids
       are now physically gone;
    3. corpus PURGE: the renumber epoch bumps, ann_store_sync must raise
       FullRefreshRequired (an incremental delta cannot express a
       renumbering — asserted here, not just in pytest), and the
       prescribed recovery (ann_store_seed) rebuilds the store.

    All three stages must probe IDENTICALLY: the oracle is one IVF query
    over the corpus WITHOUT the deleted ids, three times."""
    from iodf_spark.operators.ann_maintenance import (
        FullRefreshRequired,
        ann_compact_deletes,
        ann_store_seed,
        ann_store_sync,
    )
    from iodf_spark.sources.segments import SegmentStore

    if "life" not in memo:
        corpus = SegmentStore(_mkdtemp(prefix="iodf_ann_corpus_"))
        # no order_keys: the parquet source is already vec_id-ordered and
        # the fixture needs no sorted-invariant — skip the sort
        corpus.write_segment(emb_fn())
        path = _mkdtemp(prefix="iodf_ann_life_")
        ann_store_seed(spark, corpus, path, "vec_id", "embedding", dim=EMB_DIM)
        memo["life"] = {"corpus": corpus, "path": path, "stage": 0}
    st = memo["life"]
    if stage >= 1 and st["stage"] < 1:
        st["corpus"].delete_where(
            spark, F.col("vec_id").isin(ANN_LIFE_DELETED)
        )
        ann_store_sync(
            spark, st["corpus"], st["path"], "vec_id", "embedding", dim=EMB_DIM
        )
        st["stage"] = 1
    if stage >= 2 and st["stage"] < 2:
        ann_compact_deletes(spark, st["path"])
        st["stage"] = 2
    if stage >= 3 and st["stage"] < 3:
        st["corpus"].purge(spark)
        try:
            ann_store_sync(
                spark, st["corpus"], st["path"], "vec_id", "embedding",
                dim=EMB_DIM,
            )
        except FullRefreshRequired:
            pass  # the REQUIRED signal: a purge admits no incremental delta
        else:
            raise RuntimeError(
                "ann_store_sync silently crossed a corpus purge — the "
                "renumber-epoch guard is broken"
            )
        ann_store_seed(
            spark, st["corpus"], st["path"], "vec_id", "embedding", dim=EMB_DIM
        )
        st["stage"] = 3
    return st["path"]


def _ann_lifecycle_arm(spark: SparkSession, emb_fn, memo: dict, stage: int) -> DataFrame:
    from iodf_spark.operators.similarity import ann_ivf_store

    path = _ann_lifecycle_stage(spark, emb_fn, memo, stage)
    return ann_ivf_store(
        emb_fn(), "vec_id", "embedding", path, ANN_QUERY_IDS,
        n_centroids=4, n_probe=2, dim=EMB_DIM,
    )


def _ann_topk_arms(spark: SparkSession, sf_dir: str):
    """ORDERED arm thunks of the ann_topk entry (see q_ann_topk) — split
    out so bench.py can time each ANN variant individually (the single
    consolidated cell hid one-arm regressions from the 2x gate)."""
    from iodf_spark.operators.similarity import (
        ann_brute_force,
        ann_ivf,
        ann_lsh,
        ann_pq,
    )

    memo: dict[str, DataFrame] = {}

    def emb() -> DataFrame:
        # lazy: the factory itself must be side-effect-free (the contract
        # test enumerates arm names without a SparkSession)
        if "emb" not in memo:
            memo["emb"] = load_table(spark, sf_dir, "embeddings")
        return memo["emb"]

    def tag(name: str, df: DataFrame) -> DataFrame:
        return df.select(F.lit(name).alias("method"), "*")

    # dim passed explicitly everywhere: each omission costs a full-scan
    # _infer_dim probe job per arm (the 100 TB rule — the caller knows the
    # corpus width; six probe scans of the corpus bought nothing)
    return [
        (
            "brute",
            lambda: tag(
                "brute",
                ann_brute_force(emb(), "vec_id", "embedding", ANN_QUERY_IDS, dim=EMB_DIM),
            ),
        ),
        (
            "lsh_single",
            lambda: tag(
                "lsh_single",
                ann_lsh(emb(), "vec_id", "embedding", ANN_QUERY_IDS, dim=EMB_DIM),
            ),
        ),
        (
            "lsh_multi",
            lambda: tag(
                "lsh_multi",
                ann_lsh(
                    emb(), "vec_id", "embedding", ANN_QUERY_IDS,
                    multi_probe=True, dim=EMB_DIM,
                ),
            ),
        ),
        # 'ivf4' retired: bit-identical to ivf4_store's probe (same
        # geometry, same float ops — pinned by test_plans.py::
        # test_ivf_store_prunes_cell_partitions_and_matches_inflight);
        # the in-flight operator stays covered by ivf64 and the pytest.
        (
            "ivf64_t",
            lambda: tag(
                "ivf64_t",
                ann_ivf(
                    emb(), "vec_id", "embedding", ANN_QUERY_IDS,
                    n_centroids=64, n_probe=8, dim=EMB_DIM,
                    cent_vecs=_trained_ivf64(),
                ),
            ),
        ),
        # 'ivf4_store': the same IVF geometry served from a
        # cell-PARTITIONED parquet store — probes carry a static cid
        # filter so partition pruning skips the non-probed inverted
        # lists at the file level (the 100 TB serving layout).
        # Round-10 (verdict #7): the probe targets the SHARED lifecycle
        # store at stage 0 (freshly seeded, pre-takedown) instead of
        # building a second store of identical geometry — identical
        # rows (the corpus IS the embeddings table and the seed uses
        # the same prefix centroids), one build fewer per sweep; the
        # seed cost is attributed here, the first arm that needs it.
        (
            "ivf4_store",
            lambda: tag("ivf4_store", _ann_lifecycle_arm(spark, emb, memo, 0)),
        ),
        # 'pq16' retired (round-8 verdict #4): subsumed by pq16_rr (same
        # ADC stage + rerank); raw-ADC coverage stays in the pq parity
        # pytests (test_plans.py) and in the rerank-free ivfpq_res arm.
        (
            "pq16t_rr",
            lambda: tag(
                "pq16t_rr",
                ann_pq(
                    emb(), "vec_id", "embedding", ANN_QUERY_IDS,
                    dim=EMB_DIM, rerank=100, codebook_vecs=_trained_pq(),
                ),
            ),
        ),
        (
            "ivfpq_rr",
            lambda: tag("ivfpq_rr", _ivfpq_store_arm(spark, sf_dir, emb(), memo)),
        ),
        (
            "extq",
            lambda: tag("extq", _extq_arm(spark, sf_dir, emb(), memo)),
        ),
        (
            "ivfpq_res",
            lambda: tag("ivfpq_res", _ivfpq_res_arm(spark, sf_dir, emb())),
        ),
        # delete-propagation lifecycle (round-9 headline, see
        # _ann_lifecycle_stage): the same probe must exclude taken-down
        # ids via the deletion list (del_sync), after the cell rewrite
        # (del_compact), and after a purge + full refresh (rebuilt) —
        # three identical oracle rows by construction.
        (
            "del_sync",
            lambda: tag("del_sync", _ann_lifecycle_arm(spark, emb, memo, 1)),
        ),
        (
            "del_compact",
            lambda: tag("del_compact", _ann_lifecycle_arm(spark, emb, memo, 2)),
        ),
        (
            "rebuilt",
            lambda: tag("rebuilt", _ann_lifecycle_arm(spark, emb, memo, 3)),
        ),
    ]


def q_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The whole ANN family in one attested entry (former ann_topk +
    ann_lsh/_mp + ann_ivf/_64 — the 50-entry attestation cap): exact brute
    force as the recall baseline, LSH single- and Hamming-1 multi-probe
    (corpus hashed once, query-side fan-out only), IVF at the 64-centroid/
    8-probe geometry in-flight with TRAINED centroids (ivf64_t —
    driver-side deterministic Lloyd's, functions/kmeans, entering both
    dialects as full-precision literals; max_by cell assignment — a
    narrow agg where a row_number window would sort a 64x expansion) and
    the 4-centroid geometry served from the persisted partition-pruned
    store (ivf4_store — bit-identical to the retired in-flight ivf4 arm,
    pinned by pytest), and PQ/ADC with TRAINED per-subspace codebooks
    (pq16t_rr: 4 subspaces x 16 L2-Lloyd's codewords — corpus encoded to
    4 codes per vector, ADC shortlists 100 candidates and only those
    Q*100 rows touch the float corpus for an exact-cosine re-rank;
    trained codebooks raised both pq recall floors +0.1 — see
    test_similarity_dialects; the raw-ADC pq16 arm is retired into the pq
    parity pytests).
    ivfpq_rr composes BOTH prunes through the materialized codes-only
    cell-partitioned store — a probe reads n_probe/n_centroids of the
    files, each row 4 ints not 64 floats, then exact-reranks the Q*50
    shortlist; extq queries the SAME store with EXTERNAL vectors — the
    serving shape — via a literal query frame the oracle reproduces as
    full-precision VALUES; ivfpq_res is IVFADC proper (residual-encoded
    store) ranked in the compressed domain only — the
    first-stage-retriever shape whose candidates never touch the float
    corpus. The del_sync/del_compact/rebuilt arms attest the round-9
    delete-propagation lifecycle (see _ann_lifecycle_stage)."""
    out = None
    for _name, thunk in _ann_topk_arms(spark, sf_dir):
        # localCheckpoint per arm: each arm materializes its ~30-row
        # result and RELEASES its plan (broadcast relations, codegen)
        # before the next arm runs — the unioned cell's memory need is
        # max-over-arms, not sum. Eleven ANN arms as one lazy union OOMed
        # the driver's vanilla 1g session at stage ~280 (every arm's
        # broadcasts pinned simultaneously); checkpointed, the same union
        # is eleven tiny scans.
        df = thunk().localCheckpoint()
        out = df if out is None else out.unionByName(df)
    return out.orderBy("method", "query_id", "rank")


def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc text metrics PLUS the Gopher/C4 repetition gate in one
    attested entry (50-entry attestation cap): counts/ratios/lang/
    fingerprint from text_stats, joined with top-token share and
    duplicate/top bigram fractions + rep_keep verdict from
    text_repetition — both pure per-row codegen, no explode, no shuffle —
    plus the unigram-LM surprisal column (corpus-vocab broadcast join, the
    one cross-doc signal in this entry)."""
    from iodf_spark.operators.textstats import (
        text_repetition,
        text_stats,
        token_surprisal,
    )

    docs = load_table(spark, sf_dir, "documents")
    stats = text_stats(docs, "doc_id", "text")
    rep = text_repetition(docs, "doc_id", "text").select(
        "doc_id",
        "n_bigrams",
        "top_token_frac",
        "dup_bigram_frac",
        "top_bigram_frac",
        F.col("keep").alias("rep_keep"),
    )
    surp = token_surprisal(docs, "doc_id", "text")
    return stats.join(rep, "doc_id").join(surp, "doc_id").orderBy("doc_id")


CHUNK_TOKS, CHUNK_OVERLAP = 64, 8  # chunk arm geometry (fixture docs ~100 toks)


def q_sequence_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence assembly at both ends of the training pipeline, one tagged
    union: 'pack' rows = concat-and-chop packing within hash shards
    (per-doc a=shard, b=n_tokens, c=start_seq, d=end_seq, fp=start_off —
    one shuffle of token COUNTS + a per-shard running sum; straddling
    shows as d > c); 'chunk' rows = overlapping token-window chunking,
    the pre-embedding step of retrieval pipelines (per-chunk a=chunk_idx,
    b=n_toks, c=start_tok, fp=text_hash(chunk_text) — shuffle-free, one
    narrow pass)."""
    from iodf_spark.functions import texthash as TH
    from iodf_spark.operators.packing import chunk_documents, sequence_pack

    docs = load_table(spark, sf_dir, "documents")
    pack = sequence_pack(docs, "doc_id", "text").select(
        F.lit("pack").alias("variant"),
        "doc_id",
        F.col("shard").alias("a"),
        F.col("n_tokens").alias("b"),
        F.col("start_seq").alias("c"),
        F.col("end_seq").alias("d"),
        F.col("start_off").alias("fp"),
    )
    chunk = chunk_documents(
        docs, "doc_id", "text", chunk_toks=CHUNK_TOKS, overlap=CHUNK_OVERLAP
    ).select(
        F.lit("chunk").alias("variant"),
        "doc_id",
        F.col("chunk_idx").alias("a"),
        F.col("n_toks").alias("b"),
        F.col("start_tok").alias("c"),
        F.lit(0).cast("bigint").alias("d"),
        F.expr(TH.text_hash("chunk_text", "spark")).alias("fp"),
    )
    return pack.unionByName(chunk)


DECON_K = 8  # window width for the substring-grain decontamination arm


def _sdecon_spans(
    spark: SparkSession, train: DataFrame, bench: DataFrame
) -> DataFrame:
    """Drive the incremental decontamination stream for the 'sdecon' arm
    (see q_contamination) and return its accumulated spans. Unlike the
    sstream arm there is NO state store — contamination is per-doc
    against a static benchmark, so the op is a stateless stream-static
    broadcast semi join and stream == batch under any split."""

    from iodf_spark.streaming.ingest import (
        read_contaminated_spans,
        stream_contaminated_windows,
    )

    sub = train.filter(F.col("doc_id") % SSTREAM_MOD == 0).select("doc_id", "text")
    src = _mkdtemp(prefix="iodf_sd_src_")
    state = _mkdtemp(prefix="iodf_sd_state_")
    # 2-file source + maxFilesPerTrigger=1 -> hits land across 2 batches
    sub.repartition(2).write.mode("overwrite").parquet(src)
    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    stream_contaminated_windows(stream, "doc_id", "text", bench, state, k=DECON_K)
    return read_contaminated_spans(spark, state, k=DECON_K)


def q_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination at BOTH grains, one tagged union (the
    held-out 'benchmark' split is doc_id % 20 == 0; benchmark hashes
    broadcast — the corpus never shuffles against the benchmark):
    'ngram' rows score whole documents by n-gram containment and flag
    (n=n_shingles, x=overlap_frac, f=contaminated); 'spans' rows LOCATE
    the verbatim overlap — maximal token runs whose every k-window occurs
    in the benchmark (the ExactSubstr decontamination of the GPT-3/PaLM
    reports; n=span_start, x=span_toks, f=n_windows), cut-ready with
    exact boundaries; 'clean' rows attest the CUT — the materialized
    decontaminated corpus, every benchmark-overlap span removed from
    every doc (n=n_toks, x=removed_toks, f=text_hash(clean_text));
    'sdecon' rows attest the INCREMENTAL path — the same spans discovered
    by a standing micro-batch stream over a deterministic train subset
    (doc_id % 4 = 0; stateless stream-static broadcast semi join, no
    state store), checked against the batch spans oracle on the same
    subset: the live-crawl decontamination a curation pipeline runs."""
    arms = _contamination_arms(spark, sf_dir)
    out = arms[0][1]()
    for _, thunk in arms[1:]:
        out = out.unionByName(thunk())
    return out


def _contamination_arms(spark: SparkSession, sf_dir: str):
    """ORDERED arm thunks of the contamination entry (see
    q_contamination) — per-arm bench grain so a new arm lands with its
    own baseline instead of tripping the cell-level gate."""
    from iodf_spark.functions import texthash as TH
    from iodf_spark.operators.dedup import (
        contaminated_spans,
        contamination,
        decontaminate_clean,
    )

    memo: dict[str, DataFrame] = {}

    def split(which: str) -> DataFrame:
        if which not in memo:
            docs = load_table(spark, sf_dir, "documents")
            memo["train"] = docs.filter(F.col("doc_id") % 20 != 0)
            memo["bench"] = docs.filter(F.col("doc_id") % 20 == 0)
        return memo[which]

    return [
        (
            "ngram",
            lambda: contamination(
                split("train"), "doc_id", "text", split("bench")
            ).select(
                F.lit("ngram").alias("variant"),
                "doc_id",
                F.col("n_shingles").alias("n"),
                F.col("overlap_frac").alias("x"),
                F.col("contaminated").cast("bigint").alias("f"),
            ),
        ),
        (
            "spans",
            lambda: contaminated_spans(
                split("train"), "doc_id", "text", split("bench"), k=DECON_K
            ).select(
                F.lit("spans").alias("variant"),
                "doc_id",
                F.col("span_start").alias("n"),
                F.col("span_toks").cast("double").alias("x"),
                F.col("n_windows").alias("f"),
            ),
        ),
        (
            "clean",
            lambda: decontaminate_clean(
                split("train"), "doc_id", "text", split("bench"), k=DECON_K
            ).select(
                F.lit("clean").alias("variant"),
                "doc_id",
                F.col("n_toks").alias("n"),
                F.col("removed_toks").cast("double").alias("x"),
                F.expr(TH.text_hash("clean_text", "spark")).alias("f"),
            ),
        ),
        (
            "sdecon",
            lambda: _sdecon_spans(spark, split("train"), split("bench")).select(
                F.lit("sdecon").alias("variant"),
                "doc_id",
                F.col("span_start").alias("n"),
                F.col("span_toks").cast("double").alias("x"),
                F.col("n_windows").alias("f"),
            ),
        ),
    ]


ORDERS_PROFILE_COLS = [
    "o_orderkey", "o_custkey", "o_orderstatus",
    "o_totalprice", "o_orderdate", "o_orderpriority",
]


def q_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column table profile (cardinality + bounds for every column in
    one pass) — the queryable stats surface; exact distincts so the oracle
    matches value-for-value."""
    from iodf_spark.operators.profile import profile

    return profile(load_table(spark, sf_dir, "orders"), ORDERS_PROFILE_COLS)


def q_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary head: top-50 tokens by term frequency with document
    frequency — one partial-agg shuffle + TakeOrdered."""
    from iodf_spark.operators.textstats import vocab_topk

    return vocab_topk(load_table(spark, sf_dir, "documents"), "doc_id", "text")


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified downsampling: per-language keep rates as a
    pure row-hash decision (no RNG state, no shuffle) — a re-run or an
    external engine selects the exact same rows. Output: kept counts per
    predicted language plus an id checksum proving the same ROWS, not just
    the same counts, were chosen."""
    from iodf_spark.operators.sampling import stratified_sample
    from iodf_spark.operators.textstats import text_stats

    from iodf_spark.operators.sampling import temperature_sample

    docs = load_table(spark, sf_dir, "documents")
    stats = text_stats(docs, "doc_id", "text")
    kept = stratified_sample(
        stats, "doc_id", "lang_pred", SAMPLE_RATES, default_rate=0.1
    )
    fixed = (
        kept.groupBy("lang_pred")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.sum("doc_id").cast("long").alias("id_checksum"),
        )
        .select(
            F.lit("fixed").alias("variant"),
            F.col("lang_pred").alias("cls"),
            "n_kept",
            "id_checksum",
        )
    )
    # sqrt-temperature mixture rebalancing over the corpus `source` column:
    # rates derive from the observed class counts, not a fixed policy
    temp = (
        temperature_sample(docs, "doc_id", "source", TEMP_TARGET_FRAC)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.sum("doc_id").cast("long").alias("id_checksum"),
        )
        .select(
            F.lit("temp").alias("variant"),
            F.col("source").alias("cls"),
            "n_kept",
            "id_checksum",
        )
    )
    # hard per-source quota: at most CAP_K docs per source, picked by the
    # same row-hash order (exact distributed top-k: salted local ranks then
    # a tiny global rank — no full per-class sort, no text on the wire)
    from iodf_spark.operators.sampling import source_cap

    capped = (
        source_cap(docs, "doc_id", "source", CAP_K)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.sum("doc_id").cast("long").alias("id_checksum"),
        )
        .select(
            F.lit("cap").alias("variant"),
            F.col("source").alias("cls"),
            "n_kept",
            "id_checksum",
        )
    )
    # explicit target-mixture resampling by char MASS (DoReMi/Pile-style
    # domain weights): the binding domain keeps everything, the rest are
    # squeezed to match the target shares, unlisted sources drop out —
    # same per-row hash decision, so the oracle selects the exact rows
    from iodf_spark.operators.sampling import mixture_sample

    mixed = (
        mixture_sample(docs, "doc_id", "source", MIX_WEIGHTS, "n_chars")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.sum("doc_id").cast("long").alias("id_checksum"),
        )
        .select(
            F.lit("mix").alias("variant"),
            F.col("source").alias("cls"),
            "n_kept",
            "id_checksum",
        )
    )
    return (
        fixed.unionByName(temp).unionByName(capped).unionByName(mixed)
        .orderBy("variant", "cls")
    )


def _pii_fixture_expr(dialect: str) -> str:
    """Deterministic PII injection for the pii_scan attestation: the corpus
    text is digit-free word soup, so every 5th/7th/11th doc gets an email /
    phone / IPv4 span appended — same formula text in both dialects."""
    sp = dialect == "spark"

    def s(e: str) -> str:
        return f"cast({e} as string)" if sp else f"({e})::VARCHAR"

    return (
        "concat(text,"
        f" case when doc_id % 5 = 0 then concat(' contact user', {s('doc_id')},"
        " '@example.com now') else '' end,"
        f" case when doc_id % 7 = 0 then concat(' call +1 (555) 010-',"
        f" lpad({s('doc_id % 10000')}, 4, '0')) else '' end,"
        f" case when doc_id % 11 = 0 then concat(' from 192.168.',"
        f" {s('doc_id % 256')}, '.', {s('(doc_id * 3) % 256')}) else '' end)"
    )


def q_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-training quality gate: per-doc metrics + keep verdict (composite
    score, token floor, punctuation ceiling) — one narrow pass — plus the
    PII scrub-scan columns (email/phone/IPv4 hit counts over the
    deterministic injection fixture, since the raw corpus is PII-free),
    plus token-budget assembly (cum_tokens/in_budget: the best docs by
    quality until TOKEN_BUDGET is full — a distributed range-partitioned
    prefix sum, not a single-task global window)."""
    from iodf_spark.operators.sampling import token_budget_select
    from iodf_spark.operators.textstats import pii_scan, quality_filter

    docs = load_table(spark, sf_dir, "documents").withColumn(
        "_pii_text", F.expr(_pii_fixture_expr("spark"))
    )
    qf = token_budget_select(
        quality_filter(docs, "doc_id", "text"),
        "doc_id", "quality_score", "n_tokens", TOKEN_BUDGET,
    )
    return qf.join(pii_scan(docs, "doc_id", "_pii_text"), "doc_id")


def q_embedding_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space near-dup CLUSTERS, both pair sources in one attested
    entry (50-entry attestation cap): 'exact' closes the block-grid cosine
    pair graph; 'ann' is the 100 TB story — dedup_clusters fed by
    LSH-bucketed candidate pairs, NO O(N^2) stage anywhere in its plan
    (grid-cell candidates within buckets, exact cosine verify, min-label
    components). ANN recall < 1 vs exact by design; buckets are
    deterministic, so the oracle misses the same pairs. 'semdedup' is the
    cluster-scoped alternative (Abbas et al. 2023): IVF cells bound the
    quadratic, keep = no smaller-id same-cell row above the cosine
    threshold — per-ball marking, not transitive closure."""
    out = None
    for _name, thunk in _embedding_clusters_arms(spark, sf_dir):
        df = thunk()
        out = df if out is None else out.unionByName(df)
    return out.orderBy("method", "doc_id")


def _embedding_clusters_arms(spark: SparkSession, sf_dir: str):
    """ORDERED arm thunks of the embedding_clusters entry (see
    q_embedding_clusters)."""
    from iodf_spark.operators.dedup import dedup_clusters
    from iodf_spark.operators.similarity import (
        cosine_pairs,
        lsh_candidate_pairs,
        semdedup,
    )

    memo: dict[str, DataFrame] = {}

    def emb() -> DataFrame:
        if "emb" not in memo:
            memo["emb"] = load_table(spark, sf_dir, "embeddings")
        return memo["emb"]

    def clusters_of(tag: str, pair_fn):
        pairs = pair_fn().select(
            F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b")
        )
        return dedup_clusters(emb(), "vec_id", "embedding", pairs=pairs).select(
            F.lit(tag).alias("method"), "*"
        )

    return [
        (
            "ann",
            lambda: clusters_of(
                "ann",
                lambda: lsh_candidate_pairs(emb(), "vec_id", "embedding", dim=EMB_DIM),
            ),
        ),
        (
            "exact",
            lambda: clusters_of(
                "exact",
                lambda: cosine_pairs(emb(), "vec_id", "embedding", dim=EMB_DIM),
            ),
        ),
        (
            "semdedup",
            lambda: semdedup(emb(), "vec_id", "embedding", dim=EMB_DIM).select(
                F.lit("semdedup").alias("method"), "*"
            ),
        ),
        # round-9 verdict #5: multi-probe assignment for the dedup pass —
        # each row enters its top-2 cells for pair generation, recovering
        # most cross-cell near-dups at ~2x pair work (recall monotone in
        # n_probe, property-tested in test_trained_quantizers/semdedup)
        (
            "semdedup2",
            lambda: semdedup(
                emb(), "vec_id", "embedding", dim=EMB_DIM, n_probe=2
            ).select(F.lit("semdedup2").alias("method"), "*"),
        ),
        # round-10 verdict #4: the TRAINED-centroid pass — the same 64
        # spherical-Lloyd's centroids the ivf64_t ANN arm serves with,
        # threaded through semdedup's cell assignment (and the oracle as
        # identical literals); the recall gain lives on the planted
        # corpus in pytest (this fixture is isotropic — see MEMORY)
        (
            "semdedup_t",
            lambda: semdedup(
                emb(), "vec_id", "embedding", dim=EMB_DIM,
                cent_vecs=_trained_ivf64(),
            ).select(F.lit("semdedup_t").alias("method"), "*"),
        ),
    ]


def q_multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column plumbing in one attested entry (former multimodal_meta
    + multimodal_frames): synthesize a payload, decode metadata via an
    Arrow-batched mapInPandas (deterministic fake codec — the oracle
    reproduces it from byte lengths), and sample 'video' frames per payload
    (one row per frame with byte offsets in the operator; aggregated here
    to per-doc frame count / bytes / offset checksum so both mapInPandas
    paths share one oracle-checked output).

    Round-10 'hdr_*' columns attest the REAL stdlib codec
    (multimodal.decode_headers — PNG IHDR / JPEG SOF0 struct parsing, no
    image libs): each doc gets a spec-shaped container byte stream built
    IN SPARK SQL (even doc_id -> PNG with RGBA color type, odd -> JPEG
    SOF0 with 3 components; dimensions derived from the text byte
    length), the executor-side parser recovers width/height/channels
    from the byte layout alone, and the oracle re-derives the expected
    values from the same formulas — a header the parser fails to
    round-trip hash-mismatches immediately.

    Round-10 'med_*' columns extend the real-codec attestation to the
    other two modalities of the build brief: each doc also gets a WAV
    (RIFF fmt/data chunks, little-endian) or MP4 (ftyp+moov/mvhd+trak
    boxes, big-endian) byte stream built in Spark SQL, parsed by
    multimodal.decode_media_headers' unified magic-byte dispatch —
    channels/sample-rate/duration for audio, duration/track-count for
    video, per-modality NULLs for the rest."""
    from iodf_spark.operators.multimodal import (
        attach_payload,
        decode_headers,
        decode_media_headers,
        decode_metadata,
        frame_sample,
        resize,
    )

    docs = attach_payload(load_table(spark, sf_dir, "documents"), "text")
    meta = decode_metadata(docs, "doc_id")
    imgs = docs.withColumn(
        "_hw", F.expr("cast(1 + octet_length(payload) % 640 as int)")
    ).withColumn(
        "_hh", F.expr("cast(1 + (octet_length(payload) * 7) % 480 as int)")
    ).withColumn(
        "img",
        F.expr(
            """CASE WHEN doc_id % 2 = 0 THEN
                 concat(X'89504E470D0A1A0A', X'0000000D',
                        encode('IHDR', 'UTF-8'),
                        unhex(lpad(hex(_hw), 8, '0')),
                        unhex(lpad(hex(_hh), 8, '0')),
                        X'0806000000', X'00000000')
               ELSE
                 concat(X'FFD8', X'FFC00011', X'08',
                        unhex(lpad(hex(_hh), 4, '0')),
                        unhex(lpad(hex(_hw), 4, '0')),
                        X'03', X'000000000000000000', X'FFD9')
               END"""
        ),
    )
    hdr = decode_headers(imgs, "doc_id", "img").select(
        "doc_id",
        F.col("width").alias("hdr_width"),
        F.col("height").alias("hdr_height"),
        F.col("channels").alias("hdr_channels"),
    )
    media = decode_media_headers(
        docs.withColumn("med", F.expr(_media_payload_sql())), "doc_id", "med"
    ).select(
        "doc_id",
        F.col("kind").alias("med_kind"),
        F.col("channels").alias("med_channels"),
        F.col("sample_rate").alias("med_rate"),
        F.col("duration_ms").alias("med_dur"),
        F.col("n_tracks").alias("med_tracks"),
    )
    frames = frame_sample(docs, "doc_id").groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("int").alias("n_frames"),
        F.sum("length").cast("long").alias("frame_bytes"),
        F.sum(F.col("offset") * (F.col("frame_idx") + 1)).cast("long").alias(
            "frame_checksum"
        ),
    )
    resized = resize(docs, "doc_id", 32, 24).select(
        "doc_id",
        F.col("n_bytes_out").alias("resize_bytes"),
        F.col("checksum").alias("resize_checksum"),
    )
    feats = q_multimodal_features(spark, sf_dir).select(
        "doc_id", F.col("dim").alias("feat_dim"), "feat_checksum"
    )
    return (
        meta.join(frames, "doc_id")
        .join(resized, "doc_id")
        .join(feats, "doc_id")
        .join(hdr, "doc_id")
        .join(media, "doc_id")
        .orderBy("doc_id")
    )


def _le_bytes_sql(v_expr: str, n_bytes: int) -> str:
    """Spark SQL expr: `v_expr` as n_bytes LITTLE-endian bytes (the RIFF
    convention) — hex() is big-endian, so each byte is extracted and
    emitted low-first."""
    parts = [
        f"unhex(lpad(hex((({v_expr}) DIV {256 ** i}) % 256), 2, '0'))"
        for i in range(n_bytes)
    ]
    return "concat(" + ", ".join(parts) + ")"


def _be_bytes_sql(v_expr: str, n_bytes: int) -> str:
    """Spark SQL expr: `v_expr` as n_bytes BIG-endian bytes (ISO-BMFF)."""
    return f"unhex(lpad(hex({v_expr}), {2 * n_bytes}, '0'))"


def _media_payload_sql() -> str:
    """Spec-shaped WAV / MP4 container byte streams built IN SPARK SQL from
    each doc's payload length n (the same pattern as the PNG/JPEG 'img'
    column): even doc_id -> a RIFF/WAVE header whose fmt chunk carries
    derived channels/rate and whose data chunk declares a derived frame
    count; odd doc_id -> an ftyp+moov ISO-BMFF stream with a version-0
    mvhd (timescale 600, derived duration) and 1-3 empty trak boxes. The
    executor-side parser must recover every field from the byte layout
    alone; the oracle re-derives the expected values from the arithmetic."""
    n = "octet_length(payload)"
    ch = f"(1 + {n} % 2)"
    rate = f"(8000 * (1 + {n} % 6))"
    align = f"({ch} * 2)"
    frames = f"((1 + {n} % 1000) * 64)"
    data = f"({align} * {frames})"
    dur = f"(1 + ({n} * 37) % 100000)"
    trak = "X'000000087472616B'"  # (size=8 BE) ++ 'trak'
    return f"""CASE WHEN doc_id % 2 = 0 THEN
         concat(encode('RIFF', 'UTF-8'), {_le_bytes_sql(f"36 + {data}", 4)},
                encode('WAVE', 'UTF-8'),
                encode('fmt ', 'UTF-8'), {_le_bytes_sql("16", 4)},
                {_le_bytes_sql("1", 2)}, {_le_bytes_sql(ch, 2)},
                {_le_bytes_sql(rate, 4)}, {_le_bytes_sql(f"{rate} * {align}", 4)},
                {_le_bytes_sql(align, 2)}, {_le_bytes_sql("16", 2)},
                encode('data', 'UTF-8'), {_le_bytes_sql(data, 4)})
       ELSE
         concat({_be_bytes_sql("16", 4)}, encode('ftyp', 'UTF-8'),
                encode('isom', 'UTF-8'), X'00000000',
                {_be_bytes_sql(f"36 + 8 * (1 + {n} % 3)", 4)}, encode('moov', 'UTF-8'),
                {_be_bytes_sql("28", 4)}, encode('mvhd', 'UTF-8'),
                X'000000000000000000000000',
                {_be_bytes_sql("600", 4)}, {_be_bytes_sql(dur, 4)},
                CASE ({n} % 3) WHEN 0 THEN {trak}
                     WHEN 1 THEN concat({trak}, {trak})
                     ELSE concat({trak}, {trak}, {trak}) END)
       END"""


def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-payload feature extraction (array<float> via mapInPandas), made
    ORACLE-CHECKABLE: the stub codec's byte recurrence is deterministic, so
    the oracle replays it in SQL over the same bytes. The checksum recovers
    the exact per-dim integers (each feature is k/1000; round(f*1000) undoes
    the float32 quantization losslessly since the error is << 0.5/1000), so
    the comparison is integer-exact — no float summation drift."""
    from iodf_spark.operators.multimodal import attach_payload, extract_features

    docs = attach_payload(load_table(spark, sf_dir, "documents"), "text")
    feats = extract_features(docs, "doc_id")
    return feats.select(
        "doc_id",
        F.size("features").alias("dim"),
        F.expr(
            "aggregate(features, 0L, (a, x) -> a + cast(round(x * 1000) as bigint))"
        ).alias("feat_checksum"),
    ).orderBy("doc_id")


def _fake_features_oracle_sql(id_col: str, text_col: str, table: str, dim: int = 8) -> str:
    """DuckDB replay of multimodal._fake_features over attach_payload's
    UTF-8 bytes (testdata text is ASCII, so ascii(substr) IS the byte; the
    index wraps modulo the text length exactly like the codec's
    payload[d % len])."""
    acc = "7::BIGINT"
    dims = []
    for d in range(dim):
        byte = (
            f"(case when length({text_col}) = 0 then 0 else "
            f"ascii(substr({text_col}, ({d} % length({text_col})) + 1, 1)) end)"
        )
        acc = f"(({acc}) * 31 + {byte} + {d}) % 1000000007"
        dims.append(f"(({acc}) % 1000)")
    checksum = " + ".join(dims)
    return f"""
        SELECT {id_col}, {dim} AS dim, ({checksum})::BIGINT AS feat_checksum
        FROM {table} ORDER BY {id_col}
    """


# ---------------------------------------------------------------------------
# relational suite — operators absent in the reference (SURVEY.md §2.6, 2.7,
# 2.8, 2.10) that a complete engine must provide; all Catalyst built-ins.


JOIN_CUT = "1997-06-01"  # Q3-shape date cut (orders before, shipments after)
JOIN_Q5_LO, JOIN_Q5_HI = "1996-01-01", "1999-01-01"


def q_join_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.6 joins, three classic OLAP shapes in one attested entry
    (unified schema variant/k/n/measure):
    * 'star' — fact-to-dim star join with broadcast dims (customer and
      nation are small: broadcast hash join, no shuffle of orders).
    * 'q3' — TPC-H Q3 shape: 3-way join with per-side filters pushed to
      the scans, grouped revenue, deterministic top-10 (rank ties broken
      by key). Only orders/lineitem shuffle; customer broadcasts.
    * 'q5' — TPC-H Q5 shape: 6-table join incl. the c_nationkey =
      s_nationkey locality condition; region/nation/supplier/customer all
      broadcast, the lineitem-orders backbone is the only shuffle join.
    """
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    lineitem = load_table(spark, sf_dir, "lineitem")
    supplier = load_table(spark, sf_dir, "supplier")
    region = load_table(spark, sf_dir, "region")

    star = (
        orders.join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("o_totalprice"), 4).alias("measure"),
        )
        .select(F.lit("star").alias("variant"), F.col("n_name").alias("k"), "n", "measure")
    )

    # 'salted': the SAME star aggregation through the J5 skew-salted join —
    # orders' hot customer keys spread over 8 deterministic salts, customer
    # (with its nation label) replicated once per salt. Row-for-row equal
    # to 'star' by construction; attested by the same oracle rows, so the
    # skew path is value-checked, not just plan-shape-checked.
    from iodf_spark.operators.skew import salted_join

    dim = customer.join(
        F.broadcast(nation), customer.c_nationkey == nation.n_nationkey
    ).select(F.col("c_custkey").alias("ck"), "n_name")
    salted = (
        salted_join(
            orders.select(F.col("o_custkey").alias("ck"), "o_totalprice"),
            dim,
            on=["ck"],
            n_salts=8,
        )
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("o_totalprice"), 4).alias("measure"),
        )
        .select(
            F.lit("salted").alias("variant"), F.col("n_name").alias("k"), "n", "measure"
        )
    )

    rev = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    q3 = (
        lineitem.filter(F.col("l_shipdate") > F.lit(JOIN_CUT).cast("timestamp"))
        .join(
            orders.filter(F.col("o_orderdate") < F.lit(JOIN_CUT).cast("timestamp")),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(
            F.broadcast(customer.filter(F.col("c_mktsegment") == "BUILDING")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .groupBy("o_orderkey")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum(rev), 4).alias("measure"))
        .orderBy(F.col("measure").desc(), F.col("o_orderkey"))
        .limit(10)
        .select(
            F.lit("q3").alias("variant"),
            F.col("o_orderkey").cast("string").alias("k"),
            "n",
            "measure",
        )
    )

    q5 = (
        lineitem.join(
            orders.filter(
                (F.col("o_orderdate") >= F.lit(JOIN_Q5_LO).cast("timestamp"))
                & (F.col("o_orderdate") < F.lit(JOIN_Q5_HI).cast("timestamp"))
            ),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(F.broadcast(supplier), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(
            F.broadcast(customer),
            (F.col("o_custkey") == F.col("c_custkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(
            F.broadcast(region.filter(F.col("r_name") == "ASIA")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .groupBy("n_name")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum(rev), 4).alias("measure"))
        .select(F.lit("q5").alias("variant"), F.col("n_name").alias("k"), "n", "measure")
    )
    return star.unionByName(salted).unionByName(q3).unionByName(q5)


def q_semi_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.6 semi/anti joins: customers with orders vs without, one row of
    counts (left_semi + left_anti — the relational form of the reference's
    bitmap intersection-as-semi-join)."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    with_orders = customer.join(
        orders, customer.c_custkey == orders.o_custkey, "left_semi"
    ).agg(F.count(F.lit(1)).alias("with_orders"))
    without = customer.join(
        orders, customer.c_custkey == orders.o_custkey, "left_anti"
    ).agg(F.count(F.lit(1)).alias("without_orders"))
    return with_orders.crossJoin(without)  # two 1-row aggs, one lazy plan


def q_window_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.10 window functions in one attested entry (former window_rank +
    window_running_sum): per-customer price rank (row_number over ordered
    window, deterministic tie-break) AND running revenue over order dates
    (unbounded-preceding frame) — both windows share the o_custkey
    partitioning, so Catalyst evaluates them on ONE shuffle."""
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    w_rank = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    w_run = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.row_number().over(w_rank).alias("rk"),
        F.round(F.sum("o_totalprice").over(w_run), 4).alias("running_total"),
    ).orderBy("o_custkey", "o_orderkey")


def q_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.7 T3/T4 top-k: TakeOrderedAndProject, deterministic tie-break."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .select("o_orderkey", F.round("o_totalprice", 2).alias("o_totalprice"))
        .limit(10)
    )


def q_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.8 set operations as table ops: INTERSECT / EXCEPT on customer key
    sets (customers with both open and finished orders; only-open)."""
    orders = load_table(spark, sf_dir, "orders")
    f_cust = orders.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    o_cust = orders.filter(F.col("o_orderstatus") == "O").select("o_custkey")
    both = f_cust.intersect(o_cust).agg(F.count(F.lit(1)).alias("both"))
    only_open = (
        o_cust.distinct()
        .exceptAll(f_cust.distinct())
        .agg(F.count(F.lit(1)).alias("only_open"))
    )
    return both.crossJoin(only_open)  # two 1-row aggs, one lazy plan


def q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.5 grouping sets in one attested entry (former rollup + cube):
    ROLLUP over lineitem (returnflag, linestatus) with subtotals and grand
    total, plus full CUBE over orders (status, priority) — all grouping-set
    combinations, one pass each."""
    li = load_table(spark, sf_dir, "lineitem")
    ru = (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(F.count(F.lit(1)).alias("cnt"), F.round(F.sum("l_quantity"), 4).alias("sum_val"))
        .select(
            F.lit("rollup").alias("variant"),
            F.col("l_returnflag").alias("k1"),
            F.col("l_linestatus").alias("k2"),
            "cnt",
            "sum_val",
        )
    )
    orders = load_table(spark, sf_dir, "orders")
    cu = (
        orders.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.round(F.sum("o_totalprice"), 4).alias("sum_val"),
        )
        .select(
            F.lit("cube").alias("variant"),
            F.col("o_orderstatus").alias("k1"),
            F.col("o_orderpriority").alias("k2"),
            "cnt",
            "sum_val",
        )
    )
    return ru.unionByName(cu).orderBy("variant", "k1", "k2")


def q_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.5 pivot (wide contingency reshaping): orders counts and revenue
    per priority, one column group per order status — Spark's pivot
    aggregation with an explicit value list (no extra distinct-values scan;
    single partial+final hash agg)."""
    orders = load_table(spark, sf_dir, "orders")
    p = (
        orders.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.round(F.sum("o_totalprice"), 4).alias("rev"),
        )
    )
    return p.select(
        "o_orderpriority",
        F.coalesce(F.col("F_cnt"), F.lit(0)).cast("long").alias("f_cnt"),
        F.col("F_rev").alias("f_rev"),
        F.coalesce(F.col("O_cnt"), F.lit(0)).cast("long").alias("o_cnt"),
        F.col("O_rev").alias("o_rev"),
        F.coalesce(F.col("P_cnt"), F.lit(0)).cast("long").alias("p_cnt"),
        F.col("P_rev").alias("p_rev"),
    ).orderBy("o_orderpriority")


def q_approx_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.5 approximate aggregates (absent in the reference): HLL distinct
    count + quantile sketch over lineitem, made ORACLE-CHECKABLE by
    self-validation: the sketches' raw outputs are engine-specific, so the
    query emits the EXACT aggregates plus booleans asserting each sketch
    landed within its guarantee (HLL default rsd 5% -> 15% is a ~3-sigma
    bound; percentile_approx default accuracy bounds rank error at n/10000
    -> 2% rank window). The oracle emits the exact values and TRUE/TRUE:
    a sketch drifting out of tolerance hash-mismatches the round."""
    li = load_table(spark, sf_dir, "lineitem")
    # the sketches and the exact distinct are SEPARATE jobs on purpose: a
    # DISTINCT aggregate mixed into the same Aggregate as a
    # TypedImperativeAggregate (percentile_approx) plans as Expand +
    # sort-aggregate fallback — measured 8.2 s for the combined pass vs
    # 0.4-0.6 s per aggregate alone at sf0.1. Two hash aggregates + a
    # 1-row broadcast cross join is the cheap plan.
    sketch = li.agg(
        F.approx_count_distinct("l_partkey").alias("_apx_parts"),
        F.percentile_approx("l_extendedprice", 0.5).alias("_apx_med"),
        F.count(F.lit(1)).alias("n"),
    )
    exact = li.agg(F.count_distinct("l_partkey").alias("exact_parts"))
    agg = sketch.crossJoin(F.broadcast(exact))
    return (
        li.select("l_extendedprice")
        .crossJoin(F.broadcast(agg))
        .groupBy("n", "exact_parts", "_apx_parts", "_apx_med")
        .agg(
            F.sum((F.col("l_extendedprice") <= F.col("_apx_med")).cast("long")).alias(
                "_rank"
            )
        )
        .select(
            "n",
            "exact_parts",
            (
                F.abs(F.col("_apx_parts") - F.col("exact_parts"))
                <= 0.15 * F.col("exact_parts")
            ).alias("hll_ok"),
            (
                (F.col("_rank") >= 0.48 * F.col("n"))
                & (F.col("_rank") <= 0.52 * F.col("n"))
            ).alias("median_rank_ok"),
        )
    )


def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.6 as-of join, BOTH directions in one attested entry (custom
    operator iodf_spark.operators.asof.join_asof — union + windowed carry,
    one shuffle, no cross product). 'backward': each event picks the
    latest order of the same customer at-or-before the event time;
    'forward': the earliest at-or-after (same plan, frame flipped)."""
    from iodf_spark.operators.asof import join_asof

    events = load_table(spark, sf_dir, "events").select(
        "event_id", F.col("user_id").alias("custkey"), "ts"
    )
    orders = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.col("o_custkey").alias("custkey"), "o_orderdate")
        .agg(F.max("o_orderkey").alias("o_orderkey"))
    )
    out = None
    for direction in ("backward", "forward"):
        joined = join_asof(
            events, orders, on="custkey", left_time="ts", right_time="o_orderdate",
            right_cols=["o_orderkey"], direction=direction,
        ).select(
            F.lit(direction).alias("direction"), "event_id", "custkey", "o_orderkey"
        )
        out = joined if out is None else out.unionByName(joined)
    return out.orderBy("direction", "event_id")


def q_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.6 range join: events bucketed into value tiers via broadcast
    conditional join (BroadcastNestedLoopJoin on a tiny build side)."""
    from iodf_spark.operators.asof import join_range

    events = load_table(spark, sf_dir, "events")
    tiers = spark.createDataFrame(
        [("low", 0.0, 5.0), ("mid", 5.0, 20.0), ("high", 20.0, 1e9)],
        "tier string, lo double, hi double",
    )
    return (
        join_range(events, tiers, F.col("value"), "lo", "hi")
        .groupBy("tier")
        .agg(F.count(F.lit(1)).alias("cnt"), F.round(F.avg("value"), 6).alias("avg_value"))
        .orderBy("tier")
    )


def q_events_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.11 event-time tumbling window (batch form of the streaming agg):
    per-hour, per-type counts and mean value, plus a mean over a field
    EXTRACTED FROM THE JSON props column (get_json_object — the
    semi-structured access path a training pipeline needs for event
    payloads; JVM-side JSON parsing, no UDF)."""
    events = load_table(spark, sf_dir, "events")
    return (
        events.groupBy(
            F.window("ts", "1 hour").alias("w"), "event_type"
        )
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.round(F.avg("value"), 6).alias("avg_value"),
            F.round(
                F.avg(F.get_json_object("props", "$.k").cast("double")), 6
            ).alias("avg_k"),
        )
        .select(
            F.col("w.start").cast("string").alias("hour_start"),
            "event_type",
            "cnt",
            "avg_value",
            "avg_k",
        )
        .orderBy("hour_start", "event_type")
    )


def q_resample_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series resample + gap fill (hypertable-style rollup): per-user
    hourly grid spanning that user's activity, empty buckets filled
    forward with the last observed hourly mean — the
    operators.sessions.resample_ffill operator (single raw-table scan:
    the grain aggregate is checkpointed so span and join branches share
    it; grid rows are generated, never stored)."""
    from iodf_spark.operators.sessions import resample_ffill

    ev = load_table(spark, sf_dir, "events")
    return resample_ffill(ev, "user_id", "ts", "value", "hour").orderBy(
        "user_id", "hour_start"
    )


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based per-user sessions, TWO implementations against one oracle:
    'custom' = the lag + cumulative-sum operator (operators/sessions.py,
    the portable formulation; its streaming twin uses
    applyInPandasWithState), 'native' = Spark's built-in session_window
    aggregation (merging-interval state, the idiomatic engine path). Both
    must produce identical sessions."""
    from pyspark.sql import Window

    from iodf_spark.operators.sessions import sessionize

    ev = load_table(spark, sf_dir, "events")
    custom = sessionize(ev).select(F.lit("custom").alias("impl"), "*")
    fmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"
    w = Window.partitionBy("user_id").orderBy(F.col("_w.start"))
    native = (
        ev.groupBy("user_id", F.session_window("ts", "30 minutes").alias("_w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.date_format(F.min("ts"), fmt).alias("session_start"),
            F.date_format(F.max("ts"), fmt).alias("session_end"),
        )
        .withColumn("session_id", (F.row_number().over(w) - 1).cast("long"))
        .select(
            F.lit("native").alias("impl"),
            "user_id", "session_id", "n_events", "session_start", "session_end",
        )
    )
    return custom.unionByName(native).orderBy("impl", "user_id", "session_id")


_STREAM_COUNTER = [0]


def q_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.11 stream-STREAM interval join (two watermarked sides, event-time
    bounded state): purchases attributed to the same user's clicks in the
    preceding 30 minutes, drained with availableNow. Equal to the batch
    interval join, which is what the oracle checks."""
    from iodf_spark.streaming.ingest import (
        bounded_state_partitions,
        run_to_memory,
        stream_events,
        stream_stream_join,
    )

    _STREAM_COUNTER[0] += 1
    name = f"stream_stream_join_{_STREAM_COUNTER[0]}"
    joined = stream_stream_join(
        stream_events(spark, sf_dir), "purchase", "click"
    )
    # state partitions sized to the bounded source's bytes, not core count
    # (32 one-commit-per-batch state stores on a 2 MB drain measured 4 s
    # of pure overhead; a 100 TB source hits the parallelism clamp)
    return run_to_memory(
        joined, name,
        shuffle_partitions=bounded_state_partitions(spark, f"{sf_dir}/events.parquet"),
    ).orderBy("left_id", "right_id")


def q_stream_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.11 Structured Streaming: file-source stream over events,
    STREAM-STATIC broadcast join against the customer->nation dimension,
    then event-time tumbling window + watermark, driven to completion with
    the availableNow trigger into a memory sink. Semantically equal to the
    batch join+aggregation, which is what the oracle checks."""
    from iodf_spark.streaming.ingest import (
        bounded_state_partitions,
        run_to_memory,
        stream_enriched_counts,
        stream_events,
    )

    _STREAM_COUNTER[0] += 1
    name = f"stream_windowed_{_STREAM_COUNTER[0]}"
    dim = (
        load_table(spark, sf_dir, "customer")
        .join(F.broadcast(load_table(spark, sf_dir, "nation")),
              F.col("c_nationkey") == F.col("n_nationkey"))
        .select("c_custkey", "n_name")
    )
    agg = stream_enriched_counts(
        stream_events(spark, sf_dir), dim, "user_id", "c_custkey", "n_name"
    )
    return run_to_memory(
        agg, name, output_mode="complete",
        shuffle_partitions=bounded_state_partitions(spark, f"{sf_dir}/events.parquet"),
    ).orderBy("hour_start", "n_name")


# ---------------------------------------------------------------------------
# segment store (S5/S7, MultiDf/E3, B5 writeMergedDf) — LSM segments with
# manifest offsets, multi-segment union + default fill, cross-segment index
# probe, compaction invariance.

SEG_STATUS_ORDER = "CASE o_orderstatus WHEN 'F' THEN 0 WHEN 'O' THEN 1 ELSE 2 END"
# global row_id of the 3-segment store: segments written in status order
# F, O, P, each ordered by o_orderkey (manifest offsets = concatenation)
SEG_RID = (
    f"(SELECT *, row_number() OVER (ORDER BY {SEG_STATUS_ORDER}, o_orderkey) - 1"
    " AS row_id FROM orders)"
)


def _orders_store(spark: SparkSession, sf_dir: str, compact: bool = False):
    """Build (once per sf_dir) a 3-segment orders store: one segment per
    o_orderstatus, each indexed on o_orderpriority; the 'O' segment carries
    an extra column to exercise MultiDf default-fill. The compact variant
    rewrites the 3 segments into 1 (writeMergedDf)."""

    from iodf_spark.sources.segments import SegmentStore

    key = ("orders_store_compact" if compact else "orders_store", sf_dir)
    if key not in _cache:
        conf = idx.IndexConf(include=["o_orderpriority"])
        if compact:
            # clone the (cached) 3-segment store and compact the clone —
            # the segment files are immutable, so a directory copy is
            # exactly a second store; skips re-running 3 stamp+write+index
            # rounds that the base build already paid for
            base = _orders_store(spark, sf_dir, compact=False)
            path = _mkdtemp(prefix="iodf_segs_c_")
            shutil.rmtree(path)
            shutil.copytree(base.path, path)
            store = SegmentStore(path)
            # no index_conf: compaction MERGES the per-segment posting
            # lists into the new row space (no re-tokenization) and the
            # result stays indexed — the writeMergedIndexedDf path
            store.compact(spark, defaults={"flag": 0})
        else:
            store = SegmentStore(_mkdtemp(prefix="iodf_segs_"))
            od = load_table(spark, sf_dir, "orders").withColumn("flag", F.lit(1))
            # one-pass partitioned ingest: 3 segments from ONE stamped scan;
            # only the 'O' segment keeps the extra column (exercises the
            # MultiDf default-fill on open)
            store.write_segments_by(
                od, "o_orderstatus", ["F", "O", "P"], ["o_orderkey"],
                index_conf=conf,
                per_segment=lambda v, seg: seg if v == "O" else seg.drop("flag"),
            )
        _cache[key] = store
    return _cache[key]


def q_segments_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5/E3 multi-segment open: logical concatenation with manifest row-id
    offsets; missing columns default-filled (MultiDf.scala:125-142)."""
    store = _orders_store(spark, sf_dir)
    return store.open(spark, defaults={"flag": 0}).select(
        "row_id", "o_orderkey", "o_orderstatus", F.col("flag").cast("int").alias("flag")
    )


def q_segments_index_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E3 cross-segment index probe: per-segment posting lists shifted into
    the global row space (MultiBits sharding), one key probed."""
    store = _orders_store(spark, sf_dir)
    ix = store.open_index(spark)
    return idx.probe(
        ix, "o_orderpriority", "1-URGENT", store.total_rows(),
        store.bucket_size, encoding_hint="auto",
    ).to_rows()


def _segments_compact_arms(spark: SparkSession, sf_dir: str):
    """ORDERED arm thunks of the segments_compact entry (the store
    lifecycle is stateful: delete must precede cdf must precede purge).
    Factored this way so bench.py can time each arm individually — a
    single consolidated timing cell hid one-arm regressions from the 2x
    gate — while q_segments_compact unions the same thunks for the
    correctness oracle. Shared lifecycle state lives in ``st``."""

    from iodf_spark.sources.segments import SegmentStore

    st: dict[str, object] = {}

    def arm_compact() -> DataFrame:
        # writeMergedDf (Dfs.scala:222-228): compaction rewrites 3 segments
        # as 1; order-preserving concat keeps every (row_id, row) binding —
        # checked via a content checksum plus the segment count
        store = _orders_store(spark, sf_dir, compact=True)
        st["store"] = store
        return store.open(spark, defaults={"flag": 0}).agg(
            F.lit("compact").alias("src"),
            F.lit(len(store.manifest())).cast("int").alias("n_segments"),
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col("row_id") * F.col("o_orderkey")).cast("long").alias("checksum"),
        )

    def arm_have() -> DataFrame:
        # S7 haveIndexedDf (Dfs.scala:546-554): create-if-absent — the
        # first call builds and writes, the second is a no-op
        hstore = SegmentStore(_mkdtemp(prefix="iodf_have_"))
        first = hstore.have_segments(
            lambda: load_table(spark, sf_dir, "region"), order_keys=["r_regionkey"]
        )
        second = hstore.have_segments(
            lambda: load_table(spark, sf_dir, "region"), order_keys=["r_regionkey"]
        )
        if first is None or second is not None:  # create-if-absent invariant
            raise AssertionError("have_segments memoization broken")
        return hstore.open(spark).agg(
            F.lit("have").alias("src"),
            F.lit(len(hstore.manifest())).cast("int").alias("n_segments"),
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col("row_id") * F.col("r_regionkey")).cast("long").alias("checksum"),
        )

    def arm_snapshot() -> DataFrame:
        # time-travel read of manifest version 1 (the PRE-compact
        # 3-segment store — segment files are immutable, so the old
        # manifest against them IS the old store); its checksum must equal
        # the compact row's: snapshot isolation + compaction invariance
        # through one oracle
        store = st["store"]
        snap_entries = store.manifest_at(1)
        return store.open_at(spark, 1, defaults={"flag": 0}).agg(
            F.lit("snapshot").alias("src"),
            F.lit(len(snap_entries)).cast("int").alias("n_segments"),
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col("row_id") * F.col("o_orderkey")).cast("long").alias("checksum"),
        )

    def arm_pruned() -> DataFrame:
        # zone-map segment pruning over the 3-segment snapshot — footer
        # min/max stats prove only the 'P' segment can hold
        # o_orderstatus='P', so the read plans 1 of 3 segments
        store = st["store"]
        prune_pred = [("o_orderstatus", "P", "P")]
        kept = store.pruned_entries(prune_pred, at_version=1)
        if len(kept) != 1:
            raise AssertionError(
                f"zone maps failed to prune: {len(kept)} of "
                f"{len(store.manifest_at(1))} segments survived"
            )
        return (
            store.open_pruned(spark, prune_pred, defaults={"flag": 0}, at_version=1)
            .filter(F.col("o_orderstatus") == "P")
            .agg(
                F.lit("pruned").alias("src"),
                F.lit(len(kept)).cast("int").alias("n_segments"),
                F.count(F.lit(1)).alias("n_rows"),
                F.sum(F.col("row_id") * F.col("o_orderkey")).cast("long").alias("checksum"),
            )
        )

    def arm_tiered() -> DataFrame:
        # size-tiered compaction (the LSM policy): 4 same-tier region
        # segments merge into ONE adjacent-run rewrite; content + global
        # row_ids survive (oracle re-derives over 4 concatenated copies)
        tstore = SegmentStore(_mkdtemp(prefix="iodf_tiered_"))
        for _ in range(4):
            tstore.write_segment(
                load_table(spark, sf_dir, "region"),
                order_keys=["r_regionkey"],
                sketch_cols=["r_regionkey"],
            )
        tstore.compact_tiered(spark, fanout=2)
        if len(tstore.manifest()) != 1:
            raise AssertionError("tiered compaction left more than one segment")
        st["tstore"] = tstore
        return tstore.open(spark).agg(
            F.lit("tiered").alias("src"),
            F.lit(len(tstore.manifest())).cast("int").alias("n_segments"),
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col("row_id") * F.col("r_regionkey")).cast("long").alias("checksum"),
        )

    def arm_sketch() -> DataFrame:
        # store-level distinct count from manifest HLL sketches only
        # (union-merged through the tiered compaction above — no data
        # scan); HLL is exact at this cardinality
        tstore = st["tstore"]
        est = tstore.approx_distinct(spark, "r_regionkey")
        return tstore.open(spark).agg(
            F.lit("sketch").alias("src"),
            F.lit(len(tstore.manifest())).cast("int").alias("n_segments"),
            F.lit(est).cast("long").alias("n_rows"),
            F.countDistinct("r_regionkey").cast("long").alias("checksum"),
        )

    def arm_zorder() -> DataFrame:
        # OPTIMIZE ZORDER BY (the lakehouse layout rewrite, via this
        # store's own primitives): a single-segment store over the
        # synthetic (a, b) = (o_orderkey % 64, o_custkey % 64) grid is
        # rewritten into 4 z-clustered segments — zone maps then prune on
        # EITHER dimension, and ids renumber in z order (epoch bump, the
        # purge contract). FIXED rebase bounds make the renumbering
        # engine-reproducible: the oracle re-derives every new row_id
        # from the same dual-dialect Morton formula.
        zstore = SegmentStore(_mkdtemp(prefix="iodf_zorder_"))
        # deterministic 1/8 subset: the arm attests the rewrite contract,
        # not bulk throughput (the full-corpus cost class is purge's, and
        # the sf-ladder covers scaling) — both engines filter identically
        zdf = (
            load_table(spark, sf_dir, "orders")
            .filter(F.expr("o_orderkey % 8 = 0"))
            .select(
                "o_orderkey",
                (F.col("o_orderkey") % 64).alias("a"),
                (F.col("o_custkey") % 64).alias("b"),
            )
        )
        zstore.write_segment(zdf, order_keys=["o_orderkey"])
        entries = zstore.optimize_zorder(
            spark, ["a", "b"], bits=6, n_segments=4,
            bounds={"a": (0, 63), "b": (0, 63)},
        )
        if len(entries) != 4 or zstore.manifest_doc()["renumber_epoch"] != 1:
            raise AssertionError("zorder rewrite shape unexpected")
        # the layout claim, asserted in-process: a top-quarter range on
        # EITHER dimension must zone-map-prune at least one z-segment
        # (pre-rewrite, the single ingest-order segment spans everything)
        for c in ("a", "b"):
            overlapping = [
                e for e in zstore.manifest()
                if not (int(e["stats"][c][1]) < 48 or int(e["stats"][c][0]) > 63)
            ]
            if len(overlapping) >= 4:
                raise AssertionError(f"z layout failed to prune on {c}")
        return zstore.open(spark).agg(
            F.lit("zorder").alias("src"),
            F.lit(4).cast("int").alias("n_segments"),
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col("row_id") * F.col("o_orderkey")).cast("long").alias("checksum"),
        )

    def arm_delete() -> DataFrame:
        # row-level deletes (takedown / right-to-be-forgotten — absent
        # from the reference's append-only model, SURVEY.md §1.4; design =
        # Lucene liveDocs): tombstone every o_orderpriority='1-URGENT' row
        # via ONE id-list write, no segment rewrite — open() hides them
        # while survivors keep their ORIGINAL global row_ids

        base3 = _orders_store(spark, sf_dir, compact=False)
        dpath = _mkdtemp(prefix="iodf_segs_d_")
        shutil.rmtree(dpath)
        shutil.copytree(base3.path, dpath)
        dstore = SegmentStore(dpath)
        st["dstore"] = dstore
        st["pre_delete_v"] = dstore.versions()[-1]
        t = dstore.delete_where(spark, "o_orderpriority = '1-URGENT'")
        if dstore.live_rows() != dstore.total_rows() - t["n"]:
            raise AssertionError("tombstone accounting drifted")
        return dstore.open(spark, defaults={"flag": 0}).agg(
            F.lit("delete").alias("src"),
            F.lit(len(dstore.manifest())).cast("int").alias("n_segments"),
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col("row_id") * F.col("o_orderkey")).cast("long").alias("checksum"),
        )

    def arm_del_snap() -> DataFrame:
        # the pre-delete version still reads all rows (tombstones live in
        # the versioned manifest, not the segment files)
        dstore = st["dstore"]
        return dstore.open_at(spark, st["pre_delete_v"], defaults={"flag": 0}).agg(
            F.lit("del_snap").alias("src"),
            F.lit(3).cast("int").alias("n_segments"),
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col("row_id") * F.col("o_orderkey")).cast("long").alias("checksum"),
        )

    def arm_cdf() -> DataFrame:
        # incremental change feed across the delete window — a consumer at
        # the pre-delete snapshot catches up by reading ONLY the
        # tombstoned ids (no corpus rescan); checksum = deleted-id sum
        dstore = st["dstore"]
        return dstore.read_changes(spark, st["pre_delete_v"]).agg(
            F.lit("cdf").alias("src"),
            F.lit(3).cast("int").alias("n_segments"),
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("row_id").cast("long").alias("checksum"),
        )

    def arm_cdf_stream() -> DataFrame:
        # the STREAMING consumer of the same feed (streaming/ingest.
        # stream_changes — the read twin of ST4's micro-batch ingest): a
        # durable-cursor catch-up loop that advances from the pre-delete
        # snapshot to the latest version and hands the delta to the sink;
        # its delta must equal the batch 'cdf' arm's. The purge arm below
        # additionally asserts the loop's clean full-refresh signal.
        from iodf_spark.streaming.ingest import _write_cdf_cursor, stream_changes

        dstore = st["dstore"]
        ck = dstore.path + "/_cdf_consumer"
        # simulate a consumer that had processed through the pre-delete
        # version (epoch 0: no purge has happened yet)
        _write_cdf_cursor(ck, st["pre_delete_v"], 0)
        st["cdf_ckpt"] = ck
        got: dict[str, DataFrame] = {}

        def sink(delta: DataFrame, from_v: int, to_v: int) -> None:
            got["delta"] = delta

        windows = stream_changes(spark, dstore, ck, sink, defaults={"flag": 0})
        latest = dstore.versions()[-1]
        if windows != [(st["pre_delete_v"], latest)]:
            raise AssertionError(f"unexpected catch-up windows: {windows}")
        return got["delta"].agg(
            F.lit("cdf_stream").alias("src"),
            F.lit(3).cast("int").alias("n_segments"),
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("row_id").cast("long").alias("checksum"),
        )

    def arm_mirror() -> DataFrame:
        # store-to-store incremental replication (the CDC apply side,
        # streaming/ingest.mirror_changes): a fresh mirror seeds from the
        # PRE-delete snapshot, then one catch-up window applies the delete
        # delta — tombstones only, no inserts, no corpus rescan. The
        # mirror's live content must equal the source's (checksummed over
        # the preserved _src_row_id), landing in exactly 1 segment +
        # tombstones.
        from iodf_spark.streaming.ingest import mirror_changes

        dstore = st["dstore"]
        mdst = SegmentStore(_mkdtemp(prefix="iodf_mirror_"))
        windows = mirror_changes(
            spark, dstore, mdst, dstore.path + "/_mirror_ck",
            defaults={"flag": 0}, seed_at_version=st["pre_delete_v"],
        )
        latest = dstore.versions()[-1]
        if windows != [(0, st["pre_delete_v"]), (st["pre_delete_v"], latest)]:
            raise AssertionError(f"unexpected mirror windows: {windows}")
        if mdst.live_rows() != dstore.live_rows():
            raise AssertionError("mirror live-row accounting diverged")
        return mdst.open(spark).agg(
            F.lit("mirror").alias("src"),
            F.lit(len(mdst.manifest())).cast("int").alias("n_segments"),
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col("_src_row_id") * F.col("o_orderkey")).cast("long").alias("checksum"),
        )

    def arm_store_point() -> DataFrame:
        # store-level planner, point predicate WITH a tombstone present
        # (SegmentStore.smart_filter: manifest zone maps + blooms prune,
        # then stored selectivity routes probe-vs-scan — the store-level
        # rendition of IndexedDf.scala:71-96 composed with MultiDf.scala:
        # 82-104 segment routing). '2-HIGH' is ~20% of keys: under the 0.5
        # threshold it must take the INDEX path across all 3 segments.
        dstore = st["dstore"]
        rows, plan = dstore.smart_filter(
            spark, "o_orderpriority", "2-HIGH", threshold=0.5,
            defaults={"flag": 0},
        )
        if plan["path"] != "index" or plan["survivors"] != 3:
            raise AssertionError(f"unexpected store_point plan: {plan}")
        return rows.agg(
            F.lit("store_point").alias("src"),
            F.lit(plan["survivors"]).cast("int").alias("n_segments"),
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col("row_id") * F.col("o_orderkey")).cast("long").alias("checksum"),
        )

    def arm_store_all() -> DataFrame:
        # conjunctive store planning: the o_orderstatus='P' range prunes
        # to 1 of 3 segments via zone maps BEFORE any scan; o_orderstatus
        # is not index-covered, so the residual plan is a pushed-down scan
        # over the single survivor (routed dict asserted)
        dstore = st["dstore"]
        rows, plan = dstore.smart_filter_all(
            spark,
            [("o_orderstatus", "P", "P"), ("o_orderpriority", "2-HIGH")],
            defaults={"flag": 0},
        )
        if plan["survivors"] != 1 or plan["routed"]["index"]:
            raise AssertionError(f"unexpected store_all plan: {plan}")
        return rows.agg(
            F.lit("store_all").alias("src"),
            F.lit(plan["survivors"]).cast("int").alias("n_segments"),
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col("row_id") * F.col("o_orderkey")).cast("long").alias("checksum"),
        )

    def arm_store_any() -> DataFrame:
        # disjunctive store planning: an OR of an indexed key and an
        # unindexed range keeps every segment and falls back to ONE
        # OR-filter scan — tombstoned rows must stay hidden on this path
        # too (the oracle subtracts the deleted 1-URGENT rows)
        dstore = st["dstore"]
        rows, plan = dstore.smart_filter_any(
            spark,
            [("o_orderpriority", "5-LOW"), ("o_orderstatus", "P", "P")],
            defaults={"flag": 0},
        )
        if plan["path"] != "scan" or plan["survivors"] != 3:
            raise AssertionError(f"unexpected store_any plan: {plan}")
        return rows.agg(
            F.lit("store_any").alias("src"),
            F.lit(plan["survivors"]).cast("int").alias("n_segments"),
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col("row_id") * F.col("o_orderkey")).cast("long").alias("checksum"),
        )

    def arm_merge() -> DataFrame:
        # MERGE INTO by key (SegmentStore.merge_by_key) — the lakehouse
        # upsert the reference's append-only model lacks (SURVEY.md §1.4),
        # composed from the store's delete + append primitives in ONE
        # atomic commit: matched target rows are tombstoned (no segment
        # rewrite) and the source lands as one fresh segment at the end of
        # the row space. Source = every o_orderkey % 10 = 7 order with
        # o_orderpriority rewritten to '9-MERGED' (updates) plus the
        # % 20 = 13 orders under negated keys (inserts); survivors keep
        # their original row_ids, so the checksum pins both the id
        # stability and the updated values (merged rows weigh 3x).

        base3 = _orders_store(spark, sf_dir, compact=False)
        mpath = _mkdtemp(prefix="iodf_segs_m_")
        shutil.rmtree(mpath)
        shutil.copytree(base3.path, mpath)
        mstore = SegmentStore(mpath)
        od = load_table(spark, sf_dir, "orders")
        src = (
            od.filter(F.col("o_orderkey") % 10 == 7)
            .withColumn("o_orderpriority", F.lit("9-MERGED"))
            .unionByName(
                od.filter(F.col("o_orderkey") % 20 == 13).withColumn(
                    "o_orderkey", -F.col("o_orderkey")
                )
            )
        )
        res = mstore.merge_by_key(
            spark, src, on="o_orderkey", order_keys=["o_orderkey"]
        )
        if mstore.live_rows() != mstore.total_rows() - res["matched"]:
            raise AssertionError("merge tombstone accounting drifted")
        if len(mstore.manifest()) != 4:
            raise AssertionError("merge should append exactly one segment")
        return mstore.open(spark, defaults={"flag": 0}).agg(
            F.lit("merge").alias("src"),
            F.lit(len(mstore.manifest())).cast("int").alias("n_segments"),
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(
                F.col("row_id") * F.col("o_orderkey")
                * F.when(F.col("o_orderpriority") == "9-MERGED", 3).otherwise(1)
            ).cast("long").alias("checksum"),
        )

    def arm_purge() -> DataFrame:
        # the forced merge — live rows rewritten as one segment with a
        # dense renumbered id space preserving survivor order. The
        # change-feed consumer's next tick must see the renumber epoch
        # bump and raise the clean full-refresh signal.
        from iodf_spark.streaming.ingest import FullRefreshRequired, stream_changes

        dstore = st["dstore"]
        dstore.purge(spark)
        if dstore.manifest_doc()["tombstones"] or dstore.live_rows() != dstore.total_rows():
            raise AssertionError("purge left tombstones behind")
        try:
            stream_changes(spark, dstore, st["cdf_ckpt"], lambda *a: None)
            raise AssertionError("stream_changes missed the purge epoch bump")
        except FullRefreshRequired:
            pass
        return dstore.open(spark, defaults={"flag": 0}).agg(
            F.lit("purge").alias("src"),
            F.lit(len(dstore.manifest())).cast("int").alias("n_segments"),
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col("row_id") * F.col("o_orderkey")).cast("long").alias("checksum"),
        )

    return [
        ("compact", arm_compact),
        ("have", arm_have),
        ("snapshot", arm_snapshot),
        ("pruned", arm_pruned),
        ("tiered", arm_tiered),
        ("sketch", arm_sketch),
        ("zorder", arm_zorder),
        ("delete", arm_delete),
        ("del_snap", arm_del_snap),
        ("cdf", arm_cdf),
        ("cdf_stream", arm_cdf_stream),
        ("mirror", arm_mirror),
        ("store_point", arm_store_point),
        ("store_all", arm_store_all),
        ("store_any", arm_store_any),
        ("merge", arm_merge),
        ("purge", arm_purge),
    ]


def q_segments_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """writeMergedDf (Dfs.scala:222-228) + S7 haveIndexedDf
    (Dfs.scala:546-554) + the store lifecycle in one attested entry
    (50-entry attestation cap): see _segments_compact_arms for the per-arm
    stories — compact / have / snapshot / pruned / tiered / sketch /
    delete / del_snap / cdf / cdf_stream (streaming change-feed consumer)
    / mirror (store-to-store incremental replication over the feed)
    / store_point / store_all / store_any (store-level planner over a
    tombstoned store, chosen path asserted in-process) / merge (MERGE
    INTO by key — atomic tombstone-matched + append-source upsert)
    / purge."""
    out = None
    for _name, thunk in _segments_compact_arms(spark, sf_dir):
        df = thunk()
        out = df if out is None else out.unionByName(df)
    return out


def q_typed_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3/S4/P3 typed surface + S8 writeSeq/openSeq in one attested entry
    (former typed_roundtrip + write_open_seq): dataclass items ->
    columnarized df with ingest-order row_id -> row materialized back as a
    dataclass (TypedDf.scala:9-18; sorted-field invariant
    Dfs.scala:417-423). The n_name column is then round-tripped through a
    standalone stored sequence (Dfs.scala:231-242) and re-aligned by
    row_id — the output's n_name comes FROM the re-opened seq, so the seq
    path is value-attested by the same oracle."""
    import dataclasses

    from iodf_spark.sources.tables import open_seq, write_seq
    from iodf_spark.sources.typed import collect_typed, create_typed_df

    @dataclasses.dataclass
    class NationItem:
        n_name: str
        n_nationkey: int
        n_regionkey: int

    rows = load_table(spark, sf_dir, "nation").orderBy("n_nationkey").collect()
    items = [
        NationItem(
            n_name=r.n_name,
            n_nationkey=int(r.n_nationkey),
            n_regionkey=int(r.n_regionkey),
        )
        for r in rows
    ]
    tdf = create_typed_df(spark, items)
    if collect_typed(tdf, NationItem) != items:  # apply(i) round-trip invariant
        raise AssertionError("typed round-trip mismatch")
    path = _mkdtemp(prefix="iodf_seq_") + "/n_name"
    write_seq(tdf, "n_name", path)
    seq = open_seq(spark, path)  # (row_id, n_name)
    return tdf.drop("n_name").join(seq, "row_id").select(
        "row_id", "n_name", "n_nationkey", "n_regionkey"
    )


def _documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    key = ("documents_rid", sf_dir)
    if key not in _cache:
        _cache[key] = load_table(spark, sf_dir, "documents", row_id=True).cache()
    return _cache[key]  # type: ignore[return-value]


def _doc_text_index(spark: SparkSession, sf_dir: str):
    key = ("doc_text_index", sf_dir)
    if key not in _cache:
        docs = _documents(spark, sf_dir)
        n = docs.count()
        # localCheckpoint + stamp, as in _lineitem_index: the checkpoint
        # truncates the melt/route/aggregate build tree out of every
        # probe's logical plan (pure driver-side Catalyst cost per arm),
        # and the stamped encoding map gives auto probes the bare
        # specialized kernels job-free
        ix = idx.build_index(
            docs,
            idx.IndexConf(include=["text"], analyzers={"text": idx.text_analyzer}),
            n_rows=n,
        ).localCheckpoint()
        idx.stamp_key_encodings(ix)
        _cache[key] = (ix, n)
    return _cache[key]


TEXT_QUERY_TERMS = ["spark", "query", "vector"]
TEXT_PHRASE = "stream table hash"  # 3-word phrase present in multiple docs
TEXT_PREFIX = "sp"  # key-range probe: every token starting with this
HYBRID_QUERY_VEC_ID = 7  # doc whose embedding drives the hybrid 'rrf' arm
# the 'semvec' arm's free-text query: embedded with the SAME hashed-TF
# transform as the corpus (no embeddings table, no model in the loop),
# then brute-force cosine top-15 — pure text-to-text semantic retrieval
SEMVEC_QUERY = "customer orders join merge fast table"
SEMVEC_DIM = 64
CHUNKVEC_ENC = 1_000_000  # chunk identity: doc_id * ENC + chunk_idx (int64)
CHUNKVEC_ALL = 1_000_000_000  # rank ALL chunks: doc score = max over chunks
# radix preconditions for the cid pack: doc_id in [0, 2^63/ENC), chunk_idx
# in [0, ENC) — outside them the pack silently aliases two chunks onto one
# identity (the wrap class substring_dedup_clean guards). 9.2e12 docs ×
# 1e6 chunks covers any real corpus; violations fail LOUDLY below.
CHUNKVEC_MAX_DOC = (1 << 63) // CHUNKVEC_ENC


def _chunk_cid_expr():
    """Fused range-guarded (doc_id, chunk_idx) -> int64 cid pack (round-12
    ADVICE fix: the bare pack had no guard — a chunk_idx >= the radix or a
    doc_id past 2^63/radix silently aliased chunk identities). Same
    when/raise_error shape as dedup.substring_dedup_clean's keeper key:
    one codegen'd comparison per chunk row, un-prunable because it gates
    the value itself."""
    in_range = (
        (F.col("doc_id") >= 0)
        & (F.col("doc_id") < F.lit(CHUNKVEC_MAX_DOC))
        & (F.col("chunk_idx") >= 0)
        & (F.col("chunk_idx") < F.lit(CHUNKVEC_ENC))
    )
    return F.when(
        in_range,
        F.col("doc_id").cast("long") * F.lit(CHUNKVEC_ENC) + F.col("chunk_idx"),
    ).otherwise(
        F.raise_error(
            F.concat(
                F.lit(
                    "chunk cid pack: (doc_id, chunk_idx) outside the radix "
                    f"(need 0 <= doc_id < {CHUNKVEC_MAX_DOC}, "
                    f"0 <= chunk_idx < {CHUNKVEC_ENC}); got doc_id="
                ),
                F.col("doc_id").cast("string"),
                F.lit(" chunk_idx="),
                F.col("chunk_idx").cast("string"),
            )
        ).cast("long")
    )


def _text_search_arms(spark: SparkSession, sf_dir: str):
    """ORDERED arm thunks of text_search (bench times each retrieval
    variant individually; q_text_search unions them for the oracle). The
    text-index build is lazily memoized, so its one-time cost lands in
    the first arm's timing."""
    memo: dict[str, object] = {}

    def ixn():
        if "ixn" not in memo:
            memo["ixn"] = _doc_text_index(spark, sf_dir)
        return memo["ixn"]

    def docs() -> DataFrame:
        if "docs" not in memo:
            memo["docs"] = _documents(spark, sf_dir)
        return memo["docs"]

    def qvec() -> list:
        # the free-text query embedded ONCE through the same hashed-TF
        # transform as the corpus (shared by semvec and chunkvec; a union
        # of the embed chains would broadcast-and-recompute the corpus
        # aggregation — measured 13.7 s vs ~2 s). The oracle derives the
        # same vector in SQL; the hash_embed dialect twins are bit-equal,
        # so literal-vs-derived cannot diverge.
        if "qvec" not in memo:
            from iodf_spark.operators.similarity import hash_embed

            qdf = spark.createDataFrame(
                [(-1, SEMVEC_QUERY)], "doc_id long, text string"
            )
            memo["qvec"] = [
                float(x)
                for x in hash_embed(qdf, "doc_id", "text", dim=SEMVEC_DIM)
                .collect()[0]["vec"]
            ]
        return memo["qvec"]

    def arm_probe() -> DataFrame:
        # one token's boolean posting set (IndexedDf.scala:71-85)
        ix, n = ixn()
        return (
            idx.probe(ix, "text", "spark", n, encoding_hint="auto")
            .to_rows()
            .select(
                F.lit("probe").alias("variant"),
                "row_id",
                F.expr("cast(0 as double)").alias("score"),
            )
        )

    def arm_bm25() -> DataFrame:
        # ranked BM25 top-15: document frequencies from the index key
        # stats, candidates from the OR of the term posting sets,
        # tf/length as codegen array expressions (rational-idf variant
        # for cross-engine bit determinism)
        from iodf_spark.operators.search import bm25_topk

        ix, n = ixn()
        return bm25_topk(docs(), ix, "text", TEXT_QUERY_TERMS, n, k=15).select(
            F.lit("bm25").alias("variant"),
            "row_id",
            F.round("score", 9).alias("score"),
        )

    def arm_phrase() -> DataFrame:
        # exact phrase search with NO positional index — a k-word phrase
        # IS one k-gram, so its rolling hash probes the shared gram
        # stream; a normalized-substring verify removes the collision tail
        from iodf_spark.operators.search import phrase_search

        return phrase_search(docs(), "row_id", "text", TEXT_PHRASE).select(
            F.lit("phrase").alias("variant"),
            "row_id",
            F.expr("cast(0 as double)").alias("score"),
        )

    def arm_prefix() -> DataFrame:
        # dynamic-arity key-range probe — every sorted index key starting
        # with the prefix ORs its posting list in ONE aggregation stage
        ix, n = ixn()
        return (
            idx.probe_prefix(ix, "text", TEXT_PREFIX, n)
            .to_rows()
            .select(
                F.lit("prefix").alias("variant"),
                "row_id",
                F.expr("cast(0 as double)").alias("score"),
            )
        )

    def arm_rrf() -> DataFrame:
        # HYBRID retrieval — the BM25 lexical list fused with the
        # embedding-cosine semantic list by reciprocal rank (rank-only
        # fusion, so the incomparable raw scores never mix and both
        # engines agree on every bit; operators/search.hybrid_rrf_topk)
        from iodf_spark.operators.search import hybrid_rrf_topk

        ix, n = ixn()
        return hybrid_rrf_topk(
            docs(), ix, "text", TEXT_QUERY_TERMS,
            load_table(spark, sf_dir, "embeddings"), "vec_id", "embedding",
            HYBRID_QUERY_VEC_ID, n, k=15, dim=EMB_DIM,
        ).select(F.lit("rrf").alias("variant"), "row_id", "score")

    def arm_semvec() -> DataFrame:
        # end-to-end SEMANTIC retrieval over plain text (round 9): the
        # query STRING embeds through the same hashed-TF transform as the
        # corpus (hash_embed — dialect-pinned token hashes), so query and
        # documents live in one vector space with no model and no
        # embeddings table; ranking is exact cosine top-15. The query
        # enters as id -1 (never a corpus id) unioned into the embedded
        # frame, so ann_brute_force's self-exclusion is a no-op for it.
        from iodf_spark.operators.similarity import ann_brute_force, hash_embed

        d = docs().select("doc_id", "text")
        corpus = hash_embed(d, "doc_id", "text", dim=SEMVEC_DIM)
        return ann_brute_force(
            corpus, "doc_id", "vec", [], k=15, dim=SEMVEC_DIM,
            query_vecs={-1: qvec()},
        ).select(
            F.lit("semvec").alias("variant"),
            F.col("neighbor_id").alias("row_id"),
            F.col("cos").alias("score"),
        )

    def chunk_emb() -> DataFrame:
        # the embedded chunk corpus, shared by BOTH chunk-grain arms
        # (chunkvec ranks it brute-force; chunkivf builds the IVF store
        # from it) and cached: without the cache the ~10x-corpus-row
        # embed aggregation runs twice per sweep — measured 14.9 -> 8.7 s
        # on the chunkivf arm at sf0.1. The first chunk arm to run pays
        # the embed (the memoized-build convention this factory documents
        # for the text index).
        if "chunk_emb" not in memo:
            from iodf_spark.operators.packing import chunk_documents
            from iodf_spark.operators.similarity import hash_embed

            ch = chunk_documents(
                docs().select("doc_id", "text"), "doc_id", "text",
                chunk_toks=CHUNK_TOKS, overlap=CHUNK_OVERLAP,
            )
            cids = ch.select(_chunk_cid_expr().alias("cid"), "chunk_text")
            emb = hash_embed(cids, "cid", "chunk_text", dim=SEMVEC_DIM).cache()
            memo["chunk_emb"] = emb
        return memo["chunk_emb"]

    def arm_chunkvec() -> DataFrame:
        # CHUNK-grain retrieval with DOC-grain hits (round 11) — THE
        # serving shape for RAG corpora: long documents are chunked into
        # overlapping token windows (packing.chunk_documents, the same
        # geometry the sequence_pack 'chunk' arm attests), every chunk
        # embeds through the same hashed-TF transform as semvec, chunks
        # rank by exact cosine against the free-text query, and a
        # document scores as its BEST chunk (max over its chunks' cosines
        # — so a long doc with one highly relevant passage beats a doc
        # that is mildly relevant throughout). Chunk identity packs
        # (doc_id, chunk_idx) into one int64 at radix 1e6. Top-15 docs,
        # score-desc / id-asc tie-break. Composition pytest: a9527e4's
        # chunk->embed->retrieve pin; this arm gives it the oracle grade.
        from iodf_spark.operators.similarity import ann_brute_force

        hits = ann_brute_force(
            chunk_emb(), "cid", "vec", [], k=CHUNKVEC_ALL, dim=SEMVEC_DIM,
            query_vecs={-1: qvec()},
        )
        return (
            hits.select(
                F.expr(
                    f"cast(neighbor_id div {CHUNKVEC_ENC} as bigint)"
                ).alias("row_id"),
                "cos",
            )
            .groupBy("row_id")
            .agg(F.max("cos").alias("score"))
            .orderBy(F.col("score").desc(), F.col("row_id"))
            .limit(15)
            .select(F.lit("chunkvec").alias("variant"), "row_id", "score")
        )

    def chunk_store():
        # the chunk corpus embedded and materialized as a cell-PARTITIONED
        # IVF store (similarity.ivf_build_store) around the TRAINED chunk
        # quantizer — built once per process/sf (bench clears the cache
        # between sweeps, so each sweep pays the build inside this arm's
        # timing, honestly)
        key = ("chunkivf_store", sf_dir)
        if key not in _cache:
            from iodf_spark.operators.similarity import ivf_build_store

            emb = chunk_emb()
            path = _mkdtemp(prefix="iodf_chunkivf_")
            ivf_build_store(
                emb, "cid", "vec", path,
                n_centroids=CHUNKIVF_CELLS, dim=SEMVEC_DIM,
                cent_vecs=_trained_chunk_cent(),
            )
            _cache[key] = (path, emb)
        return _cache[key]

    def arm_chunkivf() -> DataFrame:
        # chunk retrieval THROUGH the ANN store (round 12, verdict #3) —
        # the 100 TB RAG serving shape: same chunk geometry, embedding and
        # doc-grain best-chunk semantics as chunkvec, but ranking probes
        # the cell-partitioned IVF store (n_probe/n_centroids of the chunk
        # corpus at the FILE level — PartitionFilters prune before any IO;
        # plan-pinned in test_plans) against the frozen TRAINED quantizer
        # read from the store's own sidecar, instead of chunkvec's
        # brute-force full-corpus cosine — the one retrieval arm whose
        # plan read every vector per query. Recall floor vs the exact
        # chunkvec ranking pinned via ann_recall in
        # tests/test_chunk_retrieval.py. n_probe is the STATIC constant,
        # not n_probe='auto': the oracle twin must embed the same width
        # as a deterministic literal; the tuner path
        # (ann_maintenance.ann_tune_n_probe -> serving sidecar -> 'auto')
        # is pytest-attested on THIS store in test_chunk_retrieval.py.
        from iodf_spark.operators.similarity import ann_ivf_store

        path, emb = chunk_store()
        hits = ann_ivf_store(
            emb, "cid", "vec", path, [], k=CHUNKVEC_ALL,
            n_centroids=CHUNKIVF_CELLS, n_probe=CHUNKIVF_PROBE,
            dim=SEMVEC_DIM, query_vecs={-1: qvec()},
        )
        return (
            hits.select(
                F.expr(
                    f"cast(neighbor_id div {CHUNKVEC_ENC} as bigint)"
                ).alias("row_id"),
                "cos",
            )
            .groupBy("row_id")
            .agg(F.max("cos").alias("score"))
            .orderBy(F.col("score").desc(), F.col("row_id"))
            .limit(15)
            .select(F.lit("chunkivf").alias("variant"), "row_id", "score")
        )

    def arm_chunksync() -> DataFrame:
        # the STANDING chunk-store maintainer at oracle grade (round 13,
        # verdict #3) — the amortized RAG indexer a deployment actually
        # runs: the chunk store is NOT built in one shot. A document
        # corpus store is seeded from half the docs
        # (ann_maintenance.chunk_store_seed: chunk -> cid -> hash_embed
        # -> IVF build around the trained quantizer, change-feed cursor
        # + applied-window ledger pinned), the other half lands as a
        # later segment commit, and chunk_store_sync consumes the change
        # feed — delta-sized chunk/embed/append against the FROZEN
        # sidecar centroids. Because frozen quantizers make delta ==
        # rebuild exact (pytest twin: tests/test_chunk_maintainer.py,
        # incl. takedown/republish/torn-window, which this insert-only
        # arm deliberately omits so the oracle stays the full corpus),
        # the maintained store's probe hash-matches the SAME closed-form
        # DuckDB IVF oracle as chunkivf's one-shot build — the 100 TB
        # claim (daily cost = day's documents, not the corpus), verified
        # by value.

        from iodf_spark.operators.ann_maintenance import (
            chunk_store_seed,
            chunk_store_sync,
        )
        from iodf_spark.operators.similarity import ann_ivf_store
        from iodf_spark.sources.segments import SegmentStore

        key = ("chunksync_store", sf_dir)
        if key not in _cache:
            d = docs().select("doc_id", "text")
            croot = _mkdtemp(prefix="iodf_chunksync_corpus_")
            store = SegmentStore(croot + "/docs")
            store.write_segment(
                d.filter(F.col("doc_id") % 2 == 0), order_keys=["doc_id"]
            )
            spath = _mkdtemp(prefix="iodf_chunksync_store_")
            geo = dict(
                dim=SEMVEC_DIM, n_centroids=CHUNKIVF_CELLS,
                chunk_toks=CHUNK_TOKS, overlap=CHUNK_OVERLAP,
            )
            chunk_store_seed(
                spark, store, spath, "doc_id", "text",
                cent_vecs=_trained_chunk_cent(), **geo,
            )
            store.write_segment(
                d.filter(F.col("doc_id") % 2 == 1), order_keys=["doc_id"]
            )
            chunk_store_sync(spark, store, spath, "doc_id", "text", **geo)
            _cache[key] = spath
        hits = ann_ivf_store(
            chunk_emb(), "cid", "vec", _cache[key], [], k=CHUNKVEC_ALL,
            n_centroids=CHUNKIVF_CELLS, n_probe=CHUNKIVF_PROBE,
            dim=SEMVEC_DIM, query_vecs={-1: qvec()},
        )
        return (
            hits.select(
                F.expr(
                    f"cast(neighbor_id div {CHUNKVEC_ENC} as bigint)"
                ).alias("row_id"),
                "cos",
            )
            .groupBy("row_id")
            .agg(F.max("cos").alias("score"))
            .orderBy(F.col("score").desc(), F.col("row_id"))
            .limit(15)
            .select(F.lit("chunksync").alias("variant"), "row_id", "score")
        )

    return [
        ("probe", arm_probe),
        ("bm25", arm_bm25),
        ("phrase", arm_phrase),
        ("prefix", arm_prefix),
        ("rrf", arm_rrf),
        ("semvec", arm_semvec),
        ("chunkvec", arm_chunkvec),
        ("chunkivf", arm_chunkivf),
        ("chunksync", arm_chunksync),
    ]


def q_text_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """I2/§2.12 analyzers + ranked retrieval in one attested entry (former
    index_text_tokens): the text column indexed with the whitespace
    tokenizer (the reference's test analyzer, DfTest.scala:69-70 — one
    value fans out to N index tokens), then nine retrieval variants over
    it — boolean probe, BM25 top-15, exact phrase, key-range prefix,
    hybrid BM25+ANN reciprocal-rank fusion, free-text SEMANTIC retrieval
    (semvec: the query string embeds through the same hashed-TF transform
    as the corpus and ranks by exact cosine — no model, no embeddings
    table), and CHUNK-grain retrieval with doc-grain hits (chunkvec: the
    RAG serving shape — overlapping token-window chunks embed through the
    same transform and rank, a document scores as its best chunk; see
    _text_search_arms)."""
    out = None
    for _name, thunk in _text_search_arms(spark, sf_dir):
        df = thunk()
        out = df if out is None else out.unionByName(df)
    return out


def q_table_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P4/Df.view on a DATA table (Df.scala:96-114): row-range slice
    re-based to 0, composed twice (view of view) — the reference's
    views-of-views invariant, checked against the oracle's arithmetic."""
    from iodf_spark.sources.tables import view

    od = _orders(spark, sf_dir)
    v = view(view(od, 100, 2000), 50, 400)  # == view(od, 150, 500)
    return v.select("row_id", "o_orderkey", "o_totalprice").orderBy("row_id")


def q_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.11 stateful streaming dedup: first event per (user, event_type)
    via dropDuplicates state; output counts per event_type (deterministic
    over the kept set regardless of arrival order)."""
    from iodf_spark.streaming.ingest import (
        bounded_state_partitions,
        run_to_memory,
        stream_dedup,
        stream_events,
    )

    _STREAM_COUNTER[0] += 1
    name = f"stream_dedup_{_STREAM_COUNTER[0]}"
    kept = stream_dedup(stream_events(spark, sf_dir), ["user_id", "event_type"])
    out = run_to_memory(
        kept, name, output_mode="append",
        shuffle_partitions=bounded_state_partitions(spark, f"{sf_dir}/events.parquet"),
    )
    return (
        out.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_kept"))
        .orderBy("event_type")
    )


def q_stream_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.11/§2.12 custom stateful streaming operator: gap-based
    sessionization via applyInPandasWithState driven with availableNow;
    single-batch output equals the batch sessionize operator (the oracle)."""
    from iodf_spark.streaming.ingest import (
        finalize_sessions,
        run_to_memory,
        stream_events,
        stream_sessionize,
    )

    _STREAM_COUNTER[0] += 1
    name = f"stream_sessions_{_STREAM_COUNTER[0]}"
    out = stream_sessionize(stream_events(spark, sf_dir))
    # NOT bounded_state_partitions: the per-group work here is an Arrow
    # Python kernel (applyInPandasWithState), and Python-side parallelism
    # tracks the partition count — shrinking state width to cut store
    # commits measured 1.7 -> 3.1 s by serializing the pandas work onto
    # two workers. JVM-stateful drains want minimal state width; Python-
    # stateful ones want compute width.
    emitted = run_to_memory(out, name, output_mode="append")
    return finalize_sessions(emitted).orderBy("user_id", "session_id")


def q_stream_ingest_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.11 micro-batch segment ingest: the event stream lands as
    immutable segments via foreachBatch (the reference's
    append-a-segment-per-write, Dfs.scala:181-220, driven by a stream);
    result checks row count and row_id contiguity of the opened store."""

    from iodf_spark.sources.segments import SegmentStore
    from iodf_spark.streaming.ingest import stream_events, stream_ingest_segments

    store = SegmentStore(_mkdtemp(prefix="iodf_stream_segs_"))
    stream_ingest_segments(stream_events(spark, sf_dir), store, order_keys=["event_id"])
    df = store.open(spark)
    return df.agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        (F.max("row_id") + 1).cast("long").alias("max_rid_plus1"),
    )


KNN_FEATURES = ["o_orderstatus", "o_orderpriority"]
KNN_QUERY = {"o_orderstatus": "F", "o_orderpriority": "1-URGENT"}
KNN_TARGET_SQL = "o_totalprice > 150000"


def _orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    key = ("orders", sf_dir)
    if key not in _cache:
        _cache[key] = load_table(spark, sf_dir, "orders", row_id=True).cache()
    return _cache[key]  # type: ignore[return-value]


def q_knn_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M1: co-occurrence-trained per-(col,value) weight pairs."""
    from iodf_spark.operators.knn import key_value_weights

    od = _orders(spark, sf_dir)
    w = key_value_weights(od, KNN_FEATURES, F.expr(KNN_TARGET_SQL), 0.0)
    return w.select(
        "col_name", "value", F.round("w1", 9).alias("w1"), F.round("w2", 9).alias("w2")
    ).orderBy("col_name", "value")


def q_knn_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M2-M4 in one attested entry (former knn_topk + knn_topk_filtered):
    top-20 nearest rows to a query item by trained distance — 'all'
    unfiltered, and 'filtered' with the optional candidate predicate
    (ml/Knn.scala:71-76: knn(k, v, filter)) pruning ~half the candidates
    before distance evaluation."""
    from iodf_spark.operators.knn import key_value_weights, knn

    od = _orders(spark, sf_dir)
    w = key_value_weights(od, KNN_FEATURES, F.expr(KNN_TARGET_SQL), 0.0)
    plain = knn(od, KNN_FEATURES, w, KNN_QUERY, 20).select(
        F.lit("all").alias("variant"), "row_id", F.round("dist", 9).alias("dist")
    )
    filtered = knn(
        od, KNN_FEATURES, w, KNN_QUERY, 20,
        row_filter=F.col("o_totalprice") < 100000,
    ).select(
        F.lit("filtered").alias("variant"), "row_id", F.round("dist", 9).alias("dist")
    )
    return plain.unionByName(filtered)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Exactly 50 entries: the driver's correctness gate attests at most 50
    queries per round (CORRECTNESS_r01 checked 44/44; CORRECTNESS_r02
    checked exactly the first 50 of 60 in dict order, silently dropping the
    tail), so closely-related variants are consolidated into tagged-union
    entries — every capability keeps an oracle-checked row. Consolidations:
    index_f -> bitmap_ops (f_a); merge_concat + view_slice -> rowset_ops;
    costats + costats_sweep -> costats; knn_topk(+filtered);
    window_rank + window_running_sum -> window_funcs; rollup + cube ->
    grouping_sets; asof_join(+forward); ann_lsh(+mp); ann_ivf(+64);
    write_open_seq -> typed_roundtrip; have_segments -> segments_compact;
    multimodal_frames -> multimodal_meta. Round-4 extensions fold in the
    same way: quality-argmax canonical selection -> dedup_clusters
    (best_id/keep_best cols); per-source quota -> stratified_sample ('cap'
    rows); token-budget assembly -> quality_filter (cum_tokens/in_budget
    cols); winnowing fingerprints -> dedup_jaccard ('winnow' rows);
    TPC-H Q3/Q5 shapes + skew-salted join -> join_agg ('q3'/'q5'/'salted'
    rows); conjunctive/disjunctive access planning -> index_probe_rows
    ('auto_multi'/'auto_any' rows); n-ary AND/OR + numeric range probe ->
    bitmap_ops (f_and3/f_or3/f_range cols); zone-map pruned read, tiered
    compaction, HLL-sketch distinct -> segments_compact
    ('pruned'/'tiered'/'sketch' rows); phrase + prefix retrieval ->
    text_search ('phrase'/'prefix' rows)."""
    return {
        "index_distinct_values": q_index_distinct_values,
        "index_stats": q_index_stats,
        "index_probe_rows": q_index_probe_rows,
        "bitmap_ops": q_bitmap_ops,
        "rowset_ops": q_rowset_ops,
        "point_lookup": q_point_lookup,
        "costats": q_costats,
        "q1_pricing_summary": q1_pricing_summary,
        "knn_weights": q_knn_weights,
        "knn_topk": q_knn_topk,
        "table_view": q_table_view,
        "join_agg": q_join_agg,
        "semi_anti_join": q_semi_anti_join,
        "window_funcs": q_window_funcs,
        "topk": q_topk,
        "set_ops": q_set_ops,
        "grouping_sets": q_grouping_sets,
        "pivot": q_pivot,
        "approx_aggregates": q_approx_aggregates,
        "asof_join": q_asof_join,
        "range_join": q_range_join,
        "events_windowed": q_events_windowed,
        "resample_ffill": q_resample_ffill,
        "sessionize": q_sessionize,
        "dedup_exact": q_dedup_exact,
        "dedup_jaccard": q_dedup_jaccard,
        "dedup_minhash": q_dedup_minhash,
        "dedup_simhash": q_dedup_simhash,
        "dedup_clusters": q_dedup_clusters,
        "embedding_clusters": q_embedding_clusters,
        "quality_filter": q_quality_filter,
        "stratified_sample": q_stratified_sample,
        "vocab_topk": q_vocab_topk,
        "profile": q_profile,
        "text_stats": q_text_stats,
        "contamination": q_contamination,
        "sequence_pack": q_sequence_pack,
        "embedding_pairs": q_embedding_pairs,
        "ann_topk": q_ann_topk,
        "segments_union": q_segments_union,
        "segments_index_probe": q_segments_index_probe,
        "segments_compact": q_segments_compact,
        "typed_roundtrip": q_typed_roundtrip,
        "text_search": q_text_search,
        "multimodal_meta": q_multimodal_meta,
        "stream_stream_join": q_stream_stream_join,
        "stream_windowed": q_stream_windowed,
        "stream_dedup": q_stream_dedup,
        "stream_sessionize": q_stream_sessionize,
        "stream_ingest_segments": q_stream_ingest_segments,
    }


def bench_arms() -> dict:
    """Per-arm bench instrumentation for the CONSOLIDATED timing cells:
    each factory returns ORDERED (arm_name, thunk) pairs whose union is
    the corresponding queries() entry. bench.py times every thunk's
    materialization individually and reports them as an ``arms`` sub-dict
    of the bench JSON, so the 2x regression gate can see a one-arm
    slowdown that a 14-arm consolidated cell total would absorb. Order
    matters (the segments_compact lifecycle mutates shared store state:
    delete before cdf before purge); correctness is unaffected — the
    driver's oracle still runs the unioned queries() entry."""
    return {
        "segments_compact": _segments_compact_arms,
        "ann_topk": _ann_topk_arms,
        "index_probe_rows": _index_probe_arms,
        "text_search": _text_search_arms,
        # round 8: the multi-variant pipeline cells — every round one of
        # them grew an arm and tripped the CELL-level 2x gate as a false
        # "regression" (r5 deletes, r7 zorder/rrf, r8 capped/hashdoc);
        # per-arm baselines make absorbed capability visible directly
        "dedup_exact": _dedup_exact_arms,
        "dedup_jaccard": _dedup_jaccard_arms,
        "dedup_minhash": _dedup_minhash_arms,
        "embedding_pairs": _embedding_pairs_arms,
        "embedding_clusters": _embedding_clusters_arms,
        # round 11: the decon cell gains its streaming twin (sdecon)
        "contamination": _contamination_arms,
    }


# ---------------------------------------------------------------------------
# oracle SQL (DuckDB dialect-compatible ANSI SQL)


def _zorder_arm_key() -> str:
    """DuckDB twin of the zorder arm's Morton key: the same FIXED bounds
    the engine passes to optimize_zorder (a, b in [0, 63], 6 bits), so
    the oracle re-derives the renumbered row ids exactly."""
    from iodf_spark.functions.zorder import zorder_key_expr

    return zorder_key_expr(["a", "b"], [0, 0], [63, 63], "duckdb", bits=6)


def _costats_oracle(counts_subquery: str, extra_cols: str = "") -> str:
    stats = costats_sql_exprs()
    derived = ", ".join(f"{v} AS {k}" for k, v in stats.items())
    return (
        f"SELECT {extra_cols}n, fa, fb, fab, {derived} FROM ({counts_subquery})"
    )


def _knn_ctes() -> str:
    d = costats_sql_exprs(round_to=None)
    melt_arms = " UNION ALL ".join(
        f"SELECT row_id, t, '{c}' AS col_name, {c}::VARCHAR AS value FROM base" for c in KNN_FEATURES
    )
    q_rows = ", ".join(f"('{c}', '{v}')" for c, v in KNN_QUERY.items())
    return f"""
        base AS (
          SELECT row_number() OVER (ORDER BY o_orderkey) - 1 AS row_id,
                 o_orderstatus, o_orderpriority, o_totalprice, ({KNN_TARGET_SQL}) AS t
          FROM orders),
        consts AS (SELECT count(*)::BIGINT AS n, count(*) FILTER (t)::BIGINT AS fb FROM base),
        melted AS (SELECT * FROM ({melt_arms}) WHERE value IS NOT NULL),
        counts AS (
          SELECT col_name, value, count(*)::BIGINT AS fa, count(*) FILTER (t)::BIGINT AS fab,
                 (SELECT n FROM consts) AS n, (SELECT fb FROM consts) AS fb
          FROM melted GROUP BY col_name, value),
        weights AS (
          SELECT col_name, value,
                 abs(ln(({d['d_ft']}) / ({d['d_ff']}))) AS w1,
                 abs(ln(({d['d_tt']}) / ({d['d_tf']}))) AS w2
          FROM counts),
        qkv(col_name, value) AS (VALUES {q_rows}),
        wq AS (
          SELECT w.col_name, w.value, w.w1, w.w2, (q.value IS NOT NULL) AS in_q
          FROM weights w LEFT JOIN qkv q ON w.col_name = q.col_name AND w.value = q.value),
        baseline AS (SELECT coalesce(sum(w2), 0e0) AS b FROM wq WHERE in_q),
        perrow AS (
          SELECT m.row_id,
                 sum(CASE WHEN NOT w.in_q THEN w.w1 ELSE 0e0 END) AS w1_only,
                 sum(CASE WHEN w.in_q THEN w.w2 ELSE 0e0 END) AS w2_overlap
          FROM melted m JOIN wq w ON m.col_name = w.col_name AND m.value = w.value
          GROUP BY m.row_id),
        dists AS (
          SELECT b.row_id,
                 coalesce(p.w1_only, 0e0) + (SELECT b FROM baseline)
                   - coalesce(p.w2_overlap, 0e0) AS dist
          FROM base b LEFT JOIN perrow p ON b.row_id = p.row_id)
    """


def oracle_sql() -> dict[str, str]:
    from iodf_spark.functions import texthash as TH

    costats_counts = """
        SELECT count(*)::BIGINT AS n,
               count(*) FILTER (l_returnflag = 'R')::BIGINT AS fa,
               count(*) FILTER (l_linestatus = 'F')::BIGINT AS fb,
               count(*) FILTER (l_returnflag = 'R' AND l_linestatus = 'F')::BIGINT AS fab
        FROM lineitem
    """
    sweep_counts = """
        SELECT p.va, p.vb, (SELECT count(*) FROM lineitem)::BIGINT AS n,
               a.fa::BIGINT AS fa, b.fb::BIGINT AS fb, p.fab::BIGINT AS fab
        FROM (SELECT l_returnflag va, l_linestatus vb, count(*) fab
              FROM lineitem GROUP BY 1, 2) p
        JOIN (SELECT l_returnflag va, count(*) fa FROM lineitem GROUP BY 1) a USING (va)
        JOIN (SELECT l_linestatus vb, count(*) fb FROM lineitem GROUP BY 1) b USING (vb)
    """
    return {
        "index_distinct_values": (
            "SELECT DISTINCT l_returnflag AS value FROM lineitem ORDER BY 1"
        ),
        "index_stats": """
            SELECT col_name, value, count(*)::BIGINT AS f FROM (
              SELECT 'l_returnflag' AS col_name, l_returnflag AS value FROM lineitem
              UNION ALL
              SELECT 'l_linestatus' AS col_name, l_linestatus AS value FROM lineitem
            ) GROUP BY col_name, value ORDER BY col_name, value
        """,
        "index_probe_rows": f"""
            SELECT 'probe' AS variant, row_id FROM {LI_RID}
            WHERE l_returnflag = 'R'
            UNION ALL
            SELECT 'auto_index' AS variant, row_id FROM {LI_RID}
            WHERE l_quantity = 1
            UNION ALL
            SELECT 'auto_scan' AS variant, row_id FROM {LI_RID}
            WHERE l_returnflag = 'R'
            UNION ALL
            SELECT 'auto_multi' AS variant, row_id FROM {LI_RID}
            WHERE l_quantity = 1 AND l_returnflag = 'R' AND l_linestatus = 'F'
            UNION ALL
            SELECT 'auto_any' AS variant, row_id FROM {LI_RID}
            WHERE l_quantity = 1 OR l_quantity = 2
            UNION ALL
            SELECT 'auto_any_range' AS variant, row_id FROM {LI_RID}
            WHERE (l_quantity >= 1 AND l_quantity <= 2) OR l_quantity = 49
            UNION ALL
            SELECT 'seek0' AS variant, row_id FROM (
              SELECT row_id FROM {LI_RID} WHERE l_returnflag = 'R'
              AND row_id >= 0 ORDER BY row_id LIMIT 20)
            UNION ALL
            SELECT 'mid' AS variant, row_id FROM (
              SELECT row_id FROM {LI_RID} WHERE l_returnflag = 'R'
              AND row_id >= 1234 ORDER BY row_id LIMIT 50)
            UNION ALL
            SELECT 'tail' AS variant, row_id FROM (
              SELECT row_id FROM {LI_RID} WHERE l_returnflag = 'R'
              AND row_id >= greatest((SELECT count(*) FROM lineitem) - 500, 0)
              ORDER BY row_id LIMIT 1000)
        """,
        "bitmap_ops": """
            SELECT count(*) FILTER (l_returnflag = 'R')::BIGINT AS f_a,
                   count(*) FILTER (l_linestatus = 'F')::BIGINT AS f_b,
                   count(*) FILTER (l_returnflag = 'R' AND l_linestatus = 'F')::BIGINT AS f_and,
                   count(*) FILTER (l_returnflag = 'R' OR l_linestatus = 'F')::BIGINT AS f_or,
                   count(*) FILTER (l_returnflag = 'R' AND l_linestatus <> 'F')::BIGINT AS f_andnot,
                   count(*) FILTER (l_returnflag <> 'R')::BIGINT AS f_not_a,
                   count(*) FILTER (l_returnflag = 'R' AND l_linestatus = 'F'
                                    AND l_quantity = 25e0)::BIGINT AS f_and3,
                   count(*) FILTER (l_returnflag = 'R' OR l_linestatus = 'F'
                                    OR l_quantity = 25e0)::BIGINT AS f_or3,
                   count(*) FILTER (l_quantity >= 10e0 AND l_quantity <= 20e0
                                   )::BIGINT AS f_range
            FROM lineitem
        """,
        "rowset_ops": f"""
            SELECT 'merge' AS op, row_id FROM {LI_RID} WHERE l_returnflag = 'R'
            UNION ALL
            SELECT 'merge' AS op, row_id + (SELECT count(*) FROM lineitem) AS row_id
            FROM {LI_RID} WHERE l_linestatus = 'F'
            UNION ALL
            SELECT 'view' AS op, row_id - 100 AS row_id FROM {LI_RID}
            WHERE l_returnflag = 'R' AND row_id >= 100 AND row_id < 600
        """,
        "point_lookup": f"""
            SELECT row_id, l_orderkey, l_linenumber, l_quantity, l_returnflag,
                   strftime(l_shipdate, '%Y-%m-%d %H:%M:%S') AS l_shipdate_str
            FROM {LI_RID} WHERE row_id = 123
        """,
        "costats": f"""
            SELECT 'index' AS path, 'R' AS va, 'F' AS vb, *
            FROM ({_costats_oracle(costats_counts)})
            UNION ALL
            SELECT 'pred' AS path, 'R' AS va, 'F' AS vb, *
            FROM ({_costats_oracle(costats_counts)})
            UNION ALL
            SELECT 'sweep' AS path, *
            FROM ({_costats_oracle(sweep_counts, extra_cols="va, vb, ")})
        """,
        "q1_pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   round(sum(l_quantity), 4) AS sum_qty,
                   round(sum(l_extendedprice), 4) AS sum_base_price,
                   round(sum(l_extendedprice * (1 - l_discount)), 4) AS sum_disc_price,
                   round(avg(l_quantity), 6) AS avg_qty,
                   round(avg(l_extendedprice), 6) AS avg_price,
                   count(*)::BIGINT AS count_order
            FROM lineitem GROUP BY l_returnflag, l_linestatus
            ORDER BY l_returnflag, l_linestatus
        """,
        "join_agg": f"""
            SELECT 'star' AS variant, n_name AS k, count(*)::BIGINT AS n,
                   round(sum(o_totalprice), 4) AS measure
            FROM orders
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            GROUP BY n_name
            UNION ALL
            SELECT 'salted' AS variant, n_name AS k, count(*)::BIGINT AS n,
                   round(sum(o_totalprice), 4) AS measure
            FROM orders
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            GROUP BY n_name
            UNION ALL
            SELECT 'q3' AS variant, k, n, measure FROM (
              SELECT o_orderkey::VARCHAR AS k, count(*)::BIGINT AS n,
                     round(sum(l_extendedprice * (1e0 - l_discount)), 4) AS measure,
                     o_orderkey AS _ok
              FROM lineitem
              JOIN orders ON l_orderkey = o_orderkey
              JOIN customer ON o_custkey = c_custkey
              WHERE c_mktsegment = 'BUILDING'
                AND o_orderdate < TIMESTAMP '{JOIN_CUT}'
                AND l_shipdate > TIMESTAMP '{JOIN_CUT}'
              GROUP BY o_orderkey
              ORDER BY measure DESC, _ok LIMIT 10)
            UNION ALL
            SELECT 'q5' AS variant, n_name AS k, count(*)::BIGINT AS n,
                   round(sum(l_extendedprice * (1e0 - l_discount)), 4) AS measure
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
            JOIN nation ON s_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            WHERE r_name = 'ASIA'
              AND o_orderdate >= TIMESTAMP '{JOIN_Q5_LO}'
              AND o_orderdate < TIMESTAMP '{JOIN_Q5_HI}'
            GROUP BY n_name
        """,
        "semi_anti_join": """
            SELECT (SELECT count(*) FROM customer WHERE c_custkey IN
                      (SELECT o_custkey FROM orders))::BIGINT AS with_orders,
                   (SELECT count(*) FROM customer WHERE c_custkey NOT IN
                      (SELECT o_custkey FROM orders))::BIGINT AS without_orders
        """,
        "window_funcs": """
            SELECT o_custkey, o_orderkey,
                   row_number() OVER (PARTITION BY o_custkey
                                      ORDER BY o_totalprice DESC, o_orderkey)::INT AS rk,
                   round(sum(o_totalprice) OVER (
                     PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4)
                   AS running_total
            FROM orders ORDER BY o_custkey, o_orderkey
        """,
        "topk": """
            SELECT o_orderkey, round(o_totalprice, 2) AS o_totalprice
            FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10
        """,
        "set_ops": """
            SELECT (SELECT count(*) FROM
                     (SELECT o_custkey FROM orders WHERE o_orderstatus='F'
                      INTERSECT
                      SELECT o_custkey FROM orders WHERE o_orderstatus='O'))::BIGINT AS both,
                   (SELECT count(*) FROM
                     (SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus='O'
                      EXCEPT
                      SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus='F'))::BIGINT
                   AS only_open
        """,
        "grouping_sets": """
            SELECT 'rollup' AS variant, l_returnflag AS k1, l_linestatus AS k2,
                   count(*)::BIGINT AS cnt, round(sum(l_quantity), 4) AS sum_val
            FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
            UNION ALL
            SELECT 'cube' AS variant, o_orderstatus AS k1, o_orderpriority AS k2,
                   count(*)::BIGINT AS cnt, round(sum(o_totalprice), 4) AS sum_val
            FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
        """,
        "pivot": """
            SELECT o_orderpriority,
                   count(*) FILTER (o_orderstatus = 'F')::BIGINT AS f_cnt,
                   round(sum(o_totalprice) FILTER (o_orderstatus = 'F'), 4) AS f_rev,
                   count(*) FILTER (o_orderstatus = 'O')::BIGINT AS o_cnt,
                   round(sum(o_totalprice) FILTER (o_orderstatus = 'O'), 4) AS o_rev,
                   count(*) FILTER (o_orderstatus = 'P')::BIGINT AS p_cnt,
                   round(sum(o_totalprice) FILTER (o_orderstatus = 'P'), 4) AS p_rev
            FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
        """,
        "asof_join": """
            SELECT 'backward' AS direction, e.event_id, e.user_id AS custkey, o.o_orderkey
            FROM events e
            ASOF LEFT JOIN (SELECT o_custkey AS custkey, o_orderdate,
                                   max(o_orderkey) AS o_orderkey
                            FROM orders GROUP BY 1, 2) o
            ON e.user_id = o.custkey AND e.ts >= o.o_orderdate
            UNION ALL
            SELECT 'forward' AS direction, e.event_id, e.user_id AS custkey, o.o_orderkey
            FROM events e
            ASOF LEFT JOIN (SELECT o_custkey AS custkey, o_orderdate,
                                   max(o_orderkey) AS o_orderkey
                            FROM orders GROUP BY 1, 2) o
            ON e.user_id = o.custkey AND e.ts <= o.o_orderdate
        """,
        "range_join": """
            SELECT t.tier, count(*)::BIGINT AS cnt, round(avg(e.value), 6) AS avg_value
            FROM events e
            LEFT JOIN (VALUES ('low', 0e0, 5e0), ('mid', 5e0, 20e0), ('high', 20e0, 1e9))
                 AS t(tier, lo, hi)
            ON e.value >= t.lo AND e.value < t.hi
            GROUP BY t.tier ORDER BY t.tier
        """,
        "events_windowed": """
            SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_start,
                   event_type, count(*)::BIGINT AS cnt, round(avg(value), 6) AS avg_value,
                   round(avg((props ->> 'k')::DOUBLE), 6) AS avg_k
            FROM events GROUP BY 1, 2 ORDER BY hour_start, event_type
        """,
        "knn_weights": f"""
            WITH {_knn_ctes()}
            SELECT col_name, value, round(w1, 9) AS w1, round(w2, 9) AS w2
            FROM weights ORDER BY col_name, value
        """,
        "knn_topk": f"""
            WITH {_knn_ctes()},
            top_all AS (SELECT row_id, dist FROM dists ORDER BY dist, row_id LIMIT 20),
            top_filt AS (SELECT d.row_id, d.dist
                         FROM dists d JOIN base b USING (row_id)
                         WHERE b.o_totalprice < 100000
                         ORDER BY d.dist, d.row_id LIMIT 20)
            SELECT 'all' AS variant, row_id, round(dist, 9) AS dist FROM top_all
            UNION ALL
            SELECT 'filtered' AS variant, row_id, round(dist, 9) AS dist FROM top_filt
        """,
        "table_view": """
            WITH rid AS (
              SELECT row_number() OVER (ORDER BY o_orderkey) - 1 AS row_id,
                     o_orderkey, o_totalprice
              FROM orders)
            SELECT row_id - 150 AS row_id, o_orderkey, o_totalprice
            FROM rid WHERE row_id >= 150 AND row_id < 500 ORDER BY row_id
        """,
        "dedup_exact": f"""
            SELECT 'doc' AS variant, keeper_id AS id, dup_count AS n,
                   0::BIGINT AS m, 0::BIGINT AS fp
            FROM ({dedup.exact_dedup_oracle("doc_id", "text", "documents")})
            UNION ALL
            SELECT 'line' AS variant, doc_id AS id, n_kept AS n,
                   n_dropped AS m, cleaned_fp AS fp
            FROM ({dedup.line_dedup_oracle("page_id", "text", _boilerplate_pages_sql())})
            UNION ALL
            SELECT 'clean' AS variant, doc_id AS id,
                   length(clean_text)::BIGINT AS n, 0::BIGINT AS m,
                   {texthash.text_hash("clean_text", "duckdb")} AS fp
            FROM ({dedup.line_dedup_clean_oracle("page_id", "text", _boilerplate_pages_sql())})
            UNION ALL
            SELECT 'spans' AS variant, doc_id AS id, span_start AS n,
                   span_toks AS m, n_windows AS fp
            FROM ({dedup.duplicated_spans_oracle("doc_id", "text", "documents", k=SPAN_K)})
            UNION ALL
            SELECT 'sstream' AS variant, doc_id AS id, span_start AS n,
                   span_toks AS m, n_windows AS fp
            FROM ({dedup.duplicated_spans_oracle(
                "doc_id", "text",
                f"(SELECT * FROM documents WHERE doc_id % {SSTREAM_MOD} = 0)",
                k=SPAN_K)})
            UNION ALL
            SELECT 'sclean' AS variant, doc_id AS id, n_toks AS n,
                   removed_toks AS m,
                   {texthash.text_hash("clean_text", "duckdb")} AS fp
            FROM ({dedup.substring_dedup_clean_oracle("doc_id", "text", "documents", k=SPAN_K)})
        """,
        "dedup_jaccard": f"""
            SELECT 'shingle' AS variant, * FROM
              ({dedup.jaccard_pairs_oracle("doc_id", "text", "documents")})
            UNION ALL
            SELECT 'winnow' AS variant, * FROM
              ({dedup.winnow_pairs_oracle("doc_id", "text", "documents")})
            UNION ALL
            SELECT 'capped' AS variant, * FROM
              ({dedup.jaccard_pairs_oracle("doc_id", "text", "documents", max_df=4)})
        """,
        "dedup_minhash": f"""
            SELECT 'batch' AS variant, * FROM
              ({dedup.minhash_lsh_pairs_oracle("doc_id", "text", "documents")})
            UNION ALL
            SELECT 'stream' AS variant, * FROM
              ({dedup.minhash_lsh_pairs_oracle("doc_id", "text", "documents")})
            UNION ALL
            SELECT 'capped' AS variant, * FROM
              ({dedup.minhash_lsh_pairs_oracle("doc_id", "text", "documents", max_df=2)})
        """,
        "dedup_simhash": dedup.simhash_pairs_oracle("doc_id", "text", "documents"),
        "dedup_clusters": dedup.dedup_clusters_best_oracle(
            "doc_id", "text", "documents", "n_chars"
        ),
        "embedding_clusters": f"""
            WITH RECURSIVE cp AS (
              {similarity.cosine_pairs_oracle("vec_id", "embedding", "embeddings")}),
            edges AS (SELECT id_a AS src, id_b AS dst FROM cp
                      UNION SELECT id_b, id_a FROM cp),
            reach(id, r) AS (
              SELECT vec_id::BIGINT, vec_id::BIGINT FROM embeddings
              UNION
              SELECT e.dst, reach.r FROM reach JOIN edges e ON e.src = reach.id
            ),
            lp AS (
              {similarity.lsh_candidate_pairs_oracle(
                  "vec_id", "embedding", "embeddings", dim=EMB_DIM)}),
            edges2 AS (SELECT id_a AS src, id_b AS dst FROM lp
                       UNION SELECT id_b, id_a FROM lp),
            reach2(id, r) AS (
              SELECT vec_id::BIGINT, vec_id::BIGINT FROM embeddings
              UNION
              SELECT e.dst, reach2.r FROM reach2 JOIN edges2 e ON e.src = reach2.id
            )
            SELECT 'ann' AS method, id AS doc_id, min(r)::BIGINT AS cluster_id,
                   (id = min(r)) AS keep
            FROM reach2 GROUP BY id
            UNION ALL
            SELECT 'exact' AS method, id AS doc_id, min(r)::BIGINT AS cluster_id,
                   (id = min(r)) AS keep
            FROM reach GROUP BY id
            UNION ALL
            SELECT 'semdedup' AS method, doc_id, cluster_id, keep
            FROM ({similarity.semdedup_oracle(
                "vec_id", "embedding", "embeddings", dim=EMB_DIM)})
            UNION ALL
            SELECT 'semdedup2' AS method, doc_id, cluster_id, keep
            FROM ({similarity.semdedup_oracle(
                "vec_id", "embedding", "embeddings", dim=EMB_DIM,
                n_probe=2)})
            UNION ALL
            SELECT 'semdedup_t' AS method, doc_id, cluster_id, keep
            FROM ({similarity.semdedup_oracle(
                "vec_id", "embedding", "embeddings", dim=EMB_DIM,
                cent_vecs=_trained_ivf64())})
            ORDER BY method, doc_id
        """,
        "quality_filter": f"""
            SELECT q.*, p.n_emails, p.n_phones, p.n_ipv4, p.pii_clean
            FROM ({sampling.token_budget_oracle(
                textstats.quality_filter_oracle("doc_id", "text", "documents"),
                "doc_id", "quality_score", "n_tokens", TOKEN_BUDGET,
            )}) q
            JOIN ({textstats.pii_scan_oracle(
                "doc_id", "_pii_text",
                f"(SELECT doc_id, {_pii_fixture_expr('duckdb')} AS _pii_text FROM documents)",
            )}) p USING (doc_id)
        """,
        "stratified_sample": f"""
            SELECT 'fixed' AS variant, lang_pred AS cls,
                   count(*)::BIGINT AS n_kept, sum(doc_id)::BIGINT AS id_checksum
            FROM ({sampling.stratified_sample_oracle(
                f"({textstats.text_stats_oracle('doc_id', 'text', 'documents')})",
                "doc_id", "lang_pred", SAMPLE_RATES, default_rate=0.1,
                select="doc_id, lang_pred",
            )})
            GROUP BY lang_pred
            UNION ALL
            SELECT 'temp' AS variant, source AS cls,
                   count(*)::BIGINT AS n_kept, sum(doc_id)::BIGINT AS id_checksum
            FROM ({sampling.temperature_sample_oracle(
                "documents", "doc_id", "source", TEMP_TARGET_FRAC,
                select="doc_id, _d.source",
            )})
            GROUP BY source
            UNION ALL
            SELECT 'cap' AS variant, source AS cls,
                   count(*)::BIGINT AS n_kept, sum(doc_id)::BIGINT AS id_checksum
            FROM ({sampling.source_cap_oracle(
                "documents", "doc_id", "source", CAP_K, select="doc_id, source",
            )})
            GROUP BY source
            UNION ALL
            SELECT 'mix' AS variant, source AS cls,
                   count(*)::BIGINT AS n_kept, sum(doc_id)::BIGINT AS id_checksum
            FROM ({sampling.mixture_sample_oracle(
                "documents", "doc_id", "source", MIX_WEIGHTS, "n_chars",
                select="doc_id, _d.source",
            )})
            GROUP BY source
            ORDER BY variant, cls
        """,
        "vocab_topk": textstats.vocab_topk_oracle("doc_id", "text", "documents"),
        "profile": profile_mod.profile_oracle("orders", ORDERS_PROFILE_COLS),
        "embedding_pairs": f"""
            SELECT 'vec' AS method, * FROM ({similarity.cosine_pairs_oracle(
                "vec_id", "embedding", "embeddings")})
            UNION ALL
            SELECT 'hashdoc' AS method, * FROM ({similarity.cosine_pairs_oracle(
                "doc_id", "vec",
                f"({similarity.hash_embed_oracle('doc_id', 'text', 'documents', dim=256)})",
                threshold=0.95)})
            ORDER BY method, id_a, id_b
        """,
        "ann_topk": f"""
            SELECT 'brute' AS method, * FROM ({similarity.ann_brute_force_oracle(
                "vec_id", "embedding", "embeddings", ANN_QUERY_IDS, dim=EMB_DIM
            )})

            UNION ALL
            SELECT 'lsh_single' AS method, * FROM ({similarity.ann_lsh_oracle(
                "vec_id", "embedding", "embeddings", ANN_QUERY_IDS, dim=EMB_DIM
            )})
            UNION ALL
            SELECT 'lsh_multi' AS method, * FROM ({similarity.ann_lsh_oracle(
                "vec_id", "embedding", "embeddings", ANN_QUERY_IDS,
                multi_probe=True, dim=EMB_DIM,
            )})
            UNION ALL
            SELECT 'ivf64_t' AS method, * FROM ({similarity.ann_ivf_oracle(
                "vec_id", "embedding", "embeddings", ANN_QUERY_IDS,
                n_centroids=64, n_probe=8, dim=EMB_DIM,
                cent_vecs=_trained_ivf64(),
            )})
            UNION ALL
            SELECT 'ivf4_store' AS method, * FROM ({similarity.ann_ivf_oracle(
                "vec_id", "embedding", "embeddings", ANN_QUERY_IDS, dim=EMB_DIM
            )})
            UNION ALL
            SELECT 'pq16t_rr' AS method, * FROM ({similarity.ann_pq_oracle(
                "vec_id", "embedding", "embeddings", ANN_QUERY_IDS,
                dim=EMB_DIM, rerank=100, codebook_vecs=_trained_pq()
            )})
            UNION ALL
            SELECT 'ivfpq_rr' AS method, * FROM ({similarity.ann_ivfpq_oracle(
                "vec_id", "embedding", "embeddings", ANN_QUERY_IDS,
                n_centroids=4, n_probe=2, dim=EMB_DIM, rerank=50
            )})
            UNION ALL
            SELECT 'extq' AS method, * FROM ({similarity.ann_ivfpq_oracle(
                "vec_id", "embedding", "embeddings", [],
                n_centroids=4, n_probe=2, dim=EMB_DIM, rerank=50,
                query_vecs=_extq_vecs()
            )})
            UNION ALL
            SELECT 'ivfpq_res' AS method, * FROM ({similarity.ann_ivfpq_oracle(
                "vec_id", "embedding", "embeddings", ANN_QUERY_IDS,
                n_centroids=4, n_probe=2, dim=EMB_DIM,
                residual=True
            )})
            -- delete-propagation lifecycle: all three stages must equal
            -- ONE IVF probe over the corpus minus the taken-down ids
            -- (deletion-list anti-join == compacted rewrite == rebuild)
            UNION ALL
            SELECT 'del_sync' AS method, * FROM ({similarity.ann_ivf_oracle(
                "vec_id", "embedding", _ANN_LIVE_TABLE, ANN_QUERY_IDS, dim=EMB_DIM
            )})
            UNION ALL
            SELECT 'del_compact' AS method, * FROM ({similarity.ann_ivf_oracle(
                "vec_id", "embedding", _ANN_LIVE_TABLE, ANN_QUERY_IDS, dim=EMB_DIM
            )})
            UNION ALL
            SELECT 'rebuilt' AS method, * FROM ({similarity.ann_ivf_oracle(
                "vec_id", "embedding", _ANN_LIVE_TABLE, ANN_QUERY_IDS, dim=EMB_DIM
            )})
        """,
        "segments_union": f"""
            SELECT row_id, o_orderkey, o_orderstatus,
                   (CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END)::INT AS flag
            FROM {SEG_RID}
        """,
        "segments_index_probe": f"""
            SELECT row_id FROM {SEG_RID} WHERE o_orderpriority = '1-URGENT'
        """,
        "segments_compact": f"""
            SELECT 'compact' AS src, 1::INT AS n_segments, count(*)::BIGINT AS n_rows,
                   sum(row_id * o_orderkey)::BIGINT AS checksum
            FROM {SEG_RID}
            UNION ALL
            SELECT 'have' AS src, 1::INT AS n_segments, count(*)::BIGINT AS n_rows,
                   sum(rid * r_regionkey)::BIGINT AS checksum
            FROM (SELECT row_number() OVER (ORDER BY r_regionkey) - 1 AS rid,
                         r_regionkey
                  FROM region)
            UNION ALL
            SELECT 'snapshot' AS src, 3::INT AS n_segments, count(*)::BIGINT AS n_rows,
                   sum(row_id * o_orderkey)::BIGINT AS checksum
            FROM {SEG_RID}
            UNION ALL
            SELECT 'pruned' AS src, 1::INT AS n_segments, count(*)::BIGINT AS n_rows,
                   sum(row_id * o_orderkey)::BIGINT AS checksum
            FROM {SEG_RID} WHERE o_orderstatus = 'P'
            UNION ALL
            SELECT 'sketch' AS src, 1::INT AS n_segments,
                   count(DISTINCT r_regionkey)::BIGINT AS n_rows,
                   count(DISTINCT r_regionkey)::BIGINT AS checksum
            FROM region
            UNION ALL
            SELECT 'tiered' AS src, 1::INT AS n_segments, count(*)::BIGINT AS n_rows,
                   sum((c.c * (SELECT count(*) FROM region) + r.rid)
                       * r.r_regionkey)::BIGINT AS checksum
            FROM (SELECT row_number() OVER (ORDER BY r_regionkey) - 1 AS rid,
                         r_regionkey
                  FROM region) r
            CROSS JOIN (SELECT unnest(range(4)) AS c) c
            UNION ALL
            SELECT 'zorder' AS src, 4::INT AS n_segments,
                   count(*)::BIGINT AS n_rows,
                   sum(rid * o_orderkey)::BIGINT AS checksum
            FROM (SELECT row_number() OVER (ORDER BY {_zorder_arm_key()},
                                            old_rid) - 1 AS rid, o_orderkey
                  FROM (SELECT row_number() OVER (ORDER BY o_orderkey) - 1
                               AS old_rid,
                               o_orderkey,
                               o_orderkey % 64 AS a, o_custkey % 64 AS b
                        FROM orders WHERE o_orderkey % 8 = 0))
            UNION ALL
            SELECT 'delete' AS src, 3::INT AS n_segments,
                   count(*)::BIGINT AS n_rows,
                   sum(row_id * o_orderkey)::BIGINT AS checksum
            FROM {SEG_RID} WHERE o_orderpriority <> '1-URGENT'
            UNION ALL
            SELECT 'del_snap' AS src, 3::INT AS n_segments,
                   count(*)::BIGINT AS n_rows,
                   sum(row_id * o_orderkey)::BIGINT AS checksum
            FROM {SEG_RID}
            UNION ALL
            SELECT 'cdf' AS src, 3::INT AS n_segments,
                   count(*)::BIGINT AS n_rows,
                   sum(row_id)::BIGINT AS checksum
            FROM {SEG_RID} WHERE o_orderpriority = '1-URGENT'
            UNION ALL
            SELECT 'cdf_stream' AS src, 3::INT AS n_segments,
                   count(*)::BIGINT AS n_rows,
                   sum(row_id)::BIGINT AS checksum
            FROM {SEG_RID} WHERE o_orderpriority = '1-URGENT'
            UNION ALL
            SELECT 'mirror' AS src, 1::INT AS n_segments,
                   count(*)::BIGINT AS n_rows,
                   sum(row_id * o_orderkey)::BIGINT AS checksum
            FROM {SEG_RID} WHERE o_orderpriority <> '1-URGENT'
            UNION ALL
            SELECT 'store_point' AS src, 3::INT AS n_segments,
                   count(*)::BIGINT AS n_rows,
                   sum(row_id * o_orderkey)::BIGINT AS checksum
            FROM {SEG_RID} WHERE o_orderpriority = '2-HIGH'
            UNION ALL
            SELECT 'store_all' AS src, 1::INT AS n_segments,
                   count(*)::BIGINT AS n_rows,
                   sum(row_id * o_orderkey)::BIGINT AS checksum
            FROM {SEG_RID}
            WHERE o_orderstatus = 'P' AND o_orderpriority = '2-HIGH'
            UNION ALL
            SELECT 'store_any' AS src, 3::INT AS n_segments,
                   count(*)::BIGINT AS n_rows,
                   sum(row_id * o_orderkey)::BIGINT AS checksum
            FROM {SEG_RID}
            WHERE (o_orderpriority = '5-LOW' OR o_orderstatus = 'P')
              AND o_orderpriority <> '1-URGENT'
            UNION ALL
            SELECT 'merge' AS src, 4::INT AS n_segments,
                   count(*)::BIGINT AS n_rows,
                   sum(row_id * o_orderkey
                       * (CASE WHEN o_orderpriority = '9-MERGED'
                               THEN 3 ELSE 1 END))::BIGINT AS checksum
            FROM (
              SELECT row_id, o_orderkey, o_orderpriority
              FROM {SEG_RID} WHERE o_orderkey % 10 <> 7
              UNION ALL
              SELECT (SELECT count(*) FROM orders)
                       + row_number() OVER (ORDER BY o_orderkey) - 1 AS row_id,
                     o_orderkey, o_orderpriority
              FROM (
                SELECT o_orderkey, '9-MERGED' AS o_orderpriority
                FROM orders WHERE o_orderkey % 10 = 7
                UNION ALL
                SELECT -o_orderkey AS o_orderkey, o_orderpriority
                FROM orders WHERE o_orderkey % 20 = 13
              )
            )
            UNION ALL
            SELECT 'purge' AS src, 1::INT AS n_segments,
                   count(*)::BIGINT AS n_rows,
                   sum(new_rid * o_orderkey)::BIGINT AS checksum
            FROM (SELECT row_number() OVER (ORDER BY row_id) - 1 AS new_rid,
                         o_orderkey
                  FROM {SEG_RID} WHERE o_orderpriority <> '1-URGENT')
        """,
        "typed_roundtrip": """
            SELECT row_number() OVER (ORDER BY n_nationkey) - 1 AS row_id,
                   n_name, n_nationkey, n_regionkey
            FROM nation
        """,
        "stream_dedup": """
            SELECT event_type, count(DISTINCT user_id)::BIGINT AS n_kept
            FROM events GROUP BY event_type ORDER BY event_type
        """,
        "stream_sessionize": sessions.sessionize_oracle("events"),
        "stream_ingest_segments": """
            SELECT count(*)::BIGINT AS n_rows, count(*)::BIGINT AS max_rid_plus1
            FROM events
        """,
        "text_search": f"""
            SELECT 'probe' AS variant, row_id, 0e0 AS score
            FROM (SELECT row_number() OVER (ORDER BY doc_id) - 1 AS row_id, text
                  FROM documents)
            WHERE list_contains(
                list_filter(string_split_regex(text, '{TH.WS_CLASS}+'), _t -> _t <> ''),
                'spark')
            UNION ALL
            SELECT 'bm25' AS variant, row_id, round(score, 9) AS score
            FROM ({search.bm25_topk_oracle(
                "documents", "doc_id", "text", TEXT_QUERY_TERMS, k=15)}) b
            UNION ALL
            SELECT 'prefix' AS variant, row_id, 0e0 AS score
            FROM (SELECT row_number() OVER (ORDER BY doc_id) - 1 AS row_id, text
                  FROM documents)
            WHERE len(list_filter(
                list_filter(string_split_regex(text, '{TH.WS_CLASS}+'), _t -> _t <> ''),
                _t -> _t LIKE '{TEXT_PREFIX}%')) > 0
            UNION ALL
            SELECT 'phrase' AS variant, row_id, 0e0 AS score
            FROM ({search.phrase_search_oracle(
                "row_id", "text",
                "(SELECT row_number() OVER (ORDER BY doc_id) - 1 AS row_id, text FROM documents)",
                TEXT_PHRASE)}) p
            UNION ALL
            SELECT 'rrf' AS variant, row_id, score
            FROM ({search.hybrid_rrf_topk_oracle(
                "documents", "doc_id", "text", TEXT_QUERY_TERMS,
                "embeddings", "vec_id", "embedding", HYBRID_QUERY_VEC_ID,
                k=15, dim=EMB_DIM)}) h
            UNION ALL
            SELECT 'semvec' AS variant, neighbor_id AS row_id, cos AS score
            FROM ({similarity.ann_brute_force_oracle(
                "doc_id", "vec",
                "(" + similarity.hash_embed_oracle(
                    "doc_id", "text",
                    "(SELECT doc_id, text FROM documents UNION ALL "
                    "SELECT * FROM (VALUES (-1, '" + SEMVEC_QUERY + "')) "
                    "AS _q(doc_id, text))",
                    dim=SEMVEC_DIM,
                ) + ")",
                [-1], k=15, dim=SEMVEC_DIM)}) sv
            UNION ALL
            SELECT 'chunkvec' AS variant, row_id, score FROM (
              SELECT neighbor_id // {CHUNKVEC_ENC} AS row_id,
                     max(cos) AS score
              FROM ({similarity.ann_brute_force_oracle(
                "cid", "vec", _chunk_emb_table_sql(),
                [-1], k=CHUNKVEC_ALL, dim=SEMVEC_DIM)})
              GROUP BY 1 ORDER BY score DESC, row_id LIMIT 15) cv
            UNION ALL
            SELECT 'chunkivf' AS variant, row_id, score FROM (
              SELECT neighbor_id // {CHUNKVEC_ENC} AS row_id,
                     max(cos) AS score
              FROM ({similarity.ann_ivf_oracle(
                "cid", "vec", _chunk_emb_table_sql(),
                [-1], k=CHUNKVEC_ALL, n_centroids=CHUNKIVF_CELLS,
                n_probe=CHUNKIVF_PROBE, dim=SEMVEC_DIM,
                cent_vecs=_trained_chunk_cent())})
              GROUP BY 1 ORDER BY score DESC, row_id LIMIT 15) ci
            UNION ALL
            -- the MAINTAINED store (seed half + change-feed sync half,
            -- round 13): delta == rebuild exact under the frozen trained
            -- quantizer, so the same closed-form IVF ranking is the twin
            -- — the oracle hash IS the proof the maintainer converges
            SELECT 'chunksync' AS variant, row_id, score FROM (
              SELECT neighbor_id // {CHUNKVEC_ENC} AS row_id,
                     max(cos) AS score
              FROM ({similarity.ann_ivf_oracle(
                "cid", "vec", _chunk_emb_table_sql(),
                [-1], k=CHUNKVEC_ALL, n_centroids=CHUNKIVF_CELLS,
                n_probe=CHUNKIVF_PROBE, dim=SEMVEC_DIM,
                cent_vecs=_trained_chunk_cent())})
              GROUP BY 1 ORDER BY score DESC, row_id LIMIT 15) cs
        """,
        "text_stats": f"""
            SELECT s.*, r.n_bigrams, r.top_token_frac, r.dup_bigram_frac,
                   r.top_bigram_frac, r.keep AS rep_keep, u.surprisal
            FROM ({textstats.text_stats_oracle("doc_id", "text", "documents")}) s
            JOIN ({textstats.text_repetition_oracle("doc_id", "text", "documents")}) r
            USING (doc_id)
            JOIN ({textstats.token_surprisal_oracle("doc_id", "text", "documents")}) u
            USING (doc_id)
            ORDER BY doc_id
        """,
        "contamination": f"""
            SELECT 'ngram' AS variant, doc_id, n_shingles AS n,
                   overlap_frac AS x, contaminated::BIGINT AS f
            FROM ({dedup.contamination_oracle(
                "doc_id", "text", "documents", "_id % 20 = 0", "_id % 20 <> 0")})
            UNION ALL
            SELECT 'spans' AS variant, doc_id, span_start AS n,
                   span_toks::DOUBLE AS x, n_windows AS f
            FROM ({dedup.contaminated_spans_oracle(
                "doc_id", "text", "documents",
                "doc_id % 20 = 0", "doc_id % 20 <> 0", k=DECON_K)})
            UNION ALL
            SELECT 'clean' AS variant, doc_id, n_toks AS n,
                   removed_toks::DOUBLE AS x,
                   {texthash.text_hash("clean_text", "duckdb")} AS f
            FROM ({dedup.decontaminate_clean_oracle(
                "doc_id", "text", "documents",
                "doc_id % 20 = 0", "doc_id % 20 <> 0", k=DECON_K)})
            UNION ALL
            SELECT 'sdecon' AS variant, doc_id, span_start AS n,
                   span_toks::DOUBLE AS x, n_windows AS f
            FROM ({dedup.contaminated_spans_oracle(
                "doc_id", "text", "documents",
                "doc_id % 20 = 0",
                "doc_id % 20 <> 0 AND doc_id % 4 = 0", k=DECON_K)})
        """,
        "sequence_pack": f"""
            SELECT 'pack' AS variant, doc_id, shard AS a, n_tokens AS b,
                   start_seq AS c, end_seq AS d, start_off AS fp
            FROM ({packing.sequence_pack_oracle("doc_id", "text", "documents")})
            UNION ALL
            SELECT 'chunk' AS variant, doc_id, chunk_idx AS a, n_toks AS b,
                   start_tok AS c, 0::BIGINT AS d,
                   {texthash.text_hash("chunk_text", "duckdb")} AS fp
            FROM ({packing.chunk_documents_oracle(
                "doc_id", "text", "documents",
                chunk_toks=CHUNK_TOKS, overlap=CHUNK_OVERLAP)})
        """,
        "approx_aggregates": """
            SELECT count(*)::BIGINT AS n,
                   count(DISTINCT l_partkey)::BIGINT AS exact_parts,
                   TRUE AS hll_ok, TRUE AS median_rank_ok
            FROM lineitem
        """,
        "multimodal_meta": """
            WITH sized AS (
              SELECT doc_id, octet_length(encode(text))::BIGINT AS n
              FROM documents),
            k AS (SELECT unnest(range(4))::INT AS frame_idx),
            per_frame AS (
              SELECT s.doc_id,
                     least(k.frame_idx * greatest(s.n // 4, 1), s.n)::BIGINT AS off,
                     least(greatest(s.n // 4, 1),
                           s.n - least(k.frame_idx * greatest(s.n // 4, 1), s.n))::BIGINT
                       AS len,
                     k.frame_idx
              FROM sized s CROSS JOIN k),
            frames AS (
              SELECT doc_id, count(*)::INT AS n_frames,
                     sum(len)::BIGINT AS frame_bytes,
                     sum(off * (frame_idx + 1))::BIGINT AS frame_checksum
              FROM per_frame GROUP BY doc_id)
            SELECT s.doc_id, s.n AS n_bytes,
                   (1 + s.n % 64)::INT AS width,
                   (1 + s.n % 48)::INT AS height,
                   3::INT AS channels,
                   f.n_frames, f.frame_bytes, f.frame_checksum,
                   (32 * 24 * 3)::BIGINT AS resize_bytes,
                   ((s.n * 31 + 32) * 31 + 24)::BIGINT AS resize_checksum,
                   ft.dim AS feat_dim, ft.feat_checksum,
                   (1 + s.n % 640)::INT AS hdr_width,
                   (1 + (s.n * 7) % 480)::INT AS hdr_height,
                   (CASE WHEN s.doc_id % 2 = 0 THEN 4 ELSE 3 END)::INT
                     AS hdr_channels,
                   CASE WHEN s.doc_id % 2 = 0 THEN 'wav' ELSE 'mp4' END
                     AS med_kind,
                   (CASE WHEN s.doc_id % 2 = 0 THEN 1 + s.n % 2 END)::INT
                     AS med_channels,
                   (CASE WHEN s.doc_id % 2 = 0
                         THEN 8000 * (1 + s.n % 6) END)::INT AS med_rate,
                   (CASE WHEN s.doc_id % 2 = 0
                         THEN ((1 + s.n % 1000) * 64 * 1000)
                              // (8000 * (1 + s.n % 6))
                         ELSE ((1 + (s.n * 37) % 100000) * 1000) // 600
                    END)::BIGINT AS med_dur,
                   (CASE WHEN s.doc_id % 2 = 1 THEN 1 + s.n % 3 END)::INT
                     AS med_tracks
            FROM sized s JOIN frames f USING (doc_id)
            JOIN ({FEATURES_ORACLE}) ft USING (doc_id)
            ORDER BY s.doc_id
        """.replace(
            "{FEATURES_ORACLE}",
            _fake_features_oracle_sql("doc_id", "text", "documents"),
        ),
        "resample_ffill": """
            WITH hourly AS (
              SELECT user_id, date_trunc('hour', ts)::TIMESTAMP AS h,
                     count(*)::BIGINT AS cnt, avg(value) AS av
              FROM events GROUP BY 1, 2),
            span AS (SELECT user_id, min(h) AS h0, max(h) AS h1
                     FROM hourly GROUP BY 1),
            grid AS (SELECT user_id,
                            unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h
                     FROM span),
            j AS (SELECT g.user_id, g.h, hy.cnt, hy.av
                  FROM grid g LEFT JOIN hourly hy
                  ON g.user_id = hy.user_id AND g.h = hy.h)
            SELECT user_id, strftime(h, '%Y-%m-%d %H:%M:%S') AS hour_start,
                   coalesce(cnt, 0)::BIGINT AS n_events,
                   round(last_value(av IGNORE NULLS) OVER (
                     PARTITION BY user_id ORDER BY h
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6)
                   AS fill_value
            FROM j ORDER BY user_id, hour_start
        """,
        "sessionize": f"""
            SELECT 'custom' AS impl, * FROM ({sessions.sessionize_oracle("events")})
            UNION ALL
            SELECT 'native' AS impl, * FROM ({sessions.sessionize_oracle("events")})
        """,
        "stream_stream_join": """
            SELECT l.user_id, l.event_id AS left_id, r.event_id AS right_id,
                   epoch_us(l.ts)::BIGINT AS l_ts_us,
                   epoch_us(r.ts)::BIGINT AS r_ts_us
            FROM events l JOIN events r
              ON l.user_id = r.user_id
             AND r.ts >= l.ts - INTERVAL 30 MINUTE AND r.ts <= l.ts
            WHERE l.event_type = 'purchase' AND r.event_type = 'click'
            ORDER BY left_id, right_id
        """,
        "stream_windowed": """
            SELECT strftime(date_trunc('hour', e.ts), '%Y-%m-%d %H:%M:%S') AS hour_start,
                   n.n_name, count(*)::BIGINT AS cnt, round(avg(e.value), 6) AS avg_value
            FROM events e
            JOIN customer c ON e.user_id = c.c_custkey
            JOIN nation n ON c.c_nationkey = n.n_nationkey
            GROUP BY 1, 2 ORDER BY hour_start, n_name
        """,
    }
