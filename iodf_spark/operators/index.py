"""Inverted (col, value) -> row-set index — the heart of the reference
(writeIndex Dfs.scala:338-395, IndexConf/analyzers IndexedDf.scala:15-34,
probe IndexedDf.scala:71-85; SURVEY.md section 2.3).

Spark-first design:

* The index is itself a DataFrame (as in the reference, where the index df's
  column ids are (colName, value) pairs):

      (col_name: string, value_kind: tinyint, value_bool, value_long,
       value_double, value_str, bucket: long, row_ids: array<long>, f: long)

  One row per (col, token, bucket); `row_ids` is the sorted posting list of
  the rows in that bucket containing the token; `f` is the bucket-local
  count. Global selectivity = sum(f) over buckets.

* **Typed keys**: index keys keep their value's native type and sort by
  (column name, type rank, typed value) — reproducing the reference's
  cross-type total order (IoTypes.scala:104-123: Boolean < numeric <
  String; golden io/test/df/index_exp.txt shows numeric keys in numeric
  order, not lexical).

* **Analyzers** (IndexedDf.scala:19-33): per-column expression
  Column -> Column(array). Default identity `v -> [v]`; text columns use
  `split` — tokenization stays JVM-side (no Python UDF in the build path).

* **Scale**: build is explode -> groupBy(col, value, bucket) — a single
  shuffle whose key space is (col, token, bucket); bucketing caps every
  posting array at bucket_size ids, so a pathologically frequent token
  becomes many medium rows instead of one giant row (skew-safe, SURVEY.md
  section 7). Written partitioned by col_name and sorted within partitions
  by the typed key, giving partition pruning on col_name and min/max
  row-group skipping on values for probes.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from iodf_spark.plans.rowset import (
    DEFAULT_BUCKET_SIZE,
    DENSITY_SHIFT,
    WORD_BITS,
    PostingSet,
    _assemble_words,
    _n_words,
)
from iodf_spark.session import fan_out

# type ranks for the cross-type key order (IoTypes.scala:104-123)
KIND_BOOL, KIND_NUM, KIND_STR = 0, 1, 2

INDEX_KEY_COLS = ["col_name", "value_kind", "value_bool", "value_long", "value_double", "value_str"]

Analyzer = Callable[[Column], Column]


def identity_analyzer(c: Column) -> Column:
    """Default analyzer: v -> [v] (IndexedDf.scala:15-18)."""
    return F.array(c)


def text_analyzer(c: Column) -> Column:
    """Whitespace tokenizer, the reference's test analyzer
    (DfTest.scala:69-70: v.split(" ")). Splits on the shared explicit
    whitespace class (texthash.WS_CLASS) so the index tokenization and the
    DuckDB oracle's cannot diverge on RE2-vs-Java \\s edge characters."""
    from iodf_spark.functions.texthash import WS_CLASS

    return F.filter(F.split(c, WS_CLASS + "+"), lambda t: t != "")


class IndexConf:
    """Per-column analyzer configuration (IndexedDf.scala:15-34).

    `analyzers` maps column name -> Analyzer; columns in `exclude` are not
    indexed (`withoutField`); by default every remaining column is indexed
    with the identity analyzer.
    """

    def __init__(
        self,
        analyzers: dict[str, Analyzer] | None = None,
        exclude: set[str] | None = None,
        include: list[str] | None = None,
    ):
        self.analyzers = analyzers or {}
        self.exclude = exclude or set()
        self.include = include

    def analyzer_for(self, col: str) -> Analyzer:
        return self.analyzers.get(col, identity_analyzer)

    def columns(self, df: DataFrame) -> list[str]:
        cols = self.include if self.include is not None else [c for c in df.columns if c != "row_id"]
        return [c for c in cols if c not in self.exclude and c != "row_id"]


def _typed_value_cols(dtype: T.DataType) -> tuple[int, Column, Column, Column, Column]:
    """Map a token column (already analyzed) of the given Spark type to the
    (kind, bool, long, double, str) typed-key encoding."""
    v = F.col("_token")
    if isinstance(dtype, T.BooleanType):
        return (
            KIND_BOOL,
            v,
            F.lit(None).cast("long"),
            F.lit(None).cast("double"),
            v.cast("string"),
        )
    if isinstance(dtype, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        return (
            KIND_NUM,
            F.lit(None).cast("boolean"),
            v.cast("long"),
            v.cast("double"),
            v.cast("string"),
        )
    if isinstance(dtype, (T.FloatType, T.DoubleType, T.DecimalType)):
        return (
            KIND_NUM,
            F.lit(None).cast("boolean"),
            F.lit(None).cast("long"),
            v.cast("double"),
            v.cast("string"),
        )
    # strings, dates, timestamps, anything else: canonical string key
    return (
        KIND_STR,
        F.lit(None).cast("boolean"),
        F.lit(None).cast("long"),
        F.lit(None).cast("double"),
        v.cast("string"),
    )


def build_index(
    df: DataFrame,
    conf: IndexConf | None = None,
    bucket_size: int = DEFAULT_BUCKET_SIZE,
    n_rows: "int | dict | None" = None,
    adaptive: bool = True,
    group_keys: list[str] | None = None,
) -> DataFrame:
    """Build the inverted index DataFrame for `df` (must carry row_id).

    Per column: analyze -> explode tokens -> (col, typed token, bucket) ->
    posting list. All columns are melted into ONE DataFrame before the single
    groupBy shuffle (vs the reference's per-column sequential passes,
    Dfs.scala:342-381 — on a cluster one wide job beats C sequential jobs).

    With ``adaptive`` (default), each key's representation is chosen by the
    reference's density rule (utils/LBits.scala:107-114): keys with global
    selectivity f*256 > n store per-bucket packed 64-bit ``words`` instead
    of ``row_ids`` arrays — a 64x footprint cut for gender=M-style keys, and
    probes on them run the dense bitwise kernels. Per-key global f costs one
    window pass; the dense keys' ids take one extra bit_or shuffle at build.
    ``n_rows`` (row count of df) is counted if not supplied.

    ``group_keys`` builds MANY independent indexes in one pass (e.g. one
    per segment in a partitioned ingest — the batched alternative to N
    sequential builds): the named columns thread through every aggregation
    as extra keys and come back as leading output columns; row_id must be
    group-LOCAL. With exactly one group key, ``n_rows`` may be a dict
    (group value -> that group's row count) so the density rule stays
    per-group."""
    conf = conf or IndexConf()
    gks = list(group_keys or [])
    # fan_out before the per-column analyze/explode melt: tokenization is
    # narrow, and a single-split local input would run the whole analyzer
    # battery on one core until the posting groupBy's shuffle (no-op on
    # properly split inputs). PRUNED first — only row_id + the indexed
    # columns travel through the rebalance, never the full table width.
    # row_id is already assigned upstream, so repartitioning cannot change
    # any posting.
    needed = dict.fromkeys([*gks, "row_id", *conf.columns(df)])
    df = fan_out(df.select(*needed))
    melted = []
    for col in conf.columns(df):
        if col in gks:
            continue
        analyzer = conf.analyzer_for(col)
        tokens = df.select(
            *gks, "row_id", F.explode(analyzer(F.col(col))).alias("_token")
        ).filter(F.col("_token").isNotNull())
        token_type = tokens.schema["_token"].dataType
        kind, vb, vl, vd, vs = _typed_value_cols(token_type)
        melted.append(
            tokens.select(
                *gks,
                F.lit(col).alias("col_name"),
                F.lit(kind).cast("tinyint").alias("value_kind"),
                vb.alias("value_bool"),
                vl.alias("value_long"),
                vd.alias("value_double"),
                vs.alias("value_str"),
                (F.col("row_id") / bucket_size).cast("long").alias("bucket"),
                F.col("row_id"),
            )
        )
    all_tokens = melted[0]
    for m in melted[1:]:
        all_tokens = all_tokens.unionByName(m)
    out_keys = [*gks, *INDEX_KEY_COLS]
    # collect_set: a token occurring k times in one row still sets one bit
    # (the reference's posting list is a bitmap — inherently set-valued)
    if not adaptive:
        return (
            all_tokens.groupBy(*out_keys, "bucket")
            .agg(F.sort_array(F.collect_set("row_id")).alias("row_ids"))
            .withColumn("f", F.size("row_ids").cast("long"))
            .withColumn("words", F.lit(None).cast("array<long>"))
        )
    if n_rows is None:
        n_rows = df.count()
    bs, wb, nw = bucket_size, WORD_BITS, _n_words(bucket_size)
    # Route each key to its target encoding with a BROADCAST of just the
    # dense keys: by the density rule a column can have at most 256 keys
    # with f > n/256, so the broadcast side is bounded at 256 x #columns
    # (x #groups) rows no matter the data size. Join key is (col_name,
    # value_kind, value_str) — value_str is populated for every kind, so
    # the join is a plain (null-free) broadcast equi-join; the token stream
    # stays narrow. Occurrence count over-estimates f when a row repeats a
    # token, which can only over-route a borderline key to dense — an
    # encoding heuristic, never a correctness issue (words dedup via
    # bit_or).
    route_keys = [*gks, "col_name", "value_kind", "value_str"]
    occ = all_tokens.groupBy(*route_keys).agg(F.count(F.lit(1)).alias("_occ"))
    if isinstance(n_rows, dict):
        if len(gks) != 1:
            raise ValueError("dict n_rows requires exactly one group key")
        ktype = df.schema[gks[0]].dataType.simpleString()
        n_df = df.sparkSession.createDataFrame(
            [(k, int(v)) for k, v in n_rows.items()], f"{gks[0]} {ktype}, _n long"
        )
        occ = occ.join(F.broadcast(n_df), gks[0])
        thresh = F.col("_n")
    else:
        thresh = F.lit(int(n_rows))
    dense_keys = (
        occ.filter((F.col("_occ") * (1 << DENSITY_SHIFT)) > thresh)
        .select(*route_keys, F.lit(True).alias("_dense"))
    )
    routed = all_tokens.join(F.broadcast(dense_keys), route_keys, "left")
    sparse_part = (
        routed.filter(F.col("_dense").isNull())
        .groupBy(*out_keys, "bucket")
        .agg(F.sort_array(F.collect_set("row_id")).alias("row_ids"))
        .withColumn("f", F.size("row_ids").cast("long"))
        .withColumn("words", F.lit(None).cast("array<long>"))
    )
    dense_part = (
        routed.filter(F.col("_dense").isNotNull())
        .select(
            *out_keys,
            "bucket",
            F.expr(f"cast(pmod(row_id, {bs}) div {wb} as int)").alias("_w"),
            F.expr(
                f"shiftleft(1L, cast(pmod(pmod(row_id, {bs}), {wb}) as int))"
            ).alias("_bit"),
        )
        .groupBy(*out_keys, "bucket", "_w")
        .agg(F.expr("bit_or(_bit)").alias("_word"))
        .groupBy(*out_keys, "bucket")
        .agg(F.sort_array(F.collect_list(F.struct("_w", "_word"))).alias("_es"))
        .select(
            *out_keys,
            "bucket",
            F.lit(None).cast("array<long>").alias("row_ids"),
            F.expr(_assemble_words("_es", nw)).alias("words"),
        )
        .withColumn(
            "f", F.expr("aggregate(words, 0L, (_a, _w) -> _a + bit_count(_w))")
        )
    )
    return sparse_part.unionByName(dense_part, allowMissingColumns=False)


def write_index(
    index_df: DataFrame,
    path: str,
    compression: str | None = None,
    group_keys: list[str] | None = None,
) -> None:
    """Persist partitioned by col_name (partition pruning for probes),
    globally ordered by (col_name, typed key, bucket) — the Spark analog
    of the reference's sorted colIds invariant (Dfs.scala:250). This is
    the ONE index layout: standalone indexes, every segment-store segment
    and merged (compacted) indexes are all written here.

    A global orderBy, not repartition("col_name")+sortWithinPartitions:
    hash-clustering by column funnels EVERY posting of a column into ONE
    task (a text index is one column — a single task sorting the whole
    posting table), while the sort's required range distribution lets AQE
    size the shuffle to the data. The result is stronger, not weaker:
    each column's postings land as a run of key-disjoint sorted files, so
    value probes still skip by Parquet min/max and the partition dirs
    still prune by column. The sort is on the TYPED key, so numeric keys
    are in numeric order (2 < 10), not in the lexical order of value_str.

    ``compression`` is the Parquet codec (None = the session default).
    ``group_keys`` writes the many indexes of a grouped
    :func:`build_index` in one job: the group columns lead both the sort
    and the partition dirs (``<path>/<key>=<v>/col_name=<c>/``), so each
    group's subtree has exactly the layout of a single-index write."""
    gks = list(group_keys or [])
    writer = (
        index_df.orderBy(
            *gks,
            "col_name",
            "value_kind", "value_bool", "value_long", "value_double", "value_str",
            "bucket",
        )
        .write.mode("overwrite")
    )
    if compression is not None:
        writer = writer.option("compression", compression)
    writer.partitionBy(*gks, "col_name").parquet(path)


def read_index(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)


def stamp_key_encodings(index_df: DataFrame) -> DataFrame:
    """Record the index's exact per-key encoding map on the DataFrame
    object, so ``encoding_hint="auto"`` probes compile the bare specialized
    posting kernels with ZERO per-probe discovery jobs (the round-13
    dual-dispatch fallback kept probes job-free but dragged both kernels'
    dead sub-plans through every downstream combinator — ~1.7x on
    combinator-fan-out consumers like q_bitmap_ops).

    ONE aggregation job over the index: group by the typed key and keep
    only keys storing ANY dense (packed-words) bucket row. The output is
    bounded no matter the corpus size — the density rule f*256 > n admits
    at most 256 dense keys per column (per group) — so the collect is a
    few KB. Keys absent from the map are all-sparse (or missing = empty
    probe); keys present are dense, or mixed when they also store sparse
    rows (multi-segment indexes). The full-scan aggregation doubles as
    cache materialization for callers that previously paid a bare
    ``count()`` for exactly that — same action count, strictly more
    information.

    The stamp lives on THIS DataFrame object only (a plan attribute, like
    a join hint — not a cross-run cache): rebuilding or re-reading the
    index yields an unstamped frame, which probes handle with the
    dual-kernel fallback."""
    if "words" not in index_df.columns:
        index_df._iodf_dense_keys = []
        return index_df
    rows = (
        index_df.groupBy(*INDEX_KEY_COLS)
        .agg(
            F.max(F.col("words").isNotNull()).alias("_has_dense"),
            F.max(F.col("row_ids").isNotNull()).alias("_has_sparse"),
        )
        .filter(F.col("_has_dense"))
        .collect()
    )
    index_df._iodf_dense_keys = rows
    return index_df


def _key_matches_row(row, col: str, value) -> bool:
    """Python twin of :func:`_key_pred` over a collected index-key row —
    the two MUST agree on which typed keys a probe value matches (bool
    before int: bool is an int subclass). Row slots are None when not
    populated; ``None == x`` is False, matching SQL null semantics here."""
    if row["col_name"] != col:
        return False
    if isinstance(value, bool):
        return row["value_kind"] == KIND_BOOL and row["value_bool"] == value
    if isinstance(value, int):
        return row["value_kind"] == KIND_NUM and (
            row["value_long"] == value or row["value_double"] == float(value)
        )
    if isinstance(value, float):
        return row["value_kind"] == KIND_NUM and row["value_double"] == value
    return row["value_kind"] == KIND_STR and row["value_str"] == str(value)


def _key_pred(col: str, value) -> Column:
    """Typed probe predicate on the index key columns."""
    p = F.col("col_name") == col
    if isinstance(value, bool):
        return p & (F.col("value_kind") == KIND_BOOL) & (F.col("value_bool") == value)
    if isinstance(value, int):
        # float/double-typed columns leave value_long NULL (only
        # value_double is populated) — an int probe must still hit rows
        # where price == 5.0, so match either typed slot
        return (
            p
            & (F.col("value_kind") == KIND_NUM)
            & ((F.col("value_long") == value) | (F.col("value_double") == float(value)))
        )
    if isinstance(value, float):
        return p & (F.col("value_kind") == KIND_NUM) & (F.col("value_double") == value)
    return p & (F.col("value_kind") == KIND_STR) & (F.col("value_str") == str(value))


def probe(index_df: DataFrame, col: str, value, n: int,
          bucket_size: int = DEFAULT_BUCKET_SIZE,
          encoding_hint: str | None = None) -> PostingSet:
    """openIndex((col, value)) (IndexedDf.scala:71-85): select the posting
    lists for one typed key. A miss yields the empty set (IndexedDf.scala:79).
    col_name partition pruning + value row-group skipping make this a
    near-point read. The result carries whichever encoding the key was
    stored with (sparse row_ids or dense words); PostingSet kernels handle
    both.

    ``encoding_hint``:

    * ``"auto"`` — resolve the key's exact stored encoding JOB-FREE from
      the index's stamped encoding map (:func:`stamp_key_encodings`) and
      compile the bare specialized kernels; the general dual-dispatch
      plans carry scatter sub-plans and extra shuffles that cost real time
      even when statically dead. A key absent from the dense map is
      provably all-sparse (the stamp enumerates EVERY dense key); a key
      present is dense, or keeps the dual kernels when genuinely mixed
      (dense in one segment, sparse in another). Resolved encodings go
      through the same execution-time validation as explicit hints, so a
      stale stamp raises instead of silently dropping rows. On an
      UNSTAMPED adaptive index, auto falls back to the dual-kernel
      PostingSet — still zero discovery jobs (the round-13 trade: a
      per-probe discovery job was measured ~0.2 s, worse than the dual
      CASE kernels for once-materialized probes).
    * ``"sparse"``/``"dense"`` — expert plan hint, like ``broadcast()``,
      zero extra jobs; VALIDATED at execution: a bucket row stored in the
      other encoding raises instead of silently producing empty results
      (the hint picks kernels, it must never pick wrongness)."""
    cols = ["bucket", "row_ids"] + (["words"] if "words" in index_df.columns else [])
    df = index_df.filter(_key_pred(col, value)).select(*cols)
    if encoding_hint == "auto":
        if "words" not in df.columns:
            return PostingSet(df, n, bucket_size, {"sparse"})
        dense_rows = getattr(index_df, "_iodf_dense_keys", None)
        if dense_rows is None:
            return PostingSet(df, n, bucket_size)
        hits = [r for r in dense_rows if _key_matches_row(r, col, value)]
        if any(r["_has_sparse"] for r in hits):
            # genuinely mixed key (e.g. dense in one segment, sparse in
            # another): the dual kernels are the exact plan
            return PostingSet(df, n, bucket_size)
        # exact single encoding; fall through to the validated hint path
        encoding_hint = "dense" if hits else "sparse"
    if encoding_hint is not None:
        if encoding_hint not in ("sparse", "dense"):
            raise ValueError(f"encoding_hint must be sparse|dense, got {encoding_hint!r}")
        if encoding_hint == "dense" and "words" not in df.columns:
            raise ValueError("encoding_hint='dense' on a sparse-only (non-adaptive) index")
        want = "row_ids" if encoding_hint == "sparse" else "words"
        # fold the check into the kernel column itself so Catalyst column
        # pruning can't drop it: a NULL (wrong-encoding) row raises
        df = df.withColumn(
            want,
            F.expr(
                f"CASE WHEN {want} IS NULL THEN "
                f"cast(raise_error('probe(encoding_hint={encoding_hint}): "
                f"stored bucket row has the other encoding') as array<bigint>) "
                f"ELSE {want} END"
            ),
        )
        encodings = {encoding_hint}
    elif "words" not in index_df.columns:
        encodings = {"sparse"}
    else:
        encodings = None
    return PostingSet(df, n, bucket_size, encodings)


def f(index_df: DataFrame, col: str, value) -> int:
    """Selectivity of one key (IndexedDf.scala:91-96): sum of bucket-local
    counts — no posting-list materialization."""
    return fs(index_df, [(col, value)])[0]


def fs(index_df: DataFrame, keys: list[tuple]) -> list[int]:
    """Selectivities of MANY keys in ONE aggregation job: the scan is
    filtered to the union of key predicates (col_name partition pruning +
    value row-group skipping still apply) and each key gets a conditional
    sum — k stats for the price of one near-point read, the shape the
    multi-key access planner wants instead of k sequential stat jobs."""
    return fs_mixed(index_df, keys)


def _range_pred(col, lo, hi):
    p = (F.col("col_name") == col) & (F.col("value_kind") == KIND_NUM)
    v = F.coalesce(F.col("value_double"), F.col("value_long").cast("double"))
    if lo is not None:
        p = p & (v >= float(lo))
    if hi is not None:
        p = p & (v <= float(hi))
    return p


def fs_mixed(index_df: DataFrame, preds: list[tuple]) -> list[int]:
    """Selectivities of a MIXED predicate batch — (col, value) equality
    2-tuples and (col, lo, hi) range 3-tuples together — in ONE
    aggregation job. This is the decision input for an entire
    multi-predicate access plan (every AND/OR arm of a WHERE clause) at
    the cost of a single near-point stats read; without it each planner
    call pays its own Spark job, which at interactive latencies is the
    dominant term."""
    if not preds:
        return []
    terms = [
        _key_pred(p[0], p[1]) if len(p) == 2 else _range_pred(*p)
        for p in preds
    ]
    pred = None
    for t in terms:
        pred = t if pred is None else (pred | t)
    aggs = [
        F.coalesce(F.sum(F.when(t, F.col("f"))), F.lit(0)).alias(f"_f{i}")
        for i, t in enumerate(terms)
    ]
    row = index_df.filter(pred).agg(*aggs).collect()[0]
    return [int(row[f"_f{i}"]) for i in range(len(preds))]


def col_values(index_df: DataFrame, col: str) -> DataFrame:
    """Sorted distinct values of a column via the index (colNameValues,
    IndexedDf.scala:50-69 — the reference's MinBound/MaxBound range scan
    over index keys becomes a col_name partition scan + distinct)."""
    return (
        index_df.filter(F.col("col_name") == col)
        .select("value_kind", "value_bool", "value_long", "value_double", "value_str")
        .groupBy("value_kind", "value_bool", "value_long", "value_double", "value_str")
        .agg(F.lit(1))
        .select("value_kind", "value_bool", "value_long", "value_double", "value_str")
        .orderBy("value_kind", "value_bool", "value_long", "value_double", "value_str")
    )


def key_stats(index_df: DataFrame) -> DataFrame:
    """(col, value) -> global selectivity: the index's statistics surface
    (sum over buckets)."""
    return index_df.groupBy(*INDEX_KEY_COLS).agg(F.sum("f").alias("f"))


def probe_prefix(index_df: DataFrame, col: str, prefix: str, n: int,
                 bucket_size: int = DEFAULT_BUCKET_SIZE) -> "PostingSet":
    """Prefix probe: the OR of every string key starting with ``prefix``
    (the range-scan the reference's SORTED key space invites —
    colNameValues is ordered, IndexedDf.scala:87-89 — expressed as one
    dynamic-arity posting union). col_name partition pruning + the sorted
    value_str layout make the key filter a contiguous range read;
    the OR of all matching keys' posting lists is ONE aggregation stage
    (plans/rowset.union_posting_rows) regardless of how many keys match."""
    from iodf_spark.plans.rowset import union_posting_rows

    rows = index_df.filter(
        (F.col("col_name") == col)
        & (F.col("value_kind") == KIND_STR)
        & F.col("value_str").startswith(prefix)
    )
    cols = ["bucket", "row_ids"]
    if "words" in index_df.columns:
        cols.append("words")
    sel = rows.select(*cols)
    if "words" not in index_df.columns:
        sel = sel.withColumn("words", F.lit(None).cast("array<long>"))
    return union_posting_rows(sel, n, bucket_size)


def fs_range(index_df: DataFrame, ranges: list[tuple]) -> list[int]:
    """Selectivities of numeric RANGES [(col, lo, hi), ...] in one
    aggregation (the range twin of :func:`fs`): per range, the sum of f
    over every numeric key inside it — exact, since every distinct value
    is its own key."""
    return fs_mixed(index_df, ranges)


def probe_range(index_df: DataFrame, col: str, lo, hi, n: int,
                bucket_size: int = DEFAULT_BUCKET_SIZE) -> "PostingSet":
    """Numeric range probe [lo, hi] (None = unbounded side): the OR of
    every numeric key in the range — the query the reference's sorted key
    space promises via indexOf floor/ceil (P5, IndexedDf.scala:87-89),
    expressed as one dynamic-arity posting union. The sorted (value_kind,
    value_str) index layout row-group-skips to the key range; the union is
    ONE aggregation stage regardless of how many distinct keys fall in it."""
    from iodf_spark.plans.rowset import union_posting_rows

    pred = (F.col("col_name") == col) & (F.col("value_kind") == KIND_NUM)
    val = F.coalesce(F.col("value_double"), F.col("value_long").cast("double"))
    if lo is not None:
        pred = pred & (val >= float(lo))
    if hi is not None:
        pred = pred & (val <= float(hi))
    rows = index_df.filter(pred)
    sel = rows.select("bucket", "row_ids", *(
        ["words"] if "words" in index_df.columns else []
    ))
    if "words" not in index_df.columns:
        sel = sel.withColumn("words", F.lit(None).cast("array<long>"))
    return union_posting_rows(sel, n, bucket_size)
