"""Mergeable per-segment HLL sketches: store-level distinct counts from
manifest metadata alone (no data scan), surviving compaction by sketch
union — sketch(A ∪ B) == union(sketch(A), sketch(B))."""

import shutil

import pytest
from pyspark.sql import functions as F

from iodf_spark.sources.segments import SegmentStore


@pytest.fixture()
def store(tmp_path):
    s = SegmentStore(str(tmp_path / "store"), bucket_size=1024)
    yield s
    shutil.rmtree(s.path, ignore_errors=True)


def _write_overlapping(spark, store):
    # 3 segments over overlapping key ranges: true distinct = 2000
    for lo in (0, 500, 1000):
        df = spark.range(lo, lo + 1000).select(
            F.col("id").alias("k"), F.concat(F.lit("u"), F.col("id") % 130).alias("tag")
        )
        store.write_segment(df, order_keys=["k"], sketch_cols=["k", "tag"])


def test_approx_distinct_from_manifest_only(spark, store):
    _write_overlapping(spark, store)
    assert all("sketches" in e for e in store.manifest())
    est = store.approx_distinct(spark, "k")
    assert abs(est - 2000) / 2000 < 0.05
    assert abs(store.approx_distinct(spark, "tag") - 130) <= 5


def test_sketches_survive_compaction_by_union(spark, store):
    _write_overlapping(spark, store)
    before = store.approx_distinct(spark, "k")
    store.compact_run(spark, 0, 2)
    entries = store.manifest()
    assert "sketches" in entries[0]  # merged run re-sketched by union
    after = store.approx_distinct(spark, "k")
    # union-of-sketches == sketch-of-union: identical registers, identical
    # estimate
    assert after == before
    store.compact_tiered(spark, fanout=2)
    assert store.approx_distinct(spark, "k") == before


def test_missing_sketch_raises_with_segment_ids(spark, store):
    _write_overlapping(spark, store)
    store.write_segment(
        spark.range(5).select(F.col("id").alias("k")), order_keys=["k"]
    )  # no sketch
    with pytest.raises(ValueError, match=r"\[3\]"):
        store.approx_distinct(spark, "k")
    # a compaction run mixing sketched and unsketched members drops the
    # sketch (a gap would silently undercount) rather than faking one
    store.compact(spark)
    assert "sketches" not in store.manifest()[0]


@pytest.mark.parametrize("rewrite", ["purge", "optimize_zorder"])
def test_renumbering_rewrites_rebuild_sketches_and_blooms(spark, store, rewrite):
    """purge and optimize_zorder rewrite the live rows; the sketch and
    bloom columns every old segment carried must come back, rebuilt over
    the SURVIVING rows (a union of the old sketches would still count
    the deleted ones)."""
    for lo in (0, 600):
        df = spark.range(lo, lo + 600).select(
            F.col("id").alias("k"), (F.col("id") % 40).alias("cat")
        )
        store.write_segment(df, order_keys=["k"], sketch_cols=["cat"], bloom_cols=["k"])
    store.delete_where(spark, "cat >= 20")
    if rewrite == "purge":
        store.purge(spark)
    else:
        store.optimize_zorder(spark, ["k"], bits=6, n_segments=2)
    entries = store.manifest()
    assert all("cat" in e["sketches"] and "k" in e["blooms"] for e in entries)
    assert abs(store.approx_distinct(spark, "cat") - 20) <= 1
    # the rebuilt blooms never drop the segment that holds a live key
    live = store.open(spark).select("row_id", "k").orderBy("row_id").collect()
    for r in live[:5] + live[-5:]:
        (holder,) = [
            e["segment_id"] for e in entries
            if e["row_id_offset"] <= r["row_id"] < e["row_id_offset"] + e["n_rows"]
        ]
        kept = {e["segment_id"] for e in store.pruned_entries_point("k", r["k"])}
        assert holder in kept
