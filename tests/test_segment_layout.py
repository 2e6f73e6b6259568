"""One index layout for every segment producer: whichever operation wrote
a segment (append, batched append, merge, purge, z-order rewrite,
compaction), its ``index/`` files use the store's codec, hold their keys
in TYPED order, and answer probes exactly like a fresh ``build_index``
over the segment's rows."""

import glob
import os

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from iodf_spark.operators import index as idx
from iodf_spark.sources.segments import SegmentStore

CONF = idx.IndexConf(include=["n", "tag"])
BUCKET = 64


def _rows(spark, lo, hi):
    # n crosses a digit boundary (0..12): a value_str sort puts 10 before 2
    return spark.range(lo, hi).select(
        F.col("id").alias("k"),
        (F.col("id") % 13).alias("n"),
        F.concat(F.lit("t"), (F.col("id") % 4).cast("string")).alias("tag"),
    )


def _append(spark, store):
    store.write_segment(_rows(spark, 0, 300), order_keys=["k"], index_conf=CONF)


def _append_by(spark, store):
    df = _rows(spark, 0, 300).withColumn("part", F.col("k") % 3)
    store.write_segments_by(df, "part", [0, 1, 2], ["k"], index_conf=CONF)


def _merge(spark, store):
    _append(spark, store)
    store.merge_by_key(
        spark, _rows(spark, 250, 420), "k", order_keys=["k"], index_conf=CONF
    )


def _purge(spark, store):
    _append(spark, store)
    store.delete_where(spark, "k % 7 = 0")
    store.purge(spark, index_conf=CONF)


def _zorder(spark, store):
    _append(spark, store)
    store.optimize_zorder(spark, ["k"], bits=6, n_segments=2, index_conf=CONF)


def _compact(spark, store):
    store.write_segment(_rows(spark, 0, 150), order_keys=["k"], index_conf=CONF)
    store.write_segment(_rows(spark, 150, 300), order_keys=["k"], index_conf=CONF)
    store.compact_run(spark, 0, 2)  # no index_conf: the stored indexes merge


@pytest.mark.parametrize(
    "produce", [_append, _append_by, _merge, _purge, _zorder, _compact],
    ids=lambda f: f.__name__.lstrip("_"),
)
def test_every_producer_writes_the_one_index_layout(spark, tmp_path, produce):
    store = SegmentStore(str(tmp_path / "store"), bucket_size=BUCKET)
    produce(spark, store)
    # the segments the producer wrote last (earlier setup writes excluded)
    v = store.versions()[-1]
    before = {e["segment_id"] for e in store.manifest_at(v - 1)} if v > 1 else set()
    new = [e for e in store.manifest() if e["segment_id"] not in before]
    assert new and all(e["indexed"] for e in new)
    for e in new:
        seg = os.path.join(store.path, f"seg-{e['segment_id']:05d}")
        files = glob.glob(os.path.join(seg, "index", "**", "*.parquet"), recursive=True)
        assert files
        for f in files:
            md = pq.ParquetFile(f).metadata
            codecs = {
                md.row_group(g).column(c).compression
                for g in range(md.num_row_groups)
                for c in range(md.num_columns)
            }
            assert codecs <= {"ZSTD"}, (f, codecs)
            if "col_name=n" in f:
                longs = pq.read_table(f, columns=["value_long"]).column(0).to_pylist()
                assert longs == sorted(longs), (f, longs)
        n_rows = e["n_rows"]
        stored = spark.read.parquet(os.path.join(seg, "index"))
        built = idx.build_index(
            spark.read.parquet(os.path.join(seg, "data")), CONF,
            bucket_size=BUCKET, n_rows=n_rows,
        )
        for col, value in [("n", 2), ("n", 10), ("tag", "t1")]:
            got = idx.probe(stored, col, value, n_rows, BUCKET).to_list()
            want = idx.probe(built, col, value, n_rows, BUCKET).to_list()
            assert got == want, (col, value)
            assert got  # every probed key occurs in every segment
