"""Pinned metadata-I/O budgets of the SegmentStore commit path.

Every call a store makes through the fsio seam is a LIST, GET or PUT on
an object store, so the count per operation is the cost that matters at
scale. These tests wrap the ``fsio`` module functions, run one operation
on an uncontended store, and pin:

* an indexed ``write_segment`` makes at most 7 fsio calls (one listing
  and one read of the manifest, the segment-dir claim, the footer
  listing, and the three publish steps);
* every commit path, ``compact``, ``vacuum`` and ``open`` reads each
  manifest version file at most once.
"""

import collections

import pytest
from pyspark.sql import functions as F

from iodf_spark.operators.index import IndexConf
from iodf_spark.sources import fsio
from iodf_spark.sources.segments import SegmentStore

_SEAM = (
    "list_dir", "exists", "is_dir", "makedirs", "walk_has_suffix",
    "atomic_replace", "link_claim", "atomic_write_text", "remove_file",
    "rename_dir", "remove_tree", "list_files", "list_subdirs", "claim_dir",
    "read_text", "mtime",
)


@pytest.fixture()
def fs_calls(monkeypatch):
    """Every fsio call from here on, as (function name, first argument)."""
    calls = []
    for name in _SEAM:
        orig = getattr(fsio, name)

        def wrapped(*args, _orig=orig, _name=name, **kwargs):
            calls.append((_name, args[0] if args else None))
            return _orig(*args, **kwargs)

        monkeypatch.setattr(fsio, name, wrapped)
    return calls


def _df(spark, lo, hi):
    return spark.createDataFrame(
        [(i, i % 4, i * 10) for i in range(lo, hi)], "k long, a long, v long"
    )


def _version_reads(calls):
    """How often each manifest version file was read."""
    return collections.Counter(
        arg for name, arg in calls
        if name == "read_text" and "manifest-v" in str(arg)
    )


def test_write_segment_fsio_budget(spark, tmp_path, fs_calls):
    store = SegmentStore(str(tmp_path / "store"))
    conf = IndexConf(include=["a"])
    store.write_segment(_df(spark, 0, 20), order_keys=["k"], index_conf=conf)
    fs_calls.clear()
    store.write_segment(_df(spark, 20, 30), order_keys=["k"], index_conf=conf)
    by_name = collections.Counter(name for name, _ in fs_calls)
    assert len(fs_calls) <= 7, by_name
    assert by_name["read_text"] == 1 and by_name["list_dir"] == 2, by_name


def test_each_version_read_at_most_once_per_operation(spark, tmp_path, fs_calls):
    """Six retained versions, then every operation in turn: none may read
    a manifest version file twice (uncontended, so no retry re-reads)."""
    store = SegmentStore(str(tmp_path / "store"))
    for lo in range(0, 50, 10):
        store.write_segment(_df(spark, lo, lo + 10), order_keys=["k"])
    store.delete_where(spark, "k < 3")
    assert store.versions() == [1, 2, 3, 4, 5, 6]
    ops = [
        ("open", lambda: store.open(spark).count()),
        ("write_segment", lambda: store.write_segment(
            _df(spark, 50, 60), order_keys=["k"])),
        ("write_segments_by", lambda: store.write_segments_by(
            _df(spark, 60, 80), "a", [0, 1], ["k"])),
        ("delete_where", lambda: store.delete_where(spark, "k = 5")),
        ("delete_rows", lambda: store.delete_rows(
            spark, spark.createDataFrame([(6,)], "k long"), on="k")),
        ("merge_by_key", lambda: store.merge_by_key(
            spark, _df(spark, 7, 9), on="k", order_keys=["k"])),
        ("compact_run", lambda: store.compact_run(spark, 0, 2)),
        ("purge", lambda: store.purge(spark)),
        ("optimize_zorder", lambda: store.optimize_zorder(
            spark, ["a", "k"], bits=4, n_segments=2)),
        ("compact", lambda: store.compact(spark)),
        ("vacuum", lambda: store.vacuum(keep_last=3, min_age_seconds=3600)),
        ("vacuum", lambda: store.vacuum(keep_last=1)),
    ]
    for op, run in ops:
        fs_calls.clear()
        run()
        reads = _version_reads(fs_calls)
        assert reads, f"{op} read no manifest version"
        assert max(reads.values()) == 1, (op, reads)
    # 9 commits on top of the 6 versions, all but the last vacuumed; the
    # 80 rows lost k < 3, the 10 rows of a in {2, 3} among k >= 60, and
    # k 5 and 6 (the merge replaced k 7 and 8 in place)
    assert store.versions() == [15]
    assert store.live_rows() == store.open(spark).count() == 65
    assert store.open(spark).filter(F.col("k") == 8).count() == 1
