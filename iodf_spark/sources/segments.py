"""Segment store — the LSM-flavored storage model of the reference
(SURVEY.md §1.4, §2.1): a table is an ordered list of immutable segments;
"updates" are new segments; reads see the logical concatenation
(MultiDf.scala:33-184); compaction rewrites many segments into one
(writeMergedDf, Dfs.scala:222-228).

Spark-first rendition:

* segment  = one Parquet dir written once (S1 writeDf ≈ df.write.parquet)
* manifest = JSON file listing (segment_id, n_rows, row_id_offset) —
  the row spaces of segments laid end-to-end (MultiDf.scala:182)
* open     = read all segment dirs, global row_id = offset + local row_id,
  columns outer-aligned with unionByName(allowMissingColumns=True) and
  per-column default fill (MultiDf.scala:125-142: missing bitmap columns
  read as all-false; we map that to coalesce(col, default))
* compact  = one job rewriting the union as a single segment — the
  merge is pure concatenation, order-preserving (B5 semantics)
* indexed segments additionally store the per-segment inverted index;
  the multi-segment index view shifts each segment's posting lists by its
  row offset (MultiBits 'shard' alignment, utils/MultiBits.scala:11-23,
  comes for free: buckets are recomputed from global ids)
* ONE writer: every producer (write_segment, write_segments_by,
  merge_by_key, compact_run, purge, optimize_zorder) lays out its
  segments through ``SegmentStore._write_segments`` — data, footer zone
  map, index, sketch and bloom entry fields — and every index, built or
  merged, goes through ``index.write_index`` (the reference's
  writeIndexedDf / writeMergedIndexedDf share one layout too,
  Dfs.scala:476-510). purge is optimize_zorder's renumbering rewrite
  with one segment ordered by the old row_id.

Scale notes: the manifest is tiny driver-side metadata (one entry per
segment). Opening N segments is one multi-path Parquet scan — Spark reads
them as one FileScan with partition-level parallelism; no k-way merge
needed because the index view is a DataFrame union, and probes prune by
col_name partition + segment pruning.

Writes publish atomically: data first, manifest last (tmp + rename —
Utils.scala:91-99 atomicWrite). ONE commit loop, ``SegmentStore._commit``,
publishes every mutation with optimistic concurrency: it claims the
version after the one the op read, and on a lost race re-reads and asks
the op to rebuild its doc — appends re-offset, deletes subtract
concurrent tombstones, a compaction relocates its run, and merge and the
renumbering rewrites raise. An op reads each manifest version at most
once.
"""

from __future__ import annotations

import contextlib
import json
import os
import time
import uuid

from collections.abc import Callable, Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from iodf_spark.operators import access
from iodf_spark.operators.index import IndexConf, build_index, write_index
from iodf_spark.sources import fsio
from iodf_spark.plans.rowset import DEFAULT_BUCKET_SIZE
from iodf_spark.sources.tables import with_row_id, with_row_id_scalable


# commit attempts before an optimistic-concurrency loser gives up; each
# retry re-reads the fresh manifest, so this bounds livelock under
# pathological contention, not correctness
_COMMIT_RETRIES = 20


class ManifestConflictError(RuntimeError):
    """Two writers raced to publish the same manifest version — the loser
    gets this instead of silently clobbering the winner's commit."""


def _footer_stats(data_dir: str) -> dict:
    """Segment zone map: per-column [min, max] harvested from the Parquet
    FOOTERS of the files just written — driver-side metadata reads, zero
    extra Spark jobs (the same footers the write already produced).

    A column appears only if EVERY row group has usable min/max statistics
    (a single gap makes the bound a lie); values are kept JSON-safe
    (bool/int/float, utf-8 strings, timestamps as epoch µs ints — the
    predicate side converts datetime bounds through the SAME mapping, see
    :func:`_stat_key`) and anything else — nested types, undecodable
    binary — is dropped, which degrades to "never pruned on this column",
    always correct. NaN-polluted float stats are dropped the same way
    (Parquet min/max ordering with NaN is undefined). Oversized values
    (document text) have their stats OMITTED by the writer, landing in the
    same never-pruned bucket (pinned by test)."""
    import pyarrow.parquet as pq

    per_col: dict[str, list] = {}
    dead: set[str] = set()
    _val = _stat_key

    try:
        for name in sorted(fsio.list_dir(data_dir)):
            if not name.endswith(".parquet"):
                continue
            md = pq.ParquetFile(os.path.join(data_dir, name)).metadata
            for rg in range(md.num_row_groups):
                row_group = md.row_group(rg)
                if row_group.num_rows == 0:
                    continue
                for ci in range(row_group.num_columns):
                    col = row_group.column(ci)
                    cname = col.path_in_schema
                    if "." in cname or cname in dead:
                        continue  # nested leaf — not a top-level column
                    st = col.statistics
                    lo = _val(st.min) if st is not None and st.has_min_max else None
                    hi = _val(st.max) if st is not None and st.has_min_max else None
                    if lo is None or hi is None:
                        dead.add(cname)
                        per_col.pop(cname, None)
                        continue
                    cur = per_col.get(cname)
                    if cur is None:
                        per_col[cname] = [lo, hi]
                    else:
                        cur[0] = min(cur[0], lo)
                        cur[1] = max(cur[1], hi)
    except Exception:  # noqa: BLE001 — stats are advisory; never fail a write
        return {}
    return per_col


def _stat_key(v):
    """Canonical JSON-safe ordering key for zone-map values, applied to
    BOTH the harvested footer stats and the caller's predicate bounds (the
    symmetry is what makes timestamp pruning correct): bool/int/float/str
    pass through (NaN -> unusable), bytes decode as utf-8, datetimes map
    to epoch MICROSECONDS (naive values treated as UTC — the engine pins
    the session to UTC, so stored naive wall times ARE instants); anything
    else is unusable (None)."""
    import datetime as _dt

    if isinstance(v, bool) or v is None:
        return v if v is None else bool(v)
    if isinstance(v, int):
        return int(v)
    if isinstance(v, float):
        return None if v != v else float(v)
    if isinstance(v, bytes):
        try:
            return v.decode("utf-8")
        except UnicodeDecodeError:
            return None
    if isinstance(v, str):
        return v
    if isinstance(v, _dt.datetime):
        if v.tzinfo is None:
            v = v.replace(tzinfo=_dt.timezone.utc)
        return int(v.timestamp() * 1_000_000)
    if isinstance(v, _dt.date):
        return int(
            _dt.datetime(v.year, v.month, v.day, tzinfo=_dt.timezone.utc).timestamp()
            * 1_000_000
        )
    return None


_NUM_RANK = {"byte": 1, "short": 2, "integer": 3, "long": 4, "float": 5, "double": 6}


def _widen_types(parts: list[DataFrame]) -> list[DataFrame]:
    """Numeric type-widening across segment schemas before the union —
    schema DRIFT is certain over years of ingest at 100 TB (a counter
    column grows int -> long, a score float -> double), and a raw
    unionByName fails or silently coerces on the conflict. Rule: all
    integer types widen to the widest integer; any fractional type in the
    mix widens the column to double (float+long -> double is the SQL
    coercion; exact for |v| < 2^53, the standard trade). Non-numeric
    conflicts raise with the column name — a string-vs-int drift is
    corruption, not evolution, and must be loud."""
    by_col: dict[str, set[str]] = {}
    for p in parts:
        for f in p.schema.fields:
            by_col.setdefault(f.name, set()).add(f.dataType.typeName())
    target: dict[str, str] = {}
    for col, kinds in by_col.items():
        if len(kinds) == 1:
            continue
        if not kinds <= set(_NUM_RANK):
            raise TypeError(
                f"segment schema conflict on column {col!r}: stored types "
                f"{sorted(kinds)} are not numeric-widenable"
            )
        if kinds <= {"byte", "short", "integer", "long"}:
            target[col] = max(kinds, key=_NUM_RANK.__getitem__)
        else:
            target[col] = "double"
    if not target:
        return parts
    out = []
    for p in parts:
        casts = [
            F.col(f.name).cast(target[f.name]).alias(f.name)
            if f.name in target and f.dataType.typeName() != target[f.name]
            else F.col(f.name)
            for f in p.schema.fields
        ]
        out.append(p.select(*casts))
    return out


def _entry_overlaps(entry: dict, predicates: list[tuple]) -> bool:
    """Conjunctive zone-map test: False only when the entry's stats PROVE
    some (col, lo, hi) interval cannot match — missing stats keep the
    segment (pruning must never drop rows). lo/hi of None = unbounded."""
    stats = entry.get("stats") or {}
    for col, lo, hi in predicates:
        if col not in stats:
            continue
        s_lo, s_hi = stats[col]
        # bounds go through the same canonicalization as the stored stats
        # (datetime -> epoch µs), so timestamp predicates prune correctly
        lo, hi = _stat_key(lo), _stat_key(hi)
        if (hi is not None and _cmp_lt(hi, s_lo)) or (
            lo is not None and _cmp_lt(s_hi, lo)
        ):
            return False
    return True


def _pred_allows(entry: dict, p: tuple) -> bool:
    """May ``entry`` hold rows matching predicate tuple ``p``? Zone maps
    test ranges ``(col, lo, hi)`` and equalities ``(col, value)``; an
    equality is also tested against the entry's Bloom bitset."""
    if len(p) == 3:
        return _entry_overlaps(entry, [p])
    b = (entry.get("blooms") or {}).get(p[0])
    return _entry_overlaps(entry, [(p[0], p[1], p[1])]) and (
        b is None or _bloom_may_contain(b, p[1])
    )


def _parquet_dir_rows(path: str) -> int:
    """Exact row count of a Parquet directory from file FOOTERS alone —
    driver-side metadata reads, zero Spark jobs (the count twin of
    _footer_stats; at scale the count of a just-written id-list must not
    schedule a job per delete)."""
    import pyarrow.parquet as pq

    total = 0
    for name in fsio.list_dir(path):
        if name.endswith(".parquet"):
            total += pq.ParquetFile(os.path.join(path, name)).metadata.num_rows
    return int(total)


_BLOOM_INT_KINDS = ("tinyint", "smallint", "int", "bigint")
# target false-positive rate for auto-sized blooms; the classic formulas
# m = -n ln p / ln^2 2 and k = (m/n) ln 2 minimize bits at this rate
_BLOOM_FPP = 0.01
# manifest-size budget per (segment, column): 2^20 bits = 128 KiB bitset
# (~171 KiB base64'd). Past this cap a bigger segment SATURATES the bitset
# instead of growing it; the build detects saturation and drops the bloom
# (flagging it) — pruning silently evaporating is worse than none at all.
_BLOOM_MAX_M = 1 << 20
# saturation guard: an OPTIMALLY sized bloom sits at 0.5 fill by design
# (k = (m/n)ln2 makes the expected fill exactly 1/2), so the drop line
# sits just above it — past 0.6 the fpp (= fill^k) is collapsing and the
# bitset is dead manifest weight
_BLOOM_MAX_FILL = 0.6


def _bloom_geometry(n_rows: int, fpp: float = _BLOOM_FPP) -> tuple[int, int]:
    """(m, k) sized for ``n_rows`` keys at ``fpp`` false positives: the
    round-5 fixed 64 Kbit / k=4 default saturated at ~10M-row segments
    (pruning silently evaporated); sizing from n keeps the advertised fpp
    until the manifest budget caps m, where the saturation guard takes
    over. m rounds up to whole 64-bit words; k is capped at 8 hash slices
    (sha256 yields 8 disjoint 32-bit windows)."""
    import math

    n = max(int(n_rows), 1)
    m = int(math.ceil(-n * math.log(fpp) / (math.log(2) ** 2)))
    m = min(max((m + 63) // 64 * 64, 64), _BLOOM_MAX_M)
    k = max(1, min(8, round(m / n * math.log(2))))
    return m, k


def _bloom_probe_key(value, kind: str | None) -> str | None:
    """Canonical probe STRING for a bloom built on a column of Spark type
    ``kind`` (None = legacy bloom that recorded no kind), or None meaning
    the value cannot be canonicalized safely and the caller must SKIP
    bloom pruning for this segment (keep it — always correct).

    The build hashed CAST(col AS STRING); a raw str(value) probe diverges
    from it under Spark's coercing equality: probing an int column with
    the float 1.0 hashes '1.0' vs stored '1' — a FALSE NEGATIVE that
    prunes segments `1.0 == 1` would match. Canonicalization mirrors the
    type-family restriction _bloom_build enforces: bools and integral
    floats collapse to int before hashing against integer-family columns;
    cross-family probes (str vs int column, number vs string column) skip
    pruning — Spark's implicit casts there ('01' = 1, ' 1' = 1) cannot be
    replayed against a bitset of exact strings."""
    if isinstance(value, bool):
        value = int(value)  # Spark CAST(true AS STRING)='true', Python 'True'
    if isinstance(value, float):
        if value != value or value in (float("inf"), float("-inf")):
            return None
        if float(value).is_integer() and abs(value) <= 2**53:
            value = int(value)
        else:
            return None  # no exact string twin; zone maps own fractionals
    if isinstance(value, int):
        return str(value) if kind is None or kind in _BLOOM_INT_KINDS else None
    if isinstance(value, str):
        return value if kind is None or kind == "string" else None
    return None


def _bloom_may_contain(bloom: dict, value) -> bool:
    """Segment-level membership verdict honoring the no-false-negatives
    guarantee: an un-canonicalizable probe keeps the segment."""
    key = _bloom_probe_key(value, bloom.get("kind"))
    if key is None:
        return True
    return _bloom_test(bloom["bits"], bloom["m"], bloom["k"], key)


def _bloom_positions_py(value, m: int, k: int) -> list[int]:
    """The k bit positions of ``value`` — MUST match the Spark-side
    expression in _bloom_build bit-for-bit. Both sides hash the value's
    STRING form through sha256 and slice k disjoint 8-hex-digit windows
    of the digest (32 bits each, always non-negative) mod m. sha2 exists
    identically in Spark SQL and hashlib, so membership tests are pure
    driver-side Python — no Spark job to probe a manifest."""
    import hashlib

    h = hashlib.sha256(str(value).encode("utf-8")).hexdigest()
    return [int(h[8 * i : 8 * i + 8], 16) % m for i in range(k)]


def _bloom_build(df: DataFrame, col: str, m: int, k: int) -> tuple[str, float]:
    """One aggregation job -> (base64 little-endian word bitset of m bits,
    fill ratio = set bits / m). Restricted to string/integer-family
    columns: their Spark CAST(.. AS STRING) equals Python str() (floats
    don't — '1.0E-7' vs '1e-07' — and are the zone map's job anyway). The
    fill ratio is the saturation signal: past ~50% the fpp collapses
    toward 1 and the caller drops the bloom rather than carry dead
    manifest weight that prunes nothing."""
    import base64

    kind = df.schema[col].dataType.simpleString()
    if kind not in ("string", *_BLOOM_INT_KINDS):
        raise ValueError(
            f"bloom filter on {col!r} ({kind}): only string/integer "
            "columns hash identically in Spark and Python; use zone maps "
            "for ordered numerics"
        )
    h = F.sha2(F.col(col).cast("string"), 256)
    pos = F.array(
        *[
            (F.conv(F.substring(h, 1 + 8 * i, 8), 16, 10).cast("long") % m)
            for i in range(k)
        ]
    )
    words = (
        df.filter(F.col(col).isNotNull())
        .select(F.explode(pos).alias("p"))
        .select(
            (F.col("p") / 64).cast("long").alias("w"),
            F.expr("shiftleft(1L, cast(p % 64 as int))").alias("b"),
        )
        .groupBy("w")
        .agg(F.expr("bit_or(b)").alias("word"))
        .collect()
    )
    buf = bytearray(m // 8)
    set_bits = 0
    for r in words:
        w = int(r["word"])
        buf[r["w"] * 8 : r["w"] * 8 + 8] = w.to_bytes(8, "little", signed=True)
        set_bits += (w & 0xFFFFFFFFFFFFFFFF).bit_count()
    return base64.b64encode(bytes(buf)).decode("ascii"), set_bits / m


def _bloomable(df: DataFrame, cols: list[str]) -> list[str]:
    """The columns of ``cols`` a bloom can be built on in ``df``: a
    column widened out of the string/integer family across segments
    cannot be re-bloomed (see _bloom_build)."""
    return [
        c for c in cols
        if df.schema[c].dataType.simpleString() in ("string", *_BLOOM_INT_KINDS)
    ]


def _bloom_test(blob: str, m: int, k: int, value) -> bool:
    """May the segment contain value? False negatives are impossible;
    false-positive rate ~ (1 - e^(-k*n_distinct/m))^k."""
    import base64

    buf = base64.b64decode(blob)
    return all(
        (buf[p // 8] >> (p % 8)) & 1
        for p in _bloom_positions_py(value, m, k)
    )


def _bloom_union(blobs: list[str]) -> str:
    import base64

    bufs = [bytearray(base64.b64decode(b)) for b in blobs]
    out = bufs[0]
    for b in bufs[1:]:
        for i in range(len(out)):
            out[i] |= b[i]
    return base64.b64encode(bytes(out)).decode("ascii")


def _bloom_fill(blob: str, m: int) -> float:
    """Set-bit fraction of a stored bitset — the saturation check for
    OR-merged compaction blooms (a union of healthy blooms can still
    saturate; keeping it would advertise pruning that never fires)."""
    import base64

    return sum(b.bit_count() for b in base64.b64decode(blob)) / m


def _seg_name(seg_id: int) -> str:
    return f"seg-{seg_id:05d}"


def _versions(names: Iterable[str]) -> list[int]:
    """The manifest versions among a store dir's ``names``, ascending."""
    return sorted(
        int(n[len("manifest-v"):-len(".json")])
        for n in names
        if n.startswith("manifest-v") and n.endswith(".json")
    )


def _refs(doc: dict) -> set[str]:
    """The seg-* and del-* dir names a manifest doc references."""
    return {_seg_name(e["segment_id"]) for e in doc["segments"]} | {
        t["file"] for t in doc["tombstones"]
    }


def _cmp_lt(a, b) -> bool:
    """a < b when comparable; incomparable (mixed-type drift) -> False, which
    keeps the segment — the always-correct degradation."""
    try:
        return a < b
    except TypeError:
        return False


class SegmentStore:
    def __init__(
        self,
        path: str,
        bucket_size: int = DEFAULT_BUCKET_SIZE,
        compression: str = "zstd",
        orphan_grace_seconds: float = 600.0,
    ):
        self.path = path
        self.bucket_size = bucket_size
        # zstd by default: vs Spark's snappy default it cuts stored bytes
        # ~25-40% at comparable speed — at 100 TB the scan is IO-bound, so
        # smaller files ARE faster reads (and faster shuffles of spilled
        # segments). Per-store so callers can pin e.g. "uncompressed" for
        # CPU-bound local experiments.
        self.compression = compression
        # how long an unreferenced seg-* dir must sit before the orphan
        # sweep may delete it: a CONCURRENT writer's segment is on disk
        # before its manifest entry exists, so a zero-grace sweep racing
        # that writer deletes files mid-write (the same reason Delta's
        # VACUUM has a retention window). Crash orphans are reclaimed the
        # same way, just `grace` later.
        self.orphan_grace_seconds = orphan_grace_seconds
        fsio.makedirs(path)

    # -- manifest ------------------------------------------------------------

    @property
    def _manifest_path(self) -> str:
        return os.path.join(self.path, "manifest.json")

    @staticmethod
    def _as_doc(raw) -> dict:
        """Normalize a stored manifest to the doc shape. Pre-tombstone
        manifests were a bare entries list; the doc adds store-level state
        that isn't per-segment: ``tombstones`` and ``renumber_epoch`` — a
        monotone counter bumped ONLY by :meth:`purge` (the one operation
        that renumbers the global row space). Any writer or consumer whose
        work depends on stable row_ids compares the epoch it read against
        the epoch it publishes/catches-up to; a mismatch means its row_ids
        name different rows now and MUST surface as a conflict, never be
        silently republished. Old files keep reading (epoch defaults 0)."""
        if isinstance(raw, list):
            return {"segments": raw, "tombstones": [], "renumber_epoch": 0}
        return {"tombstones": [], "renumber_epoch": 0, **raw}

    def manifest(self) -> list[dict]:
        """Current segment entries (see manifest_doc for the full doc) =
        the HIGHEST archived version, not the manifest.json pointer: each
        version is claimed with an atomic exclusive link (see _publish),
        while the pointer write is a separate step that two stalled
        writers could regress. The pointer stays as a human-readable
        convenience and the legacy fallback of pre-versioning stores."""
        return self.manifest_doc()["segments"]

    def manifest_doc(self) -> dict:
        """Current full manifest doc: {"segments": [...], "tombstones":
        [...]} — tombstones are store-level (global row_ids are invariant
        under compaction, so deletes never need rebasing)."""
        return self.manifest_doc_versioned()[0]

    def manifest_doc_versioned(self) -> tuple[dict, int]:
        """(doc, version) as one consistent read — the OCC base a writer
        stages against and :meth:`_commit` publishes on top of."""
        return self._head({})

    def manifest_versioned(self) -> tuple[list[dict], int]:
        doc, v = self.manifest_doc_versioned()
        return doc["segments"], v

    def _head(self, docs: dict[int, dict]) -> tuple[dict, int]:
        """(newest doc, its version), read through :meth:`_doc`."""
        vs = self.versions()
        v = vs[-1] if vs else 0
        return self._doc(docs, v), v

    def _doc(self, docs: dict[int, dict], v: int) -> dict:
        """Version ``v``'s doc through ``docs``, the versions one operation
        has read or published: version files are immutable, so each is
        read at most once per operation. Version 0 is a store without
        version files: its legacy pointer, or the empty doc."""
        if v not in docs:
            if v:
                docs[v] = self.manifest_doc_at(v)
            else:
                p = self._manifest_path
                docs[v] = self._as_doc(
                    json.loads(fsio.read_text(p)) if fsio.exists(p) else []
                )
        return docs[v]

    def _version_path(self, v: int) -> str:
        return os.path.join(self.path, f"manifest-v{v:06d}.json")

    def _publish(self, doc: dict, base_version: int) -> None:
        """Atomically publish a new manifest AND archive it as an immutable
        numbered version (Delta/Iceberg-style snapshot log at manifest
        grain): every publish appends ``manifest-v<k>.json``; `open_at`
        reads any retained version against the immutable segment files —
        time-travel reads for free, since segments are never rewritten in
        place. Version files are tiny driver-side metadata; `vacuum` prunes
        old versions (and only then their unreferenced segment dirs).

        Optimistic concurrency: the version file is claimed with an ATOMIC
        exclusive link — if another writer already published this version
        number, the publish raises ManifestConflictError instead of
        silently clobbering its manifest (losing that writer's segments
        from the log while their dirs survive as orphans). On an object
        store, the link becomes a conditional put (if-none-match) — same
        protocol Delta/Iceberg use for their commit files.

        ``doc`` is the full manifest doc to publish and ``base_version``
        the version it was DERIVED from; the publish claims exactly
        ``base_version + 1``, so ANY commit that landed after the caller's
        read — no matter how long the caller spent writing segment files —
        surfaces as a conflict instead of a lost update. Writers publish
        only through :meth:`_commit`."""
        # committed_at rides INSIDE the doc: object stores do not preserve
        # LastModified across COPY, so retention windows (vacuum
        # min_age_seconds) key on this timestamp, with file mtime only as
        # the legacy fallback for pre-round-12 manifests
        doc["committed_at"] = time.time()
        v = base_version + 1
        # the tmp buffer is written THROUGH the seam (round 12: no local
        # temp-file API — the strict object-store backend has no local
        # files at all) under a per-writer unique name, so concurrent
        # publishers never share a tmp
        tmp = os.path.join(
            self.path, f"_pub-{uuid.uuid4().hex}.manifest.tmp"
        )
        fsio.atomic_write_text(tmp, json.dumps(doc, indent=1))
        vpath = self._version_path(v)
        if not fsio.link_claim(tmp, vpath):  # atomic claim: one winner per version
            fsio.remove_file(tmp)
            raise ManifestConflictError(
                f"manifest version {v} was published concurrently by another "
                f"writer ({vpath} exists); re-read the store and retry"
            )
        fsio.atomic_replace(tmp, self._manifest_path)  # current pointer

    def _commit(
        self,
        op: str,
        docs: dict[int, dict],
        v: int,
        rebuild: "Callable[[dict], dict | None] | dict",
        staged: list[str],
    ) -> dict | None:
        """THE commit loop of every store mutation: publish ``rebuild(doc)``
        against the version of ``doc`` — first ``docs[v]``, which the op
        staged its files against, then after each lost race the fresh
        newest doc. ``rebuild`` returns the doc to publish, None when
        nothing is left to publish, or raises ManifestConflictError when
        the op does not commute with what landed. A plain doc in its place
        is an op whose read set is the whole snapshot (merge, renumbering):
        any lost race raises. Gives up after ``_COMMIT_RETRIES`` races;
        whenever it raises or publishes nothing, the ``staged`` dirs are
        removed. Returns the published doc, also kept in ``docs``."""
        try:
            for attempt in range(_COMMIT_RETRIES):
                if callable(rebuild):
                    new = rebuild(docs[v])
                elif attempt:
                    raise ManifestConflictError(
                        f"{op} raced a concurrent commit in {self.path}: the "
                        f"snapshot it read is stale — re-run {op} against "
                        "the fresh store"
                    )
                else:
                    new = rebuild
                if new is None:
                    break
                try:
                    self._publish(new, base_version=v)
                except ManifestConflictError:
                    v = self._head(docs)[1]
                    continue
                docs[v + 1] = new
                return new
            else:
                raise ManifestConflictError(
                    f"{op} lost the manifest race {_COMMIT_RETRIES} times in "
                    f"{self.path}; giving up"
                )
        except ManifestConflictError:
            for p in staged:
                fsio.remove_tree(p)
            raise
        for p in staged:
            fsio.remove_tree(p)
        return None

    @staticmethod
    def _append_to(doc: dict, new: list[dict]) -> dict:
        """``doc`` with the ``new`` entries at the end of its row space
        (appends commute: a lost race re-offsets against the fresh doc)."""
        offset = sum(e["n_rows"] for e in doc["segments"])
        for e in new:
            e["row_id_offset"] = offset
            offset += e["n_rows"]
        return dict(doc, segments=doc["segments"] + new)

    def versions(self) -> list[int]:
        """Available snapshot versions, ascending (1-based publish order)."""
        return _versions(fsio.list_dir(self.path))

    def _doc_at(self, version: int | None) -> dict:
        """The doc at ``version``; the newest one for None."""
        return self.manifest_doc() if version is None else self.manifest_doc_at(version)

    def manifest_at(self, version: int) -> list[dict]:
        return self.manifest_doc_at(version)["segments"]

    def manifest_doc_at(self, version: int) -> dict:
        try:
            raw = fsio.read_text(self._version_path(version))
        except FileNotFoundError:
            raise ValueError(
                f"snapshot version {version} not found (have {self.versions()}"
                " — vacuumed or never published)"
            ) from None
        return self._as_doc(json.loads(raw))

    def total_rows(self) -> int:
        return sum(e["n_rows"] for e in self.manifest())

    def describe(self) -> dict:
        """Store profile from MANIFEST METADATA alone — no Spark session,
        no data scan (the catalog-query shape: at 100 TB "how big is this
        table" must never read it): segment count/rows, retained snapshot
        versions, which columns carry zone maps and HLL sketches, and the
        store-wide zone-map envelope per column (min of mins / max of
        maxes — a superset bound, exact when every segment has stats)."""
        doc = self.manifest_doc()
        entries = doc["segments"]
        env: dict[str, list] = {}
        full_cov: dict[str, bool] = {}
        for e in entries:
            for c, (lo, hi) in (e.get("stats") or {}).items():
                if c in env:
                    if _cmp_lt(lo, env[c][0]):
                        env[c][0] = lo
                    if _cmp_lt(env[c][1], hi):
                        env[c][1] = hi
                else:
                    env[c] = [lo, hi]
        for c in env:
            full_cov[c] = all(c in (e.get("stats") or {}) for e in entries)
        n_rows = sum(e["n_rows"] for e in entries)
        n_dead = sum(t["n"] for t in doc["tombstones"])
        return {
            "n_segments": len(entries),
            "n_rows": n_rows,
            "n_deleted": n_dead,
            "live_rows": n_rows - n_dead,
            # how many times the row space has been renumbered (purges):
            # consumers holding row_ids compare this against the epoch
            # they read at (see delete_where / read_changes / stream_changes)
            "renumber_epoch": doc["renumber_epoch"],
            "versions": self.versions(),
            "indexed_segments": sum(1 for e in entries if e.get("indexed")),
            "sketched_columns": sorted(
                set.intersection(
                    *[set((e.get("sketches") or {}).keys()) for e in entries]
                )
            )
            if entries
            else [],
            "bloom_columns": sorted(
                set.intersection(
                    *[set((e.get("blooms") or {}).keys()) for e in entries]
                )
            )
            if entries
            else [],
            "column_envelopes": {
                c: {"min": env[c][0], "max": env[c][1], "complete": full_cov[c]}
                for c in sorted(env)
            },
        }

    def history(self) -> list[dict]:
        """Snapshot log (DESCRIBE HISTORY shape) from the retained manifest
        versions: per version, its segment count/physical/live rows and the
        delta vs the previous retained version — all driver-side
        metadata."""
        out = []
        prev_rows, prev_segs = 0, 0
        for v in self.versions():
            doc = self.manifest_doc_at(v)
            entries = doc["segments"]
            rows = sum(e["n_rows"] for e in entries)
            out.append(
                {
                    "version": v,
                    "n_segments": len(entries),
                    "n_rows": rows,
                    "n_deleted": sum(t["n"] for t in doc["tombstones"]),
                    "renumber_epoch": doc["renumber_epoch"],
                    "rows_delta": rows - prev_rows,
                    "segments_delta": len(entries) - prev_segs,
                    # commit wall-clock from the doc itself (round 12);
                    # None for pre-timestamp manifests
                    "committed_at": doc.get("committed_at"),
                }
            )
            prev_rows, prev_segs = rows, len(entries)
        return out

    def read_changes(
        self,
        spark: SparkSession,
        from_version: int,
        to_version: int | None = None,
        defaults: dict[str, object] | None = None,
    ) -> DataFrame:
        """Change feed between two retained snapshots (Delta CDF shape):
        the incremental-consumer primitive — a downstream pipeline that
        processed version ``from_version`` catches up to ``to_version``
        (default: latest) by reading ONLY the delta, never rescanning the
        corpus. Returns rows tagged ``_change_type``:

        * ``'insert'`` — rows appended in the window that are still live
          at ``to_version`` (full row content; rows both inserted AND
          deleted inside the window are omitted — the consumer never saw
          them);
        * ``'delete'`` — the global row_ids tombstoned in the window that
          the consumer already holds (data columns null).

        Pure manifest math decides what to scan: appends land strictly at
        the end of the row space, so inserts are the segments whose range
        crosses ``from``'s total row count (offset pruning — segments the
        consumer has seen are never opened), and deletes are the id-list
        files added to the tombstone set. Compaction windows are
        transparent (row ids invariant); a PURGE renumbers the row space,
        which no delta can express — detected via the manifest renumber
        epoch (the legacy tombstone-set/total-rows heuristics remain as a
        backstop for pre-epoch manifests) and raised as "full refresh
        needed"."""
        to_v = to_version if to_version is not None else self.versions()[-1]
        from_doc = self.manifest_doc_at(from_version)
        to_doc = self.manifest_doc_at(to_v)
        from_total = sum(e["n_rows"] for e in from_doc["segments"])
        to_total = sum(e["n_rows"] for e in to_doc["segments"])
        from_files = {t["file"] for t in from_doc["tombstones"]}
        to_files = {t["file"] for t in to_doc["tombstones"]}
        # the renumber EPOCH is the authoritative purge detector: the old
        # heuristic (total shrank / tombstone files vanished) had a false-
        # negative window — a delete→purge→append sequence whose appends
        # regrow past from_total, starting from a tombstone-free
        # from_version, passed both checks and silently mapped the
        # consumer's row_ids onto a renumbered space. The heuristic stays
        # as a backstop for legacy manifests that predate the epoch.
        if (
            from_doc["renumber_epoch"] != to_doc["renumber_epoch"]
            or to_total < from_total
            or not from_files <= to_files
        ):
            raise ValueError(
                f"row space was renumbered between versions {from_version} "
                f"and {to_v} (purge): no incremental delta exists — do a "
                "full refresh from the newer snapshot"
            )
        new_entries = [
            e
            for e in to_doc["segments"]
            if e["row_id_offset"] + e["n_rows"] > from_total
        ]
        # an empty window keeps the full data schema (consumers union
        # deltas across windows): _live plans one segment filtered out
        ins = (
            self._live(spark, to_doc, new_entries, defaults)
            .filter(F.col("row_id") >= from_total)
            .withColumn("_change_type", F.lit("insert"))
        )
        new_tombs = [t for t in to_doc["tombstones"] if t["file"] not in from_files]
        if not new_tombs:
            return ins
        dels = (
            spark.read.parquet(
                *[os.path.join(self.path, t["file"]) for t in new_tombs]
            )
            .select("row_id")
            .filter(F.col("row_id") < from_total)
            .withColumn("_change_type", F.lit("delete"))
        )
        return ins.unionByName(dels, allowMissingColumns=True)

    def reconcile(self, grace_seconds: float | None = None) -> list[str]:
        """Delete seg-* dirs referenced by NO retained manifest version.

        A crash between a publish and its cleanup loop can leave segment
        dirs on disk that no manifest ever references; without this sweep
        they leak forever. Dirs referenced only by OLD versions are NOT
        garbage — they back `open_at` time travel — so liveness is the
        union over every retained version (current manifest included);
        `vacuum` shrinks that set by dropping old version files first.

        Unreferenced dirs (and stale .manifest.tmp files) younger than
        ``grace_seconds`` (default: the store's ``orphan_grace_seconds``)
        are SKIPPED: a concurrent writer's segment exists on disk before
        its manifest entry does, and sweeping it mid-write destroys a
        commit in flight — Delta's VACUUM retention window, at segment
        grain. Pass 0 only when no other writer can be active."""
        return self._sweep({}, grace_seconds)

    def _sweep(
        self, docs: dict[int, dict], grace_seconds: float | None = None
    ) -> list[str]:
        """:meth:`reconcile` through ``docs`` (see :meth:`_doc`): one
        listing of the store dir gives both the retained versions, each
        read at most once, and the sweep's candidates."""
        if grace_seconds is None:
            grace_seconds = self.orphan_grace_seconds
        names = fsio.list_dir(self.path)
        live: set[str] = set()
        for v in _versions(names) or [0]:
            live |= _refs(self._doc(docs, v))
        now = time.time()

        def aged(p: str) -> bool:
            # fsio.mtime: newest write under the path (HEAD LastModified
            # on an object store) — 'time since this orphan was last
            # touched', which is what the grace window means. ONLY a
            # vanished path short-circuits (the sweep below is a no-op on
            # it); any other read error — a service outage — propagates
            # loudly (round-13 verdict #2): an unknown age must never
            # read as 'aged', or an outage would sweep a fresh orphan an
            # in-flight commit is about to adopt.
            try:
                return now - fsio.mtime(p) >= grace_seconds
            except FileNotFoundError:
                return True  # vanished while we looked: not ours to keep

        removed = []
        for name in names:
            full = os.path.join(self.path, name)
            if (
                name.startswith(("seg-", "del-"))
                and name not in live
                and aged(full)
            ):
                fsio.remove_tree(full)
                removed.append(name)
            elif name.startswith(("_stage_tmp_", "_zorder_tmp_")) and aged(full):
                # a batched index write's staging dir (older versions
                # staged optimize_zorder data as _zorder_tmp_): removed on
                # success, so a survivor means a crash mid-write — never
                # referenced by any manifest, safe to sweep after the same
                # grace window
                fsio.remove_tree(full)
                removed.append(name)
            elif ".manifest.tmp" in name and aged(full):
                # a crash between the tmp write and the atomic replace in
                # _publish leaves the temp file forever; it is never
                # referenced by anything (replace is the only consumer).
                # Substring match, not endswith: the POSIX backend's
                # atomic_write_text stages '<tmp>.tmp' transiently, and a
                # crash inside THAT window leaves the double suffix.
                with contextlib.suppress(OSError):
                    fsio.remove_file(full, missing_ok=False)
                removed.append(name)
        return removed

    def vacuum(
        self, keep_last: int = 1, min_age_seconds: float = 0.0
    ) -> list[str]:
        """Drop all but the last ``keep_last`` snapshot versions, then sweep
        the segment dirs that are no longer referenced by any retained
        version (the storage-reclaim half of time travel; `open_at` on a
        vacuumed version raises). Returns the removed segment dirs.

        Dirs referenced by the DROPPED versions were durably committed, so
        they are reclaimed immediately; dirs referenced by no version ever
        may belong to an in-flight concurrent commit and get the reconcile
        grace window instead.

        ``min_age_seconds`` is the RETENTION window on version files (the
        version-grain twin of reconcile's orphan grace): versions younger
        than it are kept beyond ``keep_last``, because a concurrent reader
        that just resolved a version (open_at, read_changes catch-up) holds
        a reference no filesystem can see — deleting the version file and
        its segment dirs under that reader fails its scan mid-flight.
        Delta's VACUUM retention default solves the identical race; pass 0
        only when no concurrent reader can be active."""
        all_vs = self.versions()
        docs = {v: self.manifest_doc_at(v) for v in all_vs}
        keep = set(all_vs[-max(keep_last, 1):])
        if min_age_seconds > 0:
            now = time.time()
            for v in all_vs:
                # age from the doc's OWN committed_at (round 12): file
                # mtime is not durable on object stores (COPY resets
                # LastModified), the commit timestamp inside the manifest
                # is. Pre-timestamp manifests fall back to fsio.mtime.
                # Narrow suppression (round-13 verdict #2): only a
                # VANISHED version file means nothing-to-retain; a read
                # outage must propagate loudly, never silently age an
                # in-window version out of the retention set.
                ts = docs[v].get("committed_at")
                if ts is None:
                    with contextlib.suppress(FileNotFoundError):
                        ts = fsio.mtime(self._version_path(v))
                if ts is not None and now - ts < min_age_seconds:
                    keep.add(v)
        dropped_refs: set[str] = set()
        for v in all_vs:
            if v not in keep:
                dropped_refs |= _refs(docs[v])
                fsio.remove_file(self._version_path(v))
        live = set().union(*(_refs(docs[v]) for v in keep))
        removed = sorted(dropped_refs - live)
        for name in removed:
            fsio.remove_tree(os.path.join(self.path, name))
        return removed + self._sweep(docs)

    # -- write ---------------------------------------------------------------

    def _claim_dir(self, prefix: str, start_id: int) -> int:
        """Allocate a seg/del id by ATOMICALLY creating its directory
        (mkdir is exclusive): two writers that both read `max(id)+1` from
        the same committed manifest get DIFFERENT ids, so no two commits
        can ever interleave files inside one dir. Ids claimed by a commit
        that later loses its manifest race stay valid — ids are names,
        concatenation order lives in the manifest list, so ids need
        uniqueness, not density or monotonicity. On an object store the
        mkdir becomes a conditional put of a marker key."""
        claim_id = start_id
        while not fsio.claim_dir(
            os.path.join(self.path, f"{prefix}-{claim_id:05d}")
        ):
            claim_id += 1
        return claim_id

    def _new_seg_ids(self, entries: list[dict], m: int = 1) -> list[int]:
        """Claim ``m`` fresh segment dirs past the highest id in
        ``entries`` (each claim starts after the previous one)."""
        ids: list[int] = []
        nxt = max((e["segment_id"] for e in entries), default=-1) + 1
        for _ in range(m):
            ids.append(self._claim_dir("seg", nxt))
            nxt = ids[-1] + 1
        return ids

    def _seg_path(self, seg_id: int, *parts: str) -> str:
        return os.path.join(self.path, _seg_name(seg_id), *parts)

    @staticmethod
    def _carry_batch_keys(entry: dict, absorbed: list[dict]) -> None:
        """Carry the idempotency keys of every absorbed segment onto
        ``entry``: a replayed producer (crash after publish, before its
        checkpoint advanced) that races a compaction or a renumbering
        rewrite must still see its batch_key as committed, or it silently
        re-appends the micro-batch."""
        keys: set[str] = set()
        for e in absorbed:
            if e.get("batch_key") is not None:
                keys.add(e["batch_key"])
            keys.update(e.get("batch_keys", ()))
        if keys:
            entry["batch_keys"] = sorted(keys)

    def _write_segments(
        self,
        df: DataFrame,
        seg_ids: list[int],
        sizes: list[int] | None = None,
        index_conf: IndexConf | None = None,
        index_df: DataFrame | None = None,
        indexed_cols: list[str] | None = None,
        order_keys: list[str] | None = None,
        reshape: "Callable[[int, DataFrame], DataFrame] | None" = None,
        sketch_cols: list[str] | None = None,
        bloom_cols: list[str] | None = None,
        bloom_m: int | None = None,
        bloom_k: int | None = None,
        sketches: dict | None = None,
        blooms: dict | None = None,
    ) -> list[dict]:
        """THE segment writer: every producer (append, batched append,
        merge, compaction and the renumbering rewrites) lays out its
        segments here, under the claimed ``seg_ids`` dirs, WITHOUT touching
        the manifest (writeIndexedDf, Dfs.scala:489-510). Returns one entry
        per segment (no ``row_id_offset`` — the caller's commit sets it).

        ``df`` carries row ids 0..n-1 (it is stamped here if it has none:
        ``order_keys`` order, else arrival order). With several
        ``seg_ids``, segment k holds the ids of ``sizes[k]`` after those of
        segments 0..k-1, rebased to 0; callers pass a checkpointed ``df``
        then, since every segment's data write reads it. ``sizes`` of
        None means one segment of unknown size, counted from the written
        footers. ``reshape(k, seg_df)`` adapts segment k's data before its
        write (segments need not share a schema).

        Per segment: one data write (TIMESTAMP_MICROS), the footer zone
        map, the index (built with ``index_conf`` — one grouped build and
        write for all segments — or the caller's ready ``index_df``
        covering ``indexed_cols``), then HLL sketches of ``sketch_cols``
        and Bloom bitsets of ``bloom_cols`` from the written files.
        ``sketches``/``blooms`` are precomputed fields (a compaction's
        unions) that the computed ones extend."""
        spark = df.sparkSession
        if "row_id" not in df.columns:
            df, n = (
                with_row_id(df, order_keys, return_count=True)
                if order_keys
                else with_row_id_scalable(df, return_count=True)
            )
            sizes = [n]
        sizes = list(sizes or [None])
        multi = len(seg_ids) > 1
        starts = [sum(sizes[:k]) for k in range(len(sizes))] if multi else [0]

        def part(k: int) -> DataFrame:
            if not multi:
                return df
            lo, hi = starts[k], starts[k] + sizes[k]
            return df.filter(
                (F.col("row_id") >= lo) & (F.col("row_id") < hi)
            ).withColumn("row_id", F.col("row_id") - F.lit(lo).cast("long"))

        # pin timestamps to TIMESTAMP_MICROS for the data write: Spark's
        # legacy INT96 default carries NO parquet min/max statistics, which
        # would silently disable time-range zone maps — the single most
        # valuable pruning column of an event store (µs is also the
        # Iceberg/Delta interchange encoding). Set-and-restore so the
        # store behaves identically under any caller session.
        prev_tst = spark.conf.get("spark.sql.parquet.outputTimestampType")
        spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        try:
            for k, sid in enumerate(seg_ids):
                seg = part(k) if reshape is None else reshape(k, part(k))
                seg.write.mode("overwrite").option(
                    "compression", self.compression
                ).parquet(self._seg_path(sid, "data"))
        finally:
            spark.conf.set("spark.sql.parquet.outputTimestampType", prev_tst)
        if sizes[0] is None:
            # pre-stamped input of unknown size: count the footers just
            # written (driver-side metadata, no Spark job)
            sizes = [_parquet_dir_rows(self._seg_path(seg_ids[0], "data"))]
        if index_conf is not None:
            indexed_cols = sorted(index_conf.columns(df))
            if multi:
                # ALL segment indexes in ONE grouped build + ONE write (vs
                # a build+write round each): _seg threads through the
                # aggregations with per-segment n for the density rule, and
                # the _seg=<k> dirs are renamed into each segment's index
                seg_no = F.lit(0)
                for k in range(1, len(seg_ids)):
                    seg_no = F.when(F.col("row_id") >= starts[k], k).otherwise(seg_no)
                local = df.withColumn("_seg", seg_no).withColumn(
                    "row_id",
                    F.col("row_id")
                    - F.element_at(F.array(*map(F.lit, starts)), F.col("_seg") + 1),
                )
                index_df = build_index(
                    local, index_conf, bucket_size=self.bucket_size,
                    n_rows=dict(enumerate(sizes)), group_keys=["_seg"],
                )
            else:
                index_df = build_index(
                    df, index_conf, bucket_size=self.bucket_size, n_rows=sizes[0]
                )
        if index_df is not None:
            if multi:
                tmp = os.path.join(self.path, f"_stage_tmp_{uuid.uuid4().hex[:8]}")
                write_index(index_df, tmp, self.compression, group_keys=["_seg"])
                for k, sid in enumerate(seg_ids):
                    src = os.path.join(tmp, f"_seg={k}")
                    if fsio.is_dir(src):
                        fsio.rename_dir(src, self._seg_path(sid, "index"))
                    else:  # empty segment: an empty (but schema'd) index
                        index_df.filter(F.lit(False)).drop("_seg").write.mode(
                            "overwrite"
                        ).parquet(self._seg_path(sid, "index"))
                fsio.remove_tree(tmp)
            else:
                write_index(index_df, self._seg_path(seg_ids[0], "index"), self.compression)
        # sketches and blooms aggregate each segment's WRITTEN files, not
        # the in-flight plan: the written scan is columnar — only the
        # sketched/bloomed columns are read (ReadSchema pruning) — and
        # re-planning the stamped checkpoint+join+window pipeline per
        # aggregation measured ~2-3x the cost of the tiny-file scan
        import base64

        out = []
        for k, sid in enumerate(seg_ids):
            data_dir = self._seg_path(sid, "data")
            n = int(sizes[k])
            entry = {
                "segment_id": sid,
                "n_rows": n,
                "indexed": index_df is not None,
                "stats": _footer_stats(data_dir),
            }
            if index_df is not None:
                # which columns the stored index COVERS: the access planner
                # must scan, not probe, a predicate on an uncovered column
                # (its f there is 0 — "no postings", not "no rows")
                entry["indexed_cols"] = sorted(indexed_cols or ())
            written = spark.read.parquet(data_dir)
            seg_sketches, seg_blooms, dropped = dict(sketches or {}), dict(blooms or {}), []
            if sketch_cols:
                # per-column Datasketches HLL, base64 in the manifest (~2 KB
                # each): store-level distinct counts become a metadata
                # union, never a data scan. One agg job covers every
                # sketched column.
                row = written.agg(
                    *[F.hll_sketch_agg(c).alias(c) for c in sketch_cols]
                ).collect()[0]
                seg_sketches.update(
                    (c, base64.b64encode(bytes(row[c])).decode("ascii"))
                    for c in sketch_cols
                    if row[c] is not None
                )
            # per-column Bloom membership bitsets in the manifest: POINT-
            # lookup segment skipping on unsorted high-cardinality keys —
            # the case zone maps can't prune (their min/max envelope of a
            # shuffled key spans everything). Probes are pure driver-side
            # Python. Geometry auto-sizes from the segment's row count at
            # the target fpp unless pinned by the caller; a build whose
            # bitset exceeds the fill guard (row count past the manifest
            # budget) is DROPPED and flagged — a saturated bloom prunes
            # nothing but still costs manifest bytes and probe time. The
            # stored column kind canonicalizes coercing probes (1.0 vs
            # int col).
            m = bloom_m if bloom_m is not None else _bloom_geometry(n)[0]
            kh = bloom_k if bloom_k is not None else _bloom_geometry(n)[1]
            for c in bloom_cols or ():
                bits, fill = _bloom_build(written, c, m, kh)
                if fill > _BLOOM_MAX_FILL:
                    dropped.append(c)
                    continue
                seg_blooms[c] = {
                    "m": m,
                    "k": kh,
                    "bits": bits,
                    "kind": written.schema[c].dataType.simpleString(),
                }
            if seg_sketches:
                entry["sketches"] = seg_sketches
            if seg_blooms:
                entry["blooms"] = seg_blooms
            if dropped:
                entry["blooms_dropped"] = sorted(dropped)
            out.append(entry)
        return out

    def write_segment(
        self,
        df: DataFrame,
        order_keys: list[str] | None = None,
        index_conf: IndexConf | None = None,
        n_rows: int | None = None,
        batch_key: str | None = None,
        sketch_cols: list[str] | None = None,
        bloom_cols: list[str] | None = None,
        bloom_m: int | None = None,
        bloom_k: int | None = None,
    ) -> dict:
        """Append one immutable segment (S1/S3/S5). Local row ids are
        0..n-1 within the segment; the global offset comes from the
        manifest. With index_conf, the segment's inverted index is built
        and stored alongside (writeIndexedDf, Dfs.scala:489-510).

        ``batch_key`` makes the append IDEMPOTENT: if an entry with the
        same key is already committed, the write is a no-op returning that
        entry. This is the exactly-once contract for retried producers —
        a streaming foreachBatch that crashed AFTER publishing but BEFORE
        checkpoint advance re-runs the same micro-batch on restart and
        would otherwise append the segment twice. (A crash between the
        data write and the publish leaves an orphan dir that reconcile()
        sweeps — every interleaving lands on exactly one committed copy.)

        CONCURRENT appends are safe and both commit: the segment dir is
        claimed atomically (no file interleaving) and a lost manifest race
        is retried by re-reading the fresh manifest and re-appending at
        its end — appends commute with appends and with compaction
        (compaction rewrites only already-committed entries and carries
        their batch_keys), which is exactly Delta's append-vs-append
        conflict-resolution rule."""
        docs: dict[int, dict] = {}
        doc, v = self._head(docs)

        def committed(doc: dict) -> dict | None:
            # consult both the live key and keys absorbed into merged
            # segments (batch_keys) — compaction must not reopen the
            # exactly-once window (Delta retains txn appId/version actions
            # across compaction the same way)
            return next((
                e for e in doc["segments"] if batch_key is not None
                and batch_key in (e.get("batch_key"), *e.get("batch_keys", ()))
            ), None)

        if (prior := committed(doc)) is not None:
            return prior
        (seg_id,) = self._new_seg_ids(doc["segments"])
        (entry,) = self._write_segments(
            df, [seg_id], None if n_rows is None else [n_rows], index_conf,
            order_keys=order_keys, sketch_cols=sketch_cols,
            bloom_cols=bloom_cols, bloom_m=bloom_m, bloom_k=bloom_k,
        )
        if batch_key is not None:
            entry["batch_key"] = batch_key

        def rebuild(doc: dict) -> dict | None:
            # a racing writer that committed our batch_key WAS us (a
            # replayed producer): publish nothing — our duplicate files go
            # with the staged dir — and adopt its commit
            nonlocal prior
            prior = committed(doc)
            return None if prior is not None else self._append_to(doc, [entry])

        self._commit("write_segment", docs, v, rebuild, [self._seg_path(seg_id)])
        return prior or entry

    def write_segments_by(
        self,
        df: DataFrame,
        split_col: str,
        split_values: list,
        order_keys: list[str],
        index_conf: IndexConf | None = None,
        per_segment: "Callable[[object, DataFrame], DataFrame] | None" = None,
    ) -> list[dict]:
        """Append one segment per ``split_values`` entry from ONE stamped
        scan (the batch form of dynamic-partitioned ingest).

        Per-segment ``write_segment`` calls each pay a range shuffle +
        checkpoint to stamp their own row ids; here the input is stamped
        ONCE, globally ordered by (split_col position, order_keys), and each
        segment's local 0..n-1 ids are derived by subtracting the segment's
        global offset — identical on-disk layout and manifest to N separate
        writes (pure concatenation in split_values order), at one shuffle
        and one checkpoint total. Rows whose split value is not listed are
        ignored (same as not writing them).

        ``per_segment(value, seg_df) -> seg_df`` optionally reshapes each
        segment before its write (e.g. drop a column the other segments
        don't carry) — segments NEED NOT share a schema on disk; the
        multi-segment open outer-aligns and default-fills. Indexed columns
        come from the pre-reshape scan — per_segment reshaping must not
        drop an indexed column."""
        rank_expr = F.when(F.col(split_col) == split_values[0], 0)
        for i, v in enumerate(split_values[1:], start=1):
            rank_expr = rank_expr.when(F.col(split_col) == v, i)
        stamped, total = with_row_id(
            df.filter(F.col(split_col).isin(split_values))
            .withColumn("_srank", rank_expr),
            ["_srank", *order_keys],
            return_count=True,
        )
        stamped = stamped.localCheckpoint(eager=False)
        # per-segment row counts from one tiny agg over the checkpointed plan
        counts = {
            r["_srank"]: r["cnt"]
            for r in stamped.groupBy("_srank")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .collect()
        }
        sizes = [int(counts.get(i, 0)) for i in range(len(split_values))]
        assert sum(sizes) == total
        docs: dict[int, dict] = {}
        doc, v = self._head(docs)
        seg_ids = self._new_seg_ids(doc["segments"], len(split_values))
        new_entries = self._write_segments(
            stamped.drop("_srank"),
            seg_ids,
            sizes,
            index_conf,
            reshape=None
            if per_segment is None
            else lambda k, seg: per_segment(split_values[k], seg),
        )
        self._commit(
            "write_segments_by", docs, v,
            lambda doc: self._append_to(doc, new_entries),
            [self._seg_path(sid) for sid in seg_ids],
        )
        return new_entries

    # -- read ----------------------------------------------------------------

    def open(
        self, spark: SparkSession, defaults: dict[str, object] | None = None
    ) -> DataFrame:
        """Logical concatenation of all segments with globally-offset
        row_id; missing columns null-filled by unionByName, then
        default-filled per `defaults` (MultiDf default columns,
        MultiDf.scala:125-142).

        Also sweeps crash orphans (reconcile): a store that died between a
        segment write and its manifest publish, and is only ever READ from
        then on, would otherwise keep the orphan dirs forever — compact-time
        sweeping alone never reaches it. Safe under concurrent writers:
        reconcile only removes dirs referenced by NO retained manifest
        version AND older than the orphan grace window, so another
        writer's written-but-unpublished segment survives the sweep."""
        docs: dict[int, dict] = {}
        self._sweep(docs)
        return self._live(spark, docs[max(docs)], defaults=defaults)

    def pruned_entries(
        self, predicates: list[tuple], at_version: int | None = None
    ) -> list[dict]:
        """Manifest entries surviving zone-map pruning for conjunctive
        range ``predicates`` = [(col, lo, hi), ...] (None = unbounded).
        Driver-side metadata only — no Spark job. ``at_version`` prunes a
        time-travel snapshot's manifest instead of the current one."""
        entries = self._doc_at(at_version)["segments"]
        return [e for e in entries if _entry_overlaps(e, predicates)]

    def open_pruned(
        self,
        spark: SparkSession,
        predicates: list[tuple],
        defaults: dict[str, object] | None = None,
        at_version: int | None = None,
    ) -> DataFrame:
        """Zone-map-pruned open: segments whose footer min/max stats prove
        they cannot satisfy the conjunctive range ``predicates`` are skipped
        BEFORE the scan — at 100 TB a time- or key-ordered ingest means a
        range query touches a handful of segments instead of every file
        (the manifest is the zone map; Parquet row-group stats then prune
        WITHIN the surviving segments for free). Global row_ids are
        unchanged — each entry keeps its manifest offset, so the result is
        exactly ``open()`` minus provably-empty segments. The caller still
        applies the actual row filter; pruning is a superset guarantee,
        identical to the reference's segment-skipping reads
        (MultiDf.scala:33-184 reads only the segments a view touches)."""
        docs: dict[int, dict] = {}
        self._sweep(docs)
        v = max(docs) if at_version is None else at_version
        doc = docs[v] if v in docs else self.manifest_doc_at(v)
        # prune the SAME doc the tombstones come from (one read)
        return self._live(
            spark,
            doc,
            [e for e in doc["segments"] if _entry_overlaps(e, predicates)],
            defaults,
        )

    def pruned_entries_point(
        self, col: str, value, at_version: int | None = None
    ) -> list[dict]:
        """Manifest entries that MAY contain ``col = value`` per their
        Bloom bitsets — pure driver-side metadata, no Spark job (the
        sha256 bit positions are recomputed in Python; the build wrote
        them with the identical Spark expression). Segments without a
        bloom for ``col`` are conservatively kept. This is the POINT
        twin of zone-map pruning: an unsorted high-cardinality key (a
        user id in arrival-ordered data) has a useless min/max envelope,
        but its bloom prunes every segment the user never touched —
        Parquet bloom filters / Delta file skipping, at segment grain."""
        return self._pruned_point(self._doc_at(at_version)["segments"], col, value)

    @staticmethod
    def _pruned_point(entries: list[dict], col: str, value) -> list[dict]:
        """Bloom pruning over an ALREADY-READ entry list — planners that
        stack several pruning layers read the manifest doc once and thread
        it through (re-reading between layers lets a concurrent commit
        produce a mixed-version plan: e.g. old tombstones applied to new
        survivors). Probe values are canonicalized against the bloom's
        stored column kind (_bloom_probe_key) so Spark's coercing equality
        (1.0 == 1) never turns into a false-negative prune."""
        return [
            e
            for e in entries
            if (b := (e.get("blooms") or {}).get(col)) is None
            or _bloom_may_contain(b, value)
        ]

    def open_point(
        self,
        spark: SparkSession,
        col: str,
        value,
        defaults: dict[str, object] | None = None,
        at_version: int | None = None,
    ) -> DataFrame:
        """Bloom-pruned open for a point predicate: exactly ``open()``
        minus segments whose bloom proves ``col`` never equals ``value``
        (no false negatives — a superset guarantee like open_pruned; the
        caller still applies the row filter). Global row_ids unchanged."""
        doc = self._doc_at(at_version)
        return self._live(
            spark, doc, self._pruned_point(doc["segments"], col, value), defaults
        )

    def approx_distinct(self, spark: SparkSession, col: str) -> int:
        """Store-wide approximate distinct count of ``col`` from the
        per-segment HLL sketches alone — a union over ~2 KB manifest blobs
        (one tiny k-row job), NEVER a data scan: the metadata shortcut a
        100 TB catalog answers cardinality questions with. Requires every
        segment to carry the sketch (written via
        ``write_segment(sketch_cols=[...])``); raises naming the segments
        that don't, because an estimate silently missing rows is worse
        than no estimate."""
        import base64

        entries = self.manifest()
        missing = [
            e["segment_id"] for e in entries if col not in (e.get("sketches") or {})
        ]
        if missing:
            raise ValueError(
                f"no {col!r} sketch for segments {missing}; write every "
                f"segment with sketch_cols=[{col!r}] — compaction, purge and "
                "optimize_zorder keep a sketch only when every segment they "
                "absorb carries it"
            )
        blobs = [
            (bytearray(base64.b64decode(e["sketches"][col])),) for e in entries
        ]
        row = (
            spark.createDataFrame(blobs, "s binary")
            .agg(F.hll_sketch_estimate(F.hll_union_agg("s")).alias("e"))
            .collect()[0]
        )
        return int(row["e"])

    @staticmethod
    def _union_sketches(spark: SparkSession, run: list[dict]) -> dict | None:
        """Merged sketches for a compaction run: HLL union per column —
        sketch(A ∪ B) == union(sketch(A), sketch(B)) by construction, so
        compaction composes sketches without rescanning data. Only columns
        sketched in EVERY run member survive (a gap would silently
        undercount)."""
        import base64

        sk_sets = [set((e.get("sketches") or {}).keys()) for e in run]
        cols = sorted(set.intersection(*sk_sets)) if sk_sets else []
        if not cols:
            return None
        rows = [
            tuple(
                bytearray(base64.b64decode(e["sketches"][c])) for c in cols
            )
            for e in run
        ]
        schema = ", ".join(f"`{c}` binary" for c in cols)
        merged = (
            spark.createDataFrame(rows, schema)
            .agg(*[F.hll_union_agg(c).alias(c) for c in cols])
            .collect()[0]
        )
        return {
            c: base64.b64encode(bytes(merged[c])).decode("ascii") for c in cols
        }

    def open_at(
        self,
        spark: SparkSession,
        version: int,
        defaults: dict[str, object] | None = None,
    ) -> DataFrame:
        """Time-travel open: the store exactly as of snapshot ``version``
        (segment files are immutable, so an old manifest against them IS
        the old store — and a pre-delete manifest lists no tombstones, so
        deleted rows are still visible there until vacuum). Raises if the
        version — or a segment dir it needs — has been vacuumed."""
        doc = self.manifest_doc_at(version)
        entries = doc["segments"]
        missing = [
            e["segment_id"]
            for e in entries
            if not fsio.is_dir(self._seg_path(e["segment_id"]))
        ]
        if missing:
            raise ValueError(
                f"snapshot version {version} is no longer readable: "
                f"segments {missing} were vacuumed"
            )
        return self._live(spark, doc, defaults=defaults)

    def _live(
        self,
        spark: SparkSession,
        doc: dict,
        entries: list[dict] | None = None,
        defaults: dict[str, object] | None = None,
    ) -> DataFrame:
        """The tombstone-filtered view of ``entries`` (default: all of
        ``doc``'s segments) under ``doc``'s tombstones — entries and
        tombstones from ONE manifest read, so no commit can land between
        them. A pruned subset that is empty keeps the store's data schema
        (callers apply a row filter to the result; a row_id-only frame
        would break them): one segment is planned, filtered to false."""
        segs = doc["segments"]
        if entries is None:
            entries = segs
        if entries or not segs:
            data = self._open_entries(spark, entries, defaults)
        else:
            data = self._open_entries(spark, segs[:1], defaults).filter(F.lit(False))
        return self._apply_tombstones(spark, data, doc["tombstones"])

    def _apply_tombstones(
        self, spark: SparkSession, df: DataFrame, tombstones: list[dict]
    ) -> DataFrame:
        """Filter out tombstoned rows: one anti join against the union of
        tombstone id files — broadcast while the dead set is small (the
        overwhelmingly common takedown shape), shuffled hash anti join
        once it isn't. Deleted rows stay physically present in segment
        files (and in stored index postings, as upper bounds) until
        purge/compaction materializes the delete — Lucene's liveDocs
        model, which is what keeps a takedown at 100 TB a metadata-plus-
        id-list operation instead of a corpus rewrite."""
        if not tombstones:
            return df
        dead = spark.read.parquet(
            *[os.path.join(self.path, t["file"]) for t in tombstones]
        ).select("row_id")
        if sum(t["n"] for t in tombstones) <= 5_000_000:
            dead = F.broadcast(dead)
        return df.join(dead, "row_id", "left_anti")

    def delete_where(self, spark: SparkSession, predicate) -> dict:
        """Row-level delete (takedown / right-to-be-forgotten): tombstone
        every LIVE row matching ``predicate`` (a Column or SQL string)
        without touching segment files. The matching global row_ids are
        written as one id-list file; readers anti-join it from then on.
        Global ids are invariant under compaction, so tombstones never
        need rebasing. Returns {"file", "n"}; n == 0 publishes nothing.

        Concurrency: commits via the same OCC loop as appends. Deletes
        commute with appends and compactions; racing a concurrent DELETE,
        the overlap is subtracted from this tombstone before republishing
        so tombstone sets stay disjoint and ``live_rows`` stays exact.
        Racing a concurrent PURGE does NOT commute — the purge renumbered
        the row space, so this delete's already-written row_ids name
        different rows now; the retry detects the renumber epoch bump and
        raises ManifestConflictError ("re-run delete_where") instead of
        republishing stale ids (which would silently hide the WRONG rows
        while the rows the caller asked to delete stay live)."""
        pred = F.expr(predicate) if isinstance(predicate, str) else predicate
        return self._delete(
            spark, "delete_where", lambda live: live.filter(pred).select("row_id")
        )

    def delete_rows(
        self, spark: SparkSession, ids: DataFrame, on: str = "row_id"
    ) -> dict:
        """Tombstone the live rows whose ``on`` column matches ``ids``
        (a one-column DataFrame of keys) — the SET-driven twin of
        delete_where, for callers whose delete list is itself a DataFrame
        (a change-feed delta's tombstoned ids, an external takedown list):
        a driver-side IN-list predicate would collect the set and cap its
        size; the semi join streams it. Naturally idempotent — a replay
        finds the rows already dead and publishes nothing (n == 0) —
        which is what the change-feed mirror's at-least-once delivery
        leans on. Same OCC/purge-race contract as delete_where."""
        key = ids.columns[0]
        keyed = ids.select(F.col(key).alias(on)).distinct()
        return self._delete(
            spark,
            "delete_rows",
            lambda live: live.join(keyed, on, "left_semi").select("row_id"),
        )

    def _delete(self, spark: SparkSession, op: str, ids_of) -> dict:
        """Shared tombstone commit: ``ids_of(live_df) -> row_id df``
        computes the victim set against the CURRENT live view (see
        delete_where for the full concurrency contract)."""
        docs: dict[int, dict] = {}
        doc, v = self._head(docs)
        epoch = doc["renumber_epoch"]
        del_id = self._claim_dir("del", len(doc["tombstones"]))
        fname = f"del-{del_id:05d}"
        fpath = os.path.join(self.path, fname)
        ids_of(self._live(spark, doc)).write.mode("overwrite").parquet(fpath)
        # exact count from the Parquet footers just written — driver-side
        # metadata, zero extra Spark jobs (the write already produced them)
        n = _parquet_dir_rows(fpath)
        known = {t["file"] for t in doc["tombstones"]}

        def rebuild(doc: dict) -> dict | None:
            nonlocal n
            if doc["renumber_epoch"] != epoch:
                # a purge landed after our read: our id-list names other
                # rows now (writeMergedDf's single-writer renumbering
                # discipline, Dfs.scala:222-228, made detectable)
                raise ManifestConflictError(
                    f"{op} raced a purge in {self.path}: the row space was "
                    "renumbered, so the computed row_ids are stale — re-run "
                    f"{op} against the fresh store"
                )
            newly = [x for x in doc["tombstones"] if x["file"] not in known]
            known.update(x["file"] for x in newly)
            if newly:
                # a concurrent delete landed: keep sets disjoint by
                # subtracting its ids from ours (rewrite is safe — our
                # file is not yet referenced by any manifest)
                mine = spark.read.parquet(fpath).join(
                    spark.read.parquet(
                        *[os.path.join(self.path, x["file"]) for x in newly]
                    ).select("row_id"),
                    "row_id",
                    "left_anti",
                )
                tmp = fpath + ".rewrite"
                mine.write.mode("overwrite").parquet(tmp)
                fsio.remove_tree(fpath)
                fsio.rename_dir(tmp, fpath)
                n = _parquet_dir_rows(fpath)
            if n == 0:
                return None
            return dict(doc, tombstones=doc["tombstones"] + [{"file": fname, "n": n}])

        if self._commit(op, docs, v, rebuild, [fpath]) is None:
            return {"file": None, "n": 0}
        return {"file": fname, "n": n}

    def merge_by_key(
        self,
        spark: SparkSession,
        source: DataFrame,
        on: str | list[str],
        when_matched: str = "update",
        insert: bool = True,
        order_keys: list[str] | None = None,
        index_conf: IndexConf | None = None,
        sketch_cols: list[str] | None = None,
        bloom_cols: list[str] | None = None,
        materialize_source: bool = True,
    ) -> dict:
        """MERGE INTO by key (Delta-style upsert), merge-on-read: ONE
        atomic commit that tombstones the live target rows whose ``on``
        key appears in ``source`` and appends the replacement/new rows as
        one immutable segment — no target segment is ever rewritten, so a
        100 TB upsert costs one id-list + one source-sized segment write
        plus a manifest publish, and compaction/purge materialize it
        later (the same liveDocs economics as delete_where). The
        reference's append-only model has no row mutation at all
        (SURVEY.md §1.4); this is its lakehouse extension, composed
        entirely from the store's existing delete + append primitives.

        ``when_matched``: ``'update'`` replaces matched target rows with
        the source rows (classic upsert), ``'delete'`` removes them,
        ``'ignore'`` keeps them (insert-only merge). ``insert`` controls
        whether source rows with no matching target key are appended.
        Source rows are appended as given — a key occurring twice in
        ``source`` yields two live rows, as in SQL MERGE with multiple
        not-matched inserts; dedupe upstream if that is not wanted.

        Row-id contract: survivors keep their global row_ids; appended
        rows get fresh ids at the end of the row space (ordered by
        ``order_keys`` when given). The change feed therefore shows an
        upsert as delete(old_id) + insert(new row) in one version — the
        CDC pre/post-image shape consumers already handle.

        Concurrency: SERIALIZABLE, abort-don't-retry. Appends and deletes
        commute and the commit loop retries them, but a merge's read set
        is the whole key column of the snapshot it planned against — ANY
        intervening commit may have added or removed rows with matching
        keys, so retrying against a fresh manifest would silently merge
        against state the caller never saw. A lost race cleans its staged
        files and raises ManifestConflictError ("re-run"); this is the
        same first-writer-wins contract Delta enforces for MERGE at its
        Serializable isolation level, and the renumber-epoch rule for
        racing purges falls out for free (a purge is just another
        intervening commit)."""
        if when_matched not in ("update", "delete", "ignore"):
            raise ValueError(f"unknown when_matched mode: {when_matched!r}")
        keys = [on] if isinstance(on, str) else list(on)
        if materialize_source:
            # Evaluate ``source`` exactly ONCE. The merge runs two
            # independent Spark jobs over it — the tombstone-victim
            # semi-join and the appended-segment write — and a
            # non-deterministic source plan (rand(), a re-read of mutable
            # input, a non-deterministic UDF) could tombstone a key set
            # inconsistent with the rows actually appended, committing
            # duplicate or lost keys in one version. localCheckpoint
            # truncates lineage, so the second job CANNOT recompute a
            # different answer (a lost block fails the job instead of
            # silently re-evaluating — the correct failure mode for a
            # transactional write). Delta materializes the MERGE source
            # for exactly this reason. Costs one eager pass over the
            # source; callers with a provably deterministic, already-
            # persisted source may pass materialize_source=False.
            source = source.localCheckpoint(eager=True)
        docs: dict[int, dict] = {}
        doc, v = self._head(docs)
        live = self._live(spark, doc)
        # keys-only frames keep both joins narrow: the semi/anti sides
        # carry (row_id, keys) / keys, never full rows; AQE broadcasts
        # whichever side turns out small at runtime
        src_keys = source.select(*keys).distinct()
        staged: list[str] = []
        tomb = None
        # empty target (first batch of a streaming upsert): nothing can
        # match — skip the key joins entirely (the empty store's open
        # yields a row_id-only frame the key join couldn't resolve on)
        empty_target = not doc["segments"]
        if when_matched in ("update", "delete") and not empty_target:
            victims = live.join(src_keys, keys, "left_semi").select("row_id")
            del_id = self._claim_dir("del", len(doc["tombstones"]))
            fname = f"del-{del_id:05d}"
            fpath = os.path.join(self.path, fname)
            victims.write.mode("overwrite").parquet(fpath)
            n_dead = _parquet_dir_rows(fpath)
            if n_dead == 0:
                fsio.remove_tree(fpath)
            else:
                tomb = {"file": fname, "n": n_dead}
                staged.append(fpath)
        if empty_target or (when_matched == "update" and insert):
            appended = source if insert else None
        elif when_matched == "update" or insert:
            # update-only keeps the matched source rows, insert-only the
            # unmatched ones
            how = "left_semi" if when_matched == "update" else "left_anti"
            appended = source.join(live.select(*keys).distinct(), keys, how)
        else:
            appended = None
        entry = None
        if appended is not None:
            # row_id is the store's reserved stamping column: ids carried
            # in from a source read (another store, a change feed) are
            # meaningless in THIS store's row space — re-stamp
            appended = appended.drop("row_id")
            (seg_id,) = self._new_seg_ids(doc["segments"])
            seg_path = self._seg_path(seg_id)
            (entry,) = self._write_segments(
                appended, [seg_id], index_conf=index_conf, order_keys=order_keys,
                sketch_cols=sketch_cols, bloom_cols=bloom_cols,
            )
            if entry["n_rows"] == 0:
                fsio.remove_tree(seg_path)
                entry = None
            else:
                staged.append(seg_path)
        if tomb is None and entry is None:
            return {"matched": 0, "appended": 0, "tombstone": None, "segment": None}
        new_doc = self._append_to(doc, [entry] if entry else [])
        new_doc["tombstones"] = doc["tombstones"] + ([tomb] if tomb else [])
        self._commit("merge_by_key", docs, v, new_doc, staged)
        return {
            "matched": tomb["n"] if tomb else 0,
            "appended": entry["n_rows"] if entry else 0,
            "tombstone": tomb,
            "segment": entry,
        }

    def live_rows(self) -> int:
        """Exact live row count from manifest metadata alone: physical
        rows minus tombstoned rows (tombstone sets are disjoint by
        construction — delete_where only tombstones live rows and
        subtracts concurrent overlaps on retry)."""
        doc = self.manifest_doc()
        return sum(e["n_rows"] for e in doc["segments"]) - sum(
            t["n"] for t in doc["tombstones"]
        )

    def purge(
        self,
        spark: SparkSession,
        index_conf: IndexConf | None = None,
        defaults: dict[str, object] | None = None,
    ) -> dict | None:
        """Materialize tombstones: rewrite the LIVE rows as one fresh
        segment with a dense row_id space (original order preserved) and
        an empty tombstone list — Lucene's forced merge dropping deleted
        docs, and the point where deleted bytes actually leave storage
        (after vacuum reclaims the old version's files). No-op without
        tombstones.

        A purge is the renumbering rewrite of :meth:`optimize_zorder` with
        one segment, ordered by the old row_id: stored indexes are rebuilt
        (pass index_conf) rather than shifted, sketches and blooms that
        every old segment carried are rebuilt over the live rows, the
        renumber epoch bumps, and a race with ANY concurrent commit
        surfaces as ManifestConflictError (re-run against the fresh
        store)."""
        docs: dict[int, dict] = {}
        doc, v = self._head(docs)
        if not doc["tombstones"]:
            return None
        live = self._live(spark, doc, defaults=defaults)
        return self._renumber(docs, v, live, [], 1, index_conf, "purge")[0]

    def _renumber(
        self,
        docs: dict[int, dict],
        v: int,
        live: DataFrame,
        keys: list[str],
        n_segments: int,
        index_conf: IndexConf | None,
        op: str,
    ) -> list[dict]:
        """The renumbering rewrite shared by purge and optimize_zorder:
        stamp dense new row ids over the LIVE rows of ``docs[v]`` in order
        of ``keys`` then the old row_id (ties keep their prior order), split
        them into up to ``n_segments`` segments of contiguous ids, and
        publish them as the whole store — tombstones materialized away,
        batch_keys carried, sketch and bloom columns that every old
        segment carried rebuilt, and the renumber epoch bumped so every
        holder of pre-rewrite row_ids (delete_where retries, change-feed
        consumers) detects that its ids name different rows now. It
        rewrote the whole row space, so a race with ANY concurrent commit
        is stale by construction: the staged segments are removed and the
        conflict raised, never a partial layout."""
        stamped, n = with_row_id(
            live.withColumnRenamed("row_id", "_oldid"), [*keys, "_oldid"],
            return_count=True,
        )
        stamped = stamped.drop(*keys, "_oldid")
        m = max(1, min(n_segments, n))
        size = -(-n // m)  # ceil
        sizes = [s for s in (min(size, n - k * size) for k in range(m)) if s > 0]
        if len(sizes) > 1:
            stamped = stamped.localCheckpoint(eager=False)
        doc = docs[v]
        segs = doc["segments"]

        def shared(field: str) -> list[str]:
            return sorted(set.intersection(*[set(e.get(field) or ()) for e in segs]))

        seg_ids = self._new_seg_ids(segs, len(sizes) or 1)
        entries = self._write_segments(
            stamped, seg_ids, sizes or [0], index_conf,
            sketch_cols=shared("sketches"),
            bloom_cols=_bloomable(stamped, shared("blooms")),
        )
        self._carry_batch_keys(entries[0], segs)
        new_doc = self._append_to(dict(doc, segments=[], tombstones=[]), entries)
        new_doc["renumber_epoch"] += 1
        self._commit(op, docs, v, new_doc, [self._seg_path(sid) for sid in seg_ids])
        self._sweep(docs)
        return entries

    def optimize_zorder(
        self,
        spark: SparkSession,
        cols: list[str],
        bits: int = 12,
        n_segments: int | None = None,
        index_conf: IndexConf | None = None,
        defaults: dict[str, object] | None = None,
        bounds: "dict[str, tuple[int, int]] | None" = None,
    ) -> list[dict]:
        """OPTIMIZE ZORDER BY — rewrite the store's LIVE rows clustered by
        the Morton interleave of ``cols`` (integer columns), split into
        ``n_segments`` segments of contiguous new row ids. Each segment's
        zone-map envelope then covers a z-cluster, so range predicates on
        ANY interleaved column prune segments via the existing
        open_pruned/smart_filter* layers — multi-dimensional pruning with
        zero new read-path code (the lakehouse OPTIMIZE ZORDER layout,
        e.g. Delta's, expressed through this store's own primitives).

        Column rebase bounds come from the MANIFEST zone maps (driver-side
        metadata — no stats job; one fallback agg only for columns the
        footers could not bound). Like ``purge`` (which is this rewrite
        with one segment) it RENUMBERS: tombstones are materialized away
        and the renumber epoch bumps, so change-feed consumers get the
        clean FullRefreshRequired signal and racing writers' stale
        id-lists are detected. A conflict with ANY concurrent commit
        surfaces as ManifestConflictError (re-run against the fresh
        store), never a partial layout.

        Scale: one full rewrite of live rows — the same cost class as
        purge/compact, scheduled at the same maintenance cadence; the sort
        is a required range distribution (AQE-sized), and each segment
        write is a row_id-range slice of the one checkpointed stamped
        plan."""
        from iodf_spark.functions.zorder import zorder_key_expr

        if not cols:
            raise ValueError("optimize_zorder needs at least one column")
        docs: dict[int, dict] = {}
        doc, v = self._head(docs)
        if not doc["segments"]:
            return []
        live = self._live(spark, doc, defaults=defaults)
        # rebase bounds: caller-supplied domains win (a fixed, data-
        # independent layout — also what makes the rewrite reproducible
        # by an external engine); otherwise fold the per-segment zone
        # maps driver-side; a column without footer stats in some segment
        # falls back to ONE min/max agg over the live rows
        mins: dict[str, int] = {}
        maxs: dict[str, int] = {}
        missing = []
        for c in cols:
            if bounds and c in bounds:
                mins[c], maxs[c] = int(bounds[c][0]), int(bounds[c][1])
                continue
            stat_bounds = [e.get("stats", {}).get(c) for e in doc["segments"]]
            if any(b is None for b in stat_bounds):
                missing.append(c)
                continue
            mins[c] = min(int(b[0]) for b in stat_bounds)
            maxs[c] = max(int(b[1]) for b in stat_bounds)
        if missing:
            row = live.agg(
                *[F.min(c).alias(f"_lo_{c}") for c in missing],
                *[F.max(c).alias(f"_hi_{c}") for c in missing],
            ).collect()[0]
            for c in missing:
                if row[f"_lo_{c}"] is None:
                    raise ValueError(f"optimize_zorder: column {c!r} is all-NULL")
                mins[c] = int(row[f"_lo_{c}"])
                maxs[c] = int(row[f"_hi_{c}"])
        zkey = zorder_key_expr(
            cols,
            [mins[c] for c in cols],
            [maxs[c] - mins[c] for c in cols],
            "spark",
            bits=bits,
        )
        m = int(n_segments) if n_segments else len(doc["segments"])
        return self._renumber(
            docs, v, live.withColumn("_zkey", F.expr(zkey)), ["_zkey"], m,
            index_conf, "optimize_zorder",
        )

    def _open_entries(
        self,
        spark: SparkSession,
        entries: list[dict],
        defaults: dict[str, object] | None = None,
    ) -> DataFrame:
        if not entries:
            return spark.createDataFrame([], "row_id long")
        parts = []
        for e in entries:
            seg = spark.read.parquet(self._seg_path(e["segment_id"], "data"))
            parts.append(
                seg.withColumn("row_id", F.col("row_id") + F.lit(e["row_id_offset"]))
            )
        widened = _widen_types(parts)
        out = widened[0]
        for p in widened[1:]:
            out = out.unionByName(p, allowMissingColumns=True)
        if defaults:
            for col, dv in defaults.items():
                if col in out.columns:
                    out = out.withColumn(col, F.coalesce(F.col(col), F.lit(dv)))
        return out

    def _plan_read(
        self,
        spark: SparkSession,
        preds: list[tuple],
        keep: "Callable[[Iterable[bool]], bool]",
        defaults: dict[str, object] | None,
    ) -> tuple[DataFrame, DataFrame | None, int, dict]:
        """The prelude every store planner shares: ONE manifest read (so
        entries, tombstones and the total row count come from the SAME doc
        — re-reading between pruning layers lets a commit land in the gap
        and yields a mixed-version plan, e.g. old tombstones over new
        survivors), manifest pruning (a segment survives when ``keep``
        holds over its per-predicate verdicts: zone maps for every
        predicate, blooms for equalities — zero Spark jobs), and the
        pruned, tombstone-filtered data. Returns (data, merged index of
        the survivors or None when some survivor does not cover every
        predicate column, total rows, plan report)."""
        doc = self.manifest_doc()
        entries = doc["segments"]
        survivors = [
            e for e in entries if keep(_pred_allows(e, p) for p in preds)
        ]
        plan = {
            "segments": len(entries),
            "survivors": len(survivors),
            "pruned": len(entries) - len(survivors),
        }
        data = self._live(spark, doc, survivors, defaults)
        covered = survivors and all(
            e.get("indexed")
            and all(p[0] in e.get("indexed_cols", ()) for p in preds)
            for e in survivors
        )
        ix = self._merged_index_frame(spark, survivors, base=0) if covered else None
        return data, ix, sum(e["n_rows"] for e in entries), plan

    def smart_filter(
        self,
        spark: SparkSession,
        col: str,
        value,
        threshold: float = 0.1,
        defaults: dict[str, object] | None = None,
    ) -> tuple[DataFrame, dict]:
        """ONE entry point for a point predicate over the whole store,
        stacking every pruning layer the store maintains (the store-level
        rendition of the reference's predicate -> access-path planning,
        IndexedDf.scala:71-96):

        1. MANIFEST (zero Spark jobs): zone-map envelopes and Bloom
           bitsets drop every segment that provably cannot hold
           ``col = value``;
        2. INDEX: when every surviving segment is indexed, the surviving
           posting lists answer the predicate — routed index-vs-scan by
           the key's STORED selectivity exactly like
           ``access.smart_filter``;
        3. SCAN: otherwise the filter is pushed into the (pruned,
           tombstone-filtered) Parquet scan.

        Returns (matching rows with global row_id, plan report). The
        predicate column must be indexed as raw values (default
        analyzer) for the index path to mean equality — same caveat as
        ``access.smart_filter``."""
        data, ix, total, plan = self._plan_read(spark, [(col, value)], all, defaults)
        if ix is not None:
            rows, plan["path"] = access.smart_filter(
                data, ix, col, value, total, threshold,
                bucket_size=self.bucket_size,
            )
            return rows, plan
        plan["path"] = "pruned_all" if not plan["survivors"] else "scan"
        return data.filter(access._scan_pred((col, value))), plan

    def smart_filter_all(
        self,
        spark: SparkSession,
        preds: list[tuple],
        threshold: float = 0.1,
        defaults: dict[str, object] | None = None,
    ) -> tuple[DataFrame, dict]:
        """Conjunctive store-level planning: ``preds`` mixes equality
        2-tuples ``(col, value)`` and range 3-tuples ``(col, lo, hi)``
        exactly like ``access.smart_filter_all``, but pruning uses the
        STORE's metadata first — ranges and equalities against zone-map
        envelopes, equalities additionally against Bloom bitsets — all
        driver-side; the surviving segments then route each predicate to
        the stored index or the pushed-down scan by stored selectivity
        (one batched plan_stats aggregation for every key). At 100 TB a
        `user = X AND ts BETWEEN a AND b` touches the handful of segments
        both layers allow, then posting lists, never the corpus."""
        if not preds:
            raise ValueError("smart_filter_all needs at least one predicate")
        data, ix, total, plan = self._plan_read(spark, preds, all, defaults)
        if ix is not None:
            rows, routed = access.smart_filter_all(
                data, ix, preds, total, threshold,
                bucket_size=self.bucket_size,
            )
            plan["routed"] = {
                k: [p[0] for p in v] for k, v in routed.items()
            }
            return rows, plan
        plan["routed"] = {"index": [], "scan": [p[0] for p in preds]}
        for p in preds:
            data = data.filter(access._scan_pred(p))
        return data, plan

    def smart_filter_any(
        self,
        spark: SparkSession,
        preds: list[tuple],
        threshold: float = 0.1,
        defaults: dict[str, object] | None = None,
    ) -> tuple[DataFrame, dict]:
        """Disjunctive store-level planning (rows matching ANY predicate;
        equality 2-tuples + range 3-tuples mixed): a segment survives if
        ANY arm allows it (zone maps for ranges/equalities, blooms for
        equalities), then ``access.smart_filter_any`` decides one
        union-of-probes semi join vs one OR-filter scan over the
        survivors from the stored stats."""
        if not preds:
            raise ValueError("smart_filter_any needs at least one predicate")
        data, ix, total, plan = self._plan_read(spark, preds, any, defaults)
        if ix is not None:
            rows, plan["path"] = access.smart_filter_any(
                data, ix, preds, total, threshold,
                bucket_size=self.bucket_size,
            )
            return rows, plan
        plan["path"] = "scan"
        return data.filter(access._scan_any(preds)), plan

    def open_index(self, spark: SparkSession) -> DataFrame:
        """Multi-segment index view: per-segment posting rows shifted into
        the global row space (MultiBits 'shard' alignment,
        utils/MultiBits.scala:11-23).

        Fast path — every segment offset bucket-aligned: the shift is a
        bucket renumber (dense words unchanged, id arrays + constant), and
        segment row spaces are disjoint per bucket, so the view is a pure
        union: NO shuffle at all. General path: per-segment posting rows
        shift BUCKET-LOCALLY (rowset.shift_posting_contribs — sparse
        arrays split in place, dense words word/bit-shift, never exploded
        to ids) and one posting-ROW shuffle regroups the straddling
        buckets; both encodings survive the shift."""
        entries = [e for e in self.manifest() if e.get("indexed")]
        if not entries:
            raise ValueError("no indexed segments")
        return self._merged_index_frame(spark, entries, base=0)

    def _merged_index_frame(
        self, spark: SparkSession, entries: list[dict], base: int
    ) -> DataFrame:
        """Union of the given segments' stored indexes with every posting
        row shifted to (row_id_offset - base) — base=0 yields the global
        multi-segment view (open_index); base=run-start yields the
        run-local merged index compaction persists (writeMergedIndexedDf,
        Dfs.scala:476-487, merges stored posting lists instead of
        re-deriving the index from data)."""
        from iodf_spark.plans.rowset import (
            _POPCOUNT,
            regroup_posting_contribs,
            shift_posting_contribs,
        )

        bs = self.bucket_size
        key_cols = [
            "col_name", "value_kind", "value_bool", "value_long",
            "value_double", "value_str",
        ]
        aligned = all((e["row_id_offset"] - base) % bs == 0 for e in entries)
        parts = []
        for e in entries:
            ix = spark.read.parquet(self._seg_path(e["segment_id"], "index"))
            if "words" not in ix.columns:
                ix = ix.withColumn("words", F.lit(None).cast("array<long>"))
            off = e["row_id_offset"] - base
            if aligned and off == 0:
                parts.append(ix.select(*key_cols, "bucket", "row_ids", "words", "f"))
            elif aligned:
                parts.append(
                    ix.select(
                        *key_cols,
                        (F.col("bucket") + off // bs).alias("bucket"),
                        F.expr(f"transform(row_ids, _x -> _x + {off}L)").alias("row_ids"),
                        "words",
                        "f",
                    )
                )
            else:
                parts.append(shift_posting_contribs(ix, key_cols, off, bs))
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        if aligned:
            return out
        return regroup_posting_contribs(out, key_cols, bs).withColumn(
            "f", F.expr(_POPCOUNT)
        )

    def have_segments(
        self,
        build: "Callable[[], DataFrame]",
        order_keys: list[str] | None = None,
        index_conf: IndexConf | None = None,
    ) -> dict | None:
        """haveIndexedDf (Dfs.scala:546-554): create-if-absent memoization —
        build and write only when the store is empty; idempotent ingest.
        Two racing creators converge on ONE segment: the initial write
        carries a reserved batch_key, so the race loser's commit retry
        finds it committed, adopts the winner's entry, and removes its own
        files (write_segment's replayed-producer rule)."""
        if self.manifest():
            return None
        return self.write_segment(
            build(),
            order_keys=order_keys,
            index_conf=index_conf,
            batch_key="__have_init__",
        )

    # -- maintenance ---------------------------------------------------------

    def compact(
        self,
        spark: SparkSession,
        defaults: dict[str, object] | None = None,
        index_conf: IndexConf | None = None,
    ) -> "SegmentStore":
        """writeMergedDf (Dfs.scala:222-228): rewrite all segments as one.
        Pure order-preserving concatenation — global row_ids become the new
        segment's local ids. Index is rebuilt in the merged row space
        (writeMergedIndexedDf, Dfs.scala:476-487).

        Crash-safe ordering ('data first, manifest last'): the merged
        segment is written under the next non-colliding seg-<id> name in
        place and the manifest is atomically republished to point at it;
        the old segment dirs stay, referenced by older versions, until
        vacuum drops those — a crash at any point leaves a manifest whose
        segments all exist (old or new), and the orphan sweep after the
        publish is idempotent.

        Delegates to :meth:`compact_run` over the whole manifest — so with
        ``index_conf=None`` and all-indexed inputs the stored indexes are
        MERGED (posting-list shift), not dropped; an explicit index_conf
        forces a rebuild. A single-segment (or empty) store is already
        compact: no-op."""
        docs: dict[int, dict] = {}
        doc, v = self._head(docs)
        if doc["segments"]:
            self._compact_run(
                spark, docs, v, 0, len(doc["segments"]), defaults, index_conf
            )
        return self

    def compact_run(
        self,
        spark: SparkSession,
        start: int,
        end: int,
        defaults: dict[str, object] | None = None,
        index_conf: IndexConf | None = None,
    ) -> dict:
        """Merge the ADJACENT manifest run [start, end) into ONE segment,
        leaving every other segment untouched — the partial-merge primitive
        tiered compaction is built from. Adjacency is required because the
        store is an ordered concatenation: merging non-neighbors would
        reorder rows. Global row_ids are invariant — the merged segment's
        local ids are the run's global ids rebased to its first offset, and
        all other entries keep their offsets. Crash-safe like compact():
        data first, manifest last, orphan sweep after."""
        docs: dict[int, dict] = {}
        v = self._head(docs)[1]
        return self._compact_run(spark, docs, v, start, end, defaults, index_conf)

    def _compact_run(
        self, spark, docs: dict[int, dict], v: int, start: int, end: int,
        defaults: dict[str, object] | None, index_conf: IndexConf | None,
    ) -> dict:
        """:meth:`compact_run` of the run [start, end) of ``docs[v]``."""
        entries = docs[v]["segments"]
        if not (0 <= start < end <= len(entries)):
            raise ValueError(f"run [{start}, {end}) out of range 0..{len(entries)}")
        if end - start == 1:
            self._sweep(docs)
            return entries[start]
        run = entries[start:end]
        base = run[0]["row_id_offset"]
        rebased = [dict(e, row_id_offset=e["row_id_offset"] - base) for e in run]
        merged = self._open_entries(spark, rebased, defaults)
        index_df = indexed_cols = None
        if index_conf is None and all(e.get("indexed") for e in run):
            # MERGE the run's stored indexes instead of dropping (or
            # re-deriving) them — the reference's writeMergedIndexedDf
            # semantics (Dfs.scala:476-487): posting lists shift to the
            # run-local row space (bucket-renumber when offsets are
            # bucket-aligned; bucket-local word/bit shifts otherwise) and
            # no document is re-tokenized, which at 100 TB is the
            # difference between metadata-sized and corpus-sized compaction
            # index cost. The merged index goes through the same writer
            # and layout as every built one.
            index_df = self._merged_index_frame(spark, run, base=base)
            indexed_cols = sorted(
                set.intersection(*[set(e.get("indexed_cols", ())) for e in run])
            )
        # blooms compose like sketches: bitwise OR is exactly the bloom of
        # the union (same hash geometry), so compaction keeps point-skip
        # metadata without rescanning data — the free fast path. But a
        # union of healthy blooms carries k·N keys in a bitset sized for
        # k·n, so big merges SATURATE it; those columns (and mismatched
        # geometries) are instead REBUILT at the auto geometry for the
        # merged row count — compaction is already rewriting this data,
        # so one extra aggregation per column restores the target fpp
        # instead of letting pruning quietly decay at every merge level.
        bl_sets = [e.get("blooms") or {} for e in run]
        shared = set.intersection(*[set(b) for b in bl_sets])
        merged_blooms, rebuild_cols = {}, []
        for c in sorted(shared):
            geoms = {(b[c]["m"], b[c]["k"]) for b in bl_sets}
            if len(geoms) == 1:
                m_, k_ = geoms.pop()
                bits = _bloom_union([b[c]["bits"] for b in bl_sets])
                if _bloom_fill(bits, m_) <= _BLOOM_MAX_FILL:
                    merged_blooms[c] = {"m": m_, "k": k_, "bits": bits}
                    kinds = {b[c].get("kind") for b in bl_sets}
                    if len(kinds) == 1 and None not in kinds:
                        merged_blooms[c]["kind"] = kinds.pop()
                    continue
            rebuild_cols.append(c)
        (new_id,) = self._new_seg_ids(entries)
        (entry,) = self._write_segments(
            merged, [new_id], [sum(e["n_rows"] for e in run)], index_conf,
            index_df=index_df, indexed_cols=indexed_cols,
            bloom_cols=_bloomable(merged, rebuild_cols),
            sketches=self._union_sketches(spark, run), blooms=merged_blooms,
        )
        self._carry_batch_keys(entry, run)
        entry["row_id_offset"] = base
        run_ids = [e["segment_id"] for e in run]

        def rebuild(doc: dict) -> dict:
            # compaction commutes with APPENDS (they only extend the list
            # past the run): relocate the identical run in the manifest and
            # publish around it. If the run itself changed (a concurrent
            # compactor merged part of it), the merge we wrote is stale.
            segs = doc["segments"]
            ids, n = [e["segment_id"] for e in segs], len(run_ids)
            pos = ids.index(run_ids[0]) if run_ids[0] in ids else 0
            if ids[pos : pos + n] != run_ids or segs[pos]["row_id_offset"] != base:
                raise ManifestConflictError(
                    f"compact_run [{start}, {end}) raced a concurrent "
                    f"compaction in {self.path}: the run is no longer "
                    "intact in the latest manifest — re-plan against "
                    "the fresh manifest and retry"
                )
            return dict(doc, segments=segs[:pos] + [entry] + segs[pos + n :])

        self._commit("compact_run", docs, v, rebuild, [self._seg_path(new_id)])
        self._sweep(docs)
        return entry

    def compact_tiered(
        self,
        spark: SparkSession,
        fanout: int = 4,
        defaults: dict[str, object] | None = None,
        index_conf: IndexConf | None = None,
    ) -> "SegmentStore":
        """Size-tiered compaction (the LSM policy the full-merge compact()
        lacks): repeatedly merge any run of >= fanout ADJACENT segments in
        the same size tier (tier = floor(log_fanout(n_rows))) until no such
        run exists. A merged run lands one tier up and may cascade into the
        next merge — steady-state segment count is O(fanout * log_fanout N)
        and each row is rewritten O(log_fanout N) times over its lifetime,
        vs compact()'s O(appends) full rewrites: at 100 TB, compacting the
        whole store per maintenance cycle is the write-amplification
        scale-killer this policy exists to avoid. Each merge is one write
        job over the RUN's rows only; reads stay correct throughout (every
        publish is a complete consistent manifest)."""
        if fanout < 2:
            raise ValueError(f"compact_tiered fanout must be >= 2, got {fanout}")

        def tier(e: dict) -> int:
            # integer log_fanout — float log has precision cliffs at exact
            # powers (log(64, 4) -> 2.999...), which would split a tier
            t, n = 0, e["n_rows"]
            while n >= fanout:
                n //= fanout
                t += 1
            return t

        docs: dict[int, dict] = {}
        while True:
            doc, v = self._head(docs)
            entries = doc["segments"]
            run = None
            i = 0
            while i < len(entries):
                j = i + 1
                while j < len(entries) and tier(entries[j]) == tier(entries[i]):
                    j += 1
                if j - i >= fanout:
                    run = (i, j)
                    break
                i = j
            if run is None:
                return self
            self._compact_run(spark, docs, v, run[0], run[1], defaults, index_conf)
