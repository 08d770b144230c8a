"""Parquet-backed table store for the catalog (SURVEY.md §1.3).

Each table lives under `<root>/<name>/` as parquet. Writes go to a
fresh generation directory and swap in atomically (write-new-then-
rename), so a reader never sees a half-written table and the input of a
merge is never clobbered mid-plan. On a cluster this role is played by
Delta/Iceberg MERGE + snapshot isolation; the generation-swap is the
dependency-free single-box analog with the same read-after-write
semantics. The reference's counterpart is Postgres heap tables with
staging tiers (FileDbDAL/__init__.py:40-48).
"""

from __future__ import annotations

import base64
import bisect
import functools
import hashlib
import json
import logging
import os
import shutil
import threading
import time

from pyspark.errors import AnalysisException
from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from ..localframe import local_df

_LOG = logging.getLogger(__name__)

__all__ = [
    "TableStore",
    "Snapshot",
    "CommitConflict",
    "diff_generations",
    "scd2_snapshot",
    "scd2_history",
]


class CommitConflict(Exception):
    """A replace_if() lost the optimistic-concurrency race: the base
    generation the writer read was superseded before it committed."""


try:  # POSIX; on platforms without fcntl the lock degrades to thread-only
    import fcntl as _fcntl
except ImportError:  # pragma: no cover
    _fcntl = None


class _TableLock:
    """Re-entrant per-(root, table) commit lock covering BOTH scopes a
    single-box store can race in: threads of this process (an RLock)
    and OTHER OS PROCESSES writing the same root (an exclusive
    fcntl.flock on `<root>/_locks/<table>.lock`, taken while the
    outermost re-entrant hold is active). Every manifest-mutating
    method serializes its read-base + commit sequence through this —
    two engine processes appending to one table both land, no lost
    segment (pinned in tests/test_store_multiprocess.py). Re-entrant
    so composed writes (merge_scd2 -> append, compact -> replace,
    table commit -> catalog swap) nest without deadlock; lock ORDER is
    consistent everywhere (sorted table locks, catalog last), so
    cross-process writers cannot deadlock either. On a cluster this
    role is played by the lakehouse log's atomic append; flock is the
    dependency-free single-box analog."""

    def __init__(self, root: str, name: str):
        safe = "".join(
            ch if ch.isalnum() or ch in "._-" else "_" for ch in name
        )
        self._path = os.path.join(root, "_locks", f"{safe}.lock")
        self._rlock = threading.RLock()
        self._depth = 0  # mutated only while _rlock is held
        self._fh = None

    def acquire(self) -> None:
        self._rlock.acquire()
        self._depth += 1
        if self._depth == 1 and _fcntl is not None:
            try:
                os.makedirs(os.path.dirname(self._path), exist_ok=True)
                self._fh = open(self._path, "a")
                _fcntl.flock(self._fh, _fcntl.LOCK_EX)
            except BaseException:
                # unwind fully: a failed flock must not leave the
                # RLock held (deadlocking siblings) or let a retry
                # enter at depth 2 with no OS lock at all
                if self._fh is not None:
                    self._fh.close()
                    self._fh = None
                self._depth -= 1
                self._rlock.release()
                raise

    def release(self) -> None:
        self._depth -= 1
        if self._depth == 0 and self._fh is not None:
            _fcntl.flock(self._fh, _fcntl.LOCK_UN)
            self._fh.close()
            self._fh = None
        self._rlock.release()

    def __enter__(self) -> "_TableLock":
        self.acquire()
        return self

    def __exit__(self, *exc) -> None:
        self.release()


_COMMIT_LOCKS: dict[tuple[str, str], _TableLock] = {}
_COMMIT_LOCKS_GUARD = threading.Lock()


def _commit_lock(root: str, name: str) -> _TableLock:
    key = (os.path.abspath(root), name)
    with _COMMIT_LOCKS_GUARD:
        if key not in _COMMIT_LOCKS:
            _COMMIT_LOCKS[key] = _TableLock(os.path.abspath(root), name)
        return _COMMIT_LOCKS[key]


def _seg_id(entry: dict) -> str:
    """Stable identity of a manifest segment entry (its basename —
    what DV `over` lists and data-skipping prune sets key on)."""
    return os.path.basename(entry["path"].rstrip("/"))


def release_checkpoint(df: DataFrame) -> None:
    """Free the blocks of a `localCheckpoint` frame now. Dataset.unpersist
    only drops CacheManager entries, so a checkpoint otherwise holds its
    blocks until ContextCleaner sees its RDD garbage-collected."""
    df._jdf.queryExecution().analyzed().rdd().unpersist(False)


def checkpoint_counting(
    df: DataFrame, **conds: Column
) -> tuple[DataFrame, dict[str, int]]:
    """Materialize `df` ONCE as an eager local checkpoint, counting the
    rows that match each named condition on the same action (observed
    metrics, no second job). Returns (checkpoint, {name: count}).

    A checkpoint, not a persist, for any frame read more than once: a
    persist leaves the whole lineage in every downstream plan and pins
    the cache at the session's shuffle width (AQE never coalesces a
    cached plan); the checkpoint truncates the plan to an RDD leaf at
    AQE-coalesced width. Free it with release_checkpoint."""
    obs = Observation()
    out = df.observe(
        obs, *[F.count(F.when(c, 1)).alias(n) for n, c in conds.items()]
    ).localCheckpoint(eager=True)
    got = obs.get
    return out, {n: int(got.get(n, 0)) for n in conds}


def _checkpoint_ops(tagged: DataFrame) -> tuple[DataFrame, dict[str, int]]:
    """checkpoint_counting over a classified change frame (`__op` in
    I/U/D, NULL for an untouched row): the merge metrics dict."""
    op = F.col("__op")
    return checkpoint_counting(
        tagged, inserted=op == "I", updated=op == "U", deleted=op == "D"
    )


def _changed_keys(classified: DataFrame, on: list[str]) -> DataFrame:
    """The key columns of a classified frame's updated and deleted rows:
    what a deletion vector masks."""
    return classified.where(F.col("__op").isin("U", "D")).select(
        *[F.col(f"__k_{k}").alias(k) for k in on]
    )


def _bloom_positions(h: int, m: int, k: int) -> list[int]:
    """k bit positions for one 64-bit hash by double hashing
    (h1 + i*h2 mod m, h2 forced odd); m is a power of two."""
    h &= (1 << 64) - 1
    h1, h2 = h & 0xFFFFFFFF, (h >> 32) | 1
    return [(h1 + i * h2) % m for i in range(k)]


# ---------------------------------------------------------------------------
# Portable xxHash64 (seed 42) — bit-identical to Spark's xxhash64()
# expression for integral, string, and double columns, so a point
# lookup can hash its probe literal ON THE DRIVER with zero Spark
# jobs (read_point's whole purpose is index-grade latency; a 1-row
# spark.range job in front of it defeated that). The algorithm is the
# public XXH64 spec; parity with the JVM expression is pinned in
# tests/test_store_skipping_txn.py.
# ---------------------------------------------------------------------------
_XXP1 = 0x9E3779B185EBCA87
_XXP2 = 0xC2B2AE3D27D4EB4F
_XXP3 = 0x165667B19E3779F9
_XXP4 = 0x85EBCA77C2B2AE63
_XXP5 = 0x27D4EB2F165667C5
_M64 = (1 << 64) - 1


def _rotl64(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def _xxh64_bytes(data: bytes, seed: int = 42) -> int:
    """Signed-64 XXH64 of a byte string (little-endian words — the
    layout Spark's hashUnsafeBytes reads on every supported platform)."""
    import struct

    n = len(data)
    i = 0
    if n >= 32:
        v1 = (seed + _XXP1 + _XXP2) & _M64
        v2 = (seed + _XXP2) & _M64
        v3 = seed & _M64
        v4 = (seed - _XXP1) & _M64
        while i <= n - 32:
            for j, v in enumerate((v1, v2, v3, v4)):
                (w,) = struct.unpack_from("<Q", data, i + 8 * j)
                v = (v + w * _XXP2) & _M64
                v = (_rotl64(v, 31) * _XXP1) & _M64
                if j == 0:
                    v1 = v
                elif j == 1:
                    v2 = v
                elif j == 2:
                    v3 = v
                else:
                    v4 = v
            i += 32
        h = (
            _rotl64(v1, 1) + _rotl64(v2, 7) + _rotl64(v3, 12) + _rotl64(v4, 18)
        ) & _M64
        for v in (v1, v2, v3, v4):
            h ^= (_rotl64((v * _XXP2) & _M64, 31) * _XXP1) & _M64
            h = ((h * _XXP1) + _XXP4) & _M64
    else:
        h = (seed + _XXP5) & _M64
    h = (h + n) & _M64
    while i + 8 <= n:
        (w,) = struct.unpack_from("<Q", data, i)
        h ^= (_rotl64((w * _XXP2) & _M64, 31) * _XXP1) & _M64
        h = ((_rotl64(h, 27) * _XXP1) + _XXP4) & _M64
        i += 8
    if i + 4 <= n:
        (w,) = struct.unpack_from("<I", data, i)
        h ^= (w * _XXP1) & _M64
        h = ((_rotl64(h, 23) * _XXP2) + _XXP3) & _M64
        i += 4
    while i < n:
        h ^= (data[i] * _XXP5) & _M64
        h = (_rotl64(h, 11) * _XXP1) & _M64
        i += 1
    h ^= h >> 33
    h = (h * _XXP2) & _M64
    h ^= h >> 29
    h = (h * _XXP3) & _M64
    h ^= h >> 32
    return h - (1 << 64) if h >= (1 << 63) else h


def portable_xxhash64(value, dtype: T.DataType) -> int | None:
    """Spark `xxhash64(CAST(value AS dtype))` computed in Python, or
    None when the type needs the JVM (decimal/timestamp/binary probes
    fall back to a memoized 1-row job). Integral types hash their
    widened-to-long little-endian bytes; strings their UTF-8 bytes;
    doubles their IEEE bits with -0.0 normalized — exactly the public
    XxHash64 expression semantics."""
    import struct

    if value is None:
        return None
    if isinstance(dtype, T.LongType):
        return _xxh64_bytes(struct.pack("<q", int(value)))
    if isinstance(dtype, (T.IntegerType, T.ShortType, T.ByteType)):
        return _xxh64_bytes(struct.pack("<i", int(value)))
    if isinstance(dtype, T.StringType):
        return _xxh64_bytes(str(value).encode("utf-8"))
    if isinstance(dtype, T.DoubleType):
        d = float(value) + 0.0  # normalize -0.0
        return _xxh64_bytes(struct.pack("<d", d))
    if isinstance(dtype, T.FloatType):
        f = float(value) + 0.0
        return _xxh64_bytes(struct.pack("<f", f))
    if isinstance(dtype, T.BooleanType):
        return _xxh64_bytes(struct.pack("<i", 1 if value else 0))
    return None


#: Sort-on-write keys per table: parquet row-group min/max stats then
#: prune point lookups on these columns (the reference's B-tree indexes
#: on sha1_hash / (dir_id,name) / dir_path, FileDbDAL/Hash.py:94-103,
#: File.py:203-229 — columnar skipping is the Spark-native equivalent;
#: Z-order on a real lakehouse).
SORT_KEYS: dict[str, list[str]] = {
    "hash": ["sha1_hash"],
    "file": ["dir_id", "name"],
    "directory": ["dir_path"],
    "hash_control": ["file_size"],
}

#: Bucket-on-write specs: (num_buckets, keys). `file` and `hash` share
#: a bucket count and are bucketed on their JOIN keys, so the hot
#: catalog joins — merge_files' staged⋈existing upsert probe on
#: file.id and vw_ll's file⟕hash on file_id — read co-located buckets
#: and plan with NO Exchange on the stored side (pinned in
#: tests/test_store_bucketing.py). This is the Spark-native analog of
#: the reference's PK B-trees as *physical layout*; at 100 TB the
#: bucket count scales with cluster width and the same specs move to
#: Delta/Iceberg table properties.
BUCKET_SPECS: dict[str, tuple[int, list[str]]] = {
    "file": (8, ["id"]),
    "hash": (8, ["file_id"]),
}

#: Per-DATA-FILE skipping stats recorded on bucketed commits: for each
#: bucketed table, the non-key columns whose per-file zone maps + bloom
#: digests let a wave read a key-pruned SUBSET of the generation's data
#: files (read_bucketed_pruned). `file` records dir_id: its id is
#: xxhash64(dir_path, name), so every row a crawl wave can match or
#: vanish carries a dir_id in the wave's frontier — the digest turns
#: the M2 classification probe from O(table) into O(files holding
#: frontier dirs) (the manifest analog of the reference probing its
#: (dir_id, name) B-tree per staged row, FileDbDAL/File.py:203-229).
BUCKET_FILE_STATS: dict[str, list[str]] = {
    "file": ["dir_id"],
}


def _num(v) -> bool:
    """True for a plain number (bool excluded — it would compare as
    0/1 against real numerics and lie)."""
    return isinstance(v, (int, float)) and not isinstance(v, bool)


def _stats_probe(v):
    """Normalize a probe/hull value to the representation zone maps
    store in the manifest JSON: datetimes/dates become ISO strings
    (fixed-field ISO order == chronological order, so lexicographic
    comparison against the recorded min/max is sound)."""
    import datetime

    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat(sep=" ") if isinstance(v, datetime.datetime) else v.isoformat()
    return v


def _zone_comparable(a, b) -> bool:
    """Can `a < b` be trusted between a hull value and a recorded
    zone bound? Only for same-kind primitives (both strings or both
    numbers) — anything else (Decimal, bytes, mixed) refuses to
    prune rather than risk an unsound skip."""
    if isinstance(a, str) and isinstance(b, str):
        return True
    return _num(a) and _num(b)


class _Probe:
    """What a pruned read asks of one column: can a unit (a manifest
    segment or a bucketed data file) hold a row whose value lies in
    one of `intervals`, equals one of the point `keys`, or — with
    `want_nulls`, or a None among `keys` — is NULL? An interval is
    (lo, hi, hi_open): a None bound is unbounded, and `hi_open` makes
    the upper bound exclusive (read_prefix's [prefix, prefix⁺)).
    `hash_of` hashes a raw key exactly as the stats writer hashed the
    column; each key is hashed at most once, and only when a bloom
    digest is consulted."""

    def __init__(self, intervals=(), keys=(), want_nulls=False, hash_of=None):
        self.intervals = [
            (_stats_probe(lo), _stats_probe(hi), hi_open)
            for lo, hi, hi_open in intervals
        ]
        vals = [v for v in keys if v is not None]
        self.want_nulls = want_nulls or len(vals) < len(keys)
        #: zone-map representation -> raw literal (what gets hashed)
        self._raw = {_stats_probe(v): v for v in vals}
        norm = list(self._raw)
        if all(isinstance(v, str) for v in norm) or all(_num(v) for v in norm):
            self._sorted, self._other = sorted(norm), []
        else:
            self._sorted, self._other = [], norm  # mixed kinds: no order
        self._hash_of = hash_of
        self._hashes: dict = {}

    def keys_in(self, zmin, zmax) -> list:
        """The keys a unit with zone range [zmin, zmax] may hold (all
        keys when zmin/zmax is None: no zone map recorded)."""
        s = self._sorted
        if s and _zone_comparable(s[0], zmin) and _zone_comparable(s[0], zmax):
            s = s[bisect.bisect_left(s, zmin) : bisect.bisect_right(s, zmax)]
        return s + self._other

    def in_bloom(self, keys: list, bloom: dict) -> bool:
        """Does the digest admit at least one of `keys`?"""
        bmp = base64.b64decode(bloom["bits"])
        for v in keys:
            if v not in self._hashes:
                self._hashes[v] = self._hash_of(self._raw[v])
            if all(
                bmp[p >> 3] & (1 << (p & 7))
                for p in _bloom_positions(self._hashes[v], bloom["m"], bloom["k"])
            ):
                return True
        return False


def _overlaps(zmin, zmax, lo, hi, hi_open: bool) -> bool:
    """Can the zone range [zmin, zmax] meet the interval? True whenever
    a bound and the range are not cleanly comparable."""
    if lo is not None and _zone_comparable(lo, zmax) and zmax < lo:
        return False
    if hi is not None and _zone_comparable(hi, zmin):
        return not (zmin >= hi if hi_open else zmin > hi)
    return True


def _skip_reason(st: dict | None, probe: _Probe) -> str | None:
    """THE data-skipping decision, and the only reader of a stats
    entry's min/max/nulls/bloom fields: None when a unit whose stats
    on the probed column are `st` may hold a match for `probe`, else
    why it provably holds none — "zone" (the value range or the null
    count refutes it) or "bloom" (the digest refutes every key left
    in range). A unit with no entry, a bloom-only entry (no zone map)
    or bounds it cannot compare is never skipped on that account.
    Digests never answer a NULL probe — the null count does (the
    writer sets no bits for NULL rows)."""
    if st is None:
        return None
    zoned = "min" in st
    if probe.want_nulls and (not zoned or st["nulls"] > 0):
        return None
    zmin, zmax = st.get("min"), st.get("max")
    if zoned and zmin is None and zmax is None:
        return "zone"  # all-NULL (or empty) unit: no non-null value
    if any(not zoned or _overlaps(zmin, zmax, *iv) for iv in probe.intervals):
        return None
    cand = probe.keys_in(zmin, zmax)
    if not cand:
        return "zone"
    if "bloom" not in st or probe.in_bloom(cand, st["bloom"]):
        return None
    return "bloom"


def _prune(units: list, stats_of, probe: _Probe, report: dict) -> list:
    """The units `_skip_reason` cannot rule out, counting each skip
    under report["<reason>_skipped"] and each kept unit under
    report["scanned"]."""
    kept = []
    for u in units:
        why = _skip_reason(stats_of(u), probe)
        if why is None:
            kept.append(u)
            report["scanned"] += 1
        else:
            report[f"{why}_skipped"] += 1
    return kept


class TableStore:
    def __init__(
        self,
        spark: SparkSession,
        root: str,
        schemas: dict[str, T.StructType],
        bucketing: bool = True,
    ):
        self.spark = spark
        self.root = root
        self.schemas = schemas
        self.bucketing = bucketing
        #: stable identifier prefix for this store's catalog entries
        self._ident = hashlib.md5(os.path.abspath(root).encode()).hexdigest()[:8]
        #: per-(column-type, value) memo for probe hashes whose type the
        #: portable kernel can't cover (decimal/timestamp) — those pay
        #: ONE 1-row job ever, not one per lookup
        self._probe_hash_memo: dict = {}
        #: target-pruning decision of the LAST merge()/apply_changes()
        #: on this instance: {mode: full|segments|buckets, total,
        #: scanned, pruned} — the observability a 100 TB MERGE is
        #: judged by (g32 pins scanned == hull-overlapping segments)
        self.last_merge_report: dict | None = None
        os.makedirs(root, exist_ok=True)
        self._load_disk_schemas()

    # -- root catalog pointer -------------------------------------------------
    # ONE root-level file maps every table -> its current generation and
    # is swapped by a single atomic rename. This is the store's
    # VISIBILITY commit point (the Iceberg root-metadata-pointer /
    # Delta _last_checkpoint analog): commit_multi publishes all its
    # generations invisibly and then swaps the pointer ONCE, so a
    # reader interleaved between publishes sees all-old or all-new,
    # never mixed — the torn-read window the pre-pointer protocol
    # documented is closed (pinned in tests/test_store_skipping_txn.py).

    def _catalog_path(self) -> str:
        return os.path.join(self.root, "_CATALOG.json")

    def _read_catalog(self) -> dict:
        """{"version": int, "tables": {name: gen_basename}} — empty at
        version 0 for a root that predates its first commit."""
        try:
            with open(self._catalog_path()) as fh:
                return json.load(fh)
        except (FileNotFoundError, json.JSONDecodeError):
            return {"version": 0, "tables": {}}

    def catalog_version(self) -> int:
        return self._read_catalog()["version"]

    def _catalog_swap(self, updates: dict[str, str]) -> int:
        """Atomically advance the catalog pointer for `updates`
        (table -> gen basename). MONOTONIC per table: an entry only
        moves to a strictly newer generation (gen names carry commit
        nanos), so a crash-recovery replay can re-swap idempotently
        without regressing past commits that landed after the crash.
        Returns the (possibly unchanged) catalog version."""

        def _ns(gen: str) -> int:
            try:
                return int(gen.split("-", 1)[1])
            except (IndexError, ValueError):
                return -1

        with _commit_lock(self.root, "//catalog"):
            cat = self._read_catalog()
            changed = False
            for name, gen in updates.items():
                old = cat["tables"].get(name)
                if old is None or _ns(gen) > _ns(old):
                    cat["tables"][name] = gen
                    changed = True
            if changed:
                cat["version"] += 1
                tmp = self._catalog_path() + ".tmp"
                with open(tmp, "w") as fh:
                    json.dump(cat, fh)
                os.replace(tmp, self._catalog_path())
                # append the applied swaps to the pointer LOG — the
                # record time travel resolves through (a generation
                # that was never pointed, e.g. a crashed commit's
                # orphan, must never be served as history)
                applied = {
                    n: g for n, g in updates.items() if cat["tables"].get(n) == g
                }
                with open(self._catalog_log_path(), "a") as fh:
                    fh.write(
                        json.dumps(
                            {
                                "v": cat["version"],
                                "ns": time.time_ns(),
                                "t": applied,
                            }
                        )
                        + "\n"
                    )
            return cat["version"]

    def _catalog_log_path(self) -> str:
        return os.path.join(self.root, "_CATALOG_LOG.jsonl")

    def _history(self, name: str) -> list[tuple[int, str]]:
        """(swap_ns, gen_basename) pairs for every generation of
        `name` that was ever POINTED, oldest first, restricted to
        generations still on disk (vacuum drops history exactly as it
        does for the directory listing). Empty for a table that
        predates the pointer log — callers fall back to the listing."""
        out: list[tuple[int, str]] = []
        try:
            with open(self._catalog_log_path()) as fh:
                for line in fh:
                    try:
                        rec = json.loads(line)
                    except json.JSONDecodeError:
                        continue  # torn trailing line after a crash
                    gen = rec.get("t", {}).get(name)
                    if gen is not None and os.path.isdir(
                        os.path.join(self._dir(name), gen)
                    ):
                        out.append((int(rec["ns"]), gen))
        except FileNotFoundError:
            pass
        return out

    def _persist_schema(self, name: str) -> None:
        """Write the table's schema to `<root>/<name>/_SCHEMA.json` so
        tables registered at runtime (clone targets, quarantines)
        survive instance lifetime: a TableStore re-created over the
        same root picks them up in _load_disk_schemas(), can read
        them, and — critically — its vacuum() sees their manifests'
        segment references."""
        d = self._dir(name)
        os.makedirs(d, exist_ok=True)
        tmp = os.path.join(d, "_SCHEMA.json.tmp")
        with open(tmp, "w") as fh:
            json.dump(self.schemas[name].jsonValue(), fh)
        os.replace(tmp, os.path.join(d, "_SCHEMA.json"))

    def _load_disk_schemas(self) -> None:
        """Adopt tables persisted by a previous instance over this
        root. Declared schemas passed to __init__ take precedence —
        EXCEPT for tables with a column-mapping log, whose persisted
        schema reflects renames/drops a stale declaration cannot know
        about (the epoch map only decodes correctly against the
        post-rename declared names)."""
        for entry in sorted(os.listdir(self.root)):
            p = os.path.join(self.root, entry, "_SCHEMA.json")
            if not os.path.exists(p):
                continue
            if entry not in self.schemas or self._colmap(entry) is not None:
                with open(p) as fh:
                    self.schemas[entry] = T.StructType.fromJson(json.load(fh))

    def _disk_tables(self) -> set[str]:
        """Every table present on disk under root — registered or not —
        so vacuum()'s cross-table reference scan also protects clones
        created by ANOTHER live instance after this one initialized."""
        names = set(self.schemas)
        if os.path.isdir(self.root):
            for entry in os.listdir(self.root):
                d = os.path.join(self.root, entry)
                if not os.path.isdir(d):
                    continue
                try:
                    children = os.listdir(d)
                except OSError:
                    continue
                if any(
                    c.startswith(("gen-", "seg-", "dv-")) or c == "_SCHEMA.json"
                    for c in children
                ):
                    names.add(entry)
        return names

    # -- bucket layout resolution ----------------------------------------------
    #: marker file inside every bucketed generation recording ITS bucket
    #: count — what lets rebucket() evolve the table-level target count
    #: without ever misreading an older generation's file names
    _NBUCKETS_FILE = "_NBUCKETS"

    def _bucket_spec(self, name: str) -> tuple[int, list[str]] | None:
        """Effective TARGET bucket layout for `name`: the per-table
        override written by rebucket() (`_BUCKETSPEC.json`) wins over
        the installed default (BUCKET_SPECS); None for unbucketed
        tables. This is what NEW generations are written with; an
        existing generation's actual count comes from _gen_buckets."""
        if name not in BUCKET_SPECS:
            return None
        nb, keys = BUCKET_SPECS[name]
        try:
            with open(os.path.join(self._dir(name), "_BUCKETSPEC.json")) as fh:
                o = json.load(fh)
            return int(o["n"]), list(o.get("keys", keys))
        except (FileNotFoundError, json.JSONDecodeError, KeyError, OSError,
                TypeError, ValueError):
            return nb, keys

    def _is_bucketed(self, name: str) -> bool:
        return self.bucketing and name in BUCKET_SPECS

    def _gen_buckets(self, name: str, gen_dir: str) -> int:
        """Bucket count a GENERATION was actually written with (its
        `_NBUCKETS` stamp; the installed default for generations that
        predate the stamp). A merge commit must extend the base with
        SAME-count delta files — bucket ids parse from file names, so
        mixing counts in one directory would silently mis-bucket."""
        try:
            with open(os.path.join(gen_dir, self._NBUCKETS_FILE)) as fh:
                return int(fh.read().strip())
        except (FileNotFoundError, OSError, ValueError):
            return BUCKET_SPECS[name][0]

    def _stamp_nbuckets(self, gen_dir: str, n: int) -> None:
        tmp = os.path.join(gen_dir, self._NBUCKETS_FILE + ".tmp")
        with open(tmp, "w") as fh:
            fh.write(str(int(n)))
        os.replace(tmp, os.path.join(gen_dir, self._NBUCKETS_FILE))

    # -- per-data-file skipping stats (bucketed generations) -------------------
    # A bucketed generation's data files carry a `_FILESTATS.json`
    # sidecar ({file_basename: {col: stats entry}}) for the
    # BUCKET_FILE_STATS columns: the per-file half of the data-skipping
    # story (Delta per-file stats / Iceberg column metrics at file
    # granularity). Entries come from the one stats writer
    # (_column_stats, grouped by data file) and are read only by the
    # one prune decision (_skip_reason). Delta commits stat their
    # O(changes) stage files; hardlinked base files inherit the prior
    # generation's entries verbatim (the bytes are the same inode).

    _FILESTATS_FILE = "_FILESTATS.json"
    #: per-file blooms use a smaller bits/key than segment blooms (16
    #: vs 32, fp ~2e-3/key — a false positive just scans one extra
    #: file) and a higher distinct-key cap: a freshly compacted wide
    #: file holds many distinct dir_ids, and losing its digest means
    #: it is scanned on EVERY wave
    _FILE_BLOOM_BITS_PER_KEY = 16
    _FILE_BLOOM_MAX_KEYS = 65536
    #: probes with more keys than this fall back to a full read
    #: (bounds the driver-side zone/bloom evaluation)
    _FILE_PRUNE_MAX_KEYS = 100_000

    def _file_stat_cols(self, name: str) -> list[str]:
        """BUCKET_FILE_STATS columns actually present in the table's
        DECLARED schema — a caller may register a same-named table
        with a different shape (fixtures, clones), and stats silently
        narrow to the columns that exist."""
        declared = set(self.schemas[name].fieldNames())
        return [
            c for c in (BUCKET_FILE_STATS.get(name) or []) if c in declared
        ]

    def _filestats_path(self, gen_dir: str) -> str:
        return os.path.join(gen_dir, self._FILESTATS_FILE)

    def _filestats(self, gen_dir: str) -> dict | None:
        try:
            with open(self._filestats_path(gen_dir)) as fh:
                return json.load(fh)
        except (FileNotFoundError, json.JSONDecodeError, OSError):
            return None

    def _write_filestats(self, gen_dir: str, stats: dict) -> None:
        tmp = self._filestats_path(gen_dir) + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(stats, fh)
        os.replace(tmp, self._filestats_path(gen_dir))

    def _stat_data_files(self, name: str, data_dir: str, cols: list[str]) -> dict:
        """Sidecar entries for every data file of `data_dir`: the stats
        writer with one unit per file, zone maps and digests on `cols`.
        Cost is O(rows in data_dir): O(changes) when statting a delta
        stage, O(table) only inside an already-O(table) clean
        rewrite."""
        df = (
            self.spark.read.schema(self._bucket_phys_schema(name))
            .parquet(data_dir)
            .withColumn(
                "__f", F.element_at(F.split(F.input_file_name(), "/"), -1)
            )
        )
        return self._column_stats(
            df, cols, cols, "__f",
            self._FILE_BLOOM_BITS_PER_KEY, self._FILE_BLOOM_MAX_KEYS,
        )

    def read_bucketed_pruned(
        self, name: str, col: str, keys: list, include_nulls: bool = False
    ) -> tuple[DataFrame, dict[str, int]]:
        """Key-pruned SUPERSET read of a bucketed table: scan only the
        data files whose `_FILESTATS.json` entry on `col` the prune
        decision (_skip_reason) cannot rule out for `keys` (a None key,
        or `include_nulls`, also asks for NULLs) — pure metadata, no
        other file is opened. Deletion vectors still apply; NO row
        filter is applied (the read_pruned contract at file
        granularity). Files without an entry are always scanned, so
        the read is sound across commits that predate the sidecar.
        Falls back to the full read() when the table isn't bucketed,
        has no sidecar, or the probe exceeds _FILE_PRUNE_MAX_KEYS.
        Returns (df, {mode, total, zone_skipped, bloom_skipped,
        scanned})."""
        report = {
            "mode": "full",
            "total": 0,
            "zone_skipped": 0,
            "bloom_skipped": 0,
            "scanned": 0,
        }
        cur = self._current(name)
        if cur is None:
            return local_df(self.spark, [], self.schemas[name]), report
        stats = (
            self._filestats(cur)
            if self._is_bucketed(name)
            and self._doc(cur) is None
            and col in self.schemas[name].fieldNames()
            else None
        )
        n_vals = sum(1 for v in keys if v is not None)
        if stats is None or n_vals > self._FILE_PRUNE_MAX_KEYS:
            report["total"] = report["scanned"] = 1
            return self.read(name), report
        report["mode"] = "files"
        files = [
            os.path.join(cur, fn)
            for fn in sorted(os.listdir(cur))
            if not fn.startswith(("_", "."))
            and os.path.isfile(os.path.join(cur, fn))
        ]
        report["total"] = len(files)
        probe = _Probe(
            keys=keys, want_nulls=include_nulls, hash_of=self._hasher(name, col)
        )
        kept = _prune(
            files,
            lambda p: (stats.get(os.path.basename(p)) or {}).get(col),
            probe,
            report,
        )
        phys_schema = self._bucket_phys_schema(name)
        phys = (
            self.spark.read.schema(phys_schema).parquet(*kept)
            if kept
            else local_df(self.spark, [], phys_schema)
        )
        return self._apply_bucket_dvs(name, cur, phys), report

    # -- bucketed merge-on-read commits ---------------------------------------
    # A bucketed table's MERGE used to fall back to a full rewrite (the
    # O(table)-per-crawl-wave cost VERDICT r7 named the last scale
    # killer). It now commits O(changes): the U/I delta is written as a
    # bucket-ALIGNED set of files (same bucket function, same count —
    # one file per touched bucket) into a new generation directory that
    # HARDLINKS the prior generation's data files (O(#files) metadata,
    # zero data bytes), plus one deletion vector over the touched keys.
    # Rows carry a hidden `__commit_ns` column so a DV written at
    # commit T masks exactly the OLDER versions of its keys
    # (`__commit_ns < T`) — the file-scoped-DV contract expressed as a
    # commit-scoped predicate, which is what lets the whole generation
    # keep reading through ONE session-catalog bucketed table (bucket
    # ids parse from the file names, so the co-located zero-Exchange
    # join layout survives every MOR commit; pinned in
    # tests/test_store_bucketing.py). DVs apply as ONE broadcast
    # anti-join (they are O(changes) small), which preserves the
    # scan's hash-partitioning. compact() folds the debt back into a
    # clean snapshot on the maintenance edge. On a real lakehouse this
    # whole mechanism is Delta/Iceberg MERGE with deletion vectors over
    # a bucketed/clustered layout; hardlinks are the single-box analog
    # of manifest entries pointing at immutable data files.

    #: hidden physical column stamping every bucketed row with its
    #: commit's nanos (never visible through read())
    _COMMIT_COL = "__commit_ns"

    def _bucket_meta_path(self, gen_dir: str) -> str:
        return os.path.join(gen_dir, "_BUCKETDV.json")

    def _bucket_meta(self, gen_dir: str) -> dict | None:
        """Merge-on-read metadata of a bucketed generation:
        ``{"waves": n, "dvs": [{"path": rel-to-table-dir, "ns": int,
        "keys": [col...]}]}`` — None for a clean (replace-written)
        generation. Lives INSIDE the generation dir (underscore file,
        invisible to parquet scans) so time travel reads each
        generation with exactly its own deletion state."""
        try:
            with open(self._bucket_meta_path(gen_dir)) as fh:
                return json.load(fh)
        except (FileNotFoundError, json.JSONDecodeError):
            return None

    def _bucket_phys_schema(self, name: str) -> T.StructType:
        return T.StructType(
            list(self.schemas[name].fields)
            + [T.StructField(self._COMMIT_COL, T.LongType(), True)]
        )

    def _apply_bucket_dvs(
        self, name: str, gen_dir: str, df: DataFrame
    ) -> DataFrame:
        """Apply a bucketed generation's deletion vectors to its scan
        and strip the hidden commit column. DVs union into ONE small
        (key, dv_ns) table applied as a single BROADCAST anti-join —
        masks a row iff some LATER vector covers its key — which
        preserves the scan's bucket hash-partitioning (no Exchange on
        the probe side). Rows from pre-__commit_ns files (legacy
        generations' hardlinked files) null-fill the column and count
        as commit 0, i.e. older than every vector."""
        meta = self._bucket_meta(gen_dir)
        if meta and meta["dvs"]:
            import operator as _op

            table_dir = os.path.dirname(gen_dir)
            by_keys: dict[tuple, list[dict]] = {}
            for e in meta["dvs"]:
                by_keys.setdefault(tuple(e["keys"]), []).append(e)
            # one union + one broadcast anti-join per distinct key set
            # (a table merged on one key — the normal case — pays ONE)
            for keys, entries in by_keys.items():
                dv = None
                for e in entries:
                    part = (
                        self.spark.read.parquet(
                            os.path.join(table_dir, e["path"])
                        )
                        .select(*keys)
                        .withColumn("__dv_ns", F.lit(int(e["ns"])))
                    )
                    dv = part if dv is None else dv.unionByName(part)
                commit = (
                    F.coalesce(df[self._COMMIT_COL], F.lit(0))
                    if self._COMMIT_COL in df.columns
                    else F.lit(0)
                )
                cond = functools.reduce(
                    _op.and_, [df[k].eqNullSafe(dv[k]) for k in keys]
                ) & (commit < dv["__dv_ns"])
                df = df.join(F.broadcast(dv), cond, "left_anti")
        return df.drop(self._COMMIT_COL)

    def _read_buckets_for(
        self,
        name: str,
        gen_dir: str,
        nb: int,
        bkeys: list[str],
        source: DataFrame,
    ) -> tuple[DataFrame | None, dict]:
        """Bucket-pruned target read for a MERGE wave: hash the source
        keys with Spark's own bucket function (pmod(murmur3, nb) — the
        exact rule the bucketed writer named the files with; parity
        pinned in tests) and scan ONLY the files of the touched
        buckets. Only engages when the wave touches at most half the
        buckets — reading a file subset forfeits the catalog scan's
        bucket metadata (the join re-shuffles the subset), which is a
        win exactly when the subset is small. Returns (df, report);
        (None, full-report) when pruning shouldn't or can't engage."""
        import re as _re

        full = {"mode": "full", "total": nb, "scanned": nb, "pruned": 0}
        cap = max(1, nb // 2)
        # early-exit probe: we only need to know whether the wave
        # touches MORE than cap buckets — limit(cap+1) keeps the probe
        # one cheap partial-aggregate job even on a large source (the
        # common all-buckets wave pays the minimum to learn it)
        tb = {
            r["b"]
            for r in source.select(
                F.pmod(F.hash(*[F.col(k) for k in bkeys]), F.lit(nb)).alias(
                    "b"
                )
            )
            .distinct()
            .limit(cap + 1)
            .collect()
        }
        if len(tb) > cap:
            return None, full
        pat = _re.compile(r"_(\d{5,})\.")
        sel: list[str] = []
        for fn in sorted(os.listdir(gen_dir)):
            if fn.startswith(("_", ".")):
                continue
            p = os.path.join(gen_dir, fn)
            if not os.path.isfile(p):
                continue
            m = pat.search(fn)
            if m is None:
                return None, full  # unparseable name: refuse to prune
            if int(m.group(1)) in tb:
                sel.append(p)
        phys_schema = self._bucket_phys_schema(name)
        phys = (
            self.spark.read.schema(phys_schema).parquet(*sel)
            if sel
            else local_df(self.spark, [], phys_schema)
        )
        return (
            self._apply_bucket_dvs(name, gen_dir, phys),
            {
                "mode": "buckets",
                "total": nb,
                "scanned": len(tb),
                "pruned": nb - len(tb),
            },
        )

    def _register_bucketed_gen(self, name: str, gen_dir: str) -> None:
        """Register a generation directory of bucket-aligned files as
        an EXTERNAL session-catalog bucketed table (bucket ids parse
        from the file names Spark's own bucketed writer produced) —
        what lets an incrementally-merged generation keep planning
        co-located zero-Exchange joins without any data rewrite.
        Registers with the GENERATION's own bucket count, so history
        written before a rebucket() still plans correctly."""
        nb = self._gen_buckets(name, gen_dir)
        _, keys = BUCKET_SPECS[name]
        tbl = self._table_name(name, gen_dir)
        ddl = ", ".join(
            f"`{f.name}` {f.dataType.simpleString()}"
            for f in self._bucket_phys_schema(name).fields
        )
        self.spark.sql(f"DROP TABLE IF EXISTS {tbl}")
        self.spark.sql(
            f"CREATE TABLE {tbl} ({ddl}) USING PARQUET "
            f"CLUSTERED BY ({', '.join(keys)}) "
            f"SORTED BY ({', '.join(keys)}) INTO {nb} BUCKETS "
            f"LOCATION '{gen_dir}'"
        )

    @staticmethod
    def _link_data_files(src_dir: str, dst_dir: str) -> int:
        """Hardlink every data file of `src_dir` into `dst_dir`
        (O(#files) metadata, zero data bytes — segments are immutable,
        so generations share them by link count; the manifest-reuse
        analog). Returns the number of files linked."""
        n = 0
        for fn in sorted(os.listdir(src_dir)):
            if fn.startswith(("_", ".")):
                continue  # _SUCCESS / _BUCKETDV / hidden
            s = os.path.join(src_dir, fn)
            if not os.path.isfile(s):
                continue
            dst = os.path.join(dst_dir, fn)
            if os.path.exists(dst):
                raise FileExistsError(
                    f"bucketed commit: data file name collision {fn!r}"
                )
            try:
                os.link(s, dst)
            except OSError:
                shutil.copy2(s, dst)  # cross-device fallback
            n += 1
        return n

    def _merge_bucketed_commit(
        self,
        name: str,
        cur: str,
        classified: DataFrame,
        on: list[str],
        metrics: dict[str, int],
    ) -> None:
        """O(changes) MERGE commit for a bucketed table (see the
        section comment above): bucket-aligned delta files + one DV +
        hardlinked base, published as a new generation + catalog swap.
        Caller holds the table's commit lock. Delta files are written
        at the BASE generation's bucket count (file names carry bucket
        ids, so one directory must be single-count); a rebucket()'s new
        target count takes effect at the next clean rewrite."""
        nb = self._gen_buckets(name, cur)
        _, keys = BUCKET_SPECS[name]
        cols = [f.name for f in self.schemas[name].fields]
        d = self._dir(name)
        ns = time.time_ns()
        gen = os.path.join(d, f"gen-{ns}")
        os.makedirs(gen, exist_ok=True)
        self._stamp_nbuckets(gen, nb)
        stage = None
        if metrics["updated"] or metrics["inserted"]:
            # Spark's own bucketed writer guarantees hash compatibility
            # with the base layout; repartition on the bucket keys makes
            # each task own one bucket -> at most nb delta files
            delta = (
                classified.where(F.col("__op").isin("U", "I"))
                .select(*cols)
                .withColumn(self._COMMIT_COL, F.lit(ns))
            )
            stage = os.path.join(d, f"stage-{ns}")
            tmp_tbl = f"{self._table_name(name, gen)}_stage"
            writer = (
                delta.repartition(nb, *[F.col(k) for k in keys])
                .write.mode("overwrite")
                .format("parquet")
                .option("path", stage)
            )
            # parquet-level bloom filters on the sidecar columns: the
            # row-group twin of the _FILESTATS digests — a pushed
            # In/EqualTo predicate (the engine's frontier row filter)
            # prunes row groups even in files whose distinct-key count
            # exceeded the sidecar digest cap
            for c in self._file_stat_cols(name):
                writer = writer.option(f"parquet.bloom.filter.enabled#{c}", "true")
            writer.bucketBy(nb, *keys).sortBy(*keys).saveAsTable(tmp_tbl)
            self.spark.sql(f"DROP TABLE IF EXISTS {tmp_tbl}")  # external
        prior = self._bucket_meta(cur) or {"waves": 0, "dvs": []}
        dvs = list(prior["dvs"])
        if metrics["updated"] or metrics["deleted"]:
            dv = self._write_dv(
                name,
                _changed_keys(classified, on),
                metrics["updated"] + metrics["deleted"],
            )
            dvs.append({"path": dv, "ns": ns, "keys": list(on)})
        # per-file skipping stats: hardlinked base files inherit the
        # prior sidecar's entries (same bytes); the delta stage pays
        # one O(changes) stats pass before linking in
        fcols = self._file_stat_cols(name)
        fstats = dict(self._filestats(cur) or {}) if fcols else {}
        if fcols and stage is not None:
            fstats.update(self._stat_data_files(name, stage, fcols))
        self._link_data_files(cur, gen)
        if stage is not None:
            self._link_data_files(stage, gen)
            shutil.rmtree(stage, ignore_errors=True)
        if fcols:
            self._write_filestats(gen, fstats)
        tmp = self._bucket_meta_path(gen) + ".tmp"
        with open(tmp, "w") as fh:
            json.dump({"waves": int(prior["waves"]) + 1, "dvs": dvs}, fh)
        os.replace(tmp, self._bucket_meta_path(gen))
        self._register_bucketed_gen(name, gen)
        self._catalog_swap({name: os.path.basename(gen)})

    def _commit_classified(
        self,
        name: str,
        classified: DataFrame,
        on: list[str],
        metrics: dict[str, int],
        zone_cols: list[str] | None,
        bloom_cols: list[str] | None,
        dv_scope: list[str] | None,
    ) -> None:
        """The commit tail merge() and apply_changes share, over a
        `_checkpoint_ops` frame (`__op`, `__k_<key>`, the table's
        columns) and its counts. Caller holds the commit lock. A first
        write replaces the table with the non-deleted rows; otherwise
        an empty change set writes NOTHING, a bucketed table takes the
        bucket-aligned MOR commit (_merge_bucketed_commit), and a
        manifest table gets ONE deletion vector over the U/D keys
        (scoped to `dv_scope`, else every base segment) plus ONE
        segment of the U/I rows."""
        cols = [f.name for f in self.schemas[name].fields]
        bucketed = self._is_bucketed(name)
        cur = self._current(name)
        base = None if bucketed else self._base_doc(name)
        first_write = (cur is None) if bucketed else not base["segments"]
        if first_write:
            self.replace(
                name,
                classified.where(
                    F.col("__op").isNull() | (F.col("__op") != "D")
                ).select(*cols),
            )
            return
        if not sum(metrics.values()):
            return
        if bucketed:
            self._merge_bucketed_commit(name, cur, classified, on, metrics)
            return
        doc = {"segments": list(base["segments"]), "deletes": list(base["deletes"])}
        if metrics["updated"] or metrics["deleted"]:
            dv = self._write_dv(
                name,
                _changed_keys(classified, on),
                metrics["updated"] + metrics["deleted"],
            )
            # a scope pruned to the segments that can hold a U/D key
            # spares the other segments the anti-join on every read
            if dv_scope is None:
                dv_scope = [_seg_id(e) for e in base["segments"]]
            doc["deletes"].append({"path": dv, "keys": list(on), "over": dv_scope})
        if metrics["updated"] or metrics["inserted"]:
            doc["segments"].append(
                self._write_segment(
                    name,
                    classified.where(F.col("__op").isin("U", "I")),
                    zone_cols,
                    bloom_cols,
                    metrics["updated"] + metrics["inserted"],
                )
            )
        self._commit_manifest(name, doc)

    def _base_doc(self, name: str) -> dict:
        """The current generation expressed as manifest entries
        (relative to the table dir — the SAME dir any new generation
        lives in, so entries carry over verbatim); a plain snapshot
        generation becomes a single base segment."""
        cur = self._current(name)
        if cur is None:
            return {"segments": [], "deletes": []}
        doc = self._doc(cur)
        if doc is None:
            return {
                "segments": [{"path": os.path.relpath(cur, self._dir(name))}],
                "deletes": [],
            }
        return doc

    def _commit_manifest(self, name: str, doc: dict) -> None:
        """Atomically commit a new manifest generation (write-tmp-then-
        rename), then advance the catalog pointer — the swap is the
        visibility commit point; a crash in between leaves an orphan
        generation no pointer-resolved reader ever sees."""
        d = self._dir(name)
        os.makedirs(d, exist_ok=True)
        gen = os.path.join(d, f"gen-{time.time_ns()}")
        os.makedirs(gen, exist_ok=True)
        tmp = os.path.join(gen, "_MANIFEST.tmp")
        with open(tmp, "w") as fh:
            json.dump(doc, fh)
        os.replace(tmp, os.path.join(gen, "_MANIFEST"))
        self._catalog_swap({name: os.path.basename(gen)})

    #: rows at or below which a segment/DV write may go through the
    #: driver-side Arrow writer instead of a Spark write job. A Spark
    #: write of a KB-sized delta pays a fixed ~0.5-0.7 s of committer
    #: machinery (job + task launch, temp dir, per-file rename,
    #: _SUCCESS) that dwarfs the bytes; collecting the same rows as ONE
    #: Arrow batch and writing one parquet file driver-side keeps the
    #: commit O(changes) with a far smaller constant. The threshold is
    #: a row-count the caller must KNOW (merge/apply_changes metrics) —
    #: unhinted writes always take the Spark path, so an O(table)
    #: rewrite can never land on the driver.
    _ARROW_WRITE_MAX_ROWS = 65536

    def _arrow_write_dir(self, df: DataFrame, path: str) -> bool:
        """Driver-side single-file parquet write of a SMALL DataFrame
        (one collect as an Arrow table, no Spark write job). Writes to
        a temp dir and renames, so a failure leaves no trace; returns
        False on any conversion surprise and the caller falls back to
        the Spark writer — behavior can never diverge, only speed.
        Readers are unaffected: every segment/DV read passes an
        explicit schema, and Arrow writes the same physical parquet
        types Spark does (int32/int64, decimal128, timestamp-micros
        UTC)."""
        try:
            import pyarrow.parquet as pq

            tbl = df.toArrow()
        except Exception as exc:
            _LOG.warning("arrow small-write fell back to Spark for %s: %r", path, exc)
            return False
        tmp = path + ".arrowtmp"
        try:
            os.makedirs(tmp, exist_ok=True)
            pq.write_table(tbl, os.path.join(tmp, "part-00000.parquet"))
            with open(os.path.join(tmp, "_SUCCESS"), "w"):
                pass
            os.rename(tmp, path)
            return True
        except Exception as exc:
            _LOG.warning("arrow small-write fell back to Spark for %s: %r", path, exc)
            shutil.rmtree(tmp, ignore_errors=True)
            return False

    def _arrow_small(self, rows_hint: int | None) -> bool:
        return (
            rows_hint is not None
            and 0 <= rows_hint <= self._ARROW_WRITE_MAX_ROWS
        )

    def _write_segment(
        self,
        name: str,
        df: DataFrame,
        zone_cols: list[str] | None,
        bloom_cols: list[str] | None,
        rows_hint: int | None,
    ) -> dict:
        """Write rows as one immutable `seg-<ns>` dir and return its
        manifest entry: the shared commit tail of append, compact,
        replace_where, merge and apply_changes. `rows_hint` is an upper
        bound on the row count when the caller knows it (merge
        metrics) — small hinted writes take the driver-side Arrow
        path. With `zone_cols`/`bloom_cols` the entry carries
        data-skipping stats, computed over the segment read back from
        disk so they describe exactly the bytes a future scan sees."""
        d = self._dir(name)
        os.makedirs(d, exist_ok=True)
        cols = [f.name for f in self.schemas[name].fields]
        out = df.select(*cols)
        if name in SORT_KEYS:
            out = out.sortWithinPartitions(*SORT_KEYS[name])
        seg = f"seg-{time.time_ns()}"
        path = os.path.join(d, seg)
        if not (self._arrow_small(rows_hint) and self._arrow_write_dir(out, path)):
            out.write.mode("overwrite").parquet(path)
        self._stamp_epoch(name, path)
        entry: dict = {"path": seg}
        if zone_cols or bloom_cols:
            written = self.spark.read.schema(self.schemas[name]).parquet(path)
            entry["stats"] = self._column_stats(
                written, zone_cols or [], bloom_cols or [], None,
                self._BLOOM_BITS_PER_KEY, self._BLOOM_MAX_KEYS,
            )[None]
        return entry

    def _write_dv(self, name: str, keys: DataFrame, rows_hint: int | None) -> str:
        """Write a deletion vector (the distinct key rows it masks) as
        one `dv-<ns>` dir and return its name — through the Arrow path
        when `rows_hint` is small, else a Spark write."""
        dv = f"dv-{time.time_ns()}"
        path = os.path.join(self._dir(name), dv)
        os.makedirs(self._dir(name), exist_ok=True)
        keys = keys.distinct()
        if not (self._arrow_small(rows_hint) and self._arrow_write_dir(keys, path)):
            keys.write.mode("overwrite").parquet(path)
        return dv

    # -- column mapping (rename/drop without rewrite) --------------------------
    # Stable-identity schema evolution for non-bucketed tables: a
    # rename or drop is METADATA-ONLY. `_COLMAP.json` records an event
    # log (rename/drop/add) with a monotonically increasing EPOCH, and
    # every data directory written since the first event carries an
    # `_EPOCH` stamp (an underscore file inside the parquet dir —
    # invisible to scans). Reading a segment resolves each CURRENT
    # logical column to its physical name AT THAT SEGMENT'S EPOCH by
    # walking the event log backwards — the name-based equivalent of
    # Delta column mapping / Iceberg field ids (events compose, and a
    # column re-added after a drop can never capture an old physical
    # column's bytes, because the old segment's read schema simply
    # excludes it). Time travel, CDC diffs, and manifests mixing
    # pre-/post-rename segments all present CURRENT logical names
    # (Delta column-mapping semantics). Renames/drops require zero
    # merge-on-read debt (compact first): scoped filter strings and
    # DV key lists are written in the names current at THEIR commit,
    # and the zero-debt gate keeps every live reference current.

    def _colmap_path(self, name: str) -> str:
        return os.path.join(self._dir(name), "_COLMAP.json")

    def _colmap(self, name: str) -> dict | None:
        try:
            with open(self._colmap_path(name)) as fh:
                return json.load(fh)
        except (FileNotFoundError, json.JSONDecodeError):
            return None

    def _colmap_append(self, name: str, events: list[dict]) -> None:
        cm = self._colmap(name) or {"epoch": 0, "events": []}
        cm["epoch"] += 1
        for ev in events:
            cm["events"].append({**ev, "epoch": cm["epoch"]})
        p = self._colmap_path(name)
        os.makedirs(self._dir(name), exist_ok=True)
        tmp = p + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(cm, fh)
        os.replace(tmp, p)

    def _stamp_epoch(self, name: str, data_dir: str) -> None:
        """Record the table's current schema epoch inside a freshly
        written data dir (no-op for epoch-0 tables — absent stamp
        means epoch 0)."""
        cm = self._colmap(name)
        if cm and cm["epoch"] > 0:
            tmp = os.path.join(data_dir, "_EPOCH.tmp")
            with open(tmp, "w") as fh:
                fh.write(str(cm["epoch"]))
            os.replace(tmp, os.path.join(data_dir, "_EPOCH"))

    @staticmethod
    def _data_epoch(data_dir: str) -> int:
        try:
            with open(os.path.join(data_dir, "_EPOCH")) as fh:
                return int(fh.read())
        except (FileNotFoundError, ValueError):
            return 0

    @staticmethod
    def _names_at_epoch(
        fields: list, events: list[dict], epoch: int
    ) -> dict[str, str | None]:
        """current logical name -> physical name at `epoch` (None if
        the field did not exist yet). Events are walked newest-first;
        only events AFTER `epoch` separate then from now."""
        out: dict[str, str | None] = {}
        newer = [e for e in events if e["epoch"] > epoch]
        for f in fields:
            nm: str | None = f.name
            for ev in reversed(newer):
                if ev["op"] == "rename" and ev["to"] == nm:
                    nm = ev["from"]
                elif ev["op"] == "add" and ev["name"] == nm:
                    nm = None  # born after this epoch
                    break
            out[f.name] = nm
        return out

    def _map_segment_df(
        self, name: str, data_dir: str, colmap: dict
    ) -> DataFrame:
        """Read one data dir under column mapping: per-epoch physical
        schema, aliased to current logical names, absent-at-epoch
        fields null-filled."""
        fields = list(self.schemas[name].fields)
        epoch = self._data_epoch(data_dir)
        if epoch >= colmap["epoch"]:
            return self.spark.read.schema(self.schemas[name]).parquet(data_dir)
        mapping = self._names_at_epoch(fields, colmap["events"], epoch)
        phys = T.StructType(
            [
                T.StructField(mapping[f.name], f.dataType, True)
                for f in fields
                if mapping[f.name] is not None
            ]
        )
        df = self.spark.read.schema(phys).parquet(data_dir)
        cols = []
        for f in fields:
            if mapping[f.name] is None:
                cols.append(F.lit(None).cast(f.dataType).alias(f.name))
            else:
                cols.append(F.col(mapping[f.name]).alias(f.name))
        return df.select(*cols)

    def _guard_colmap_change(self, name: str, cols: list[str]) -> None:
        if self.bucketing and name in BUCKET_SPECS:
            raise ValueError(
                f"column mapping on bucketed table {name!r} requires a "
                "rewrite (bucket DDL names are physical); use replace()"
            )
        for c in cols:
            if c in SORT_KEYS.get(name, []):
                raise ValueError(
                    f"{name!r}: {c!r} is a sort-on-write key; rename the "
                    "SORT_KEYS policy first"
                )
        debt = self.mor_debt(name)
        if debt["filters"] or debt["deletes"]:
            raise ValueError(
                f"{name!r}: rename/drop requires zero merge-on-read debt "
                "(scoped filters / deletion vectors reference column "
                "names as-of their commit) — run compact() first"
            )
        # registered materialized views name source columns in their
        # spec JSON — a rename/drop they can't see would break every
        # subsequent refresh (the spec would select vanished columns)
        for view in self.list_mviews():
            spec = self.mview_spec(view)
            if spec.get("src") != name:
                continue
            referenced = (
                set(spec.get("group_by", []))
                | set(spec.get("sums", {}).values())
                | set(spec.get("mins", {}).values())
                | set(spec.get("maxs", {}).values())
                | set(spec.get("key_cols", []))
                | set(spec.get("compare_cols", []))
            )
            hit = sorted(set(cols) & referenced)
            if hit:
                raise ValueError(
                    f"{name!r}: {hit} referenced by materialized view "
                    f"{view!r} — drop or re-create the view first"
                )

    def rename_column(self, name: str, old: str, new: str) -> None:
        """METADATA-ONLY column rename (the Delta column-mapping /
        Iceberg rename analog): no generation or segment is rewritten,
        at any table size. Every read — current, time travel, CDC —
        presents the NEW name uniformly; segments written before the
        rename resolve through the epoch map. A rename alone is
        invisible to diff_generations (same values, same keys)."""
        schema = self.schemas[name]
        if old not in schema.fieldNames():
            raise ValueError(f"rename_column({name!r}): no column {old!r}")
        if new in schema.fieldNames():
            raise ValueError(
                f"rename_column({name!r}): {new!r} already exists"
            )
        with _commit_lock(self.root, name):
            self._guard_colmap_change(name, [old])
            # colmap event FIRST, schema second: a crash in between
            # leaves an event the old declared schema resolves through
            # harmlessly (epoch mapping finds no current field to
            # translate), whereas schema-first would read old segments
            # under the new name with NO mapping — silent null-fill
            self._colmap_append(
                name, [{"op": "rename", "from": old, "to": new}]
            )
            self.schemas[name] = T.StructType(
                [
                    T.StructField(
                        new if f.name == old else f.name, f.dataType, f.nullable
                    )
                    for f in schema.fields
                ]
            )
            # persist unconditionally: a fresh instance must see the
            # post-rename names even if its caller declared stale ones
            self._persist_schema(name)

    def drop_column(self, name: str, col: str) -> None:
        """METADATA-ONLY column drop: the declared schema shrinks; old
        segments' bytes for the column are simply never read again. A
        column added later under the SAME name is a NEW field — old
        segments null-fill it and can never leak the dropped bytes
        (the add event fences the epochs)."""
        schema = self.schemas[name]
        if col not in schema.fieldNames():
            raise ValueError(f"drop_column({name!r}): no column {col!r}")
        if len(schema.fields) == 1:
            raise ValueError(f"drop_column({name!r}): cannot drop last column")
        with _commit_lock(self.root, name):
            self._guard_colmap_change(name, [col])
            self._colmap_append(name, [{"op": "drop", "name": col}])
            self.schemas[name] = T.StructType(
                [f for f in schema.fields if f.name != col]
            )
            self._persist_schema(name)

    def _table_name(self, name: str, gen_dir: str) -> str:
        gen = os.path.basename(gen_dir).replace("gen-", "")
        return f"fdb_{self._ident}_{name}_{gen}"

    def _dir(self, name: str) -> str:
        return os.path.join(self.root, name)

    def _current(self, name: str) -> str | None:
        """Current generation, resolved through the root catalog
        pointer (the visibility commit point). Fallback to the newest
        on-disk generation covers tables that predate the pointer or
        whose generation landed without a swap (a crashed single-table
        commit — its orphan becomes visible only via this legacy path,
        and only when the catalog has never tracked the table)."""
        d = self._dir(name)
        ent = self._read_catalog()["tables"].get(name)
        if ent is not None and os.path.isdir(os.path.join(d, ent)):
            return os.path.join(d, ent)
        gens = (
            sorted(g for g in os.listdir(d) if g.startswith("gen-"))
            if os.path.isdir(d)
            else []
        )
        return os.path.join(d, gens[-1]) if gens else None

    def _doc(self, gen_dir: str) -> dict | None:
        """Parsed, normalized manifest if `gen_dir` is a manifest
        generation, else None (plain snapshot generation). Normal form:
        ``{"segments": [{"path": rel, "filter": sql?}],
           "deletes":  [{"path": rel, "keys": [col...],
                         "over": [segment-basename...]}]}``
        — v1 manifests (bare relpath strings, no deletes) normalize
        transparently."""
        mf = os.path.join(gen_dir, "_MANIFEST")
        if not os.path.exists(mf):
            return None
        with open(mf) as fh:
            raw = json.load(fh)
        segs = [
            {"path": e} if isinstance(e, str) else dict(e)
            for e in raw["segments"]
        ]
        return {"segments": segs, "deletes": list(raw.get("deletes", []))}

    def _manifest(self, gen_dir: str) -> list[str] | None:
        """ALL file paths (absolute) a manifest generation references —
        data segments AND deletion-vector files — else None. Bucketed
        MOR generations reference their deletion vectors through
        _BUCKETDV.json (their data files live inside the gen dir
        itself, protected by generation retention). This is the
        reference set vacuum() must protect."""
        doc = self._doc(gen_dir)
        if doc is None:
            meta = self._bucket_meta(gen_dir)
            if meta is not None:
                table_dir = os.path.dirname(gen_dir)
                return [
                    os.path.join(table_dir, e["path"]) for e in meta["dvs"]
                ]
            return None
        table_dir = os.path.dirname(gen_dir)
        return [
            os.path.join(table_dir, e["path"])
            for e in doc["segments"] + doc["deletes"]
        ]

    def _read_gen(
        self, name: str, gen_dir: str, keep: set[str] | None = None
    ) -> DataFrame:
        """Materialize a generation: per-segment scoped filters (the
        replace_where/delete_where predicate tombstones) apply inside
        each segment's scan; deletion vectors anti-join ONLY the
        segments they were committed over (file-scoped, like Delta
        DVs / Iceberg position deletes), so rows appended AFTER a
        delete are never swallowed by an older vector. `keep`
        restricts the scan to the named segment basenames — the hook
        data-skipping (read_point) prunes through; the scoped filters
        and vectors of the surviving segments still apply."""
        doc = self._doc(gen_dir)
        colmap = self._colmap(name)

        def _read_data(data_dir: str) -> DataFrame:
            if colmap is not None:
                return self._map_segment_df(name, data_dir, colmap)
            return self.spark.read.schema(self.schemas[name]).parquet(
                data_dir
            )

        if doc is None:
            # bucketed MOR generation read OUTSIDE the session catalog
            # (fresh session / time travel / CDC diff): plain path read
            # with the physical schema, deletion vectors still applied
            # — value-identical to the catalog read, just re-shuffles
            # on join
            if self._bucket_meta(gen_dir) is not None:
                phys = self.spark.read.schema(
                    self._bucket_phys_schema(name)
                ).parquet(gen_dir)
                return self._apply_bucket_dvs(name, gen_dir, phys)
            return _read_data(gen_dir)
        table_dir = os.path.dirname(gen_dir)
        dvs = [
            {
                # explicit key schema: vectors only ever hold the
                # table's key columns, so the scan needs no footer
                # round-trip for schema inference
                "df": self.spark.read.schema(
                    T.StructType(
                        [self.schemas[name][k] for k in d["keys"]]
                    )
                )
                .parquet(os.path.join(table_dir, d["path"]))
                .select(*d["keys"]),
                "keys": d["keys"],
                "over": set(d["over"]),
            }
            for d in doc["deletes"]
        ]
        parts: list[DataFrame] = []
        for e in doc["segments"]:
            if keep is not None and _seg_id(e) not in keep:
                continue
            # column mapping resolves to CURRENT logical names BEFORE
            # scoped filters and deletion vectors apply (their
            # references are kept current by the zero-debt rename gate)
            df = _read_data(os.path.join(table_dir, e["path"]))
            if e.get("filter"):
                df = df.where(F.expr(e["filter"]))
            seg_id = os.path.basename(e["path"].rstrip("/"))
            for dv in dvs:
                if seg_id in dv["over"]:
                    # NULL-SAFE anti-join: a NULL key names a real row
                    # group (merge() deletes rows whose key is NULL —
                    # e.g. the orphan-file rollup group); a plain
                    # USING-join would let those escape the vector
                    cond = None
                    for k in dv["keys"]:
                        eq = df[k].eqNullSafe(dv["df"][k])
                        cond = eq if cond is None else cond & eq
                    df = df.join(dv["df"], cond, "left_anti")
            parts.append(df)
        if not parts:
            return local_df(self.spark, [], self.schemas[name])
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def snapshot(self) -> "Snapshot":
        """A consistent multi-table read view pinned at the current
        catalog version: every `snap.read()` resolves through the SAME
        pointer map, so a report joining N tables sees exactly one
        commit point even while writers keep advancing the catalog —
        the reader half of commit_multi's all-old-or-all-new contract
        (BEGIN ... in snapshot isolation, the Iceberg
        snapshot-id-pinned scan analog). Retention contract: vacuum
        must not reclaim generations a live snapshot still pins —
        the same rule CDC cursors already impose; a reclaimed pin
        raises rather than serving a partial table."""
        return Snapshot(self)

    def read(self, name: str) -> DataFrame:
        """Current generation of the table; empty (declared schema) if
        the table has never been written. Bucketed tables read through
        the session catalog (bucket metadata lives there — that's what
        lets the planner skip the Exchange); a session that didn't
        write the generation falls back to the plain path read, which
        is value-identical but re-shuffles on join."""
        cur = self._current(name)
        if cur is None:
            return local_df(self.spark, [], self.schemas[name])
        if self.bucketing and name in BUCKET_SPECS:
            tbl = self._table_name(name, cur)
            try:
                if self.spark.catalog.tableExists(tbl):
                    return self._apply_bucket_dvs(
                        name, cur, self.spark.table(tbl)
                    )
            except AnalysisException as exc:
                _LOG.warning(
                    "read(%r): catalog table of generation %s failed (%s); "
                    "falling back to the un-bucketed path read",
                    name, os.path.basename(cur), exc,
                )
        return self._read_gen(name, cur)

    def replace(self, name: str, df: DataFrame) -> None:
        """Write a new generation; superseded generations stay on disk
        until vacuum(). Lazy DataFrames handed out before the swap (a
        merge result executed later, a listing() a caller still holds)
        keep reading their snapshot — the single-box analog of snapshot
        isolation; Delta/Iceberg time travel + VACUUM play this role on
        a cluster. Generations are a few KB of parquet here; vacuum()
        is the explicit retention knob."""
        with _commit_lock(self.root, name):
            if self.bucketing and name in BUCKET_SPECS:
                n, keys = self._bucket_spec(name)
                gen = self._write_bucketed_gen(name, df, n, keys)
            else:
                d = self._dir(name)
                os.makedirs(d, exist_ok=True)
                gen = os.path.join(d, f"gen-{time.time_ns()}")
                cols = [f.name for f in self.schemas[name].fields]
                out = df.select(*cols)
                if name in SORT_KEYS:
                    out = out.sortWithinPartitions(*SORT_KEYS[name])
                out.write.mode("overwrite").parquet(gen)
                self._stamp_epoch(name, gen)
            self._catalog_swap({name: os.path.basename(gen)})

    def _write_bucketed_gen(
        self, name: str, df: DataFrame, n: int, keys: list[str]
    ) -> str:
        """Write a full clean bucketed generation (data + _NBUCKETS
        stamp + session-catalog registration + per-file stats) WITHOUT
        swapping the catalog pointer — the staging half of replace()
        and of the lock-free rebucket() rewrite. The generation is
        invisible to every pointer-resolved reader until a caller
        swaps it in."""
        d = self._dir(name)
        os.makedirs(d, exist_ok=True)
        gen = os.path.join(d, f"gen-{time.time_ns()}")
        cols = [f.name for f in self.schemas[name].fields]
        writer = (
            df.select(*cols)
            .withColumn(
                self._COMMIT_COL,
                F.lit(int(os.path.basename(gen)[len("gen-"):])),
            )
            .write.mode("overwrite")
            .format("parquet")
            .option("path", gen)
        )
        # see _merge_bucketed_commit: row-group bloom filters on the
        # sidecar columns for pushed-predicate pruning inside wide files
        for c in self._file_stat_cols(name):
            writer = writer.option(f"parquet.bloom.filter.enabled#{c}", "true")
        writer.bucketBy(n, *keys).sortBy(*keys).saveAsTable(
            self._table_name(name, gen)
        )
        self._stamp_nbuckets(gen, n)
        fcols = self._file_stat_cols(name)
        if fcols:
            # per-file skipping stats for the clean snapshot (one
            # extra pass inside an already-O(table) rewrite) — without
            # them every post-compact wave would scan the whole
            # rewritten base again
            self._write_filestats(gen, self._stat_data_files(name, gen, fcols))
        return gen

    def vacuum(self, retain: int = 1, respect_consumers: bool = False) -> None:
        """Drop all but the newest `retain` generations of every table,
        plus any segment directory no retained manifest references.
        A retained MANIFEST generation may reference an older plain
        generation as its base — those stay until every manifest
        referencing them is vacuumed. CROSS-TABLE aware: a shallow
        clone()'s manifest references the source table's segments, so
        references are collected over ALL tables first — vacuuming the
        source never reclaims data a retained clone still reads. The
        scan covers every table ON DISK under root (not just this
        instance's schema dict), so clones/quarantines created by a
        previous or concurrent instance are protected too. Call
        only when no lazy plans over older snapshots are alive.

        `respect_consumers=True` additionally retains every generation
        a registered CDC cursor still pins (`_CURSOR-*` files — MV
        consumers included), so retention need not be hand-sized to
        the slowest consumer's lag: the lagging pull stays serviceable
        and the space is reclaimed by the next vacuum after the cursor
        advances. Default False preserves the strict contract the g25
        retention tests pin (a vacuumed cursor RAISES with a re-seed
        instruction — the operator chose retention over laggards).

        Holds EVERY table's commit lock (sorted order — same global
        order all writers use, catalog last) for the whole pass: the
        sweep deletes unreferenced stage-/dv- dirs, and an in-flight
        cross-process MERGE's not-yet-published commit state would
        otherwise be reclaimed from under it."""
        locks = [
            _commit_lock(self.root, n) for n in sorted(self._disk_tables())
        ]
        for lk in locks:
            lk.acquire()
        try:
            return self._vacuum_locked(retain, respect_consumers)
        finally:
            for lk in reversed(locks):
                lk.release()

    def _vacuum_locked(self, retain: int, respect_consumers: bool) -> None:
        keep_by_table: dict[str, set[str]] = {}
        referenced: set[str] = set()
        cat_tables = self._read_catalog()["tables"]
        for name in self._disk_tables():
            d = self._dir(name)
            if not os.path.isdir(d):
                continue
            gens = sorted(g for g in os.listdir(d) if g.startswith("gen-"))
            keep_by_table[name] = set(gens[max(0, len(gens) - retain):])
            # the catalog-pointed generation is ALWAYS retained — it is
            # what read() resolves, even when a crashed commit left
            # newer orphan gen dirs above it in the listing
            if name in cat_tables:
                keep_by_table[name].add(cat_tables[name])
            if respect_consumers:
                for entry in os.listdir(d):
                    if not entry.startswith("_CURSOR-"):
                        continue
                    try:
                        with open(os.path.join(d, entry)) as fh:
                            pinned = fh.read().strip()
                    except OSError:
                        continue
                    if pinned:
                        keep_by_table[name].add(pinned)
            for g in keep_by_table[name]:
                segs = self._manifest(os.path.join(d, g))
                for s in segs or []:
                    referenced.add(os.path.normpath(os.path.abspath(s)))
        for name, keep in keep_by_table.items():
            d = self._dir(name)
            for entry in sorted(os.listdir(d)):
                if entry in keep:
                    continue
                # stage-: a crashed bucketed-merge's staging dir (its
                # committed files were hardlinked into the generation,
                # so removing the orphan never loses data)
                if not entry.startswith(("gen-", "seg-", "dv-", "stage-")):
                    continue
                gen_dir = os.path.join(d, entry)
                if os.path.normpath(os.path.abspath(gen_dir)) in referenced:
                    continue
                if name in BUCKET_SPECS and entry.startswith("gen-"):
                    try:
                        self.spark.sql(
                            f"DROP TABLE IF EXISTS {self._table_name(name, gen_dir)}"
                        )
                    except Exception:
                        pass
                shutil.rmtree(gen_dir, ignore_errors=True)

    def append(
        self,
        name: str,
        df: DataFrame,
        zone_cols: list[str] | None = None,
        bloom_cols: list[str] | None = None,
        rows_hint: int | None = None,
    ) -> None:
        """Append rows (archive/removal-queue semantics): O(delta), not
        O(table) — the new rows are written once as an immutable
        segment (`seg-<ns>/`), and the next generation is a tiny
        `_MANIFEST` listing the prior generation's segments plus the
        new one. Readers of older generations keep their snapshot
        (segments are never rewritten), so this is exactly the
        Delta/Iceberg APPEND-commit shape: data files + a log entry.
        Under continuous crawl the archives accrue many small
        segments; `compact()` folds them back into one snapshot
        (the OPTIMIZE analog) on the engine's idle path. Appends to a
        bucketed table would break the bucket layout and are refused —
        bucketed entity tables go through replace()/MERGE.

        `zone_cols` / `bloom_cols` record per-segment data-skipping
        statistics in the manifest entry (zone maps = min/max; bloom
        digests = packed bitmaps over the column's value hashes — the
        Delta file-stats / Iceberg metrics + Parquet-bloom analog at
        the manifest level, where pruning needs no file open at all).
        Stats cost one extra O(delta) aggregate over the segment just
        written — read back from disk so they describe exactly the
        bytes a future scan sees."""
        if self.bucketing and name in BUCKET_SPECS:
            raise ValueError(f"append() on bucketed table {name!r}; use replace()")
        with _commit_lock(self.root, name):
            entry = self._write_segment(name, df, zone_cols, bloom_cols, rows_hint)
            base = self._base_doc(name)
            self._commit_manifest(
                name,
                {
                    "segments": base["segments"] + [entry],
                    "deletes": base["deletes"],
                },
            )

    # -- data skipping: one stats writer, one prune decision ------------------
    # The reference's B-tree indexes on dir_path, (dir_id, name),
    # sha1_hash and next_crawl become zone maps (min/max/null count)
    # and bloom digests recorded per unit — a manifest segment or a
    # bucketed data file. _column_stats is the only writer of those
    # entries and _skip_reason the only reader; every pruned read
    # (read_point, read_prefix, read_pruned, read_bucketed_pruned) and
    # MERGE target pruning (_merge_targets) asks it one question per
    # unit through a _Probe.

    #: bloom shape: k fixed at 4 probes; m = next power of two >= 32
    #: bits per distinct value (false-positive rate ~2e-4 per segment)
    _BLOOM_K = 4
    _BLOOM_BITS_PER_KEY = 32
    #: segments with more distinct keys than this record NO bloom
    #: digest (zone-map-only): beyond it the base64 digest outgrows a
    #: manifest entry's budget (~44 KB at the cap) and pruning should
    #: come from value clustering instead. The cap also bounds the
    #: driver-side bitmap assembly — nothing here is O(segment rows)
    #: on the driver.
    _BLOOM_MAX_KEYS = 8192

    def _column_stats(
        self,
        df: DataFrame,
        zone_cols: list[str],
        bloom_cols: list[str],
        unit_col: str | None,
        bits_per_key: int,
        max_keys: int,
    ) -> dict:
        """Skipping stats of `df` per unit — the whole frame (key None)
        when `unit_col` is None, else each value of `unit_col` (a data
        file's name): zone maps for `zone_cols`, bloom digests for
        `bloom_cols`. One grouped aggregate job, then per bloom column
        one DISTRIBUTIVE bit-position job: each non-NULL value's
        xxhash64 expands to its k double-hashed positions (h1 + i*h2
        mod m, the JVM replica of _bloom_positions) and only the
        distinct positions per unit reach the driver, so a
        high-cardinality unit can never OOM it. The units of one pass
        share a digest width m sized from the largest distinct-key
        count at or under `max_keys`; units above it record zone maps
        only. NULL rows set no bits: a NULL probe is answered by the
        null count. Datetimes persist as ISO strings (lexicographic
        order == chronological order). Returns {unit: {col: {min, max,
        nulls, bloom?}}}."""
        by = [unit_col] if unit_col else []

        def unit(r):
            return r[unit_col] if unit_col else None

        aggs: list = []
        for c in zone_cols:
            aggs += [
                F.min(c).alias(f"mn__{c}"),
                F.max(c).alias(f"mx__{c}"),
                (F.count(F.lit(1)) - F.count(c)).alias(f"nl__{c}"),
            ]
        for c in bloom_cols:
            aggs.append(F.count_distinct(F.xxhash64(c)).alias(f"nd__{c}"))
        rows = df.groupBy(*by).agg(*aggs).collect()
        out: dict = {unit(r): {} for r in rows}
        for r in rows:
            for c in zone_cols:
                mn, mx = _stats_probe(r[f"mn__{c}"]), _stats_probe(r[f"mx__{c}"])
                for v in (mn, mx):
                    if v is not None and not isinstance(v, (int, float, str)):
                        raise TypeError(
                            f"zone stats on {c!r}: unsupported type {type(v).__name__}"
                        )
                out[unit(r)][c] = {"min": mn, "max": mx, "nulls": int(r[f"nl__{c}"])}
        k = self._BLOOM_K
        for c in bloom_cols:
            fit = [r for r in rows if int(r[f"nd__{c}"]) <= max_keys]
            if not fit:
                continue
            nbits = max(64, max(int(r[f"nd__{c}"]) for r in fit) * bits_per_key)
            m = 1 << (nbits - 1).bit_length()
            h = f"xxhash64({c})"
            pos_expr = (
                f"transform(sequence(0, {k - 1}), i -> "
                f"pmod(({h} & 4294967295) + i * (shiftrightunsigned({h}, 32) | 1), {m}))"
            )
            vals = df.where(F.col(c).isNotNull())
            if unit_col:
                # over-cap units record no digest: drop their rows
                # BEFORE the explode instead of expanding k positions
                # per row only to discard them at the driver
                vals = vals.where(F.col(unit_col).isin([unit(r) for r in fit]))
            pos_rows = (
                vals.select(*by, F.explode(F.expr(pos_expr)).alias("p"))
                .groupBy(*by)
                .agg(F.collect_set("p").alias("ps"))
                .collect()
            )
            for r in pos_rows:
                bmp = bytearray(m // 8)
                for p in r["ps"]:
                    bmp[p >> 3] |= 1 << (p & 7)
                out[unit(r)].setdefault(c, {})["bloom"] = {
                    "m": m,
                    "k": k,
                    "bits": base64.b64encode(bytes(bmp)).decode(),
                }
        return out

    def _probe_hash(self, value, coltype: T.DataType) -> int:
        """xxhash64 of the probe literal exactly as the stats pass
        hashed the column. Integral/string/double/float/boolean types
        hash ON THE DRIVER (portable_xxhash64 — zero Spark jobs, the
        point of an index-grade lookup); anything else pays one
        memoized 1-row job per distinct (type, value)."""
        h = portable_xxhash64(value, coltype)
        if h is not None:
            return h
        key = (coltype.simpleString(), value)
        if key not in self._probe_hash_memo:
            self._probe_hash_memo[key] = (
                self.spark.range(1)
                .select(F.xxhash64(F.lit(value).cast(coltype)))
                .first()[0]
            )
        return self._probe_hash_memo[key]

    def _hasher(self, name: str, col: str):
        """A _Probe `hash_of` for `col` of table `name`."""
        coltype = self.schemas[name][col].dataType
        return lambda v: self._probe_hash(v, coltype)

    def _read_segments_pruned(
        self, name: str, col: str, probe: _Probe, report: dict
    ) -> DataFrame:
        """The current generation restricted to the manifest segments
        `_skip_reason` cannot rule out for `probe` on `col`; fills
        `report` (total, <reason>_skipped, scanned). Scoped filters and
        deletion vectors of the surviving segments still apply. A plain
        snapshot generation is one unprunable unit."""
        cur = self._current(name)
        if cur is None:
            return local_df(self.spark, [], self.schemas[name])
        doc = self._doc(cur)
        if doc is None:
            report["total"] = report["scanned"] = 1
            return self._read_gen(name, cur)
        report["total"] = len(doc["segments"])
        kept = _prune(
            doc["segments"],
            lambda e: (e.get("stats") or {}).get(col),
            probe,
            report,
        )
        return self._read_gen(name, cur, keep={_seg_id(e) for e in kept})

    def read_point(
        self, name: str, col: str, value
    ) -> tuple[DataFrame, dict[str, int]]:
        """Point lookup with manifest-level data skipping: scan ONLY
        the segments the prune decision (_skip_reason) cannot rule out
        for `value` on `col` — pure metadata, no data file opened for
        the rest (the Delta data-skipping / Iceberg metrics-pruning
        read path). Returns exactly what a full scan + null-safe
        equality filter would, plus a report {total, zone_skipped,
        bloom_skipped, scanned}: a lookup that scans 1 of 10,000 daily
        segments is index-grade without any index structure."""
        report = {"total": 0, "zone_skipped": 0, "bloom_skipped": 0, "scanned": 0}
        probe = _Probe(keys=[value], hash_of=self._hasher(name, col))
        df = self._read_segments_pruned(name, col, probe, report)
        return df.where(F.col(col).eqNullSafe(F.lit(value))), report

    @staticmethod
    def _prefix_upper(prefix: str) -> str | None:
        """Smallest string greater than every string with this prefix
        (last char incremented, max-codepoint tail dropped); None when
        no upper bound exists. Python code-point order == Spark's
        UTF8 binary order (UTF-8 preserves code-point order), so the
        bound composes with Spark-written zone maps."""
        p = prefix
        while p:
            c = ord(p[-1])
            if c < 0x10FFFF:
                return p[:-1] + chr(c + 1)
            p = p[:-1]
        return None

    def read_prefix(
        self, name: str, col: str, prefix: str
    ) -> tuple[DataFrame, dict[str, int]]:
        """Subtree/prefix scan with manifest-level data skipping (P5 at
        catalog scale): rows where `col` STARTS WITH `prefix`, scanning
        only the segments the prune decision cannot rule out for the
        half-open interval [prefix, prefix⁺). Segments are sorted on
        the path column at write (SORT_KEYS) and crawl waves have
        subtree locality, so a subtree query opens O(matching
        segments), not O(history) — the reference's `dir_path` B-tree
        range scan (FileDbDAL/Directory.py). Returns (rows, {total,
        zone_skipped, scanned})."""
        report = {"total": 0, "zone_skipped": 0, "scanned": 0}
        probe = _Probe(intervals=[(prefix, self._prefix_upper(prefix), True)])
        df = self._read_segments_pruned(name, col, probe, report)
        return df.where(F.col(col).startswith(prefix)), report

    #: a merge wave with at most this many distinct keys also probes
    #: each candidate segment's BLOOM digest (point-wave merges against
    #: interleaved key ranges prune where min/max can't); past the cap
    #: the hull decision stands alone — no unbounded driver collect
    _MERGE_BLOOM_PROBE_KEYS = 64

    def _merge_targets(
        self,
        name: str,
        segments: list[dict],
        on: list[str],
        source: DataFrame,
        blooms: bool,
    ) -> tuple[list[dict], int] | None:
        """MERGE target pruning: the segments that can hold a row whose
        key tuple equals SOME source key, by the prune decision. Stage
        one (one O(source) aggregate) probes each key column with the
        source's [min, max] hull (and NULLs when a source key is NULL);
        an equi-match needs every column to agree, so one refuting
        column drops the segment. Stage two (`blooms`) serves SMALL
        waves — at most _MERGE_BLOOM_PROBE_KEYS distinct key tuples,
        one bounded collect, attempted only when a stage-one survivor
        recorded a digest on a key column: a segment survives only if
        some tuple passes every column's point probe, which is what a
        scattered point wave needs when zone ranges interleave.
        Returns (kept segments, segments dropped by stage two), or
        None — and runs no job — when no segment recorded stats on a
        key column."""

        def stats(e: dict, k: str) -> dict | None:
            return (e.get("stats") or {}).get(k)

        if not any(stats(e, k) for e in segments for k in on):
            return None

        aggs: list = []
        for k in on:
            aggs += [
                F.min(k).alias(f"mn__{k}"),
                F.max(k).alias(f"mx__{k}"),
                (F.count(F.lit(1)) - F.count(k)).alias(f"nl__{k}"),
            ]
        row = source.agg(*aggs).first()
        hull = {
            k: _Probe(
                intervals=[(row[f"mn__{k}"], row[f"mx__{k}"], False)]
                if row[f"mn__{k}"] is not None
                else [],
                want_nulls=int(row[f"nl__{k}"]) > 0,
            )
            for k in on
        }
        touched = [
            e
            for e in segments
            if all(_skip_reason(stats(e, k), hull[k]) is None for k in on)
        ]
        if not blooms or not any(
            "bloom" in (stats(e, k) or {}) for e in touched for k in on
        ):
            return touched, 0
        cap = self._MERGE_BLOOM_PROBE_KEYS
        rows = source.select(*on).distinct().limit(cap + 1).collect()
        if not rows or len(rows) > cap:
            return touched, 0
        hash_of = {k: self._hasher(name, k) for k in on}
        tuples = [
            {k: _Probe(keys=[r[k]], hash_of=hash_of[k]) for k in on} for r in rows
        ]
        kept = [
            e
            for e in touched
            if any(
                all(_skip_reason(stats(e, k), t[k]) is None for k in on)
                for t in tuples
            )
        ]
        return kept, len(touched) - len(kept)

    def read_pruned(
        self,
        name: str,
        col: str,
        intervals: list[tuple],
        include_nulls: bool = False,
    ) -> tuple[DataFrame, dict[str, int]]:
        """Zone-pruned SUPERSET read: keep the segments the prune
        decision cannot rule out for any CLOSED [lo, hi] interval on
        `col` (a None bound is unbounded; `include_nulls` also asks for
        NULLs). NO row filter is applied — callers compose their own
        predicates on top. The primitive behind the engine's due-claim
        scan (next_crawl <= now) and the crawl wave's frontier-subtree
        read. Returns (df, {total, zone_skipped, scanned})."""
        report = {"total": 0, "zone_skipped": 0, "scanned": 0}
        probe = _Probe(
            intervals=[(lo, hi, False) for lo, hi in intervals],
            want_nulls=include_nulls,
        )
        return self._read_segments_pruned(name, col, probe, report), report

    def write_with_expectations(
        self, name: str, df: DataFrame, expectations: dict[str, str]
    ) -> dict[str, int]:
        """Gated write (DLT expectations analog): rows meeting every
        expectation replace the table; violating rows are APPENDED to
        `<name>__quarantine` (same schema + `violated`) so failures
        accumulate across waves for triage instead of vanishing.
        Returns per-expectation failure counts plus `_accepted` /
        `_quarantined` totals — the numbers a pipeline health
        dashboard alerts on. The split is one codegen projection
        (see apply_expectations); metrics come from one aggregate
        over the quarantined side, not a per-expectation rescan."""
        accepted, quarantined = apply_expectations(df, expectations)
        qname = f"{name}__quarantine"
        if qname not in self.schemas:
            self.schemas[qname] = T.StructType(
                list(self.schemas[name].fields)
                + [T.StructField("violated", T.StringType(), True)]
            )
            self._persist_schema(qname)
        quarantined = quarantined.localCheckpoint(eager=True)
        self.replace(name, accepted)
        self.append(qname, quarantined)
        agg = [F.count("*").alias("_quarantined")] + [
            F.sum(
                F.array_contains(F.split("violated", ","), nm).cast("bigint")
            ).alias(nm)
            for nm in sorted(expectations)
        ]
        row = quarantined.agg(*agg).collect()[0].asDict()
        metrics = {nm: int(row[nm] or 0) for nm in sorted(expectations)}
        metrics["_quarantined"] = int(row["_quarantined"] or 0)
        metrics["_accepted"] = self.read(name).count()
        return metrics

    def replace_if(
        self, name: str, df: DataFrame, expected_gen: str | None
    ) -> str:
        """Optimistic-concurrency commit (the Delta/Iceberg
        log-append-with-version-check analog): replace the table ONLY
        if its current generation is still `expected_gen` (None = the
        table must not exist yet). A writer whose base snapshot was
        superseded gets CommitConflict and must REBASE — re-read the
        new current, re-apply its logical change, retry — which is
        exactly what prevents the lost update a blind replace()
        commits. Returns the new current generation dir.

        Single-box approximation: the per-(root, table) commit lock —
        a thread RLock PLUS an exclusive flock on the table's lock
        file — serializes the check+replace across threads AND OS
        processes sharing the root, so no two racers can both pass the
        _current() check: exactly one wins, the other gets
        CommitConflict (a real lakehouse serializes this via the
        atomic log append; flock is the single-box analog).
        Generation swaps remain atomic (write-new-then-rename), so
        readers never see a torn table either way."""
        with _commit_lock(self.root, name):
            cur = self._current(name)
            if cur != expected_gen:
                raise CommitConflict(
                    f"{name}: expected generation "
                    f"{expected_gen and os.path.basename(expected_gen)}, "
                    f"found {cur and os.path.basename(cur)} — rebase and retry"
                )
            self.replace(name, df)
            new = self._current(name)
            assert new is not None
            return new

    def analyze(
        self, name: str, skew_cols: tuple | list = (), top_k: int = 5
    ) -> dict:
        """ANALYZE the table and persist planner statistics as
        `_STATS-<name>.json` next to its generations: row count, an
        estimated serialized width (type widths + measured average
        string lengths), total size estimate, and — for each
        `skew_cols` entry — the a7-style hot-key profile (top-k values
        + the hottest key's share). Consulting the stats later is a
        METADATA read (planner.py makes no Spark job to decide a join
        strategy); computing them is one aggregate pass plus one
        group-count per skew column, the standard ANALYZE cost a
        cluster pays on its maintenance edge. Stats are stamped with
        the analyzed generation; like any CBO the planner tolerates
        mild staleness — re-analyze on the same cadence as compact()."""
        df = self.read(name)
        schema = self.schemas[name]
        str_cols = [
            f.name for f in schema.fields if isinstance(f.dataType, T.StringType)
        ]
        aggs = [F.count(F.lit(1)).alias("__n")] + [
            F.avg(F.length(c)).alias(f"len__{c}") for c in str_cols
        ]
        row = df.agg(*aggs).first()
        n = int(row["__n"])
        width = 0
        for f in schema.fields:
            dt = f.dataType
            if isinstance(dt, T.StringType):
                width += int(row[f"len__{f.name}"] or 0) + 20
            elif isinstance(dt, (T.ByteType, T.BooleanType)):
                width += 1
            elif isinstance(dt, (T.IntegerType, T.ShortType, T.FloatType)):
                width += 4
            elif isinstance(dt, T.DecimalType):
                width += 16
            else:  # long/double/timestamp/date and conservative default
                width += 8
        skew: dict = {}
        for c in skew_cols:
            top = (
                df.groupBy(c)
                .agg(F.count(F.lit(1)).alias("__c"))
                .orderBy(F.desc("__c"))
                .limit(top_k)
                .collect()
            )
            skew[c] = {
                "top": [
                    {
                        "value": None if r[c] is None else str(r[c]),
                        "count": int(r["__c"]),
                    }
                    for r in top
                ],
                "max_share": (int(top[0]["__c"]) / n) if top and n else 0.0,
            }
        cur = self._current(name)
        doc = {
            "n_rows": n,
            "row_bytes": width,
            "bytes_est": n * width,
            "skew": skew,
            "generation": os.path.basename(cur) if cur else None,
        }
        d = self._dir(name)
        os.makedirs(d, exist_ok=True)
        p = os.path.join(d, f"_STATS-{name}.json")
        tmp = p + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(doc, fh)
        os.replace(tmp, p)
        return doc

    def table_stats(self, name: str) -> dict | None:
        """Persisted ANALYZE stats for the table, or None if never
        analyzed. O(1) metadata — safe to call per planning decision."""
        try:
            with open(os.path.join(self._dir(name), f"_STATS-{name}.json")) as fh:
                return json.load(fh)
        except (FileNotFoundError, json.JSONDecodeError):
            return None

    def txn_version(self, app_id: str) -> int:
        """Last micro-batch id committed under `app_id` (-1 if none) —
        the Delta `txnAppId`/`txnVersion` idempotent-foreachBatch
        analog. foreachBatch is at-least-once: a crashed-and-replayed
        micro-batch re-enters the sink, and a non-idempotent apply
        (an additive merge, a quarantine append) would double its
        effect. Sinks guard with `if batch_id <= store.txn_version(app):
        return`, then set_txn_version(app, batch_id) after applying."""
        p = os.path.join(self.root, f"_txn-{app_id}")
        try:
            with open(p) as fh:
                return int(fh.read())
        except (FileNotFoundError, ValueError):
            return -1

    def set_txn_version(self, app_id: str, version: int) -> None:
        """Record `version` as applied for `app_id` (atomic replace).
        Written AFTER the batch's table writes: a crash in between
        replays the batch, which is the at-least-once contract — the
        marker narrows duplication to that crash window instead of
        every routine replay."""
        p = os.path.join(self.root, f"_txn-{app_id}")
        tmp = p + ".tmp"
        with open(tmp, "w") as fh:
            fh.write(str(int(version)))
        os.replace(tmp, p)

    def clone(self, name: str, target: str) -> None:
        """Zero-copy shallow CLONE (the Delta `CREATE TABLE ... SHALLOW
        CLONE` / Iceberg snapshot-branch analog): the target's first
        generation is ONE manifest whose segment list points at the
        source's current data — no data file is read or copied, O(1)
        metadata at ANY table size. Segments are immutable, so
        subsequent replace()/append() on either table diverge
        independently; vacuum() collects references across all tables,
        so source retention never reclaims data a live clone reads.
        At 100 TB this is how you fork a table for an experiment or
        pin a training-data snapshot without paying for a copy."""
        self.schemas.setdefault(target, self.schemas[name])
        self._persist_schema(target)
        src_dir = self._dir(name)
        tdir = self._dir(target)
        with _commit_lock(self.root, target):
            return self._clone_locked(name, src_dir, tdir, target)

    def _clone_locked(
        self, name: str, src_dir: str, tdir: str, target: str
    ) -> None:
        # the clone shares the source's segments, so it must share the
        # epoch map that decodes them; its own renames diverge from here
        if self._colmap(name) is not None:
            os.makedirs(tdir, exist_ok=True)
            shutil.copyfile(
                self._colmap_path(name), self._colmap_path(target)
            )
        base = self._base_doc(name)

        def rerel(rel: str) -> str:
            return os.path.relpath(os.path.join(src_dir, rel), tdir)

        # scoped filters and DV "over" lists (segment basenames, which
        # re-relativizing never changes) carry over verbatim
        self._commit_manifest(
            target,
            {
                "segments": [
                    {**e, "path": rerel(e["path"])} for e in base["segments"]
                ],
                "deletes": [
                    {**dv, "path": rerel(dv["path"])} for dv in base["deletes"]
                ],
            },
        )

    def merge_scd2(
        self,
        name: str,
        incoming: DataFrame,
        key_cols: list[str],
        compare_cols: list[str],
        version: int,
    ) -> None:
        """SCD type-2 dimension maintenance (the MERGE-INTO-with-
        history analog), write-side O(delta): diff the incoming wave
        against the current snapshot (scd2_snapshot over the log),
        then APPEND only the changes — new/changed keys as 'U' rows
        stamped `valid_from=version`, vanished keys as 'D' tombstones.
        Unchanged keys write NOTHING; no existing row is ever
        rewritten (validity intervals are derived at read time by
        scd2_history). At 100 TB this is the only sustainable SCD2
        write path: per-wave cost scales with the change rate, never
        with dimension size, and the append is one immutable segment
        plus a manifest entry."""
        with _commit_lock(self.root, name):
            return self._merge_scd2_locked(
                name, incoming, key_cols, compare_cols, version
            )

    def _merge_scd2_locked(
        self,
        name: str,
        incoming: DataFrame,
        key_cols: list[str],
        compare_cols: list[str],
        version: int,
    ) -> None:
        log_cols = [f.name for f in self.schemas[name].fields]
        cur = scd2_snapshot(self.read(name), key_cols)
        diff = diff_generations(cur, incoming, key_cols, compare_cols)
        changed_keys = diff.where(F.col("op").isin("I", "U")).select(*key_cols)
        ver = F.lit(version).cast("bigint")
        upserts = (
            incoming.join(changed_keys, key_cols, "left_semi")
            .withColumn("valid_from", ver)
            .withColumn("op", F.lit("U"))
        )
        deletes = diff.where(F.col("op") == "D").select(
            *key_cols,
            *[
                F.lit(None).cast(self.schemas[name][c].dataType).alias(c)
                for c in log_cols
                if c not in key_cols and c not in ("valid_from", "op")
            ],
            ver.alias("valid_from"),
            F.lit("D").alias("op"),
        )
        # the SCD2 delta is O(changed keys); materialize it ONCE with
        # its row count riding the same action, so the append can take
        # the small-write Arrow path and the write plans over a leaf
        # instead of re-walking the diff join
        out, counts = checkpoint_counting(
            upserts.select(*log_cols).unionByName(deletes.select(*log_cols)),
            n=F.lit(True),
        )
        try:
            self.append(name, out, rows_hint=counts["n"])
        finally:
            release_checkpoint(out)

    def evolve(self, name: str, new_schema: T.StructType) -> None:
        """Additive schema evolution (the Delta/Iceberg ADD COLUMN
        analog): METADATA-ONLY — no generation or segment is ever
        rewritten. Existing fields must keep their name, type, and
        position; new fields must be nullable and appended at the end.
        Every generation — past ones included — is subsequently read
        with the widened schema: the explicit-schema parquet read
        null-fills columns absent from old files, so time travel,
        manifests mixing pre- and post-evolution segments, compact(),
        and diff_generations all see one uniform schema. At 100 TB
        this is the only viable evolution path: rewriting history to
        add a column is O(table); changing the declared schema is O(1).

        Bucketed tables: the session-catalog entries of existing
        generations carry the old schema, so they are dropped — reads
        fall back to the path read (value-identical, re-shuffles on
        join) until the next replace() re-registers the bucket layout
        under the widened schema."""
        old = self.schemas[name]
        head = new_schema.fields[: len(old.fields)]
        if [(f.name, f.dataType) for f in head] != [
            (f.name, f.dataType) for f in old.fields
        ]:
            raise ValueError(
                f"evolve({name!r}): existing fields must keep name, type "
                "and position (drops/renames/type changes need a rewrite)"
            )
        added = new_schema.fields[len(old.fields):]
        for f in added:
            if not f.nullable:
                raise ValueError(
                    f"evolve({name!r}): new field {f.name!r} must be "
                    "nullable (old files cannot supply values for it)"
                )
        self.schemas[name] = new_schema
        if added and self._colmap(name) is not None:
            # epoch-fence the additions: a column re-added under a
            # previously-dropped name must NOT capture old segments'
            # bytes — their read schema excludes it and null-fills
            self._colmap_append(
                name, [{"op": "add", "name": f.name} for f in added]
            )
        if os.path.exists(os.path.join(self._dir(name), "_SCHEMA.json")):
            self._persist_schema(name)  # keep the on-disk registry current
        if self.bucketing and name in BUCKET_SPECS:
            for gen_dir in self.generations(name):
                try:
                    self.spark.sql(
                        f"DROP TABLE IF EXISTS {self._table_name(name, gen_dir)}"
                    )
                except Exception:
                    pass

    def segment_count(self, name: str) -> int:
        """Data segments the current generation reads (1 for a plain
        snapshot; 0 for a never-written table; deletion vectors are
        merge-on-read debt, not segments — see mor_debt)."""
        cur = self._current(name)
        if cur is None:
            return 0
        doc = self._doc(cur)
        return 1 if doc is None else len(doc["segments"])

    def mor_debt(self, name: str) -> dict[str, int]:
        """Merge-on-read debt of the current generation: how many
        scoped filters (predicate tombstones) and deletion vectors the
        read path must apply. For a bucketed MOR generation, `deletes`
        counts its deletion vectors and `waves` the merge commits
        accumulated since the last clean snapshot (each wave adds up
        to nb delta files — open-cost debt even when insert-only).
        The compaction trigger a 100 TB table watches alongside
        segment_count — compact() folds all of it back into one clean
        snapshot."""
        cur = self._current(name)
        doc = self._doc(cur) if cur is not None else None
        if doc is None:
            meta = self._bucket_meta(cur) if cur is not None else None
            if meta is not None:
                return {
                    "filters": 0,
                    "deletes": len(meta["dvs"]),
                    "waves": int(meta["waves"]),
                }
            return {"filters": 0, "deletes": 0}
        return {
            "filters": sum(1 for e in doc["segments"] if e.get("filter")),
            "deletes": len(doc["deletes"]),
        }

    def replace_where(self, name: str, df: DataFrame, predicate: str) -> None:
        """Predicate-scoped overwrite (the Delta `replaceWhere` /
        dynamic-partition-overwrite analog): rows matching `predicate`
        are replaced by `df`; everything else is untouched — WITHOUT
        rewriting it. The commit is one new segment holding df plus a
        metadata-only NOT(predicate) scoped filter on every existing
        segment, so cost is O(new rows), never O(table). `df` rows
        violating the predicate are refused (they would silently
        escape the next replace_where over the same predicate).

        At 100 TB this is the backfill primitive: rewrite one day /
        one source partition of a table by writing just that slice.
        Read-side debt (the scoped filters) is pure codegen inside
        each segment scan — no join — and compact() folds it away."""
        if self.bucketing and name in BUCKET_SPECS:
            raise ValueError(
                f"replace_where() on bucketed table {name!r}; use replace()"
            )
        if (
            df.where(~F.coalesce(F.expr(predicate), F.lit(False)))
            .limit(1)
            .count()
            > 0
        ):
            raise ValueError(
                f"replace_where({name!r}): df has rows violating {predicate!r}"
            )
        with _commit_lock(self.root, name):
            entry = self._write_segment(name, df, None, None, None)
            base = self._base_doc(name)
            # rows where the predicate is NULL do NOT match -> keep them
            notp = f"NOT COALESCE(({predicate}), FALSE)"
            segs = [
                {
                    **e,
                    "filter": f"({e['filter']}) AND {notp}"
                    if e.get("filter")
                    else notp,
                }
                for e in base["segments"]
            ]
            self._commit_manifest(
                name,
                {"segments": segs + [entry], "deletes": base["deletes"]},
            )

    def delete_where(self, name: str, predicate: str) -> None:
        """METADATA-ONLY predicate delete: compose NOT(predicate) onto
        every existing segment's scoped filter — no data file is read
        or written, O(1) at any table size (the Iceberg metadata-
        delete analog; the GDPR-style 'drop everything matching this
        predicate' primitive). Rows appended later are unaffected:
        the filter is scoped to the segments that existed now."""
        if self.bucketing and name in BUCKET_SPECS:
            raise ValueError(
                f"delete_where() on bucketed table {name!r}; use replace()"
            )
        with _commit_lock(self.root, name):
            base = self._base_doc(name)
            notp = f"NOT COALESCE(({predicate}), FALSE)"
            segs = [
                {
                    **e,
                    "filter": f"({e['filter']}) AND {notp}"
                    if e.get("filter")
                    else notp,
                }
                for e in base["segments"]
            ]
            self._commit_manifest(
                name, {"segments": segs, "deletes": base["deletes"]}
            )

    def delete_rows(
        self, name: str, keys: DataFrame, key_cols: list[str]
    ) -> None:
        """Row-level merge-on-read delete (the Delta deletion-vector /
        Iceberg equality-delete analog): the keys to drop are written
        ONCE as a small `dv-` file and the commit records which
        segments it applies over (by basename — FILE-SCOPED, so a row
        with the same key appended in a later segment is NOT
        swallowed). Write cost is O(deleted keys); the read path
        anti-joins each covered segment against the vector until
        compact() folds the debt into a clean snapshot.

        This is how row-level deletes stay sustainable at 100 TB:
        deleting a million rows from a billion-row table writes
        megabytes, not the table."""
        if self.bucketing and name in BUCKET_SPECS:
            raise ValueError(
                f"delete_rows() on bucketed table {name!r}; use replace()"
            )
        with _commit_lock(self.root, name):
            base = self._base_doc(name)
            if not base["segments"]:
                return  # nothing to delete from
            dv = self._write_dv(name, keys.select(*key_cols), None)
            over = [
                os.path.basename(e["path"].rstrip("/")) for e in base["segments"]
            ]
            self._commit_manifest(
                name,
                {
                    "segments": base["segments"],
                    "deletes": base["deletes"]
                    + [{"path": dv, "keys": list(key_cols), "over": over}],
                },
            )

    def rebucket(self, name: str, n_buckets: int) -> None:
        """Migrate a bucketed table to a new bucket count — the
        OPTIMIZE-variant layout evolution a count pinned at install
        time needs to survive 100x growth (a 100 TB `file` table wants
        thousands of buckets, not 8; each bucket should fit one
        executor's sort budget). ONE clean rewrite into the new count
        (same cost as a compact), after which every MERGE wave writes
        bucket-aligned deltas at the new count and co-located joins
        keep planning with zero Exchange at the new width. Generations
        written BEFORE the migration keep their own count (each carries
        an `_NBUCKETS` stamp), so time travel, CDC diffs, and crashes
        around the migration all stay correct — a merge landing
        mid-rewrite still extends the old-count base at the old count.
        The rewrite STAGES WITHOUT the table lock and publishes with an
        optimistic check-and-swap (spec flip + pointer swap together,
        under the lock, only if the rewritten base is still current;
        otherwise rebase and retry) — at thousands of buckets the
        rewrite takes minutes, and holding the flock for it would
        stall every concurrent wave. A crash leaves at worst an orphan
        staged generation that vacuum reclaims."""
        if name not in BUCKET_SPECS:
            raise ValueError(f"rebucket(): {name!r} is not a bucketed table")
        if not self.bucketing:
            raise ValueError("rebucket(): store was built with bucketing=False")
        if int(n_buckets) < 1:
            raise ValueError(f"rebucket(): bad bucket count {n_buckets!r}")
        d = self._dir(name)
        os.makedirs(d, exist_ok=True)
        _, keys = BUCKET_SPECS[name]

        def _flip_spec() -> None:
            tmp = os.path.join(d, "_BUCKETSPEC.json.tmp")
            with open(tmp, "w") as fh:
                json.dump({"n": int(n_buckets), "keys": keys}, fh)
            os.replace(tmp, os.path.join(d, "_BUCKETSPEC.json"))

        if self._current(name) is None:
            with _commit_lock(self.root, name):
                _flip_spec()
            return
        # STAGE OUTSIDE THE LOCK (VERDICT r9 #5): the O(table) rewrite
        # runs against a pinned base generation with no flock held, so
        # concurrent waves keep committing at the old count (their
        # generations carry their own _NBUCKETS stamp — always
        # correct). The lock is taken only for the optimistic swap: if
        # the base is still current, flip the spec and publish the
        # staged generation; if a wave landed mid-rewrite, drop the
        # stale staging and REBASE on the new current (the replace_if
        # idiom) — neither the wave nor the migration is ever lost.
        for _ in range(3):
            base = self._current(name)
            staged = self._write_bucketed_gen(
                name, self._read_gen(name, base), int(n_buckets), keys
            )
            with _commit_lock(self.root, name):
                if self._current(name) == base:
                    _flip_spec()
                    self._catalog_swap({name: os.path.basename(staged)})
                    return
            try:
                self.spark.sql(
                    f"DROP TABLE IF EXISTS {self._table_name(name, staged)}"
                )
            except Exception:
                pass
            shutil.rmtree(staged, ignore_errors=True)
        # pathologically contended table: serialize the last attempt
        with _commit_lock(self.root, name):
            _flip_spec()
            self.replace(name, self.read(name))

    def compact(
        self,
        name: str,
        max_segments: int = 8,
        max_mor_debt: int | None = None,
        zone_cols: list[str] | None = None,
        bloom_cols: list[str] | None = None,
    ) -> bool:
        """Fold an append-chain back into one snapshot generation when
        the current manifest references more than `max_segments`
        segments, or — if `max_mor_debt` is given — when the scoped
        filters + deletion vectors the read path must apply exceed it
        (the OPTIMIZE/rewrite half of the append and merge-on-read
        stories — bounded-frequency O(table) instead of O(table) per
        write). Returns True if a compaction ran. History note: the
        compacted snapshot is a NEW generation; older generations
        still time-travel until vacuum().

        `zone_cols`/`bloom_cols` (non-bucketed tables): write the
        compacted snapshot as ONE manifest segment WITH data-skipping
        stats instead of a bare generation, so compaction doesn't
        erase the pruning surface read_prefix/read_pruned/merge built
        up over the folded waves (the engine's idle-edge compacts
        keep dir_path/next_crawl ranges live this way)."""
        with _commit_lock(self.root, name):
            debt = self.mor_debt(name)
            over_debt = max_mor_debt is not None and (
                debt["filters"] + debt["deletes"] + debt.get("waves", 0)
                > max_mor_debt
            )
            if self.segment_count(name) <= max_segments and not over_debt:
                return False
            if (zone_cols or bloom_cols) and not self._is_bucketed(name):
                entry = self._write_segment(
                    name, self.read(name), zone_cols, bloom_cols, None
                )
                self._commit_manifest(
                    name, {"segments": [entry], "deletes": []}
                )
            else:
                self.replace(name, self.read(name))
            return True

    def optimize(
        self,
        *,
        max_segments: int = 8,
        max_mor_debt: int = 0,
        retain: int = 2,
        respect_consumers: bool = True,
        analyze_tables: list[str] | tuple = (),
    ) -> dict:
        """ONE maintenance pass — the nightly OPTIMIZE command a 100 TB
        deployment schedules instead of hand-running the pieces: per
        table, fold append-chains and merge-on-read debt back into a
        clean snapshot (compact) when over thresholds; re-ANALYZE
        every compacted table (its stats generation just changed) plus
        any explicitly requested ones; then ONE consumer-aware vacuum
        over the whole root. Data-invariant by construction — every
        step changes layout, statistics, or history depth, never a row
        (g29 pins table contents across the pass). Returns a
        per-table report plus the reclaimed generation count, the
        record an operator's maintenance log keeps."""
        tables: dict[str, dict] = {}
        for name in sorted(self._disk_tables()):
            debt = self.mor_debt(name)
            entry = {
                "segments_before": self.segment_count(name),
                "debt_filters": debt["filters"],
                "debt_deletes": debt["deletes"],
            }
            entry["compacted"] = self.compact(
                name, max_segments=max_segments, max_mor_debt=max_mor_debt
            )
            entry["segments_after"] = self.segment_count(name)
            entry["analyzed"] = False
            if entry["compacted"] or name in analyze_tables:
                self.analyze(name)
                entry["analyzed"] = True
            tables[name] = entry
        # count immediately before the vacuum step: compact() just
        # created one new generation per compacted table, and counting
        # those in gens_before would report a net history-depth delta
        # instead of the generations the vacuum actually deleted
        gens_pre_vacuum = sum(
            len(self.generations(n)) for n in self._disk_tables()
        )
        self.vacuum(retain=retain, respect_consumers=respect_consumers)
        gens_after = sum(
            len(self.generations(n)) for n in self._disk_tables()
        )
        return {
            "tables": tables,
            "generations_reclaimed": gens_pre_vacuum - gens_after,
        }

    def merge(
        self,
        name: str,
        source: DataFrame,
        on: list[str],
        when_matched_update: dict | str | None = "all",
        when_not_matched_insert: dict | str | None = "all",
        when_matched_delete=None,
        changed_only: list[str] | None = None,
        zone_cols: list[str] | None = None,
        bloom_cols: list[str] | None = None,
        source_duplicates: str = "allow",
    ) -> dict[str, int]:
        """General MERGE INTO (the Delta/Iceberg `MERGE` analog),
        unifying the engine's bespoke upserts (merge.py M1/M2) with
        the store's merge-on-read machinery:

        - `on`: equi-join key columns (an update clause may never
          assign them). `source` must be key-distinct — like Delta,
          multiple source matches for one target row are the caller's
          bug (the engine dedups staged waves first).
        - `when_matched_update`: 'all' (every non-key column takes the
          source value), a dict {col: Column|SQL-expr over aliases
          `t`/`s`}, or None (no update clause).
        - `when_matched_delete`: optional Column/SQL condition over
          `t`/`s`; evaluated BEFORE the update clause (Delta clause
          order).
        - `when_not_matched_insert`: 'all' / dict / None, as update.
        - `changed_only`: O5 change suppression — a matched row is
          updated only if one of these columns differs null-safely
          between source and target, so a re-crawl wave that touched
          nothing writes nothing.
        - `zone_cols` / `bloom_cols`: record data-skipping statistics
          on the upsert segment (append()'s contract) so point and
          prefix reads can prune the wave's segment at manifest level.
        - `source_duplicates`: 'allow' trusts the caller's
          key-distinct contract (no extra job); 'error' raises when
          the source carries multiple rows for one key (the silent
          row-multiplication a Delta MERGE rejects at runtime);
          'dedupe' drops the extras instead.

        TARGET PRUNING (the Delta/Iceberg MERGE file-skipping analog):
        before the join, the source's per-key min/max/null hull (one
        O(source) aggregate) is intersected with every base segment's
        recorded zone maps — segments provably disjoint from the wave
        are neither READ nor listed in the new deletion vector's
        `over` scope, so merge COMPUTE tracks the touched segments,
        not the table. Bucketed tables prune by BUCKET instead: only
        the files of buckets the source keys hash into are scanned
        (when the wave touches at most half the buckets — past that,
        keeping the catalog scan's co-located layout wins). The
        decision is recorded in `self.last_merge_report`
        ({mode, total, scanned, pruned}).

        COMMIT SHAPE: for a non-bucketed table with an existing base
        the merge commits O(changes) — ONE manifest generation adding
        a deletion vector over the updated+deleted keys and ONE
        segment holding updated+inserted rows; the base segments are
        never rewritten (exactly the merge-on-read MERGE a 100 TB
        table needs: deleting/updating a million rows writes
        megabytes). Bucketed tables ALSO commit O(changes): the delta
        is written bucket-ALIGNED (same hash function, one file per
        touched bucket), the base files carry over by hardlink, and a
        commit-scoped deletion vector masks superseded row versions —
        the zero-Exchange co-located join layout survives every MOR
        commit instead of being repurchased with a full rewrite per
        wave (_merge_bucketed_commit). Returns metrics
        {'inserted', 'updated', 'deleted'}.
        """
        import operator as _op

        cols = [f.name for f in self.schemas[name].fields]
        data_cols = [c for c in cols if c not in on]
        for clause in (when_matched_update, when_not_matched_insert):
            if isinstance(clause, dict) and set(clause) & set(on):
                raise ValueError(
                    f"merge({name!r}): clause assigns key column(s) "
                    f"{sorted(set(clause) & set(on))}"
                )

        def _c(v) -> Column:
            return F.expr(v) if isinstance(v, str) else v

        with _commit_lock(self.root, name):
            if source_duplicates != "allow":
                dup = (
                    source.groupBy(*on)
                    .agg(F.count(F.lit(1)).alias("__n"))
                    .where(F.col("__n") > 1)
                    .limit(1)
                    .collect()
                )
                if dup:
                    key = {k: dup[0][k] for k in on}
                    if source_duplicates == "dedupe":
                        source = source.dropDuplicates(on)
                    else:
                        raise ValueError(
                            f"merge({name!r}): source carries multiple rows "
                            f"for key {key} — a MERGE source must be "
                            "key-distinct (dedupe the wave, or pass "
                            "source_duplicates='dedupe')"
                        )
            cur = self._current(name)
            bucketed = self._is_bucketed(name)
            t_raw: DataFrame | None = None
            dv_scope: list[str] | None = None
            report = {"mode": "full", "total": 0, "scanned": 0, "pruned": 0}
            if not bucketed and cur is not None:
                doc0 = self._doc(cur)
                targets = doc0 and self._merge_targets(
                    name, doc0["segments"], on, source, blooms=True
                )
                if targets:
                    touched, bloom_pruned = targets
                    report = {
                        "mode": "segments",
                        "total": len(doc0["segments"]),
                        "scanned": len(touched),
                        "pruned": len(doc0["segments"]) - len(touched),
                        "bloom_pruned": bloom_pruned,
                    }
                    t_raw = self._read_gen(
                        name, cur, keep={_seg_id(e) for e in touched}
                    )
                    dv_scope = [_seg_id(e) for e in touched]
            elif bucketed and cur is not None and self._doc(cur) is None:
                nb = self._gen_buckets(name, cur)
                _, bkeys = BUCKET_SPECS[name]
                if set(bkeys) <= set(on):
                    t_raw, report = self._read_buckets_for(
                        name, cur, nb, bkeys, source
                    )
            self.last_merge_report = report
            # explicit presence markers, NOT key-nullability: the keys
            # join null-safely, so a NULL key is a legitimate match
            # (e.g. the catalog's orphan-file group) and must not be
            # misread as "row absent"
            t_base = t_raw if t_raw is not None else self.read(name)
            t = t_base.withColumn("__tp", F.lit(True)).alias("t")
            s = source.withColumn("__sp", F.lit(True)).alias("s")
            cond = functools.reduce(
                _op.and_,
                [F.col(f"t.{k}").eqNullSafe(F.col(f"s.{k}")) for k in on],
            )
            j = t.join(s, cond, "full_outer")
            tp = F.col("t.__tp").isNotNull()
            sp = F.col("s.__sp").isNotNull()

            if changed_only:
                changed = functools.reduce(
                    _op.or_,
                    [
                        ~F.col(f"t.{c}").eqNullSafe(F.col(f"s.{c}"))
                        for c in changed_only
                    ],
                )
            else:
                changed = F.lit(True)

            op = F.lit(None).cast("string")
            branches = []
            if when_matched_delete is not None:
                branches.append((tp & sp & _c(when_matched_delete), "D"))
            if when_matched_update is not None:
                branches.append((tp & sp & changed, "U"))
            if when_not_matched_insert is not None:
                branches.append((~tp & sp, "I"))
            for bcond, tag in reversed(branches):
                op = F.when(bcond, F.lit(tag)).otherwise(op)

            def _val(clause, c: str, default: Column) -> Column:
                if clause == "all":
                    return F.col(f"s.{c}") if c in data_cols else default
                if isinstance(clause, dict) and c in clause:
                    return _c(clause[c])
                return default

            newvals = []
            for c in cols:
                tcol = F.col(f"t.{c}")
                scol = F.col(f"s.{c}") if c in on else tcol
                null = F.lit(None).cast(self.schemas[name][c].dataType)
                ins_default = scol if c in on else null
                v = (
                    F.when(
                        F.col("__op") == "U",
                        _val(when_matched_update, c, tcol),
                    )
                    .when(
                        F.col("__op") == "I",
                        _val(when_not_matched_insert, c, ins_default),
                    )
                    .otherwise(tcol)
                )
                newvals.append(v.alias(c))
            key_out = [
                F.coalesce(F.col(f"t.{k}"), F.col(f"s.{k}")).alias(f"__k_{k}")
                for k in on
            ]
            # one materialization of the classified set (metrics ride
            # it as observed counts), then the tail apply_changes shares
            classified, metrics = _checkpoint_ops(
                j.withColumn("__op", op).select("__op", *key_out, *newvals)
            )
            try:
                self._commit_classified(
                    name, classified, on, metrics, zone_cols, bloom_cols, dv_scope
                )
                return metrics
            finally:
                release_checkpoint(classified)

    def apply_changes(
        self,
        name: str,
        on: list[str],
        inserts: DataFrame | None = None,
        updates: DataFrame | None = None,
        deletes: DataFrame | None = None,
        zone_cols: list[str] | None = None,
        bloom_cols: list[str] | None = None,
    ) -> dict[str, int]:
        """Commit a PRE-CLASSIFIED change set O(changes) — the write
        half of MERGE without its join, for callers that already know
        which rows are new, changed, or gone. The engine's crawl wave
        computes exactly that diff while deriving removal queues and
        hash schedules; re-deriving it through merge() cost a second
        full-table join per wave (VERDICT r8 #2) — this primitive
        makes the wave's COMPUTE O(changes) end to end.

        TRUSTS the caller (the replaceWhere-style contract):
        `inserts` rows must be key-absent from the target, `updates`
        rows key-present (FULL replacement rows), `deletes` frames
        carry the key columns; all three key-distinct and mutually
        disjoint — a violated contract multiplies or loses rows
        exactly as it would under Delta's MERGE with a non-distinct
        source. The three frames are tagged into one classified set,
        materialized ONCE (eager checkpoint, counts observed on the
        same action — no input lineage runs twice), and committed
        through merge()'s tail (_commit_classified): non-bucketed
        tables get ONE deletion vector over the updated+deleted keys
        (zone-scoped to the hull-overlapping segments) plus ONE
        upsert segment; bucketed tables get the bucket-aligned MOR
        commit (_merge_bucketed_commit). Returns
        {'inserted','updated','deleted'}."""
        cols = [f.name for f in self.schemas[name].fields]
        nulls = [
            F.lit(None).cast(self.schemas[name][c].dataType).alias(c)
            for c in cols
        ]
        parts = [
            df.select(
                F.lit(op).alias("__op"),
                *[F.col(k).alias(f"__k_{k}") for k in on],
                *(nulls if op == "D" else cols),
            )
            for op, df in (("I", inserts), ("U", updates), ("D", deletes))
            if df is not None
        ]
        with _commit_lock(self.root, name):
            self.last_merge_report = {
                "mode": "changes",
                "total": 0,
                "scanned": 0,
                "pruned": 0,
            }
            if not parts:
                return {"inserted": 0, "updated": 0, "deleted": 0}
            classified, metrics = _checkpoint_ops(
                functools.reduce(DataFrame.unionByName, parts)
            )
            try:
                if not sum(metrics.values()):
                    return metrics  # nothing differs: write NOTHING
                dv_scope = None
                masks = metrics["updated"] or metrics["deleted"]
                if masks and not self._is_bucketed(name):
                    segments = self._base_doc(name)["segments"]
                    targets = self._merge_targets(
                        name, segments, on, _changed_keys(classified, on),
                        blooms=False,
                    )
                    if targets:
                        touched, _ = targets
                        dv_scope = [_seg_id(e) for e in touched]
                        self.last_merge_report = {
                            "mode": "segments",
                            "total": len(segments),
                            "scanned": len(touched),
                            "pruned": len(segments) - len(touched),
                        }
                self._commit_classified(
                    name, classified, on, metrics, zone_cols, bloom_cols, dv_scope
                )
                return metrics
            finally:
                release_checkpoint(classified)

    def commit_multi(
        self,
        writes: dict[str, DataFrame],
        crash_after_publish: int | None = None,
        crash_before_journal: bool = False,
    ) -> str:
        """Multi-table ATOMIC commit (the cross-table transaction most
        single-table lakehouses lack): replace several tables so that
        after crash recovery either ALL new generations are visible or
        NONE are. Protocol — stage, journal, publish:

        1. STAGE: each table's new generation is fully written to an
           invisible `staged-<txn>` directory (readers resolve only
           catalog-pointed `gen-` dirs, so staging is never visible;
           vacuum ignores `staged-` too).
        2. JOURNAL: one write-ahead intent file
           (`<root>/_txn_multi/<txn>.json`, atomic tmp-then-rename)
           records every staged dir AND the `gen-` name each will
           publish to. THIS IS THE DURABILITY COMMIT POINT.
        3. PUBLISH: each staged dir renames to its journaled target
           (O(1) per table), then the root catalog pointer swaps ONCE
           for all tables — THE VISIBILITY COMMIT POINT. A reader
           interleaved anywhere before the swap resolves every table
           at its old generation; after, every table at its new one —
           never mixed (the torn-read window the pre-pointer protocol
           documented is closed). The journal is removed last.

        A crash before the journal leaves orphan staged dirs —
        recover_multi() rolls them BACK (deletes; no reader ever saw
        them). A crash after the journal leaves a committed intent —
        recover_multi() rolls it FORWARD: remaining renames replay
        idempotently against the journaled targets (a missing staged
        dir whose target was never published is CORRUPTION and
        raises, not a silent no-op), then the catalog swap replays
        (monotonic — it never regresses a table a later commit moved
        past). recover_multi() must only run at startup with no
        in-flight commit_multi writers, like any WAL recovery.

        `crash_after_publish` / `crash_before_journal` inject crashes
        for tests (raise mid-protocol); publish order is sorted table
        name, so injection points are deterministic
        (`crash_after_publish=len(writes)` crashes after every rename
        but before the catalog swap). Returns the txn id. Bucketed
        tables are refused (their generations publish through the
        session catalog, not a rename)."""
        for name in writes:
            if self.bucketing and name in BUCKET_SPECS:
                raise ValueError(
                    f"commit_multi() on bucketed table {name!r}; use replace()"
                )
        locks = [_commit_lock(self.root, n) for n in sorted(writes)]
        for lk in locks:
            lk.acquire()
        try:
            txn = f"txn-{time.time_ns()}"
            staged: dict[str, str] = {}
            for name in sorted(writes):
                d = self._dir(name)
                os.makedirs(d, exist_ok=True)
                sdir = os.path.join(d, f"staged-{txn}")
                cols = [f.name for f in self.schemas[name].fields]
                out = writes[name].select(*cols)
                if name in SORT_KEYS:
                    out = out.sortWithinPartitions(*SORT_KEYS[name])
                out.write.mode("overwrite").parquet(sdir)
                self._stamp_epoch(name, sdir)  # travels with the rename
                staged[name] = os.path.basename(sdir)
            if crash_before_journal:
                raise RuntimeError(
                    f"injected crash before journal of {txn} "
                    "(staged dirs orphaned; recover_multi rolls back)"
                )
            targets = {
                name: f"gen-{time.time_ns()}" for name in sorted(writes)
            }
            jdir = os.path.join(self.root, "_txn_multi")
            os.makedirs(jdir, exist_ok=True)
            jpath = os.path.join(jdir, f"{txn}.json")
            tmp = jpath + ".tmp"
            with open(tmp, "w") as fh:
                json.dump({"staged": staged, "targets": targets}, fh)
            os.replace(tmp, jpath)  # DURABILITY COMMIT POINT
            self._publish_txn(txn, staged, targets, crash_after_publish)
            return txn
        finally:
            for lk in reversed(locks):
                lk.release()

    def _publish_txn(
        self,
        txn: str,
        staged: dict[str, str],
        targets: dict[str, str],
        crash_after: int | None = None,
    ) -> None:
        """Publish a journaled txn: rename each staged dir to its
        journaled target (idempotent on replay: target already there
        -> skip; staged AND target both missing -> corruption, raise),
        swap the catalog pointer once for all tables (visibility
        commit), then retire the journal."""
        names = sorted(staged)
        for i, name in enumerate(names):
            if crash_after is not None and i >= crash_after:
                raise RuntimeError(
                    f"injected crash after publishing {i} of "
                    f"{len(staged)} tables in {txn}"
                )
            src = os.path.join(self._dir(name), staged[name])
            dst = os.path.join(self._dir(name), targets[name])
            if os.path.isdir(dst):
                continue  # published before a crash; replay skips
            if not os.path.isdir(src):
                raise RuntimeError(
                    f"{txn}: staged dir {staged[name]} for {name!r} is "
                    f"missing and target {targets[name]} was never "
                    "published — journal names the expected generation, "
                    "so this is corruption (or recovery ran concurrently "
                    "with a live writer), not a safe no-op"
                )
            os.rename(src, dst)
        if crash_after is not None and crash_after >= len(names):
            raise RuntimeError(
                f"injected crash after all renames of {txn}, before the "
                "catalog swap (readers still resolve every table OLD)"
            )
        self._catalog_swap(dict(targets))  # VISIBILITY COMMIT POINT
        jpath = os.path.join(self.root, "_txn_multi", f"{txn}.json")
        if os.path.exists(jpath):
            os.remove(jpath)

    def recover_multi(self) -> dict[str, str]:
        """Crash recovery for commit_multi: every journaled txn rolls
        FORWARD (its durability commit point passed — replay renames +
        catalog swap), every orphan staged dir (no journal) rolls BACK
        (its txn never committed — delete, no reader ever resolved
        it). Idempotent; call on store STARTUP ONLY, with no active
        writers (a concurrent in-flight commit_multi's staged dirs
        would be indistinguishable from orphans).
        Returns {txn: 'rolled-forward' | 'rolled-back'}."""
        outcomes: dict[str, str] = {}
        jdir = os.path.join(self.root, "_txn_multi")
        journaled: set[str] = set()
        if os.path.isdir(jdir):
            for j in sorted(os.listdir(jdir)):
                if not j.endswith(".json"):
                    continue
                txn = j[: -len(".json")]
                journaled.add(txn)
                with open(os.path.join(jdir, j)) as fh:
                    doc = json.load(fh)
                self._publish_txn(txn, doc["staged"], doc["targets"])
                outcomes[txn] = "rolled-forward"
        for name in self._disk_tables():
            d = self._dir(name)
            if not os.path.isdir(d):
                continue
            for entry in sorted(os.listdir(d)):
                if not entry.startswith("staged-"):
                    continue
                txn = entry[len("staged-"):]
                if txn in journaled:
                    continue  # published above
                shutil.rmtree(os.path.join(d, entry), ignore_errors=True)
                outcomes[txn] = "rolled-back"
        return outcomes

    def _cursor_path(self, name: str, consumer: str) -> str:
        return os.path.join(self._dir(name), f"_CURSOR-{consumer}")

    def _write_cursor(self, name: str, consumer: str, gen: str) -> None:
        """Atomically pin `consumer`'s cursor to generation basename
        `gen`. Callers that diffed a SPECIFIC generation must pass that
        exact generation — re-resolving _current() here would skip any
        source commit that landed between the pull and the advance."""
        p = self._cursor_path(name, consumer)
        tmp = p + ".tmp"
        with open(tmp, "w") as fh:
            fh.write(gen)
        os.replace(tmp, p)

    def create_consumer(self, name: str, consumer: str) -> None:
        """Register a CDC consumer at the table's CURRENT generation:
        its first changes_since() returns everything committed after
        this point (the Delta CDF `startingVersion` / Kafka
        consumer-group seek analog). O(1) metadata."""
        cur = self._current(name)
        if cur is None:
            raise ValueError(
                f"create_consumer({name!r}): table has no generation yet"
            )
        self._write_cursor(name, consumer, os.path.basename(cur))

    def changes_since(
        self,
        name: str,
        consumer: str,
        key_cols: list[str],
        compare_cols: list[str],
        to_gen: str | None = None,
    ) -> DataFrame:
        """The I/D/U change feed between `consumer`'s cursor and the
        current generation — incremental CDC CONSUMPTION (g6's
        diff_generations turned into a subscription): each downstream
        job pulls exactly the changes it has not yet applied, however
        many commits happened in between (multi-commit deltas collapse
        into one net diff — an insert+delete between pulls cancels
        out, which is what a net-state consumer wants). The pull does
        NOT move the cursor; call advance_cursor() after the
        downstream apply commits — the standard at-least-once cursor
        contract (a crashed consumer re-pulls the same delta).

        Retention contract: the cursor generation must survive until
        the consumer advances past it — vacuum(retain=N) must cover
        the slowest consumer's lag, exactly Delta CDF's
        retention-vs-reader rule. A vacuumed cursor raises with a
        re-seed instruction rather than returning a wrong (partial)
        diff.

        Scale: one full-outer equi-join between two snapshots per
        pull, O(changed keys) output — never a log replay, never a
        full-table handoff to the consumer.

        `to_gen` pins the diff's upper bound to a specific generation
        basename instead of whatever is current at call time — the
        consumer then advances its cursor to EXACTLY that generation
        (via _write_cursor), so a source commit racing the pull can
        never be skipped (it lands after `to_gen` and the next pull
        picks it up)."""
        if to_gen is not None:
            cur = os.path.join(self._dir(name), to_gen)
            if not os.path.isdir(cur):
                raise ValueError(
                    f"changes_since({name!r}): pinned generation "
                    f"{to_gen} not on disk"
                )
        else:
            cur = self._current(name)
        if cur is None:
            raise ValueError(f"changes_since({name!r}): table never written")
        try:
            with open(self._cursor_path(name, consumer)) as fh:
                cursor = fh.read().strip()
        except FileNotFoundError:
            raise ValueError(
                f"changes_since({name!r}): unknown consumer {consumer!r}; "
                "create_consumer() first"
            ) from None
        new = self._read_gen(name, cur)
        if os.path.basename(cur) == cursor:
            empty = new.limit(0)
            return diff_generations(empty, empty, key_cols, compare_cols)
        old_dir = os.path.join(self._dir(name), cursor)
        if not os.path.isdir(old_dir):
            raise ValueError(
                f"changes_since({name!r}): cursor generation {cursor} was "
                f"vacuumed — retention must cover consumer lag; re-seed "
                f"with create_consumer()"
            )
        return diff_generations(
            self._read_gen(name, old_dir), new, key_cols, compare_cols
        )

    def advance_cursor(self, name: str, consumer: str) -> None:
        """Move `consumer`'s cursor to the current generation (atomic
        replace). Call AFTER the downstream apply is durable."""
        self.create_consumer(name, consumer)

    # -- materialized views -------------------------------------------
    #
    # A registered MV is a normal store table (it gets time travel,
    # CDC, stats and data skipping for free) whose contents are a
    # group-by aggregate over a source table, maintained INCREMENTALLY
    # from the source's CDC subscription (changes_since + a dedicated
    # __mv_<view> consumer) applied through the general MERGE — the
    # Delta Live Tables / Materialize-style refresh loop built from
    # the store's own primitives. COUNT(*) and SUM0 (SUM with NULLs
    # counted as 0) are fully self-maintainable — base + delta
    # arithmetic is closed. MIN/MAX are maintained with the classic
    # delete-aware split: inserts fold incrementally (least/greatest
    # against the group's current extreme); a refresh RECOMPUTES only
    # the groups whose current extreme was retracted (a delete or
    # update-away of the value sitting at the min/max), reading the
    # pinned source generation semi-joined to exactly those group
    # keys. Refresh stays O(changed groups) in the common case and
    # O(retracted-extreme groups) worst case — never the whole view —
    # and everything still commits as ONE MERGE, so the crash window
    # stays the single spec-marker os.replace the replay guard
    # documents.

    def _mv_spec_path(self, view: str) -> str:
        return os.path.join(self.root, f"_mv-{view}.json")

    def _mv_write_spec(self, view: str, spec: dict) -> None:
        p = self._mv_spec_path(view)
        tmp = p + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(spec, fh)
        os.replace(tmp, p)

    def mview_spec(self, view: str) -> dict:
        with open(self._mv_spec_path(view)) as fh:
            return json.load(fh)

    def list_mviews(self) -> list[str]:
        """Every materialized view registered over this root (spec
        files `_mv-<view>.json`), sorted. O(1) metadata — the
        enumeration a maintenance loop uses to refresh ALL standing
        views instead of a hardcoded one."""
        if not os.path.isdir(self.root):
            return []
        return sorted(
            f[len("_mv-"):-len(".json")]
            for f in os.listdir(self.root)
            if f.startswith("_mv-") and f.endswith(".json")
        )

    def _mv_compute(self, df: DataFrame, spec: dict) -> DataFrame:
        aggs = [F.count(F.lit(1)).cast("bigint").alias(spec["count_col"])]
        for out, src_col in spec["sums"].items():
            s = F.sum(F.col(src_col))
            zero = F.lit(0).cast(df.schema[src_col].dataType)
            aggs.append(F.coalesce(s, zero).alias(out))
        for out, src_col in spec.get("mins", {}).items():
            aggs.append(F.min(F.col(src_col)).alias(out))
        for out, src_col in spec.get("maxs", {}).items():
            aggs.append(F.max(F.col(src_col)).alias(out))
        return df.groupBy(*spec["group_by"]).agg(*aggs)

    def create_mview(
        self,
        view: str,
        src: str,
        *,
        group_by: list[str],
        count_col: str,
        sums: dict[str, str],
        key_cols: list[str],
        compare_cols: list[str],
        mins: dict[str, str] | None = None,
        maxs: dict[str, str] | None = None,
    ) -> None:
        """Register + seed a materialized view: `view` = SELECT
        group_by, COUNT(*) AS count_col, SUM0(src_col) AS out...,
        MIN(src_col) AS out..., MAX(src_col) AS out... FROM `src`
        GROUP BY group_by. The seed is one full recompute; the
        consumer cursor is pinned at the seeded generation so the
        first refresh applies exactly the commits after it. Group,
        sum, and min/max columns must be visible to the change feed
        (key_cols or compare_cols) — a group move or value change the
        diff can't see would silently corrupt the view. MIN/MAX
        refresh incrementally on inserts and fall back to a per-group
        recompute ONLY where the current extreme was retracted (see
        the section comment)."""
        mins = dict(mins or {})
        maxs = dict(maxs or {})
        feed_cols = set(key_cols) | set(compare_cols)
        missing = (
            set(group_by)
            | set(sums.values())
            | set(mins.values())
            | set(maxs.values())
        ) - feed_cols
        if missing:
            raise ValueError(
                f"create_mview({view!r}): {sorted(missing)} not covered "
                "by key_cols/compare_cols — the change feed could not "
                "maintain them"
            )
        overlap = set(sums) & set(mins) | set(sums) & set(maxs) | set(mins) & set(maxs)
        if overlap or count_col in (set(sums) | set(mins) | set(maxs)):
            raise ValueError(
                f"create_mview({view!r}): output column names must be "
                "distinct across count/sums/mins/maxs"
            )
        spec = {
            "src": src,
            "group_by": list(group_by),
            "count_col": count_col,
            "sums": dict(sums),
            "mins": mins,
            "maxs": maxs,
            "key_cols": list(key_cols),
            "compare_cols": list(compare_cols),
        }
        with _commit_lock(self.root, f"//mv-{view}"):
            cur = self._current(src)
            if cur is None:
                raise ValueError(
                    f"create_mview({view!r}): source {src!r} has no "
                    "generation yet"
                )
            # pin the seeded generation: seed, cursor, and the applied
            # marker all name the SAME generation, so a source commit
            # racing the seed is applied by the first refresh instead
            # of being skipped
            seed = self._mv_compute(self._read_gen(src, cur), spec)
            self.schemas.setdefault(view, seed.schema)
            # persisted, so a store reopened over this root can refresh
            self._persist_schema(view)
            self.replace(view, seed)
            self._write_cursor(src, f"__mv_{view}", os.path.basename(cur))
            spec["applied"] = os.path.basename(cur)
            self._mv_write_spec(view, spec)

    def refresh_mview(self, view: str) -> dict:
        """Incrementally refresh `view` from its source's CDC feed.
        Returns merge metrics plus 'status': 'applied', 'noop' (source
        unchanged), or 'replayed' (a prior refresh committed but
        crashed before advancing the cursor — the cursor is rolled
        forward WITHOUT re-applying, closing the at-least-once window
        everywhere except a crash between the MERGE commit and the
        spec-marker write, the same one-os.replace window the
        streaming sinks' txn_version markers document). The whole
        pull->merge->mark->advance sequence holds the view's commit
        lock: two same-process refreshers would otherwise both pull
        the same delta and double-apply it."""
        with _commit_lock(self.root, f"//mv-{view}"):
            return self._refresh_mview_locked(view)

    def _mv_extend_extremes(
        self, view: str, src: str, cur: str, spec: dict, net: DataFrame
    ) -> DataFrame:
        """Delete-aware MIN/MAX maintenance: tag each touched group
        with `__rec` — TRUE iff a retracted value sits at (or beyond)
        the group's CURRENT extreme, so the incremental fold can no
        longer prove the extreme — and attach absolute re-aggregates
        (`__abs_<col>`) computed from the PINNED source generation
        semi-joined to exactly those group keys. Cost: one join of the
        (small) net against the MV's extreme columns, plus one source
        scan filtered to the retracted-extreme groups — O(changed
        groups) decision, O(recomputed groups) fallback, never a view
        recompute."""
        import operator as _op

        group_by = spec["group_by"]
        mins = spec.get("mins", {})
        maxs = spec.get("maxs", {})
        extremes = {**mins, **maxs}
        cur_mv = self.read(view).select(
            *group_by,
            *[F.col(out).alias(f"__cur_{out}") for out in extremes],
        )

        def keyeq(a: DataFrame, b: DataFrame):
            return functools.reduce(
                _op.and_, [a[g].eqNullSafe(b[g]) for g in group_by]
            )

        j = net.join(cur_mv, keyeq(net, cur_mv), "left").select(
            net["*"], *[cur_mv[f"__cur_{out}"] for out in extremes]
        )
        rec = F.lit(False)
        for out in extremes:
            threatened = (
                F.col(f"__retr_{out}") <= F.col(f"__cur_{out}")
                if out in mins
                else F.col(f"__retr_{out}") >= F.col(f"__cur_{out}")
            )
            rec = rec | (
                F.col(f"__retr_{out}").isNotNull()
                & F.col(f"__cur_{out}").isNotNull()
                & threatened
            )
        tagged = j.withColumn("__rec", rec).drop(
            *[f"__cur_{out}" for out in extremes]
        )
        rec_keys = tagged.where(F.col("__rec")).select(*group_by)
        pinned = self._read_gen(src, os.path.join(self._dir(src), cur))
        absolutes = self._mv_compute(
            pinned.join(rec_keys, keyeq(pinned, rec_keys), "left_semi"), spec
        )
        agg_cols = (
            [spec["count_col"]] + list(spec["sums"]) + list(extremes)
        )
        absolutes = absolutes.select(
            *group_by,
            *[F.col(c).alias(f"__abs_{c}") for c in agg_cols],
        )
        return tagged.join(
            absolutes, keyeq(tagged, absolutes), "left"
        ).select(tagged["*"], *[absolutes[f"__abs_{c}"] for c in agg_cols])

    def _refresh_mview_locked(self, view: str) -> dict:
        spec = self.mview_spec(view)
        src, cons = spec["src"], f"__mv_{view}"
        # read _current(src) ONCE and pin the whole refresh to it: the
        # pull diffs cursor..cur and the cursor advances to exactly
        # cur — a source commit landing mid-refresh (the //mv lock
        # serializes refreshers, not source writers) stays ahead of the
        # cursor and is applied by the NEXT refresh instead of being
        # silently skipped
        cur = os.path.basename(self._current(src))
        zero = {"inserted": 0, "updated": 0, "deleted": 0}
        if spec.get("applied") == cur:
            try:
                with open(self._cursor_path(src, cons)) as fh:
                    cursor = fh.read().strip()
            except FileNotFoundError:
                # cursor file lost while the applied generation still
                # matches current: the view content is up to date, so
                # re-pin the cursor at the applied generation instead
                # of raising (the cursor-vacuumed analog of the reseed
                # self-heal, without the needless recompute)
                self._write_cursor(src, cons, cur)
                return {**zero, "status": "replayed"}
            if cursor != cur:
                self._write_cursor(src, cons, cur)
                return {**zero, "status": "replayed"}
            return {**zero, "status": "noop"}
        try:
            delta = self.changes_since(
                src, cons, spec["key_cols"], spec["compare_cols"], to_gen=cur
            )
        except ValueError as e:
            if "vacuumed" not in str(e) and "unknown consumer" not in str(e):
                raise
            # self-heal: vacuum outran this consumer (retention
            # breach) or the cursor file itself was lost — fall back
            # to ONE full recompute OF THE PINNED GENERATION, re-pin
            # the cursor at that same generation, and resume
            # incremental from here (recomputing whatever is current
            # instead would race a mid-reseed source commit: the
            # recompute could include it while applied/cursor say it
            # is still pending, double-applying it next refresh)
            pinned = self._read_gen(src, os.path.join(self._dir(src), cur))
            self.replace(view, self._mv_compute(pinned, spec))
            self._write_cursor(src, cons, cur)
            spec["applied"] = cur
            self._mv_write_spec(view, spec)
            return {**zero, "status": "reseeded"}
        group_by = spec["group_by"]
        cnt = spec["count_col"]
        compare = set(spec["compare_cols"])
        mins = spec.get("mins", {})
        maxs = spec.get("maxs", {})
        extremes = {**mins, **maxs}

        def side(prefix: str, ops: list[str], sign: int) -> DataFrame:
            # the change feed prefixes COMPARE columns (old_/new_) but
            # exposes KEY columns bare (a key never changes across an
            # update — it IS the join identity), so every source-column
            # reference resolves through the same rule
            def ref(sc: str):
                return F.col(f"{prefix}{sc}") if sc in compare else F.col(sc)

            gcols = [ref(g).alias(g) for g in group_by]
            vals = [
                (F.lit(sign) * ref(sc)).alias(f"__d_{out}")
                for out, sc in spec["sums"].items()
            ]
            # min/max carry the raw value + the row's sign: the insert
            # side folds via least/greatest; the retraction side only
            # decides WHICH groups need a recompute
            evals = [
                ref(sc).alias(f"__v_{out}") for out, sc in extremes.items()
            ]
            return delta.where(F.col("op").isin(*ops)).select(
                *gcols, F.lit(sign).cast("bigint").alias("__dn"), *vals, *evals
            )

        contrib = side("old_", ["D", "U"], -1).unionByName(
            side("new_", ["I", "U"], 1)
        )
        mv_schema = self.schemas[view]
        dn_sum = F.sum("__dn").cast("bigint").alias("__dn")
        d_sums = []
        nonzero = F.col("__dn") != 0
        for out in spec["sums"]:
            zt = mv_schema[out].dataType
            d_sums.append(
                F.coalesce(F.sum(F.col(f"__d_{out}")), F.lit(0).cast(zt))
                .cast(zt)
                .alias(f"__d_{out}")
            )
            nonzero = nonzero | (F.col(f"__d_{out}") != 0)
        e_aggs = []
        ins_row = F.col("__dn") == 1
        for out in extremes:
            fold = F.min if out in mins else F.max
            e_aggs.append(
                fold(F.when(ins_row, F.col(f"__v_{out}"))).alias(f"__ins_{out}")
            )
            e_aggs.append(
                fold(F.when(~ins_row, F.col(f"__v_{out}"))).alias(
                    f"__retr_{out}"
                )
            )
            # a value change invisible to count/sum deltas still
            # touches the extremes — keep the group in the net
            nonzero = (
                nonzero
                | F.col(f"__ins_{out}").isNotNull()
                | F.col(f"__retr_{out}").isNotNull()
            )
        net = (
            contrib.groupBy(*group_by).agg(dn_sum, *d_sums, *e_aggs)
        ).where(nonzero)

        if extremes:
            net = self._mv_extend_extremes(view, src, cur, spec, net)

        upd = {cnt: f"CAST(t.{cnt} + s.__dn AS BIGINT)"}
        ins = {cnt: "CAST(s.__dn AS BIGINT)"}
        delete_cond = f"(t.{cnt} + s.__dn) = 0"
        for out in spec["sums"]:
            ddl = mv_schema[out].dataType.simpleString()
            upd[out] = (
                f"CAST(COALESCE(t.{out}, 0) + COALESCE(s.__d_{out}, 0) "
                f"AS {ddl})"
            )
            ins[out] = f"CAST(COALESCE(s.__d_{out}, 0) AS {ddl})"
        if extremes:
            # recomputed groups take ABSOLUTE values for every
            # aggregate (count/sum absolutes equal the delta result by
            # construction — one consistent row either way); fast-path
            # groups fold inserts with least/greatest
            upd[cnt] = (
                f"CAST(CASE WHEN s.__rec THEN s.__abs_{cnt} "
                f"ELSE t.{cnt} + s.__dn END AS BIGINT)"
            )
            for out in spec["sums"]:
                ddl = mv_schema[out].dataType.simpleString()
                upd[out] = (
                    f"CAST(CASE WHEN s.__rec THEN COALESCE(s.__abs_{out}, 0) "
                    f"ELSE COALESCE(t.{out}, 0) + COALESCE(s.__d_{out}, 0) "
                    f"END AS {ddl})"
                )
            for out in extremes:
                ddl = mv_schema[out].dataType.simpleString()
                fold = "least" if out in mins else "greatest"
                upd[out] = (
                    f"CAST(CASE WHEN s.__rec THEN s.__abs_{out} "
                    f"ELSE {fold}(t.{out}, s.__ins_{out}) END AS {ddl})"
                )
                ins[out] = f"CAST(s.__ins_{out} AS {ddl})"
            # a recomputed group that emptied has no absolute row left
            delete_cond = (
                f"(s.__rec AND s.__abs_{cnt} IS NULL) OR "
                f"((NOT s.__rec) AND (t.{cnt} + s.__dn) = 0)"
            )
        metrics = self.merge(
            view,
            net,
            on=group_by,
            when_matched_update=upd,
            when_not_matched_insert=ins,
            when_matched_delete=delete_cond,
        )
        spec["applied"] = cur
        self._mv_write_spec(view, spec)
        # advance to EXACTLY the generation that was diffed — not to
        # _current(src), which a racing source commit may have moved
        # past a delta this refresh never applied
        self._write_cursor(src, cons, cur)
        return {**metrics, "status": "applied"}

    def generations(self, name: str) -> list[str]:
        """Generation directories of a table, oldest first."""
        d = self._dir(name)
        return (
            sorted(
                os.path.join(d, g)
                for g in os.listdir(d)
                if g.startswith("gen-")
            )
            if os.path.isdir(d)
            else []
        )

    def read_at(self, name: str, back: int = 0) -> DataFrame:
        """Time travel: read the generation `back` swaps before the
        current one (back=0 is the current table). The single-box
        analog of Delta/Iceberg `VERSION AS OF`; raises IndexError if
        that much history was never written or was vacuumed. History
        resolves through the catalog pointer LOG when the table has
        one: only generations that were actually pointed count — a
        crashed commit's orphan generation is not history, it is a
        write that never happened. Pre-pointer tables fall back to
        the directory listing."""
        hist = [g for _, g in self._history(name)]
        if not hist:
            hist = [os.path.basename(g) for g in self.generations(name)]
        if back >= len(hist):
            raise IndexError(
                f"table {name!r} has {len(hist)} generation(s); "
                f"cannot travel back {back}"
            )
        return self._read_gen(
            name, os.path.join(self._dir(name), hist[len(hist) - 1 - back])
        )

    def read_as_of(self, name: str, ts) -> DataFrame:
        """Time travel by wall clock (the Delta/Iceberg `TIMESTAMP AS
        OF` analog): read the newest generation VISIBLE at or before
        `ts` (a datetime or epoch seconds). Resolution walks the
        catalog pointer log — O(# swaps) metadata, no data file is
        opened, and the timestamps are the moments the generations
        actually became readable (the swap), so a crashed commit's
        orphan can never resolve and a just-published-but-unswapped
        generation does not time-travel early. Pre-pointer tables
        fall back to the generation-name nanos in the directory
        listing. Raises if `ts` predates the first retained
        generation (older history was never written or was vacuumed —
        same contract as read_at)."""
        import datetime as _dt

        if isinstance(ts, _dt.datetime):
            epoch_ns = int(ts.timestamp() * 1_000_000_000)
        else:
            epoch_ns = int(float(ts) * 1_000_000_000)
        hist = self._history(name)
        if not hist:
            hist = [
                (int(os.path.basename(g)[len("gen-"):]), os.path.basename(g))
                for g in self.generations(name)
            ]
        eligible = [g for ns, g in hist if ns <= epoch_ns]
        if not eligible:
            raise ValueError(
                f"table {name!r} has no generation at or before {ts} "
                "(predates first write, or vacuumed)"
            )
        return self._read_gen(name, os.path.join(self._dir(name), eligible[-1]))


def apply_expectations(
    df: DataFrame, expectations: dict[str, str]
) -> tuple[DataFrame, DataFrame]:
    """Split rows by declared data-quality expectations (the Delta
    Live Tables `expect_or_drop` analog): each expectation is a SQL
    boolean over the row; a row failing ANY expectation is routed to
    the quarantine side with a `violated` column naming every failed
    expectation (sorted, comma-joined — deterministic). NULL
    predicate results count as failures (an expectation that cannot
    be evaluated is not met).

    Scale: one projection pass — every expectation is a codegen
    Column expr, the violation list an array_compact over literals;
    no shuffle, no UDF, no second scan."""
    checks = [
        F.when(F.coalesce(F.expr(sql).cast("boolean"), F.lit(False)), None)
        .otherwise(F.lit(nm))
        for nm, sql in sorted(expectations.items())
    ]
    tagged = df.withColumn(
        "violated", F.array_join(F.array_compact(F.array(*checks)), ",")
    )
    accepted = tagged.where(F.col("violated") == "").drop("violated")
    quarantined = tagged.where(F.col("violated") != "")
    return accepted, quarantined


def scd2_snapshot(log: DataFrame, key_cols: list[str]) -> DataFrame:
    """Latest live version per key from an append-only SCD2 change log
    (columns: key + attributes + `valid_from` + `op`): one row_number
    window keyed by the dimension key; a trailing 'D' tombstone drops
    the key entirely. This is the merge-on-read 'current dimension'
    view — no log rewrite ever happens to serve it."""
    from pyspark.sql.window import Window

    w = Window.partitionBy(*key_cols).orderBy(F.col("valid_from").desc())
    return (
        log.withColumn("_rn", F.row_number().over(w))
        .where((F.col("_rn") == 1) & (F.col("op") == "U"))
        .drop("_rn", "op", "valid_from")
    )


def scd2_history(log: DataFrame, key_cols: list[str]) -> DataFrame:
    """Reconstruct SCD type-2 validity intervals from the append-only
    change log at read time: `valid_to` = the next version's
    `valid_from` (one lead window per key), `is_current` = an open
    interval on a live ('U') row. 'D' tombstones close the prior
    version's interval and emit no row of their own.

    Scale: the log is written O(delta) per wave (see
    TableStore.merge_scd2); this read-side window shuffles on the
    dimension key only. Periodic compaction (materialize this view,
    replace the log's closed prefix) bounds read amplification — the
    classic merge-on-read/compaction split."""
    from pyspark.sql.window import Window

    w = Window.partitionBy(*key_cols).orderBy("valid_from")
    return (
        log.withColumn("valid_to", F.lead("valid_from").over(w))
        .where(F.col("op") == "U")
        .withColumn("is_current", F.col("valid_to").isNull())
        .drop("op")
    )


class Snapshot:
    """Pinned multi-table read view — see TableStore.snapshot()."""

    def __init__(self, store: TableStore):
        cat = store._read_catalog()
        self.version: int = cat["version"]
        self._pins: dict[str, str] = dict(cat["tables"])
        self._store = store

    def read(self, name: str) -> DataFrame:
        ent = self._pins.get(name)
        if ent is None:
            # table never tracked by the pointer at pin time: empty
            # view (it did not exist at this snapshot's commit point)
            return local_df(self._store.spark, 
                [], self._store.schemas[name]
            )
        gen_dir = os.path.join(self._store._dir(name), ent)
        if not os.path.isdir(gen_dir):
            raise ValueError(
                f"snapshot v{self.version}: pinned generation {ent} of "
                f"{name!r} was vacuumed — retention must cover live "
                "snapshots (vacuum(retain=N) over the snapshot's age)"
            )
        return self._store._read_gen(name, gen_dir)


def diff_generations(
    old: DataFrame,
    new: DataFrame,
    key_cols: list[str],
    compare_cols: list[str],
) -> DataFrame:
    """Change-data-feed between two table snapshots: one full outer
    join on the key, null-safe column compares, op tags 'I'/'D'/'U'
    (unchanged rows are dropped). The Delta CDF / Iceberg
    changelog-scan analog, and the engine's J8 snapshot-diff idiom
    generalized to arbitrary tables.

    Scale: a single equi-join shuffle on the key (co-located if both
    generations are bucketed on it — see BUCKET_SPECS); compares are
    null-safe Column exprs, no window, no collect."""
    o = old.select(
        *[F.col(c).alias(f"o_{c}") for c in key_cols],
        *[F.col(c).alias(f"ov_{c}") for c in compare_cols],
    )
    n = new.select(
        *[F.col(c).alias(f"n_{c}") for c in key_cols],
        *[F.col(c).alias(f"nv_{c}") for c in compare_cols],
    )
    cond = None
    for c in key_cols:
        eq = F.col(f"o_{c}") == F.col(f"n_{c}")
        cond = eq if cond is None else cond & eq
    joined = o.join(n, cond, "full_outer")
    old_present = F.col(f"o_{key_cols[0]}").isNotNull()
    new_present = F.col(f"n_{key_cols[0]}").isNotNull()
    changed = None
    for c in compare_cols:
        ne = ~F.col(f"ov_{c}").eqNullSafe(F.col(f"nv_{c}"))
        changed = ne if changed is None else changed | ne
    op = (
        F.when(~old_present, F.lit("I"))
        .when(~new_present, F.lit("D"))
        .when(changed, F.lit("U"))
    )
    return (
        joined.withColumn("op", op)
        .where(F.col("op").isNotNull())
        .select(
            "op",
            *[
                F.coalesce(F.col(f"n_{c}"), F.col(f"o_{c}")).alias(c)
                for c in key_cols
            ],
            *[F.col(f"ov_{c}").alias(f"old_{c}") for c in compare_cols],
            *[F.col(f"nv_{c}").alias(f"new_{c}") for c in compare_cols],
        )
    )
