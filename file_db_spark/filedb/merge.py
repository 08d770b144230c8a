"""The merge engine (SURVEY.md §2.9 M1-M8) — set-based snapshot-diff
upserts between catalog tiers, as pure DataFrame transforms.

Reference semantics replicated (cited into /root/reference):
- M1 process_staged_dirs    DirectoryCrawl.py:881-946
- M2 process_staged_files   DirectoryCrawl.py:798-878
- M3 mark_dirs_crawled      DirectoryCrawl.py:949-1045 (+O7 frequency)
- M4 process_staged_hashes  DirectoryCrawl.py:772-795
- M6 delete_file            File.py:264-344 (cascade + archive)
- M7 delete_directory       Directory.py:196-358 (subtree via prefix)
- M8 removal-queue drain    DirectoryCrawl.py:1111-1190 (FIFO batches)
- O5 empty-update suppression on every upsert (848-852, 925-927)

Each function returns NEW DataFrames; committing them is the caller's
TableStore (apply_changes/merge; Delta MERGE on a cluster). The one
thing materialized here is merge_directories'/merge_files' O(changes)
diff slice (`.scratch`): an eager local checkpoint, computed once at
AQE-coalesced width and released by the caller after its writes.
The atomic unit is a crawl wave: a directory's full listing lands in
one batch, which is what makes snapshot-diff deletion safe without the
reference's flush-ordering guard (SURVEY §7 "what's hard").

Scale: every operation is an equi-join or anti-join on id/dir_path —
one shuffle each, AQE-skew-safe; dimension-sized sides broadcast.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.paths import basepath, clamp
from ..localframe import local_df
from .store import checkpoint_counting

__all__ = [
    "DirMergeResult",
    "FileMergeResult",
    "merge_directories",
    "merge_files",
    "mark_dirs_crawled",
    "merge_hashes",
    "upsert_hash",
    "delete_files",
    "delete_directories",
    "upsert_directories_into",
    "upsert_hashes_into",
    "upsert_control_into",
    "upsert_files_into",
]


def _neq(a: Column, b: Column) -> Column:
    """Null-safe 'differs' (the reference's `t.col <> excluded.col OR
    ...` change-detection guards, O5)."""
    return ~a.eqNullSafe(b)


def _now_lit(now) -> Column:
    return F.lit(now).cast("timestamp")


# ---------------------------------------------------------------------------
# M1 — directories
# ---------------------------------------------------------------------------
@dataclass
class DirMergeResult:
    directory: DataFrame       # new state of the entity table
    new_dirs: DataFrame        # inserted rows (to seed control, M9)
    removal_queue: DataFrame   # vanished dirs -> deferred delete (dir_id, dir_path)
    removal_count: int         # rows in removal_queue, counted as scratch materialized
    scratch: DataFrame | None = None  # checkpointed change slice; release after the wave's writes
    inserts: DataFrame | None = None  # full insert rows (store.apply_changes input)
    updates: DataFrame | None = None  # full replacement rows for O5-changed keys


def merge_directories(
    directory: DataFrame, staged_dirs: DataFrame, crawled_dir_paths: DataFrame, now
) -> DirMergeResult:
    """M1: upsert staged subdir listings into `directory` and detect
    vanished subdirs of the crawled dirs (anti-join snapshot diff,
    DirectoryCrawl.py:899-914). staged_dirs: (id, dir_path, ctime,
    mtime); crawled_dir_paths: (dir_path) — the scanned frontier, which
    defines the scope of the diff.

    ONE full-outer join on dir_path classifies the whole wave —
    inserts, O5 updates, unchanged, AND (scope-flagged by a broadcast
    probe against the frontier) vanished subdirs — so a crawl wave
    reads `directory` once, not once per derived output (VERDICT r8
    #2). Only the O(changes) slice is materialized (.scratch, an eager
    local checkpoint whose vanished-row count rides the same action as
    .removal_count); the full entity state stays a lazy projection for
    snapshot-style callers.
    `directory` may be a zone-pruned SUPERSET read restricted to the
    frontier's subtree hull (store.read_pruned): every row that can
    match a staged path or fall in the vanish scope lives under a
    frontier subtree, so the diff slices are unaffected — only the
    (engine-unused) full state narrows with it."""
    staged = staged_dirs.dropDuplicates(["dir_path"])
    ex = directory.withColumn("__tp", F.lit(True)).alias("ex")
    st = staged.withColumn("__sp", F.lit(True)).alias("st")
    crawled = F.broadcast(
        crawled_dir_paths.select("dir_path").distinct()
        .withColumnRenamed("dir_path", "__scope_path")
        .withColumn("__cr", F.lit(True))
    )
    j = (
        ex.join(st, F.col("st.dir_path") == F.col("ex.dir_path"), "full_outer")
        # vanish scope: existing rows whose PARENT is in the crawled
        # frontier (broadcast — no shuffle of the catalog side)
        .join(
            crawled,
            basepath(F.col("ex.dir_path")) == F.col("__scope_path"),
            "left",
        )
    )
    tp = F.col("ex.__tp").isNotNull()
    sp = F.col("st.__sp").isNotNull()
    changed = _neq(F.col("st.ctime"), F.col("ex.ctime")) | _neq(
        F.col("st.mtime"), F.col("ex.mtime")
    )
    # the O(changes) slice every downstream output derives from:
    # staged rows (insert/update/unchanged classification) + in-scope
    # target-only rows (vanished) — checkpointed so the wave's several
    # write actions run the probe join once
    scratch, counts = checkpoint_counting(
        j.where(sp | (tp & F.col("__cr").isNotNull())), vanished=tp & ~sp
    )
    inserts = scratch.where(~tp & sp).select(
        F.col("st.id").alias("id"),
        F.col("st.dir_path").alias("dir_path"),
        F.col("st.ctime").alias("ctime"),
        F.col("st.mtime").alias("mtime"),
        _now_lit(now).alias("inserted_on"),
        _now_lit(now).alias("updated_on"),
    )
    updates = scratch.where(tp & sp & changed).select(
        F.col("ex.id").alias("id"),
        F.col("ex.dir_path").alias("dir_path"),
        F.col("st.ctime").alias("ctime"),
        F.col("st.mtime").alias("mtime"),
        F.col("ex.inserted_on").alias("inserted_on"),
        _now_lit(now).alias("updated_on"),
    )
    # Vanished: known subdirs of a crawled dir that the new listing no
    # longer contains -> deferred removal (M8 drains recursively).
    vanished = scratch.where(tp & ~sp).select(
        F.col("ex.id").alias("dir_id"),
        F.col("ex.dir_path").alias("dir_path"),
        _now_lit(now).alias("inserted_on"),
    )
    # full entity state (lazy, for the pure-function callers/oracles):
    # unchanged existing rows keep their values; changed matched rows
    # take staged ctime/mtime; staged-only rows insert
    state = j.where(tp | sp).select(
        F.coalesce(F.col("ex.id"), F.col("st.id")).alias("id"),
        F.coalesce(F.col("ex.dir_path"), F.col("st.dir_path")).alias("dir_path"),
        F.when(sp, F.col("st.ctime")).otherwise(F.col("ex.ctime")).alias("ctime"),
        F.when(sp, F.col("st.mtime")).otherwise(F.col("ex.mtime")).alias("mtime"),
        F.coalesce(F.col("ex.inserted_on"), _now_lit(now)).alias("inserted_on"),
        F.when(tp & sp & changed, _now_lit(now))
        .when(~tp & sp, _now_lit(now))
        .otherwise(F.col("ex.updated_on"))
        .alias("updated_on"),
    )
    return DirMergeResult(
        directory=state,
        new_dirs=inserts,
        removal_queue=vanished,
        removal_count=counts["vanished"],
        scratch=scratch,
        inserts=inserts,
        updates=updates,
    )


# ---------------------------------------------------------------------------
# M2 — files
# ---------------------------------------------------------------------------
@dataclass
class FileMergeResult:
    file: DataFrame            # new state of the entity table
    hash_schedule: DataFrame   # new/changed files to (re)hash (hash_control rows)
    removal_queue: DataFrame   # vanished files -> deferred delete (file_id)
    removal_count: int         # rows in removal_queue, counted as scratch materialized
    scratch: DataFrame | None = None  # checkpointed change slice; release after the wave's writes
    inserts: DataFrame | None = None  # full insert rows (store.apply_changes input)
    updates: DataFrame | None = None  # full replacement rows for O5-changed keys


def merge_files(
    file: DataFrame,
    staged_files: DataFrame,
    crawled_dir_ids: DataFrame,
    hash_control: DataFrame,
    now,
) -> FileMergeResult:
    """M2: upsert staged file listings (PK = deterministic id =
    xxhash64(dir_path, name)); snapshot-diff vanished files of crawled
    dirs; schedule new/content-changed files into hash_control (the
    inline NOT EXISTS of DirectoryCrawl.py:856-873 — implementing the
    intended semantics of the buggy M10, SURVEY §4).

    Same single-pass shape as merge_directories: ONE full-outer join
    on id classifies inserts, O5 updates, rehash candidates AND
    (scope-flagged by a broadcast probe on dir_id) vanished files, so
    a crawl wave reads `file` once; only the O(changes) slice is
    materialized (.scratch, with .removal_count)."""
    staged = staged_files.dropDuplicates(["id"])
    ex = file.withColumn("__tp", F.lit(True)).alias("ex")
    st = staged.withColumn("__sp", F.lit(True)).alias("st")
    crawled = F.broadcast(
        crawled_dir_ids.select("dir_id").distinct()
        .withColumnRenamed("dir_id", "__scope_dir")
        .withColumn("__cr", F.lit(True))
    )
    j = (
        ex.join(st, F.col("st.id") == F.col("ex.id"), "full_outer")
        .join(crawled, F.col("ex.dir_id") == F.col("__scope_dir"), "left")
    )
    tp = F.col("ex.__tp").isNotNull()
    sp = F.col("st.__sp").isNotNull()
    content_changed = _neq(F.col("st.size"), F.col("ex.size")) | _neq(
        F.col("st.mtime"), F.col("ex.mtime")
    )
    any_changed = (
        content_changed
        | _neq(F.col("st.ctime"), F.col("ex.ctime"))
        | _neq(F.col("st.atime"), F.col("ex.atime"))
    )
    scratch, counts = checkpoint_counting(
        j.where(sp | (tp & F.col("__cr").isNotNull())), vanished=tp & ~sp
    )
    inserts = scratch.where(~tp & sp).select(
        F.col("st.id").alias("id"),
        F.col("st.name").alias("name"),
        F.col("st.dir_id").alias("dir_id"),
        F.col("st.size").alias("size"),
        F.col("st.ctime").alias("ctime"),
        F.col("st.mtime").alias("mtime"),
        F.col("st.atime").alias("atime"),
        _now_lit(now).alias("inserted_on"),
        _now_lit(now).alias("updated_on"),
    )
    updates = scratch.where(tp & sp & any_changed).select(
        F.col("ex.id").alias("id"),
        F.col("ex.name").alias("name"),
        F.col("ex.dir_id").alias("dir_id"),
        F.col("st.size").alias("size"),
        F.col("st.ctime").alias("ctime"),
        F.col("st.mtime").alias("mtime"),
        F.col("st.atime").alias("atime"),
        F.col("ex.inserted_on").alias("inserted_on"),
        _now_lit(now).alias("updated_on"),
    )
    vanished = scratch.where(tp & ~sp).select(
        F.col("ex.id").alias("file_id"), _now_lit(now).alias("inserted_on")
    )
    rehash = scratch.where(tp & sp & content_changed)
    # full_path rides the schedule row when the staged listing carries
    # dir_path (the engine's scan does) — what lets the hash wave open
    # files with ZERO catalog reads; pure-function callers without
    # dir_path schedule a NULL path and the wave falls back to the
    # legacy file⋈directory resolve for those rows
    if "dir_path" in staged.columns:
        from .scan import child_path_col

        fp = child_path_col(F.col("st.dir_path"), F.col("st.name"))
    else:
        fp = F.lit(None).cast("string")
    to_hash = (
        scratch.where(~tp & sp)
        .select(
            F.col("st.id").alias("id"),
            F.col("st.mtime").alias("mtime"),
            F.col("st.size").alias("size"),
            fp.alias("full_path"),
        )
        .unionByName(
            rehash.select(
                F.col("ex.id").alias("id"),
                F.col("st.mtime").alias("mtime"),
                F.col("st.size").alias("size"),
                fp.alias("full_path"),
            )
        )
        .join(hash_control.select("file_id"), F.col("id") == F.col("file_id"), "left_anti")
        .select(
            F.col("id").alias("file_id"),
            "mtime",
            F.col("size").alias("file_size"),
            F.lit(None).cast("timestamp").alias("process_assigned_on"),
            F.lit(False).alias("file_missing"),
            _now_lit(now).alias("inserted_on"),
            "full_path",
        )
    )
    # full entity state (lazy, for the pure-function callers/oracles)
    state = j.where(tp | sp).select(
        F.coalesce(F.col("ex.id"), F.col("st.id")).alias("id"),
        F.coalesce(F.col("ex.name"), F.col("st.name")).alias("name"),
        F.coalesce(F.col("ex.dir_id"), F.col("st.dir_id")).alias("dir_id"),
        F.when(sp, F.col("st.size")).otherwise(F.col("ex.size")).alias("size"),
        F.when(sp, F.col("st.ctime")).otherwise(F.col("ex.ctime")).alias("ctime"),
        F.when(sp, F.col("st.mtime")).otherwise(F.col("ex.mtime")).alias("mtime"),
        F.when(sp, F.col("st.atime")).otherwise(F.col("ex.atime")).alias("atime"),
        F.coalesce(F.col("ex.inserted_on"), _now_lit(now)).alias("inserted_on"),
        F.when(tp & sp & any_changed, _now_lit(now))
        .when(~tp & sp, _now_lit(now))
        .otherwise(F.col("ex.updated_on"))
        .alias("updated_on"),
    )
    return FileMergeResult(
        file=state,
        hash_schedule=to_hash,
        removal_queue=vanished,
        removal_count=counts["vanished"],
        scratch=scratch,
        inserts=inserts,
        updates=updates,
    )


# ---------------------------------------------------------------------------
# M1/M2 entity commits re-expressed on the store's general MERGE INTO
# ---------------------------------------------------------------------------
def upsert_directories_into(store, staged_dirs: DataFrame, now) -> dict:
    """M1's entity-table upsert as a TableStore.merge() call — the
    same clauses merge_directories computes by hand (update ctime/
    mtime + stamp updated_on on O5-changed rows only; insert staged
    values + both timestamps), but COMMITTED O(changes): one deletion
    vector over the touched dir_paths plus one upsert segment, never
    a full `directory` rewrite per crawl wave (the sustainable shape
    when the catalog holds 10^9 directories and a wave touches 10^3).
    Vanish detection stays in merge_directories (it needs the crawl
    scope); this is the write path. Returns merge metrics."""
    staged = staged_dirs.dropDuplicates(["dir_path"])
    nowc = _now_lit(now)
    return store.merge(
        "directory",
        staged,
        ["dir_path"],
        # dir_path zone maps on every wave's upsert segment: crawl
        # waves have subtree locality, so store.read_prefix() prunes
        # subtree queries to the touching segments (P5 at 100x)
        zone_cols=["dir_path"],
        when_matched_update={
            "ctime": F.col("s.ctime"),
            "mtime": F.col("s.mtime"),
            "updated_on": nowc,
        },
        when_not_matched_insert={
            "id": F.col("s.id"),
            "ctime": F.col("s.ctime"),
            "mtime": F.col("s.mtime"),
            "inserted_on": nowc,
            "updated_on": nowc,
        },
        changed_only=["ctime", "mtime"],
    )


def upsert_files_into(store, staged_files: DataFrame, now) -> dict:
    """M2's entity-table upsert as a TableStore.merge() call (update
    size/ctime/mtime/atime + updated_on when any differs — O5; insert
    staged values + timestamps). `file` is a BUCKETED table and the
    store commits it O(changes) merge-on-read: bucket-aligned delta
    files + a commit-scoped deletion vector, base files hardlinked —
    the co-located join layout survives the wave WITHOUT the full
    rewrite it used to cost (the reference maintains its file PK
    B-tree incrementally per insert, FileDbDAL/File.py:203-229; this
    is the layout-preserving Spark analog). Rehash scheduling stays in
    merge_files (it needs the content-changed split). Returns merge
    metrics."""
    staged = staged_files.dropDuplicates(["id"])
    nowc = _now_lit(now)
    return store.merge(
        "file",
        staged,
        ["id"],
        when_matched_update={
            "size": F.col("s.size"),
            "ctime": F.col("s.ctime"),
            "mtime": F.col("s.mtime"),
            "atime": F.col("s.atime"),
            "updated_on": nowc,
        },
        when_not_matched_insert={
            "name": F.col("s.name"),
            "dir_id": F.col("s.dir_id"),
            "size": F.col("s.size"),
            "ctime": F.col("s.ctime"),
            "mtime": F.col("s.mtime"),
            "atime": F.col("s.atime"),
            "inserted_on": nowc,
            "updated_on": nowc,
        },
        changed_only=["size", "ctime", "mtime", "atime"],
    )


# ---------------------------------------------------------------------------
# M3 — control update + O7 adaptive frequency
# ---------------------------------------------------------------------------
#: O7 constants (DirectoryCrawl.py:1011-1031, SQLUtil.py:444-508)
FREQ_DIVISOR = 30
FREQ_MIN_S = 900
FREQ_MAX_S = 604_800
NOT_FOUND_RETRY_S = 86_400
DEFAULT_FREQ_S = 86_400


def mark_dirs_crawled(
    control: DataFrame,
    crawled_stats: DataFrame,
    missing_dirs: DataFrame,
    now,
) -> DataFrame:
    """M3: per crawled dir, recompute counts + adaptive crawl frequency
    = clamp(seconds_since_last_content_activity / 30, [15 min, 7 d]);
    release the claim. Missing dirs retry daily with dir_missing=true.

    crawled_stats: (dir_path, dir_id, file_count, subdir_count,
    last_active) — last_active = max content ctime/mtime.
    missing_dirs: (dir_path)."""
    nowc = _now_lit(now)
    freq = clamp(
        (nowc.cast("long") - F.coalesce(F.col("last_active"), nowc).cast("long"))
        / FREQ_DIVISOR,
        FREQ_MIN_S,
        FREQ_MAX_S,
    ).cast("int")
    cs = crawled_stats.select(
        "dir_path",
        "dir_id",
        F.col("file_count").cast("int").alias("file_count"),
        F.col("subdir_count").cast("int").alias("subdir_count"),
        "last_active",
        freq.alias("new_freq"),
    ).alias("cs")
    miss = missing_dirs.select("dir_path").withColumn("is_missing", F.lit(True)).alias("m")
    c = control.alias("c")
    joined = c.join(cs, "dir_path", "left").join(miss, "dir_path", "left")
    crawled = F.col("cs.dir_id").isNotNull()
    missing = F.col("is_missing").isNotNull()
    return joined.select(
        "dir_path",
        F.coalesce(F.col("cs.dir_id"), F.col("c.dir_id")).alias("dir_id"),
        F.when(crawled, F.col("cs.file_count")).otherwise(F.col("c.file_count")).alias("file_count"),
        F.when(crawled, F.col("cs.subdir_count")).otherwise(F.col("c.subdir_count")).alias("subdir_count"),
        F.when(crawled, nowc + F.make_interval(secs=F.col("cs.new_freq")))
        .when(missing, nowc + F.expr(f"INTERVAL {NOT_FOUND_RETRY_S} SECOND"))
        .otherwise(F.col("c.next_crawl"))
        .alias("next_crawl"),
        F.when(crawled, F.col("cs.new_freq"))
        .when(missing, F.lit(NOT_FOUND_RETRY_S))
        .otherwise(F.col("c.crawl_frequency"))
        .alias("crawl_frequency"),
        F.when(crawled | missing, F.lit(None).cast("int"))
        .otherwise(F.col("c.assigned_process_id"))
        .alias("assigned_process_id"),
        F.when(crawled | missing, F.lit(None).cast("timestamp"))
        .otherwise(F.col("c.process_assigned_on"))
        .alias("process_assigned_on"),
        F.when(crawled | missing, nowc).otherwise(F.col("c.last_crawled")).alias("last_crawled"),
        F.when(crawled, F.col("cs.last_active")).otherwise(F.col("c.last_active")).alias("last_active"),
        F.when(missing, F.lit(True))
        .when(crawled, F.lit(False))
        .otherwise(F.col("c.dir_missing"))
        .alias("dir_missing"),
        F.col("c.inserted_on").alias("inserted_on"),
    )


# ---------------------------------------------------------------------------
# M4 — hashes
# ---------------------------------------------------------------------------
def merge_hashes(
    hash_df: DataFrame, hash_control: DataFrame, staged_hashes: DataFrame, now
) -> tuple[DataFrame, DataFrame]:
    """M4 (+ M5 change detection): upsert staged digests into `hash`
    keyed on file_id, drop the processed control rows (including
    file_missing ones). staged_hashes: HASH_SCHEMA rows.
    Returns (hash, hash_control)."""
    ok = staged_hashes.where(~F.col("file_missing")).dropDuplicates(["file_id"])
    ex = hash_df.alias("ex")
    st = ok.alias("st")
    joined = st.join(ex, F.col("st.file_id") == F.col("ex.file_id"), "left")
    inserts = joined.where(F.col("ex.file_id").isNull()).select(
        F.col("st.file_id").alias("id"),
        F.col("st.file_id").alias("file_id"),
        F.col("st.md5_hash").alias("md5_hash"),
        F.col("st.hashed_on").alias("md5_hash_time"),
        F.col("st.sha1_hash").alias("sha1_hash"),
        F.col("st.hashed_on").alias("sha1_hash_time"),
    )
    changed = _neq(F.col("st.md5_hash"), F.col("ex.md5_hash")) | _neq(
        F.col("st.sha1_hash"), F.col("ex.sha1_hash")
    )
    updates = joined.where(F.col("ex.file_id").isNotNull() & changed).select(
        F.col("ex.id").alias("id"),
        F.col("ex.file_id").alias("file_id"),
        F.col("st.md5_hash").alias("md5_hash"),
        F.col("st.hashed_on").alias("md5_hash_time"),
        F.col("st.sha1_hash").alias("sha1_hash"),
        F.col("st.hashed_on").alias("sha1_hash_time"),
    )
    touched = inserts.select("file_id").unionByName(updates.select("file_id"))
    untouched = ex.join(touched, "file_id", "left_anti").select(
        "id", "file_id", "md5_hash", "md5_hash_time", "sha1_hash", "sha1_hash_time"
    )
    new_hash = untouched.unionByName(inserts).unionByName(updates)
    processed = staged_hashes.select("file_id")  # incl. missing -> drop control
    new_control = hash_control.join(processed, "file_id", "left_anti")
    return new_hash, new_control


def upsert_hashes_into(store, staged_hashes: DataFrame, now) -> dict:
    """M4/M5 as a TableStore.merge() call — the hash wave's entity
    commit, O(changes): `hash` is BUCKETED on file_id, so the store
    writes bucket-aligned delta files + a commit-scoped deletion
    vector and hardlinks the base (never a table rewrite — the
    reference maintains hash_sha1_hash/file_id B-trees incrementally
    per insert, FileDbDAL/Hash.py:94-103). Same clauses as
    merge_hashes: update digest + stamp times only when a digest
    null-safely differs (M5 change detection); insert with
    id = file_id. file_missing rows never reach `hash`. Returns merge
    metrics."""
    ok = staged_hashes.where(~F.col("file_missing")).dropDuplicates(
        ["file_id"]
    )
    src = ok.select("file_id", "md5_hash", "sha1_hash", "hashed_on")
    return store.merge(
        "hash",
        src,
        ["file_id"],
        when_matched_update={
            "md5_hash": F.col("s.md5_hash"),
            "md5_hash_time": F.col("s.hashed_on"),
            "sha1_hash": F.col("s.sha1_hash"),
            "sha1_hash_time": F.col("s.hashed_on"),
        },
        when_not_matched_insert={
            "id": F.col("s.file_id"),
            "md5_hash": F.col("s.md5_hash"),
            "md5_hash_time": F.col("s.hashed_on"),
            "sha1_hash": F.col("s.sha1_hash"),
            "sha1_hash_time": F.col("s.hashed_on"),
        },
        changed_only=["md5_hash", "sha1_hash"],
    )


def upsert_control_into(store, control: DataFrame) -> dict:
    """Commit a recomputed directory_control state O(changes): the
    scheduler functions produce the FULL next control state (claims
    stamped, crawled rows rescheduled, new dirs seeded — the row set
    only ever grows in the crawl path; removals go through the DV
    delete path), and the general MERGE with all-column change
    suppression writes ONLY the rows that differ — one DV + one
    upsert segment per wave instead of rewriting a control table that
    is as large as the catalog itself."""
    data_cols = [
        f.name
        for f in store.schemas["directory_control"].fields
        if f.name != "dir_path"
    ]
    return store.merge(
        "directory_control",
        control.dropDuplicates(["dir_path"]),
        ["dir_path"],
        when_matched_update="all",
        when_not_matched_insert="all",
        changed_only=data_cols,
    )


def upsert_hash(
    hash_df: DataFrame,
    listing: DataFrame,
    file_id: int,
    md5_hash: str | None,
    sha1_hash: str | None,
    now,
) -> DataFrame:
    """M5 point upsert with the file-existence guard
    (hash_insert_if_file_exists, Hash.py:147-179): the row lands only
    if the file exists in the catalog listing; change detection as in
    merge_hashes. CLI-path convenience — bulk flows use merge_hashes."""
    spark = hash_df.sparkSession
    exists = (
        listing.where((F.col("type") == "file") & (F.col("file_id") == file_id))
        .limit(1)
        .count()
        > 0
    )
    if not exists:
        return hash_df
    staged = local_df(spark, 
        [(int(file_id), md5_hash, sha1_hash, now, False)],
        "file_id long, md5_hash string, sha1_hash string, hashed_on timestamp, file_missing boolean",
    )
    empty_control = local_df(spark, [], "file_id long")
    new_hash, _ = merge_hashes(hash_df, empty_control, staged, now)
    return new_hash


# ---------------------------------------------------------------------------
# M6/M7 — cascading deletes with archive
# ---------------------------------------------------------------------------
def delete_files(
    file: DataFrame, hash_df: DataFrame, hash_control: DataFrame,
    victim_file_ids: DataFrame, now,
) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame]:
    """M6 cascade: drop hash + hash_control + file rows for the victim
    set; archived file rows carry lineage (File.py:264-344).
    Returns (file, hash, hash_control, file_archive_rows)."""
    victims = victim_file_ids.select("file_id").distinct()
    vf = file.join(victims, file.id == victims.file_id, "left_semi")
    archive_rows = vf.select(
        "id", "name", "dir_id", "size", "ctime", "mtime", "atime",
        F.col("inserted_on").alias("original_inserted_on"),
        F.col("updated_on").alias("original_updated_on"),
        _now_lit(now).alias("deleted_on"),
    )
    new_file = file.join(victims, file.id == victims.file_id, "left_anti")
    new_hash = hash_df.join(victims, "file_id", "left_anti")
    new_hc = hash_control.join(victims, "file_id", "left_anti")
    return new_file, new_hash, new_hc, archive_rows


def delete_directories(
    directory: DataFrame, file: DataFrame, hash_df: DataFrame,
    hash_control: DataFrame, directory_control: DataFrame,
    victim_dir_ids: DataFrame, now, recursive: bool = True,
) -> dict[str, DataFrame]:
    """M7: delete directories (+ subtree when recursive, via the
    dir_path prefix — no recursion needed in set-land, Directory.py:
    196-358), cascade to their files (M6), archive everything.
    Returns dict of new tables + archive row batches."""
    victims = directory.join(
        victim_dir_ids.select("dir_id").distinct(),
        directory.id == F.col("dir_id"),
        "left_semi",
    )
    if recursive:
        roots = victims.select(F.col("dir_path").alias("root_path"))
        sub = directory.join(
            F.broadcast(roots),
            directory.dir_path.startswith(F.concat(F.col("root_path"), F.lit("/")))
            | directory.dir_path.startswith(F.concat(F.col("root_path"), F.lit("\\")))
            | (directory.dir_path == F.col("root_path")),
            "left_semi",
        )
        victims = sub
    victim_ids = victims.select(F.col("id").alias("dir_id"))
    dir_archive = victims.select(
        "id", "dir_path", "ctime", "mtime",
        F.col("inserted_on").alias("original_inserted_on"),
        F.col("updated_on").alias("original_updated_on"),
        _now_lit(now).alias("deleted_on"),
    )
    victim_files = file.join(victim_ids, "dir_id", "left_semi").select(
        F.col("id").alias("file_id")
    )
    new_file, new_hash, new_hc, file_archive = delete_files(
        file, hash_df, hash_control, victim_files, now
    )
    return {
        "directory": directory.join(victim_ids, directory.id == victim_ids.dir_id, "left_anti"),
        "file": new_file,
        "hash": new_hash,
        "hash_control": new_hc,
        "directory_control": directory_control.join(victim_ids, "dir_id", "left_anti"),
        "directory_archive_rows": dir_archive,
        "file_archive_rows": file_archive,
        # victim KEY SETS for O(changes) deletion-vector commits (the
        # engine's removal path writes these as DVs instead of
        # rewriting the rebuilt tables above; the rebuilt tables stay
        # for the pure-function callers and their oracles)
        "victim_dir_ids": victim_ids,
        "victim_file_ids": victim_files,
    }
