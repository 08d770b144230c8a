"""Round-9 crawl-wave SHAPE pins (VERDICT r8 #1/#2/#3): one read of
`directory`/`file` per wave (the diff slices feed apply_changes — no
second full-outer join at commit), zone-pruned due-claim and
frontier-probe reads, the empty-directory reschedule fix, and TWO
standing MVs maintained through mixed crawl+hash+removal waves."""

from __future__ import annotations

from datetime import timedelta

import pytest
from pyspark.sql import functions as F

import file_db_spark.filedb.engine as _e
from file_db_spark.filedb.engine import Engine


@pytest.fixture()
def tree(tmp_path):
    root = tmp_path / "tree"
    (root / "sub1").mkdir(parents=True)
    (root / "sub2").mkdir(parents=True)
    (root / "a.txt").write_text("alpha")
    (root / "sub1" / "b.txt").write_text("bravo")
    (root / "sub1" / "dup1.bin").write_bytes(b"same-content")
    (root / "sub2" / "dup2.bin").write_bytes(b"same-content")
    return root


def _mk_engine(spark, tmp_path) -> Engine:
    eng = Engine(spark, str(tmp_path / "catalog"))
    eng.install()
    return eng


def test_one_read_per_table_per_wave(spark, tmp_path, tree, monkeypatch):
    """The wave reads `directory` ONCE (the zone-pruned frontier
    probe), `file` ONCE (the file-pruned M2 probe — no plain read at
    all), and claims control through one zone-pruned read plus one
    one-column seed anti-join — the commit path (apply_changes)
    performs NO reads at all."""
    eng = _mk_engine(spark, tmp_path)
    eng.add_root(str(tree))
    store = eng.store
    counts: dict[str, int] = {}
    real_read, real_pruned = store.read, store.read_pruned
    real_fpruned = store.read_bucketed_pruned

    def counting_read(name):
        counts[name] = counts.get(name, 0) + 1
        return real_read(name)

    def counting_pruned(name, col, intervals, include_nulls=False):
        counts[f"{name}:pruned"] = counts.get(f"{name}:pruned", 0) + 1
        return real_pruned(name, col, intervals, include_nulls)

    def counting_fpruned(name, col, keys, include_nulls=False):
        counts[f"{name}:file_pruned"] = counts.get(f"{name}:file_pruned", 0) + 1
        return real_fpruned(name, col, keys, include_nulls)

    monkeypatch.setattr(store, "read", counting_read)
    monkeypatch.setattr(store, "read_pruned", counting_pruned)
    monkeypatch.setattr(store, "read_bucketed_pruned", counting_fpruned)
    crawled = eng.crawl_once(limit=100)
    assert crawled == 1  # only the seeded root is due in wave 1
    # directory: ONE pruned probe, ZERO plain reads
    assert counts.get("directory:pruned") == 1
    assert counts.get("directory", 0) == 0
    # file: ONE file-pruned probe, ZERO plain reads (VERDICT r9 #1)
    assert counts.get("file:file_pruned") == 1
    assert counts.get("file", 0) == 0
    # control: ONE pruned claim read + ONE one-column seed projection
    assert counts.get("directory_control:pruned") == 1
    assert counts.get("directory_control", 0) == 1
    assert counts.get("hash_control", 0) == 1


def test_steady_wave_stages_narrower_than_shuffle_width(spark, tmp_path, tree):
    """No stage of a steady crawl wave launches one task per shuffle
    partition: the frames the wave reuses (listing, diff slices, commit
    change sets) are eager checkpoints at AQE-coalesced width, not
    persists pinned at `spark.sql.shuffle.partitions`."""
    eng = _mk_engine(spark, tmp_path)
    eng.add_root(str(tree))
    while eng.crawl_once(limit=100):
        pass
    sc = spark.sparkContext
    width = 64
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(width))
    group = f"steady-wave-{id(eng)}"
    try:
        sc.setJobGroup(group, "steady crawl wave")
        later = _e._utcnow() + timedelta(days=8)
        assert eng.crawl_once(now=later, limit=100) == 3
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        spark.conf.set("spark.sql.shuffle.partitions", old)
    tracker = sc.statusTracker()
    tasks = [
        info.numCompletedTasks
        for job in tracker.getJobIdsForGroup(group)
        for stage in (tracker.getJobInfo(job) or ()).stageIds
        if (info := tracker.getStageInfo(stage)) is not None
    ]
    assert tasks, "the wave's jobs carry the job group"
    assert max(tasks) < width


def test_file_probe_prunes_disjoint_wave_files(spark, tmp_path):
    """The M2 probe scans ONLY the `file` data files whose per-file
    dir_id digests can hold a frontier dir_id: after two disjoint
    subtrees committed their file rows in separate waves, re-crawling
    one subtree skips the other's delta files at sidecar level — and
    the catalog state is unchanged by the pruning."""
    a = tmp_path / "fa"
    b = tmp_path / "fb"
    (a / "adir").mkdir(parents=True)
    (b / "bdir").mkdir(parents=True)
    (a / "adir" / "x.txt").write_text("x")
    (b / "bdir" / "y.txt").write_text("y")
    eng = _mk_engine(spark, tmp_path)
    eng.add_root(str(a))
    eng.add_root(str(b))
    while eng.crawl_once(limit=10):
        pass
    # re-crawl everything: each wave's file probe consults the sidecar
    later = _e._utcnow() + timedelta(days=8)
    pruned_any = False
    while eng.crawl_once(now=later, limit=1):
        rep = eng.last_file_probe_report
        assert rep is not None and rep["mode"] == "files"
        # soundness: a wave never scans MORE files than exist
        assert rep["scanned"] + rep["zone_skipped"] + rep["bloom_skipped"] == rep["total"]
        if rep["zone_skipped"] + rep["bloom_skipped"] > 0:
            pruned_any = True
    # the disjoint-subtree waves must have skipped the other tree's
    # delta files (frontier dir_ids are membership-pruned by bloom)
    assert pruned_any
    files = {r["name"] for r in eng.store.read("file").collect()}
    assert files == {"x.txt", "y.txt"}


def _claim_root_artificially(eng, pid, assigned_on):
    """Commit a crawl claim as a (dead) foreign process would leave it."""
    held = (
        eng.store.read("directory_control")
        .withColumn("assigned_process_id", F.lit(pid).cast("int"))
        .withColumn(
            "process_assigned_on", F.lit(assigned_on).cast("timestamp")
        )
    )
    eng.store.apply_changes(
        "directory_control",
        ["dir_path"],
        updates=held,
        zone_cols=["dir_path", "next_crawl"],
    )


def test_reset_claims_releases_stuck_work(spark, tmp_path, tree):
    """Claims persist across processes now, so a dead worker blocks
    its dirs — Engine.reset_claims (M11, committed) releases them."""
    eng = _mk_engine(spark, tmp_path)
    eng.add_root(str(tree))
    now = _e._utcnow()
    _claim_root_artificially(eng, 99, now)
    assert eng.crawl_once(now=now, limit=100) == 0  # blocked by the claim
    assert eng.reset_claims() == 1
    assert eng.crawl_once(now=now, limit=100) == 1  # root claimable again


def test_stale_claims_expire_via_lease(spark, tmp_path, tree):
    """A claim older than claim_timeout_s counts as free — a crashed
    worker stops blocking its dirs without operator action."""
    from datetime import timedelta as _td

    eng = _mk_engine(spark, tmp_path)
    eng.add_root(str(tree))
    now = _e._utcnow()
    _claim_root_artificially(eng, 99, now - _td(days=2))  # > 1-day lease
    assert eng.crawl_once(now=now, limit=100) == 1  # lease expired: claimed
    # a FRESH claim is honored — no premature steal one hour in
    _claim_root_artificially(eng, 99, now)
    assert eng.crawl_once(now=now + _td(hours=1), limit=100) == 0
    # once the lease runs out the dirs flow again without any reset
    later = now + _td(days=8)
    frontier_paths = set()
    while eng.crawl_once(now=later, limit=100):
        frontier_paths |= set(eng.last_frontier)
    assert str(tree) in frontier_paths


def test_hash_wave_zero_catalog_reads(spark, tmp_path, tree, monkeypatch):
    """The hash wave opens files through the full_path denormalized
    into hash_control at schedule time — ZERO reads of `file` or
    `directory` (VERDICT r9 #2) — and still lands correct digests."""
    import hashlib

    eng = _mk_engine(spark, tmp_path)
    eng.add_root(str(tree))
    while eng.crawl_once(limit=100):
        pass
    store = eng.store
    counts: dict[str, int] = {}
    real_read = store.read

    def counting_read(name):
        counts[name] = counts.get(name, 0) + 1
        return real_read(name)

    monkeypatch.setattr(store, "read", counting_read)
    hashed = eng.hash_once(limit=1000)
    assert hashed == 4
    assert counts.get("file", 0) == 0
    assert counts.get("directory", 0) == 0
    # digest parity against hashlib on a known file
    expect = hashlib.md5(b"alpha").hexdigest()
    fid_rows = (
        eng.store.read("file").where(F.col("name") == "a.txt").collect()
    )
    got = (
        eng.store.read("hash")
        .where(F.col("file_id") == fid_rows[0]["id"])
        .first()
    )
    assert got["md5_hash"] == expect


def test_hash_claims_commit_and_recover(spark, tmp_path, tree, monkeypatch):
    """Hash claims COMMIT under the control flock (two processes hash
    disjoint sets); a wave that crashes after claiming leaves its rows
    blocked until reset_claims (or the lease) frees them."""
    eng = _mk_engine(spark, tmp_path)
    eng.add_root(str(tree))
    while eng.crawl_once(limit=100):
        pass

    def exploding_hash_files(work):
        raise RuntimeError("injected crash after the claim commit")

    monkeypatch.setattr(_e, "hash_files", exploding_hash_files)
    with pytest.raises(RuntimeError, match="injected crash"):
        eng.hash_once(limit=1000)
    monkeypatch.undo()
    # the crashed wave's claims persist: nothing claimable now
    assert eng.hash_once(limit=1000) == 0
    assert eng.store.read("hash").count() == 0
    # M11 frees them and the wave completes
    assert eng.reset_claims() == 4
    assert eng.hash_once(limit=1000) == 4
    assert eng.store.read("hash").count() == 4
    assert eng.store.read("hash_control").count() == 0


def test_hash_wave_legacy_rows_resolve_via_catalog(spark, tmp_path, tree):
    """Rows scheduled WITHOUT full_path (pre-column history, or a
    pure-function scheduler) still hash: the wave falls back to the
    bounded catalog resolve for exactly those ids."""
    eng = _mk_engine(spark, tmp_path)
    eng.add_root(str(tree))
    while eng.crawl_once(limit=100):
        pass
    # simulate legacy schedule rows: null out every full_path
    hc = eng.store.read("hash_control").withColumn(
        "full_path", F.lit(None).cast("string")
    )
    eng.store.replace("hash_control", hc)
    assert eng.hash_once(limit=1000) == 4
    assert eng.store.read("hash").count() == 4
    assert eng.store.read("hash_control").count() == 0


def test_claim_read_prunes_rescheduled_segments(spark, tmp_path, tree):
    """After a full crawl, every claimed row was rescheduled into the
    future inside stats-stamped upsert segments; a claim probe BEFORE
    the earliest next_crawl skips those segments at manifest level and
    claims nothing."""
    eng = _mk_engine(spark, tmp_path)
    eng.add_root(str(tree))
    while eng.crawl_once(limit=100):
        pass
    soon = _e._utcnow() + timedelta(minutes=5)  # < the 15-min min freq
    assert eng.crawl_once(now=soon, limit=100) == 0
    rep = eng.last_claim_report
    assert rep is not None and rep["zone_skipped"] >= 1
    # and a claim past the frequency horizon still finds everything
    later = _e._utcnow() + timedelta(days=8)
    assert eng.crawl_once(now=later, limit=100) > 0


def test_frontier_probe_prunes_disjoint_subtrees(spark, tmp_path):
    """Two roots crawled in separate waves: the second wave's frontier
    probe skips the directory segments the first wave committed (their
    dir_path zone ranges are disjoint subtrees)."""
    a = tmp_path / "aroot"
    b = tmp_path / "broot"
    (a / "adir").mkdir(parents=True)
    (b / "bdir").mkdir(parents=True)
    (a / "adir" / "x.txt").write_text("x")
    (b / "bdir" / "y.txt").write_text("y")
    eng = _mk_engine(spark, tmp_path)
    eng.add_root(str(a))
    eng.add_root(str(b))
    # claim order (score asc, dir_path asc): aroot -> aroot/adir ->
    # broot. Wave 1 commits a directory segment whose dir_path range
    # is the aroot subtree; wave 3's broot frontier must skip it.
    assert eng.crawl_once(limit=1) == 1  # aroot
    assert eng.crawl_once(limit=1) == 1  # aroot/adir (leaf, no new dirs)
    assert eng.crawl_once(limit=1) == 1  # broot's wave
    rep = eng.last_probe_report
    assert rep is not None
    assert rep["zone_skipped"] >= 1
    assert rep["scanned"] < rep["total"]
    # pruning never changed the catalog: both trees fully present
    while eng.crawl_once(limit=10):
        pass
    dirs = {r["dir_path"] for r in eng.store.read("directory").collect()}
    assert str(a / "adir") in dirs and str(b / "bdir") in dirs


def test_empty_directory_reschedules(spark, tmp_path):
    """A directory whose listing is EMPTY still reschedules (0 files,
    0 subdirs) — pre-round-9 it was never marked crawled and stayed
    due forever (crawl livelock)."""
    root = tmp_path / "etree"
    (root / "hollow").mkdir(parents=True)
    eng = _mk_engine(spark, tmp_path)
    eng.add_root(str(root))
    waves = 0
    while eng.crawl_once(limit=100) and waves < 10:
        waves += 1
    assert waves < 10  # terminates
    row = (
        eng.store.read("directory_control")
        .where(F.col("dir_path") == str(root / "hollow"))
        .first()
    )
    assert row is not None
    assert row["file_count"] == 0 and row["subdir_count"] == 0
    assert row["last_crawled"] is not None
    assert row["next_crawl"] > row["last_crawled"]


def test_two_standing_mviews_through_mixed_waves(spark, tmp_path, tree):
    """BOTH standing views (dir rollup over `file`, duplicate rollup
    over `hash`) stay equal to their from-scratch recomputes through
    crawl waves, hash waves, and a removal cascade — the general
    list_mviews refresh hook, not a single-view special case."""
    import shutil as _sh

    eng = _mk_engine(spark, tmp_path)
    eng.add_root(str(tree))
    eng.crawl_once(limit=100)
    eng.enable_dir_stats_mv()
    eng.enable_dup_stats_mv()
    assert sorted(eng.store.list_mviews()) == [
        Engine.DIR_STATS_MV,
        Engine.DUP_STATS_MV,
    ]
    while eng.crawl_once(limit=100):
        pass
    while eng.hash_once(limit=1000):
        pass
    # removal cascade: drop a subtree holding one duplicate
    _sh.rmtree(tree / "sub1")
    later = _e._utcnow() + timedelta(days=2)
    while eng.crawl_once(now=later, limit=100):
        pass
    while eng.hash_once(now=later, limit=1000):
        pass

    # from-scratch recomputes
    file_t = eng.store.read("file")
    expect_dir = file_t.groupBy("dir_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_files"),
        F.coalesce(F.sum("size"), F.lit(0).cast(file_t.schema["size"].dataType)).alias("total_size"),
        F.min("size").alias("min_size"),
        F.max("size").alias("max_size"),
    )
    got_dir = eng.dir_stats()
    assert got_dir.exceptAll(expect_dir).count() == 0
    assert expect_dir.exceptAll(got_dir).count() == 0
    hash_t = eng.store.read("hash")
    expect_dup = hash_t.groupBy("md5_hash").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_files"),
        F.min("file_id").alias("min_file_id"),
        F.max("file_id").alias("max_file_id"),
    )
    got_dup = eng.dup_stats()
    assert got_dup.exceptAll(expect_dup).count() == 0
    assert expect_dup.exceptAll(got_dup).count() == 0
    # the removal really flowed through: the duplicate group shrank
    assert got_dup.where(F.col("n_files") >= 2).count() == 0


def test_removal_resolution_prunes_directory(spark, tmp_path):
    """A removal wave resolves victim subtrees against a zone-pruned
    directory read: segments disjoint from the vanished roots' path
    hull are never opened, and the cascade still deletes exactly the
    subtree."""
    import shutil as _sh

    a = tmp_path / "r1"
    b = tmp_path / "r2"
    (a / "adir").mkdir(parents=True)
    (b / "bdir").mkdir(parents=True)
    (a / "adir" / "x.txt").write_text("x")
    (b / "bdir" / "y.txt").write_text("y")
    eng = _mk_engine(spark, tmp_path)
    eng.add_root(str(a))
    eng.add_root(str(b))
    while eng.crawl_once(limit=10):
        pass
    _sh.rmtree(b / "bdir")
    later = _e._utcnow() + timedelta(days=8)
    while eng.crawl_once(now=later, limit=10):
        pass
    rep = eng.last_removal_report
    assert rep is not None
    # the a-subtree segments (add_root seed + crawl waves) are disjoint
    # from the vanished b-subtree hull and were skipped at manifest level
    assert rep["zone_skipped"] >= 1
    dirs = {r["dir_path"] for r in eng.store.read("directory").collect()}
    assert str(b / "bdir") not in dirs
    assert str(a / "adir") in dirs
    # cascade reached the files too
    assert (
        eng.store.read("file").where(F.col("name") == "y.txt").count() == 0
    )
