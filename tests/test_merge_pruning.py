"""Round-9 store features (VERDICT r8 #1/#5/#6): target-pruned MERGE
(zone-hull segment skipping + bucket-subset reads), pre-classified
apply_changes commits, read_pruned superset reads with timestamp zone
maps, the duplicate-source guard, stats-preserving compaction, and
bucket-count migration (rebucket)."""

from __future__ import annotations

from datetime import datetime

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from file_db_spark.filedb.store import BUCKET_SPECS, TableStore

SCHEMA = T.StructType(
    [
        T.StructField("k", T.StringType()),
        T.StructField("v", T.LongType()),
    ]
)

TS_SCHEMA = T.StructType(
    [
        T.StructField("k", T.StringType()),
        T.StructField("due", T.TimestampType()),
    ]
)

# bucketed fixture table reuses the installed `file` spec (8 buckets
# on id)
BKT_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("payload", T.StringType()),
    ]
)


def _store(spark, tmp_path, schemas, bucketing=False):
    return TableStore(spark, str(tmp_path / "store"), schemas, bucketing=bucketing)


def _kv(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


def _seeded(spark, tmp_path):
    """Two zone-mapped segments: a0..a4 and b0..b4."""
    st = _store(spark, tmp_path, {"t": SCHEMA})
    st.append("t", _kv(spark, [(f"a{i}", i) for i in range(5)]), zone_cols=["k"])
    st.append("t", _kv(spark, [(f"b{i}", 10 + i) for i in range(5)]), zone_cols=["k"])
    return st


def test_merge_prunes_disjoint_segments(spark, tmp_path):
    st = _seeded(spark, tmp_path)
    src = _kv(spark, [("a2", 100), ("a9", 101)])  # update + insert
    m = st.merge("t", src, ["k"], zone_cols=["k"])
    assert m == {"inserted": 1, "updated": 1, "deleted": 0}
    rep = st.last_merge_report
    assert rep["mode"] == "segments"
    assert (rep["total"], rep["scanned"], rep["pruned"]) == (2, 1, 1)
    # the DV is scoped to the touched segment only
    doc = st._doc(st._current("t"))
    assert len(doc["deletes"][-1]["over"]) == 1
    got = {r["k"]: r["v"] for r in st.read("t").collect()}
    assert got["a2"] == 100 and got["a9"] == 101 and got["b3"] == 13
    assert len(got) == 11


def test_merge_disjoint_wave_scans_nothing(spark, tmp_path):
    st = _seeded(spark, tmp_path)
    m = st.merge("t", _kv(spark, [("z1", 99)]), ["k"])
    assert m == {"inserted": 1, "updated": 0, "deleted": 0}
    assert st.last_merge_report["scanned"] == 0
    assert st.read("t").where(F.col("k") == "z1").count() == 1


def test_merge_empty_source_writes_nothing(spark, tmp_path):
    st = _seeded(spark, tmp_path)
    gens = st.generations("t")
    m = st.merge("t", _kv(spark, []), ["k"])
    assert m == {"inserted": 0, "updated": 0, "deleted": 0}
    assert st.generations("t") == gens


def test_merge_null_key_not_pruned(spark, tmp_path):
    """A NULL source key must keep segments holding NULL keys in
    scope (zone min/max can't see nulls; the null counter can)."""
    st = _store(spark, tmp_path, {"t": SCHEMA})
    st.append("t", _kv(spark, [("a1", 1), (None, 2)]), zone_cols=["k"])
    st.append("t", _kv(spark, [("b1", 3)]), zone_cols=["k"])
    m = st.merge("t", _kv(spark, [(None, 20)]), ["k"])
    assert m["updated"] == 1
    # the null-holding segment was scanned, the b-segment pruned
    assert st.last_merge_report["scanned"] == 1
    assert st.read("t").where(F.col("k").isNull()).first()["v"] == 20


def test_merge_unstatted_segment_always_scanned(spark, tmp_path):
    st = _store(spark, tmp_path, {"t": SCHEMA})
    st.append("t", _kv(spark, [("a1", 1)]))  # no stats
    st.append("t", _kv(spark, [("b1", 2)]), zone_cols=["k"])
    st.merge("t", _kv(spark, [("a1", 10)]), ["k"])
    rep = st.last_merge_report
    assert rep["mode"] == "segments"
    assert rep["scanned"] == 1 and rep["pruned"] == 1
    assert st.read("t").where(F.col("k") == "a1").first()["v"] == 10


def test_source_duplicates_guard(spark, tmp_path):
    st = _seeded(spark, tmp_path)
    dup = _kv(spark, [("a1", 50), ("a1", 51)])
    with pytest.raises(ValueError, match="key-distinct"):
        st.merge("t", dup, ["k"], source_duplicates="error")
    # failed merge wrote nothing
    assert st.read("t").count() == 10
    m = st.merge("t", dup, ["k"], source_duplicates="dedupe")
    assert m == {"inserted": 0, "updated": 1, "deleted": 0}
    assert st.read("t").where(F.col("k") == "a1").count() == 1


def test_bucket_pruned_merge(spark, tmp_path):
    st = _store(spark, tmp_path, {"file": BKT_SCHEMA}, bucketing=True)
    rows = spark.range(200).select(
        F.col("id"), F.concat(F.lit("p"), F.col("id")).alias("payload")
    )
    st.replace("file", rows)
    src = spark.range(1).select(
        F.lit(7).cast("long").alias("id"), F.lit("upd").alias("payload")
    )
    m = st.merge("file", src, ["id"])
    assert m == {"inserted": 0, "updated": 1, "deleted": 0}
    rep = st.last_merge_report
    assert rep["mode"] == "buckets"
    assert rep["total"] == BUCKET_SPECS["file"][0] and rep["scanned"] == 1
    got = st.read("file")
    assert got.where(F.col("id") == 7).first()["payload"] == "upd"
    assert got.count() == 200


def test_apply_changes_non_bucketed(spark, tmp_path):
    st = _seeded(spark, tmp_path)
    m = st.apply_changes(
        "t",
        ["k"],
        inserts=_kv(spark, [("c1", 30)]),
        updates=_kv(spark, [("a4", 40)]),
        deletes=spark.createDataFrame([("b0",)], "k string"),
        zone_cols=["k"],
    )
    assert m == {"inserted": 1, "updated": 1, "deleted": 1}
    got = {r["k"]: r["v"] for r in st.read("t").collect()}
    assert got["c1"] == 30 and got["a4"] == 40 and "b0" not in got
    assert len(got) == 10
    # commit shape: one more segment, one DV
    assert st.mor_debt("t")["deletes"] == 1
    assert st.segment_count("t") == 3
    # no-op change set writes nothing
    gens = st.generations("t")
    assert st.apply_changes("t", ["k"]) == {
        "inserted": 0,
        "updated": 0,
        "deleted": 0,
    }
    assert st.generations("t") == gens


def test_apply_changes_bucketed(spark, tmp_path):
    st = _store(spark, tmp_path, {"file": BKT_SCHEMA}, bucketing=True)
    st.replace(
        "file",
        spark.range(50).select(
            F.col("id"), F.concat(F.lit("p"), F.col("id")).alias("payload")
        ),
    )
    ins = spark.range(1).select(
        F.lit(1000).cast("long").alias("id"), F.lit("new").alias("payload")
    )
    upd = spark.range(1).select(
        F.lit(3).cast("long").alias("id"), F.lit("upd").alias("payload")
    )
    dele = spark.range(1).select(F.lit(9).cast("long").alias("id"))
    m = st.apply_changes("file", ["id"], inserts=ins, updates=upd, deletes=dele)
    assert m == {"inserted": 1, "updated": 1, "deleted": 1}
    got = {r["id"]: r["payload"] for r in st.read("file").collect()}
    assert got[1000] == "new" and got[3] == "upd" and 9 not in got
    assert len(got) == 50
    debt = st.mor_debt("file")
    assert debt.get("waves", 0) == 1 and debt["deletes"] == 1


def _counted(df, acc):
    """`df` behind a mapInPandas that adds every row it emits to `acc`:
    the accumulator counts rows times evaluations of the lineage."""

    def bump(batches):
        for pdf in batches:
            acc.add(len(pdf))
            yield pdf

    return df.mapInPandas(bump, df.schema)


def test_apply_changes_evaluates_each_input_once(spark, tmp_path):
    """apply_changes materializes its change set once: the insert,
    update and delete frames' lineages each run exactly one time, on a
    manifest table (DV + segment commit) and on the bucketed `file`
    table (bucket-aligned commit) alike."""
    acc = spark.sparkContext.accumulator(0)
    st = _seeded(spark, tmp_path)
    m = st.apply_changes(
        "t",
        ["k"],
        inserts=_counted(_kv(spark, [("c1", 30), ("c2", 31)]), acc),
        updates=_counted(_kv(spark, [("a4", 40)]), acc),
        deletes=_counted(spark.createDataFrame([("b0",)], "k string"), acc),
        zone_cols=["k"],
    )
    assert m == {"inserted": 2, "updated": 1, "deleted": 1}
    assert acc.value == 4
    got = {r["k"]: r["v"] for r in st.read("t").collect()}
    assert got["c1"] == 30 and got["c2"] == 31 and got["a4"] == 40
    assert "b0" not in got and len(got) == 11

    acc = spark.sparkContext.accumulator(0)
    bst = _store(spark, tmp_path / "bkt", {"file": BKT_SCHEMA}, bucketing=True)
    bst.replace(
        "file",
        spark.range(20).select(
            F.col("id"), F.concat(F.lit("p"), F.col("id")).alias("payload")
        ),
    )
    row = "id long, payload string"
    m = bst.apply_changes(
        "file",
        ["id"],
        inserts=_counted(spark.createDataFrame([(100, "new")], row), acc),
        updates=_counted(spark.createDataFrame([(3, "upd"), (4, "upd")], row), acc),
        deletes=_counted(spark.createDataFrame([(9,)], "id long"), acc),
    )
    assert m == {"inserted": 1, "updated": 2, "deleted": 1}
    assert acc.value == 4
    got = {r["id"]: r["payload"] for r in bst.read("file").collect()}
    assert got[100] == "new" and got[3] == got[4] == "upd"
    assert 9 not in got and len(got) == 20


def test_read_pruned_timestamp_zone_maps(spark, tmp_path):
    st = _store(spark, tmp_path, {"c": TS_SCHEMA})

    def rows(prefix, days):
        return spark.createDataFrame(
            [(f"{prefix}{d}", datetime(2024, 6, d, 12, 0, 0)) for d in days],
            TS_SCHEMA,
        )

    st.append("c", rows("early", [1, 2, 3]), zone_cols=["due"])
    st.append("c", rows("late", [20, 21, 22]), zone_cols=["due"])
    due, rep = st.read_pruned(
        "c", "due", [(None, datetime(2024, 6, 10))]
    )
    assert rep == {"total": 2, "zone_skipped": 1, "scanned": 1}
    got = due.where(F.col("due") <= F.lit(datetime(2024, 6, 10)))
    assert sorted(r["k"] for r in got.collect()) == ["early1", "early2", "early3"]
    # superset contract: unfiltered rows come only from scanned segments
    assert due.count() == 3
    # an interval hitting both segments scans both
    _, rep2 = st.read_pruned(
        "c", "due", [(datetime(2024, 6, 2), datetime(2024, 6, 21))]
    )
    assert rep2["scanned"] == 2


def test_read_pruned_include_nulls(spark, tmp_path):
    st = _store(spark, tmp_path, {"c": TS_SCHEMA})
    st.append(
        "c",
        spark.createDataFrame([("n1", None)], TS_SCHEMA),
        zone_cols=["due"],
    )
    st.append(
        "c",
        spark.createDataFrame([("x", datetime(2024, 6, 20))], TS_SCHEMA),
        zone_cols=["due"],
    )
    probe = [(None, datetime(2024, 6, 1))]
    _, rep = st.read_pruned("c", "due", probe)
    assert rep["scanned"] == 0  # all-null segment prunes by default
    withnulls, rep2 = st.read_pruned("c", "due", probe, include_nulls=True)
    assert rep2["scanned"] == 1
    assert withnulls.where(F.col("due").isNull()).count() == 1


def test_compact_keeps_zone_stats(spark, tmp_path):
    st = _seeded(spark, tmp_path)
    assert st.compact("t", max_segments=1, zone_cols=["k"]) is True
    doc = st._doc(st._current("t"))
    assert len(doc["segments"]) == 1
    assert doc["segments"][0]["stats"]["k"]["min"] == "a0"
    # pruning still works against the compacted snapshot
    st.merge("t", _kv(spark, [("zz", 1)]), ["k"])
    assert st.last_merge_report["scanned"] == 0
    assert st.read("t").count() == 11


def test_rebucket_migration_and_crash_window(spark, tmp_path):
    st = _store(spark, tmp_path, {"file": BKT_SCHEMA}, bucketing=True)
    st.replace(
        "file",
        spark.range(100).select(
            F.col("id"), F.concat(F.lit("p"), F.col("id")).alias("payload")
        ),
    )
    assert st._gen_buckets("file", st._current("file")) == 8
    st.rebucket("file", 16)
    cur = st._current("file")
    assert st._gen_buckets("file", cur) == 16
    assert st.read("file").count() == 100
    # MOR merge at the new count keeps working and stays O(changes)
    src = spark.range(1).select(
        F.lit(5).cast("long").alias("id"), F.lit("upd16").alias("payload")
    )
    st.merge("file", src, ["id"])
    assert st._gen_buckets("file", st._current("file")) == 16
    assert st.read("file").where(F.col("id") == 5).first()["payload"] == "upd16"
    # crash window: spec flipped but rewrite never ran -> merges still
    # extend the base at the BASE's count, values stay right
    import json as _json
    import os as _os

    spec_path = _os.path.join(st._dir("file"), "_BUCKETSPEC.json")
    with open(spec_path, "w") as fh:
        _json.dump({"n": 32, "keys": ["id"]}, fh)
    st.merge(
        "file",
        spark.range(1).select(
            F.lit(6).cast("long").alias("id"), F.lit("crashwin").alias("payload")
        ),
        ["id"],
    )
    assert st._gen_buckets("file", st._current("file")) == 16
    got = st.read("file")
    assert got.where(F.col("id") == 6).first()["payload"] == "crashwin"
    assert got.count() == 100
    # the next clean rewrite adopts the new target count
    st.replace("file", st.read("file"))
    assert st._gen_buckets("file", st._current("file")) == 32
    assert st.read("file").count() == 100


def test_rebucket_rejects_unbucketed(spark, tmp_path):
    st = _store(spark, tmp_path, {"t": SCHEMA})
    with pytest.raises(ValueError):
        st.rebucket("t", 16)


def test_rebucket_rebases_on_concurrent_wave(spark, tmp_path, monkeypatch):
    """A MERGE wave landing while the rebucket rewrite is staging
    (lock NOT held — VERDICT r9 #5) is never lost: the optimistic swap
    detects the superseded base, drops the stale staging, and rebases
    — the migrated table holds BOTH the wave's change and the new
    bucket count."""
    st = _store(spark, tmp_path, {"file": BKT_SCHEMA}, bucketing=True)
    st.replace(
        "file",
        spark.range(100).select(
            F.col("id"), F.concat(F.lit("p"), F.col("id")).alias("payload")
        ),
    )
    real = st._write_bucketed_gen
    state = {"injected": False}

    def staging_with_concurrent_wave(name, df, n, keys):
        gen = real(name, df, n, keys)
        if not state["injected"]:
            state["injected"] = True
            # a second store instance (another process's engine)
            # commits a wave between staging and the swap attempt
            other = TableStore(
                spark, str(tmp_path / "store"), {"file": BKT_SCHEMA},
                bucketing=True,
            )
            other.merge(
                "file",
                spark.range(1).select(
                    F.lit(7).cast("long").alias("id"),
                    F.lit("mid-rewrite").alias("payload"),
                ),
                ["id"],
            )
        return gen

    monkeypatch.setattr(st, "_write_bucketed_gen", staging_with_concurrent_wave)
    st.rebucket("file", 16)
    assert state["injected"]  # the race actually happened
    cur = st._current("file")
    assert st._gen_buckets("file", cur) == 16
    got = st.read("file")
    assert got.count() == 100
    assert got.where(F.col("id") == 7).first()["payload"] == "mid-rewrite"


def test_merge_bloom_prunes_interleaved_segments(spark, tmp_path):
    """Zone ranges can't separate INTERLEAVED key sets; the bloom
    digests can. A small wave probes each hull-surviving segment's
    digest and drops segments holding none of the wave's keys — from
    the join AND the DV scope."""
    st = _store(spark, tmp_path, {"t": SCHEMA})
    st.append(
        "t",
        _kv(spark, [("a1", 1), ("a3", 3), ("a5", 5)]),
        zone_cols=["k"],
        bloom_cols=["k"],
    )
    st.append(
        "t",
        _kv(spark, [("a2", 2), ("a4", 4), ("a6", 6)]),
        zone_cols=["k"],
        bloom_cols=["k"],
    )
    m = st.merge("t", _kv(spark, [("a3", 30)]), ["k"])
    assert m == {"inserted": 0, "updated": 1, "deleted": 0}
    rep = st.last_merge_report
    # zone hull [a3,a3] overlaps BOTH ranges; the bloom rejects seg 2
    assert rep["scanned"] == 1 and rep["bloom_pruned"] == 1
    doc = st._doc(st._current("t"))
    assert len(doc["deletes"][-1]["over"]) == 1
    got = {r["k"]: r["v"] for r in st.read("t").collect()}
    assert got["a3"] == 30 and got["a4"] == 4 and len(got) == 6
    # a wave larger than the probe cap falls back to hull-only (values
    # still exact)
    big = _kv(spark, [(f"z{i:03d}", i) for i in range(100)])
    m2 = st.merge("t", big, ["k"])
    assert m2["inserted"] == 100
    assert st.read("t").count() == 106


COMP_SCHEMA = T.StructType(
    [
        T.StructField("k1", T.StringType()),
        T.StructField("k2", T.LongType()),
        T.StructField("v", T.LongType()),
    ]
)


def test_merge_bloom_prunes_composite_keys(spark, tmp_path):
    """Composite-key waves probe per-column digests with AND
    semantics (VERDICT r9 #6): k1 is constant (its digest admits
    every segment) while k2 interleaves, so only the k2 digest can
    refute — one disjoint column kills the segment."""
    st = _store(spark, tmp_path, {"t": COMP_SCHEMA})
    st.append(
        "t",
        spark.createDataFrame([("x", 1, 10), ("x", 3, 30), ("x", 5, 50)], COMP_SCHEMA),
        zone_cols=["k1", "k2"],
        bloom_cols=["k1", "k2"],
    )
    st.append(
        "t",
        spark.createDataFrame([("x", 2, 20), ("x", 4, 40), ("x", 6, 60)], COMP_SCHEMA),
        zone_cols=["k1", "k2"],
        bloom_cols=["k1", "k2"],
    )
    src = spark.createDataFrame([("x", 4, 400)], COMP_SCHEMA)
    m = st.merge("t", src, ["k1", "k2"])
    assert m == {"inserted": 0, "updated": 1, "deleted": 0}
    rep = st.last_merge_report
    # k1 hull ['x','x'] and k2 hull [4,4] overlap BOTH segments' zone
    # ranges; the k2 bloom rejects segment 1 ({1,3,5})
    assert rep["scanned"] == 1 and rep["bloom_pruned"] == 1
    got = {(r["k1"], r["k2"]): r["v"] for r in st.read("t").collect()}
    assert got[("x", 4)] == 400 and got[("x", 3)] == 30 and len(got) == 6
    # a NULL key component can't be refuted by any digest: the mixed
    # wave matches its non-null tuple and inserts the null one — no
    # segment is over-pruned
    src2 = spark.createDataFrame([("x", 3, 300), ("x", None, 999)], COMP_SCHEMA)
    m2 = st.merge("t", src2, ["k1", "k2"])
    assert m2["updated"] == 1 and m2["inserted"] == 1
    got2 = {(r["k1"], r["k2"]): r["v"] for r in st.read("t").collect()}
    assert got2[("x", 3)] == 300 and got2[("x", None)] == 999
