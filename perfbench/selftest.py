#!/usr/bin/env python3
"""Self-tests of the benchmark's own code; no Spark session needed.

    python3 perfbench/selftest.py
"""

from __future__ import annotations

import os
import random
import shutil
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import tables  # noqa: E402
from layers import measured_roots, self_time_violations  # noqa: E402
from spans import NullTracer, Span, attribute_by_time, self_times, union_length  # noqa: E402
from stats import kind_geomean, median, tail_percentile  # noqa: E402
from tree import VIEW_SEP, CatalogModel, Tree  # noqa: E402
from workloads import Run, run_registry_query  # noqa: E402

SCRATCH = os.path.join(os.getcwd(), ".perfbench_work", f"selftest-{os.getpid()}")


def snapshot(root: str) -> list[tuple]:
    out = []
    for dirpath, dirnames, filenames in sorted(os.walk(root)):
        rel = os.path.relpath(dirpath, root)
        out.append(("dir", rel))
        for n in sorted(filenames):
            p = os.path.join(dirpath, n)
            with open(p, "rb") as fh:
                out.append(("file", os.path.join(rel, n), fh.read(), int(os.stat(p).st_mtime)))
    return out


class TreeTest(unittest.TestCase):
    def tearDown(self) -> None:
        shutil.rmtree(SCRATCH, ignore_errors=True)

    def test_same_seed_same_bytes(self) -> None:
        trees = []
        for copy in ("a", "b"):
            t = Tree.generate(os.path.join(SCRATCH, copy), seed=5)
            t.mutate(random.Random(9), sorted(t.dirs)[:10])
            trees.append(snapshot(t.root))
        self.assertEqual(trees[0], trees[1])
        other = Tree.generate(os.path.join(SCRATCH, "c"), seed=6)
        self.assertNotEqual(trees[0], snapshot(other.root))

    def test_model_tracks_disk_and_planted_groups(self) -> None:
        t = Tree.generate(os.path.join(SCRATCH, "t"), seed=3)
        on_disk = {os.path.join(d, n) for d, _, ns in os.walk(t.root) for n in ns}
        self.assertEqual(on_disk, set(t.files))
        model = CatalogModel(t.root)
        model.observe(t, sorted(t.dirs))
        members = sum(len(g) for g in model.duplicate_groups().values())
        self.assertGreaterEqual(members, 0.2 * len(t.files))

    def test_observe_follows_mutations_with_removals(self) -> None:
        t = Tree.generate(os.path.join(SCRATCH, "t"), seed=4)
        model = CatalogModel(t.root)
        model.observe(t, sorted(t.dirs))
        rnd = random.Random(1)
        n_files = len(t.files)
        for _ in range(3):
            targets = sorted(t.dirs)
            touched = t.mutate(rnd, targets, removals=True)
            self.assertTrue(touched)
            self.assertLessEqual(touched, set(targets))
            model.observe(t, sorted(t.dirs))
        # each round adds 5 files and deletes 2 plus a leaf's
        self.assertLess(len(t.files), n_files + 3 * 5)
        want = {os.path.dirname(p) + VIEW_SEP + os.path.basename(p) for p in t.files}
        self.assertEqual(set(model.files), want)
        self.assertEqual(model.dirs, t.dirs)


class TablesTest(unittest.TestCase):
    def test_same_seed_same_tables(self) -> None:
        a, b, c = tables.tables(5), tables.tables(5), tables.tables(6)
        self.assertEqual(set(a), {"region", "nation", "customer", "supplier", "part",
                                  "orders", "lineitem", "events", "documents", "embeddings"})
        for name in a:
            self.assertTrue(a[name].equals(b[name]), name)
        self.assertFalse(a["lineitem"].equals(c["lineitem"]))
        docs = a["documents"].column("text").to_pylist()
        self.assertGreater(sum(t.endswith(" dup") for t in docs), 5)


class StatsTest(unittest.TestCase):
    def test_tail_percentile_needs_ten_beyond(self) -> None:
        self.assertIsNone(tail_percentile(list(range(19))))
        self.assertEqual(tail_percentile(list(range(1, 21))), (50.0, 10))
        self.assertEqual(tail_percentile(list(range(1, 41))), (75.0, 30))
        self.assertEqual(tail_percentile(list(range(1, 101))), (90.0, 90))
        self.assertEqual(tail_percentile(list(range(1, 1001))), (99.0, 990))

    def test_median(self) -> None:
        self.assertEqual(median([3, 1, 2]), 2)
        self.assertEqual(median([4, 1, 2, 3]), 2.5)

    def test_kind_geomean_ignores_round_count(self) -> None:
        kinds = ["a", "b"] * 3
        samples = [9.0, 1.0, 4.0, 1.0, 4.0, 1.0]  # a cold first "a", then warm
        self.assertAlmostEqual(kind_geomean(samples, kinds), 2.0)
        self.assertAlmostEqual(kind_geomean(samples + [4.0, 1.0], kinds + ["a", "b"]), 2.0)


class SelfTimeTest(unittest.TestCase):
    def test_self_time_subtracts_covered_child_time(self) -> None:
        spans = [
            Span(0, "engine.crawl_once", None, 0.0, 10.0),
            Span(1, "store.read", 0, 1.0, 3.0),
            Span(2, "store.merge", 0, 6.0, 7.5),
            Span(3, "store.read", 2, 6.5, 7.0),
        ]
        st = self_times(spans)
        self.assertAlmostEqual(st[0], 10.0 - 2.0 - 1.5)
        self.assertAlmostEqual(st[2], 1.5 - 0.5)
        self.assertAlmostEqual(st[3], 0.5)
        self.assertEqual(self_time_violations(spans), 0)

    def test_overlapping_children_are_flagged(self) -> None:
        spans = [
            Span(0, "engine.hash_once", None, 0.0, 4.0),
            Span(1, "store.read", 0, 1.0, 3.0),
            Span(2, "store.read", 0, 2.0, 3.5),
        ]
        self.assertAlmostEqual(self_times(spans)[0], 4.0 - 2.5)
        self.assertEqual(self_time_violations(spans), 1)
        self.assertAlmostEqual(union_length([(0, 2), (1, 3), (5, 6)]), 4.0)


class SpanAttributionTest(unittest.TestCase):
    SPANS = [
        Span(0, "op.setup_ingest", None, 0.0, 5.0),
        Span(1, "op.wave_crawl", None, 10.0, 20.0),
        Span(2, "engine.crawl_once", 1, 10.5, 19.0),
        Span(3, "store.apply_changes", 2, 12.0, 14.0),
        Span(4, "store.read", 2, 15.0, 16.0),
    ]

    def test_untagged_jobs_go_to_the_innermost_open_span(self) -> None:
        jobs = [{"span": None, "t0": t + 100.0} for t in (13.0, 16.5, 19.5, 7.0)]
        jobs.append({"span": 4, "t0": 115.5})
        self.assertEqual(attribute_by_time(self.SPANS, jobs, 100.0), 3)
        self.assertEqual([j["span"] for j in jobs], [3, 2, 1, None, 4])

    def test_only_spans_under_measured_ops_count(self) -> None:
        self.assertEqual(measured_roots(self.SPANS), [None, 1, 1, 1, 1])


class _Frame:
    def __init__(self, n: int) -> None:
        self.n = n

    def count(self) -> int:
        return self.n


class FailedOpsTest(unittest.TestCase):
    """A wrong answer from the program must count as a failed op."""

    def _run(self) -> Run:
        return Run(None, SCRATCH, 1, NullTracer())

    def test_right_answer_passes_and_planted_error_fails(self) -> None:
        run = self._run()
        run_registry_query(run, "q", lambda spark, data: _Frame(7), "", 7)
        self.assertEqual((run.attempted, run.failed), (1, 0))
        run_registry_query(run, "q", lambda spark, data: _Frame(8), "", 7)
        self.assertEqual((run.attempted, run.failed), (2, 1))
        self.assertEqual(len(run.op_s), 2)

    def test_exception_counts_as_failed(self) -> None:
        run = self._run()
        run.check("raises", lambda: 1 / 0)
        run.check("false", lambda: False)
        run.check("true", lambda: True)
        self.assertEqual((run.attempted, run.failed), (3, 2))
        run_registry_query(run, "q", lambda spark, data: 1 / 0, "", 7)
        self.assertEqual((run.attempted, run.failed), (4, 3))
        self.assertEqual(run.op_s, [])


if __name__ == "__main__":
    unittest.main()
