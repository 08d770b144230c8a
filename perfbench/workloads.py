"""The benchmark's workloads, driven only through public entry points
(`Engine`, `filedb.search`, `filedb.views`, `operators.ALL_QUERIES`).

- `recrawl`: set-up generates a seeded tree and cold-ingests it into an
  empty catalog with both materialized views on (one crawl wave per
  tree level, then hash waves until the queue drains). The timed phase
  is steady-state waves (seeded mutations in the directories the wave
  lists, `crawl_once` at the default batch, `hash_once`), then the
  idle-edge maintenance.
- `registry`: set-up generates seeded TPC-H-style tables, counts each
  listed query's expected rows with its DuckDB oracle, and warms the
  session the way `bench.py` does. The timed phase is one pass over the
  listed registry queries, each plan's first run in the session.

Every wave is handed an explicit `now` from a virtual clock anchored at
tree-creation time. Correctness checks compare results with a model
outside the timed regions; each check and each timed operation is one
attempted operation, and a wrong answer or an exception is one failure.
"""

from __future__ import annotations

import os
import random
import time
import traceback
from datetime import datetime, timedelta, timezone
from decimal import Decimal

import tables
from tree import CatalogModel, Tree

#: directories per crawl wave the engine claims when not told otherwise
DEFAULT_CRAWL_BATCH = 10
#: a limit larger than any frontier: one ingest wave per tree level
ALL = 1_000_000
#: virtual seconds between steady-state waves; above the engine's
#: 900 s minimum crawl frequency, so last wave's directories are due
WAVE_STEP_S = 1000
#: wall seconds budgeted per timed recrawl wave (a wave takes 14-19 s
#: at 4 cores, so --seconds 10 times one)
SECONDS_PER_WAVE = 10
#: deletions stay out of the timed waves: at 4 cores a wave that
#: deletes files took 63-77 s against 10-17 s for one that only adds,
#: modifies and creates (README.md, "Pitfalls"), more than one run
#: of this benchmark may spend
REMOVALS_IN_WAVES = False

#: the registry queries timed: bench.py's fourteen `R02_SHARED` entries,
#: then the catalog, merge-engine and dedup-graph entries
REGISTRY_QUERIES = (
    "a1_pricing_summary",
    "j1_broadcast_equi_join",
    "j2_left_outer_join",
    "w2_window_dupcount",
    "e1_tumbling_window",
    "e2_sessionize",
    "x1_exact_dedup",
    "x4_minhash_lsh",
    "x9_contamination",
    "d1_token_stats",
    "d9_repetition_quality",
    "d10_seq_packing",
    "v2_ann_lsh",
    "c9_duplicate_groups",
    "c13_duplicate_dir",
    "c14_duplicate_dir_contents",
    "g1_merge_recrawl",
    "g2_hash_lifecycle",
    "g35_file_probe",
    "x36_collapsed_provenance_graph",
)
#: x36 keeps one row per document ("the output covers the full
#: corpus"); its DuckDB oracle takes ~22 s, so its count is checked
#: against the documents table instead
COUNT_IS_DOCUMENTS = frozenset({"x36_collapsed_provenance_graph"})
#: registry queries run to warm the session before the timed pass, as
#: bench.py does: executors and the Python workers, then the fixture
#: catalog every c*/g* query reads
WARMUP_QUERIES = ("a5_distinct", "c1_vw_ll")


class Run:
    """Bookkeeping of one benchmark run: what was attempted, what failed,
    the timed operations, and the figures the workload measures itself."""

    def __init__(self, spark, work: str, seed: int, tracer) -> None:
        self.spark = spark
        self.work = work
        self.seed = seed
        self.tracer = tracer
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.op_s: list[float] = []
        self.op_kind: list[str] = []
        #: perf_counter at the end of set-up
        self.setup_end = 0.0
        #: wall seconds of set-up phases, for the summary
        self.phases: dict[str, float] = {}
        #: per-layer figures the workload measures without spans
        self.layer: dict[str, float] = {}

    def check(self, name: str, fn) -> None:
        """Run one correctness check; it counts as an attempted op."""
        self.attempted += 1
        try:
            ok = fn()
        except Exception:  # noqa: BLE001 - any failure of the program is a failed op
            ok = False
            self.failures.append(f"{name}: {traceback.format_exc(limit=3)}")
        else:
            if not ok:
                self.failures.append(name)
        if not ok:
            self.failed += 1

    def timed(self, kind: str, seconds: float) -> None:
        self.op_s.append(seconds)
        self.op_kind.append(kind)


# -- recrawl -------------------------------------------------------------------
class Catalog:
    """A generated tree, the engine's catalog of it, and the model the
    catalog should match."""

    def __init__(self, run: Run) -> None:
        from file_db_spark.filedb.engine import Engine

        self.run = run
        self.rnd = random.Random(f"mutate-{run.seed}")
        self.tree = Tree.generate(os.path.join(run.work, "tree"), run.seed)
        self.t0 = datetime.now(tz=timezone.utc).replace(tzinfo=None, microsecond=0)
        self.wave_no = 0
        #: directories the last steady-state wave listed
        self.frontier: list[str] = []
        self.root = os.path.join(run.work, "catalog")
        self.engine = Engine(run.spark, self.root)
        self.model = CatalogModel(self.tree.root)
        self.prune = {k: [0, 0] for k in ("claim", "dir_probe", "file_probe")}

    def _note_pruning(self) -> None:
        eng = self.engine
        for key, rep in (
            ("claim", eng.last_claim_report),
            ("dir_probe", eng.last_probe_report),
            ("file_probe", eng.last_file_probe_report),
        ):
            if rep:
                self.prune[key][0] += rep.get("zone_skipped", 0)
                self.prune[key][1] += rep.get("total", 0)

    def now(self) -> datetime:
        return self.t0 + timedelta(seconds=WAVE_STEP_S * self.wave_no)

    def ingest(self) -> None:
        """Cold crawl and hash of the whole tree into an empty catalog."""
        eng, run = self.engine, self.run
        t = time.perf_counter()
        eng.install()
        # both standing views are maintained from the first wave on
        eng.enable_dir_stats_mv()
        eng.enable_dup_stats_mv()
        eng.add_root(self.tree.root, now=self.t0)
        run.phases["install"] = time.perf_counter() - t
        crawl_s = 0.0
        listed: set[str] = set()
        while self.model.dirs - listed:  # one wave per tree level
            t = time.perf_counter()
            n = eng.crawl_once(now=self.t0, limit=ALL)
            crawl_s += time.perf_counter() - t
            if n == 0:  # idle with directories unlisted: the checks will say
                break
            listed |= set(eng.last_frontier)
            self.model.observe(self.tree, eng.last_frontier)
        hash_s = 0.0
        while True:
            t = time.perf_counter()
            n = eng.hash_once(now=self.t0, limit=ALL)
            hash_s += time.perf_counter() - t
            if n < ALL:  # the queue held fewer files than the limit: drained
                break
        run.phases["ingest_crawl"] = crawl_s
        run.phases["ingest_hash"] = hash_s
        run.layer["setup.crawl_files_per_s"] = len(self.tree.files) / crawl_s
        run.layer["setup.hash_mb_per_s"] = self.tree.total_bytes() / 1e6 / hash_s

    def predicted_frontier(self) -> list[str]:
        """Directories the next default-batch wave should claim: the
        least overdue first, then by priority score and path. Only a
        target for mutations; the model follows the real frontier, and
        `wave` checks that the real frontier listed every change."""
        if self.frontier:
            return list(self.frontier)
        t = self.tree

        def score(d: str) -> int:
            return int(len(t.files_in(d)) / 100 + 0.5) + int(len(t.subdirs_of(d)) / 100 + 0.5)

        return sorted(t.dirs, key=lambda d: (score(d), d))[:DEFAULT_CRAWL_BATCH]

    def wave(self) -> float:
        """One steady-state wave: mutate, crawl_once at the default
        batch, hash_once. Returns crawl + hash seconds."""
        eng, tracer = self.engine, self.run.tracer
        self.wave_no += 1
        touched = self.tree.mutate(self.rnd, self.predicted_frontier(), removals=REMOVALS_IN_WAVES)
        now = self.now()
        with tracer.span("op.wave_crawl"):
            t = time.perf_counter()
            eng.crawl_once(now=now)
            c = time.perf_counter() - t
        self._note_pruning()
        self.frontier = list(eng.last_frontier)
        self.model.observe(self.tree, self.frontier)
        with tracer.span("op.wave_hash"):
            t = time.perf_counter()
            eng.hash_once(now=now)
            h = time.perf_counter() - t
        # a wave that missed the changed directories re-crawls unchanged
        # ones and would look faster without doing the same work
        self.run.check("wave listed every mutated directory", lambda: touched <= set(self.frontier))
        return c + h

    def maintenance(self) -> None:
        """Idle-edge compaction and analyze, with no waves."""
        with self.run.tracer.span("op.maintenance"):
            t = time.perf_counter()
            self.engine.run_until_idle(max_waves=0)
            self.run.layer["engine.maintenance_s"] = time.perf_counter() - t

    def store_mb(self) -> float:
        """Bytes on disk under the catalog root; hard-linked files
        (commits link unchanged bucket files) count once."""
        seen: set[tuple[int, int]] = set()
        total = 0
        for dirpath, _, names in os.walk(self.root):
            for n in names:
                st = os.lstat(os.path.join(dirpath, n))
                if (st.st_dev, st.st_ino) not in seen:
                    seen.add((st.st_dev, st.st_ino))
                    total += st.st_size
        return total / 1e6

    # -- oracle comparisons --------------------------------------------------
    def catalog_matches_model(self) -> bool:
        """listing() holds exactly the model's files (size, MD5, SHA-1)
        and directories."""
        rows = self.engine.listing().collect()
        files = {
            r["full_path"]: (r["size"], r["md5_hash"], r["sha1_hash"])
            for r in rows if r["type"] == "file"
        }
        dirs = {r["full_path"] for r in rows if r["type"] == "dir"}
        want_files = {p: (e.size_mb, e.md5, e.sha1) for p, e in self.model.files.items()}
        return files == want_files and dirs == self.model.dirs - {self.model.root}

    def views_match_model(self) -> bool:
        """dir_stats() and dup_stats() hold the model's per-directory
        counts and sizes and per-MD5 counts."""
        from pyspark.sql import types as T

        from file_db_spark.filedb.store import portable_xxhash64

        by_id = {portable_xxhash64(d, T.StringType()): d for d in self.model.dirs}
        got = {
            by_id.get(r["dir_id"]): (r["n_files"], Decimal(r["total_size"]))
            for r in self.engine.dir_stats().collect() if r["n_files"]
        }
        want = {
            d: (n, Decimal(b) / Decimal(1_000_000))
            for d, (n, b) in self.model.dir_file_stats().items()
        }
        dup = {r["md5_hash"]: r["n_files"] for r in self.engine.dup_stats().collect() if r["n_files"]}
        return got == want and dup == self.model.md5_counts()

    def duplicate_report_matches_model(self) -> bool:
        rows = self.engine.duplicate_report().collect()
        want = {p: len(g) for g in self.model.duplicate_groups().values() for p in g}
        return {r["full_path"]: r["duplicate_count"] for r in rows} == want

    def subtree_matches_model(self, prefix: str) -> bool:
        df, _ = self.engine.subtree(prefix)
        return {r["dir_path"] for r in df.collect()} == self.model.subtree_dirs(prefix)


def recrawl(run: Run, seconds: float) -> None:
    cat = Catalog(run)
    cat.ingest()
    run.setup_end = time.perf_counter()
    for _ in range(max(1, int(seconds // SECONDS_PER_WAVE))):
        run.attempted += 1
        run.timed("wave", cat.wave())
    cat.maintenance()
    run.layer["store.disk_mb"] = cat.store_mb()
    run.check("catalog after maintenance equals tree model", cat.catalog_matches_model)
    run.check("materialized views equal tree model", cat.views_match_model)
    run.check("duplicate_report equals tree model", cat.duplicate_report_matches_model)
    prefix = random.Random(f"subtree-{run.seed}").choice(sorted(cat.model.dirs))
    run.check("subtree equals tree model", lambda: cat.subtree_matches_model(prefix))
    for key, (skipped, total) in cat.prune.items():
        run.layer[f"store.{key}_pruned_ratio"] = skipped / total if total else 0.0
    if run.tracer.enabled:
        import layers

        run.layer.update(layers.store_shape(cat.engine.store))


# -- registry ------------------------------------------------------------------
def oracle_counts(data: str, rows: dict[str, int]) -> dict[str, int]:
    """Expected row count of every registry query on the tables in
    `data`, from its DuckDB oracle."""
    import duckdb

    from file_db_spark import operators as ops
    from file_db_spark.catalog import TABLES

    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
        out = {}
        for q in REGISTRY_QUERIES:
            if q in COUNT_IS_DOCUMENTS:
                out[q] = rows["documents"]
            else:
                out[q] = con.execute(f"SELECT count(*) FROM ({ops.ALL_ORACLES[q]})").fetchone()[0]
        return out
    finally:
        con.close()


def run_registry_query(run: Run, name: str, fn, data: str, want: int) -> None:
    """Time one registry query: the call that builds its frame (with any
    eager jobs inside it), then `count()`. The count must equal `want`."""
    tracer = run.tracer
    run.attempted += 1
    try:
        with tracer.span(f"op.registry.{name}"):
            t = time.perf_counter()
            with tracer.span(f"registry.{name}.build"):
                df = fn(run.spark, data)
            with tracer.span(f"registry.{name}.exec"):
                n = df.count()
            dt = time.perf_counter() - t
    except Exception:  # noqa: BLE001 - a failed query is a failed op
        run.failures.append(f"{name}: {traceback.format_exc(limit=3)}")
        run.failed += 1
        return
    run.timed(name, dt)
    if n != want:
        run.failures.append(f"{name}: {n} rows, oracle has {want}")
        run.failed += 1


def registry(run: Run, seconds: float) -> None:
    from file_db_spark import operators as ops

    data = os.path.join(run.work, "tables")
    t = time.perf_counter()
    rows = tables.write_tables(data, run.seed)
    run.phases["tables"] = time.perf_counter() - t
    t = time.perf_counter()
    want = oracle_counts(data, rows)
    run.phases["oracle"] = time.perf_counter() - t
    t = time.perf_counter()
    for q in WARMUP_QUERIES:
        ops.ALL_QUERIES[q](run.spark, data).count()
    run.phases["warmup"] = time.perf_counter() - t
    run.setup_end = time.perf_counter()
    # one pass whatever --seconds says: a second pass would time plans
    # the first one compiled (README.md, "Workloads")
    for q in REGISTRY_QUERIES:
        # derived-table caches would turn a query into a cache read
        ops.dedup.clear_cache(data)
        ops.textops.clear_cache(data)
        run_registry_query(run, q, ops.ALL_QUERIES[q], data, want[q])


WORKLOADS = {"recrawl": recrawl, "registry": registry}
