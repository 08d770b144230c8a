"""Seeded file-tree generator and mutation model.

`Tree.generate(root, seed)` writes a directory tree whose bytes depend
only on the seed: the same seed gives the same names, contents and
mtimes. The object keeps every directory, file, size, digest and
planted duplicate group in memory, so the correctness checks read
their expected answers from it instead of from the program under test.

`Tree.mutate(rnd, dirs)` changes the tree the way a live filesystem
changes between crawl waves (add, modify and delete files; create and
remove leaf subdirectories) and keeps the model in step.

`CatalogModel` is what the catalog should hold: a directory's entries
become visible only when a crawl wave lists that directory, so the model
is a per-directory snapshot of the tree taken at each crawl.
"""

from __future__ import annotations

import hashlib
import os
import random
import shutil
from dataclasses import dataclass
from decimal import Decimal

#: fixed mtime base, so file timestamps do not depend on the wall clock
MTIME_BASE = 1_600_000_000
#: mean generated file size; the total is the same for every seed
MEAN_FILE_BYTES = 8192
#: leaf directories per level below the root
FANOUT = (24,)
#: files in a generated tree
N_FILES = 360
#: share of the files that are copies in planted duplicate groups
DUP_SHARE = 0.25
#: separator the catalog views use to join dir_path and file name
VIEW_SEP = "\\"


@dataclass(frozen=True)
class FileEntry:
    size: int
    md5: str
    sha1: str

    @property
    def size_mb(self) -> Decimal:
        return Decimal(self.size) / Decimal(1_000_000)


def _content(rnd: random.Random, size: int, tag: str) -> bytes:
    # a unique header keeps every non-duplicate file's digest unique
    head = f"{tag}\n".encode()
    return (head + rnd.randbytes(max(0, size - len(head))))[: max(size, len(head))]


def _sizes(rnd: random.Random) -> int:
    # log-uniform from hundreds of bytes to tens of KiB
    return int(2 ** rnd.uniform(7.5, 15.3))


class Tree:
    """A generated tree on disk plus its in-memory model.

    Paths in the model are absolute OS paths; `files` maps a file's path
    to its FileEntry, `dirs` holds every directory including the root."""

    def __init__(self, root: str) -> None:
        self.root = root
        self.dirs: set[str] = set()
        self.files: dict[str, FileEntry] = {}
        self._serial = 0

    # -- generation ----------------------------------------------------
    @classmethod
    def generate(cls, root: str, seed: int) -> "Tree":
        """Write a tree of len(FANOUT)+1 levels under `root`.

        Files per directory follow a heavy-tailed (Pareto) weight, and
        about DUP_SHARE of the files are copies in planted duplicate
        groups of 2-4 members spread over different directories."""
        rnd = random.Random(seed)
        t = cls(root)
        if os.path.exists(root):
            shutil.rmtree(root)
        level = [root]
        t._mkdir(root)
        for i, width in enumerate(FANOUT):
            nxt = []
            for parent in level:
                for j in range(width):
                    d = os.path.join(parent, f"L{i}_{j:02d}")
                    t._mkdir(d)
                    nxt.append(d)
            level = nxt
        dirs = sorted(t.dirs)
        weights = [rnd.paretovariate(1.2) for _ in dirs]
        n_dup = int(N_FILES * DUP_SHARE)
        # planted groups first: one content, 2-4 copies in distinct dirs
        groups = []
        placed = 0
        while placed < n_dup:
            k = max(2, min(rnd.randint(2, 4), n_dup - placed))
            groups.append(k)
            placed += k
        singles = N_FILES - placed
        sizes = [_sizes(rnd) for _ in range(len(groups) + singles)]
        # rescale so every seed writes the same number of bytes
        scale = N_FILES * MEAN_FILE_BYTES / (
            sum(s * k for s, k in zip(sizes, groups)) + sum(sizes[len(groups):])
        )
        sizes = [max(64, round(s * scale)) for s in sizes]
        for k, size in zip(groups, sizes):
            data = _content(rnd, size, f"dup-{t._serial}")
            t._serial += 1
            for d in rnd.sample(dirs, k):
                t._write(d, data, rnd)
        for size in sizes[len(groups):]:
            d = rnd.choices(dirs, weights)[0]
            t._write(d, _content(rnd, size, f"u-{t._serial}"), rnd)
            t._serial += 1
        return t

    def _mkdir(self, d: str) -> None:
        os.makedirs(d, exist_ok=True)
        self.dirs.add(d)

    def _new_name(self, rnd: random.Random) -> str:
        self._serial += 1
        return f"f{self._serial:05d}.{rnd.choice(('txt', 'bin', 'dat', 'log'))}"

    def _write(self, d: str, data: bytes, rnd: random.Random, path: str | None = None) -> str:
        path = path or os.path.join(d, self._new_name(rnd))
        with open(path, "wb") as fh:
            fh.write(data)
        mt = MTIME_BASE + rnd.randrange(10_000_000)
        os.utime(path, (mt, mt))
        self.files[path] = FileEntry(
            len(data), hashlib.md5(data).hexdigest(), hashlib.sha1(data).hexdigest()
        )
        return path

    # -- model queries ---------------------------------------------------
    def files_in(self, d: str) -> dict[str, FileEntry]:
        return {p: e for p, e in self.files.items() if os.path.dirname(p) == d}

    def subdirs_of(self, d: str) -> set[str]:
        return {x for x in self.dirs if os.path.dirname(x) == d and x != d}

    def leaves(self) -> list[str]:
        parents = {os.path.dirname(x) for x in self.dirs}
        return sorted(x for x in self.dirs if x not in parents and x != self.root)

    # -- mutation model ----------------------------------------------------
    def mutate(
        self, rnd: random.Random, targets: list[str], removals: bool = True
    ) -> set[str]:
        """Apply one seeded round of changes inside `targets` (the
        directories the next crawl wave is expected to list): add and
        modify files, create a leaf subdirectory and, with `removals`,
        delete files and remove a leaf. Returns the directories whose
        listing changed, all of them among `targets`."""
        targets = sorted(d for d in targets if d in self.dirs)
        touched: set[str] = set()
        if not targets:
            return touched
        in_targets = sorted(p for p in self.files if os.path.dirname(p) in targets)
        for p in rnd.sample(in_targets, min(2, len(in_targets)) if removals else 0):
            os.remove(p)
            del self.files[p]
            touched.add(os.path.dirname(p))
        in_targets = sorted(p for p in self.files if os.path.dirname(p) in targets)
        for p in rnd.sample(in_targets, min(2, len(in_targets))):
            old = self.files[p].size
            size = old + rnd.randint(1, 512)
            self._write(os.path.dirname(p), _content(rnd, size, f"m-{self._serial}"), rnd, p)
            self._serial += 1
            touched.add(os.path.dirname(p))
        for _ in range(3):
            d = rnd.choice(targets)
            if self.files and rnd.random() < 0.3:
                # a new copy of an existing file joins (or forms) a group
                src = rnd.choice(sorted(self.files))
                with open(src, "rb") as fh:
                    data = fh.read()
            else:
                data = _content(rnd, _sizes(rnd), f"a-{self._serial}")
                self._serial += 1
            self._write(d, data, rnd)
            touched.add(d)
        parent = rnd.choice(targets)
        sub = os.path.join(parent, f"new{self._serial:05d}")
        self._serial += 1
        self._mkdir(sub)
        for _ in range(2):
            self._write(sub, _content(rnd, _sizes(rnd), f"n-{self._serial}"), rnd)
            self._serial += 1
        touched.add(parent)
        # remove a leaf whose parent is listed in the same wave, so the
        # removal reaches the catalog in that wave
        removable = [
            x for x in self.leaves()
            if removals and x in targets and os.path.dirname(x) in targets and x != sub
        ]
        if removable:
            victim = rnd.choice(removable)
            shutil.rmtree(victim)
            self.dirs.discard(victim)
            for p in [p for p in self.files if os.path.dirname(p) == victim]:
                del self.files[p]
            touched.add(os.path.dirname(victim))
        return touched

    def total_bytes(self) -> int:
        return sum(e.size for e in self.files.values())


class CatalogModel:
    """Expected catalog contents: the tree as of each directory's last
    crawl. Files are keyed by their catalog `full_path`
    (dir_path + VIEW_SEP + name)."""

    def __init__(self, root: str) -> None:
        self.root = root
        self.dirs: set[str] = {root}
        self.files: dict[str, FileEntry] = {}

    def observe(self, tree: Tree, frontier: list[str]) -> None:
        """Record that one crawl wave listed every path in `frontier`."""
        for d in sorted(frontier, key=len):
            if d not in tree.dirs:
                continue
            known_subs = {x for x in self.dirs if os.path.dirname(x) == d and x != d}
            for gone in known_subs - tree.subdirs_of(d):
                self._drop_subtree(gone)
            self.dirs |= tree.subdirs_of(d)
            prefix = d + VIEW_SEP
            for p in [p for p in self.files if p.startswith(prefix) and VIEW_SEP not in p[len(prefix):]]:
                del self.files[p]
            for p, e in tree.files_in(d).items():
                self.files[d + VIEW_SEP + os.path.basename(p)] = e

    def _drop_subtree(self, top: str) -> None:
        for x in [x for x in self.dirs if x == top or x.startswith(top + os.sep)]:
            self.dirs.discard(x)
            prefix = x + VIEW_SEP
            for p in [p for p in self.files if p.startswith(prefix)]:
                del self.files[p]

    # -- expected query answers -------------------------------------------
    def dir_of(self, full_path: str) -> str:
        return full_path.rsplit(VIEW_SEP, 1)[0]

    def name_of(self, full_path: str) -> str:
        return full_path.rsplit(VIEW_SEP, 1)[1]

    def duplicate_groups(self) -> dict[tuple[str, int], set[str]]:
        """(sha1, size) -> member paths, for groups of two or more."""
        groups: dict[tuple[str, int], set[str]] = {}
        for p, e in self.files.items():
            groups.setdefault((e.sha1, e.size), set()).add(p)
        return {k: v for k, v in groups.items() if len(v) >= 2}

    def duplicates_of(self, full_path: str) -> set[str]:
        """search_duplicate_file: same (sha1, size) or same name, minus
        the file itself."""
        e = self.files[full_path]
        name = self.name_of(full_path)
        return {
            p for p, f in self.files.items()
            if p != full_path and ((f.sha1, f.size) == (e.sha1, e.size) or self.name_of(p) == name)
        }

    def subtree_dirs(self, prefix: str) -> set[str]:
        """Directories whose path starts with `prefix` (subtree() is a
        string-prefix scan)."""
        return {d for d in self.dirs if d.startswith(prefix)}

    def dir_file_stats(self) -> dict[str, tuple[int, int]]:
        """dir_path -> (n_files, total bytes), for dirs holding files."""
        out: dict[str, list[int]] = {}
        for p, e in self.files.items():
            s = out.setdefault(self.dir_of(p), [0, 0])
            s[0] += 1
            s[1] += e.size
        return {d: (n, b) for d, (n, b) in out.items()}

    def md5_counts(self) -> dict[str, int]:
        out: dict[str, int] = {}
        for e in self.files.values():
            out[e.md5] = out.get(e.md5, 0) + 1
        return out

    def dir_content_sharing(self) -> dict[str, int]:
        """dir_path -> number of dirs whose file-content multiset equals
        its own (duplicate_dir_contents' n_dirs_sharing)."""
        per_dir: dict[str, list] = {}
        for p, e in self.files.items():
            per_dir.setdefault(self.dir_of(p), []).append((e.sha1, e.size))
        fp = {d: tuple(sorted(v)) for d, v in per_dir.items()}
        counts: dict[tuple, int] = {}
        for v in fp.values():
            counts[v] = counts.get(v, 0) + 1
        return {d: counts[v] for d, v in fp.items()}
