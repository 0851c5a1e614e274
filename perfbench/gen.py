"""Seeded filesystem tree and churn generator for the benchmark.

Pure Python, no Spark: the benchmark builds a tree on disk from a seed,
hands the indexer nothing but the directory, and keeps the expected
answer here (file, directory and byte counts, per-top-level rollup
totals, per-cycle added/changed/removed counts) to check the indexer's
outputs against.

The tree is shaped like a real filespace rather than a uniform farm:

- file sizes are log-normal (median ~3 KiB, a long tail to GiB); files
  are sparse (``truncate``), so a large size costs no disk;
- ~15 extensions plus extension-less names and dotfiles;
- files sit at depths 2-6; some names carry spaces or non-ASCII;
- some directories stay empty;
- skip-pattern hits (``.git/``, ``node_modules/`` subtrees and
  ``*.tmp`` files) appear at several depths; they exist on disk but
  are not part of the expected answer, because the indexer's default
  skip patterns drop them;
- modification times are seeded and spread over two years.
"""

from __future__ import annotations

import os
import random
from collections import Counter
from dataclasses import dataclass, field

EXTENSIONS = [
    "txt", "log", "csv", "json", "py", "md", "jpg", "png",
    "mp4", "mov", "wav", "pdf", "docx", "xlsx", "zip",
]
_STEMS = ["report", "data", "clip", "scan", "draft", "notes", "render", "take"]
_ODD_STEMS = ["final copy", "résumé", "日本語", "naïve take", "über plan"]
_DIR_STEMS = ["proj", "assets", "shots", "archive", "src", "edit", "raw"]
_ODD_DIR_STEMS = ["Client Files", "Dépôt", "音声"]
SKIP_DIRS = (".git", "node_modules")
MAX_DEPTH = 6
# Seeded mtimes fall in [2024-01-01, 2026-01-01) UTC.
_MTIME_LO = 1_704_067_200
_MTIME_SPAN = 2 * 365 * 86_400


@dataclass
class Churn:
    """What one churn step did, as the indexer's diff should see it."""

    added: int
    modified: int
    removed: int
    touched_dirs: int  # directories whose mtime moved (entries added/removed)

    @property
    def changed(self) -> int:
        """Rows ``snapshot_diff`` labels ``changed``: modified files plus
        directories whose listing changed."""
        return self.modified + self.touched_dirs


@dataclass
class Tree:
    """A generated tree and its expected index: ``files`` maps each live
    (non-skipped) file's relative path to its size, ``dirs`` holds the
    live directories' relative paths (the root itself is not an
    entry)."""

    root: str
    seed: int
    files: dict[str, int] = field(default_factory=dict)
    dirs: set[str] = field(default_factory=set)
    skipped_entries: int = 0
    cycles: int = 0

    @property
    def n_files(self) -> int:
        return len(self.files)

    @property
    def n_dirs(self) -> int:
        return len(self.dirs)

    @property
    def n_entries(self) -> int:
        return len(self.files) + len(self.dirs)

    @property
    def total_bytes(self) -> int:
        return sum(self.files.values())

    def top_level_totals(self) -> dict[str, tuple[int, int, int]]:
        """Expected ``directory_rollup`` rows for the top-level
        directories: ``{"/top": (total_size, file_count, dir_count)}``,
        counting everything strictly below each top directory."""
        size: Counter = Counter()
        nfiles: Counter = Counter()
        ndirs: Counter = Counter()
        for p, s in self.files.items():
            top = _top(p)
            if top is not None:
                size[top] += s
                nfiles[top] += 1
        for d in self.dirs:
            top = _top(d)
            if top is not None:
                ndirs[top] += 1
        tops = {d for d in self.dirs if d.count("/") == 1}
        return {t: (size[t], nfiles[t], ndirs[t]) for t in sorted(tops)}

    def abspath(self, rel: str) -> str:
        return self.root + rel


def _top(rel: str) -> str | None:
    """'/a/b/c' -> '/a'; a root-level entry has no top ancestor."""
    parts = rel.split("/")
    return "/" + parts[1] if len(parts) > 2 else None


def _file_name(rng: random.Random, i: int) -> str:
    r = rng.random()
    stem = rng.choice(_ODD_STEMS if r < 0.05 else _STEMS)
    if r > 0.97:
        return f"{stem}_{i}"  # no extension
    if 0.96 < r <= 0.97:
        return f".{stem}rc_{i}"  # dotfile: empty extension
    return f"{stem}_{i}.{rng.choice(EXTENSIONS)}"


def _file_size(rng: random.Random) -> int:
    return min(int(rng.lognormvariate(8.0, 2.5)), 10 << 30)


def _mtime_ns(rng: random.Random) -> int:
    return (_MTIME_LO + rng.randrange(_MTIME_SPAN)) * 1_000_000_000


def _write_file(path: str, size: int, mtime_ns: int | None) -> None:
    fd = os.open(path, os.O_WRONLY | os.O_CREAT | os.O_TRUNC, 0o644)
    try:
        os.ftruncate(fd, size)
    finally:
        os.close(fd)
    if mtime_ns is not None:
        os.utime(path, ns=(mtime_ns, mtime_ns))


def build_tree(root: str, n_files: int, seed: int) -> Tree:
    """Write a fresh tree of about ``n_files`` live files under ``root``
    (which must not exist) and return its expected index."""
    rng = random.Random(seed)
    os.makedirs(root)
    tree = Tree(root=root, seed=seed)
    # Directories: random parent choice over the non-leaf levels gives
    # a bushy, uneven tree. Depth 1 holds the top-level directories.
    n_dirs = max(8, n_files // 25)
    n_top = max(4, n_dirs // 40)
    levels: list[list[str]] = [[""]] + [[] for _ in range(MAX_DEPTH)]
    for i in range(n_dirs):
        # A level can only grow once its parent level has a directory.
        depth = 1 if i < n_top else rng.choice(
            [k for k in range(2, MAX_DEPTH) if levels[k - 1]]
        )
        parent = rng.choice(levels[depth - 1])
        odd = rng.random() < 0.04
        stem = rng.choice(_ODD_DIR_STEMS if odd else _DIR_STEMS)
        d = f"{parent}/{stem} {i}" if odd else f"{parent}/{stem}_{i}"
        levels[depth].append(d)
        tree.dirs.add(d)
        os.mkdir(tree.abspath(d))
    # Some directories stay empty on purpose (not chosen for files).
    holders = [d for lvl in levels[1:] for d in lvl]
    empty = set(rng.sample(holders, max(1, len(holders) // 20)))
    holders = [d for d in holders if d not in empty]
    # Files at depth 2..6: a file in a depth-k directory is at depth k+1.
    for i in range(n_files):
        d = rng.choice(holders)
        rel = f"{d}/{_file_name(rng, i)}"
        size = _file_size(rng)
        _write_file(tree.abspath(rel), size, _mtime_ns(rng))
        tree.files[rel] = size
    # Skip-pattern hits at several depths: whole subtrees the walker
    # must prune, and *.tmp files it must drop.
    for i, d in enumerate(rng.sample(holders, max(3, len(holders) // 30))):
        skip = f"{d}/{SKIP_DIRS[i % 2]}"
        os.makedirs(tree.abspath(skip + "/objects"))
        for j in range(3):
            _write_file(tree.abspath(f"{skip}/objects/blob_{j}"), 64, None)
        tree.skipped_entries += 5
    for i, d in enumerate(rng.sample(holders, max(3, len(holders) // 15))):
        _write_file(tree.abspath(f"{d}/scratch_{i}.tmp"), 128, None)
        tree.skipped_entries += 1
    # Directory mtimes last: creating children moved them.
    for d in sorted(tree.dirs, key=lambda p: -p.count("/")):
        t = _mtime_ns(rng)
        os.utime(tree.abspath(d), ns=(t, t))
    return tree


def churn(
    tree: Tree,
    modify_frac: float = 0.006,
    add_frac: float = 0.002,
    remove_frac: float = 0.002,
) -> Churn:
    """One nightly churn step, seeded by (tree seed, cycle number):
    modify (new size, mtime = now), add and remove a share of the live
    files. Updates ``tree``'s expected index and returns the counts the
    indexer's diff should report."""
    tree.cycles += 1
    rng = random.Random(f"{tree.seed}/churn/{tree.cycles}")
    live = sorted(tree.files)
    n = len(live)
    n_mod = max(1, round(n * modify_frac))
    n_add = max(1, round(n * add_frac))
    n_rm = max(1, round(n * remove_frac))
    picked = rng.sample(live, n_mod + n_rm)
    touched: set[str] = set()
    for rel in picked[:n_mod]:
        size = tree.files[rel] + 1 + rng.randrange(4096)
        _write_file(tree.abspath(rel), size, None)  # mtime: now
        tree.files[rel] = size
    for rel in picked[n_mod:]:
        os.unlink(tree.abspath(rel))
        del tree.files[rel]
        touched.add(rel.rsplit("/", 1)[0])
    holders = sorted({p.rsplit("/", 1)[0] for p in live})
    for i in range(n_add):
        d = rng.choice(holders)
        rel = f"{d}/new_{tree.cycles}_{i}.{rng.choice(EXTENSIONS)}"
        size = _file_size(rng)
        _write_file(tree.abspath(rel), size, _mtime_ns(rng))
        tree.files[rel] = size
        touched.add(d)
    return Churn(
        added=n_add, modified=n_mod, removed=n_rm, touched_dirs=len(touched)
    )
