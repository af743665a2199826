"""Seeded file tree and delta generator for the scrape workloads.

Stdlib only, so the expected scrape result never depends on the package
under test. The tree mixes plain files with the entries a reference-style
walk records but a naive listing can drop (zero-byte files, dot-files,
files in dot-directories, ``_``-prefixed names) and names with spaces or
a literal ``%20``, plus one symlink to a regular file.

``scan`` is the independent ground truth: ``os.walk`` plus ``lstat``.
"""

from __future__ import annotations

import os
import random
import stat
from dataclasses import dataclass, field

#: Share of the tree per edge category; the rest are plain files. Counts
#: are exact (rounded), so every seed gets the same mix.
MIX = {
    "zero_byte": 0.03,
    "dot_file": 0.03,
    "dot_dir": 0.03,
    "underscore": 0.03,
    "space_name": 0.03,
    "pct20_name": 0.03,
}
#: Per resync delta, as shares of the tree: files rewritten (a quarter of
#: them truncated to 0 bytes), files deleted, and as many files added.
DELTA = {"modified": 0.03, "deleted": 0.02}
EXTENSIONS = (".txt", ".json", ".csv", ".png", ".pdf", ".py", ".md", ".bin", "")
SYMLINK = "link-to-stable"
#: mtimes are whole milliseconds: the listing reports ms precision.
BASE_MTIME_MS = 1_700_000_000_000


def _name(category: str, uid: str, ext: str) -> str:
    return {
        "dot_file": f".hidden{uid}{ext}",
        "underscore": f"_meta{uid}{ext}",
        "space_name": f"file with space {uid}{ext}",
        "pct20_name": f"file%20{uid}{ext}",
    }.get(category, f"f{uid}{ext}")


def _write(path: str, size: int, mtime_ms: int, rng: random.Random) -> None:
    with open(path, "wb") as fh:
        fh.write(rng.randbytes(size))
    ns = mtime_ms * 1_000_000
    os.utime(path, ns=(ns, ns))


def _categories(n: int) -> list[str]:
    cats = [c for c, share in MIX.items() for _ in range(round(n * share))]
    return cats + ["plain"] * (n - len(cats))


@dataclass
class Tree:
    """A generated tree; ``apply_delta`` mutates it in place."""

    root: str
    seed: int
    dirs: list[str] = field(default_factory=list)
    dot_dirs: list[str] = field(default_factory=list)
    stable: str = ""  # symlink target; never touched by a delta
    next_uid: int = 0

    def _place(self, category: str, rng: random.Random) -> str:
        uid = f"{self.next_uid:06d}"
        self.next_uid += 1
        parent = rng.choice(self.dot_dirs if category == "dot_dir" else self.dirs)
        size = 0 if category == "zero_byte" else rng.randint(1, 4096)
        mtime = BASE_MTIME_MS + rng.randrange(10**9)
        path = os.path.join(parent, _name(category, uid, rng.choice(EXTENSIONS)))
        _write(path, size, mtime, rng)
        return path


def generate(root: str, n_files: int, seed: int) -> Tree:
    """Write ``n_files`` regular files plus one symlink under ``root``."""
    rng = random.Random(f"tree:{seed}")
    root = os.path.realpath(root)
    tree = Tree(root=root, seed=seed)
    n_top = max(2, int(n_files**0.5) // 4)
    for i in range(n_top):
        top = os.path.join(root, f"d{i:02d}")
        tree.dirs.append(top)
        for j in range(rng.randint(1, 4)):
            tree.dirs.append(os.path.join(top, f"s{j}"))
        tree.dot_dirs.append(os.path.join(top, f".cache{i}"))
    for d in tree.dirs + tree.dot_dirs:
        os.makedirs(d, exist_ok=True)
    cats = _categories(n_files - 1)
    rng.shuffle(cats)
    for cat in cats:
        tree._place(cat, rng)
    stable_dir = os.path.join(root, "stable")
    os.makedirs(stable_dir)
    tree.stable = os.path.join(stable_dir, "target.txt")
    _write(tree.stable, 64, BASE_MTIME_MS, rng)
    os.symlink(os.path.relpath(tree.stable, root), os.path.join(root, SYMLINK))
    return tree


@dataclass(frozen=True)
class Delta:
    added: frozenset[str]
    modified: frozenset[str]  # includes the truncated ones
    truncated: frozenset[str]
    deleted: frozenset[str]


def apply_delta(tree: Tree, op: int) -> Delta:
    """Rewrite, truncate, delete and add files; the file count is kept.

    Modified files get a later mtime, so the change is visible to a sink
    that compares (size, mtime). Only non-empty files are rewritten: a
    zero-byte file stays as it is until it is deleted."""
    rng = random.Random(f"delta:{tree.seed}:{op}")
    files = sorted(p for p in scan(tree.root).regular if p != tree.stable)
    n = len(files) + 1
    n_mod, n_del = round(n * DELTA["modified"]), round(n * DELTA["deleted"])
    deleted = rng.sample(files, n_del)
    rest = sorted(set(files) - set(deleted))
    candidates = [p for p in rest if os.lstat(p).st_size > 0]
    modified = rng.sample(candidates, n_mod)
    truncated = modified[: max(1, n_mod // 4)]
    for p in modified:
        st = os.lstat(p)
        size = 0 if p in truncated else rng.randint(1, 4096)
        mtime = st.st_mtime_ns // 1_000_000 + rng.randint(1_000, 10**6)
        _write(p, size, mtime, rng)
    for p in deleted:
        os.unlink(p)
    cats = _categories(n_del)
    added = [tree._place(rng.choice(cats), rng) for _ in range(n_del)]
    return Delta(
        added=frozenset(added),
        modified=frozenset(modified),
        truncated=frozenset(truncated),
        deleted=frozenset(deleted),
    )


@dataclass(frozen=True)
class Scan:
    """Ground truth: path -> (size, mtime in ms)."""

    regular: dict[str, tuple[int, int]]
    links: dict[str, tuple[int, int]]  # symlinks to files, as followed


def scan(root: str) -> Scan:
    regular: dict[str, tuple[int, int]] = {}
    links: dict[str, tuple[int, int]] = {}
    for parent, _dirs, names in os.walk(root):
        for name in names:
            path = os.path.join(parent, name)
            st = os.lstat(path)
            if stat.S_ISREG(st.st_mode):
                regular[path] = (st.st_size, st.st_mtime_ns // 1_000_000)
            elif stat.S_ISLNK(st.st_mode) and os.path.isfile(path):
                st = os.stat(path)
                links[path] = (st.st_size, st.st_mtime_ns // 1_000_000)
    return Scan(regular=regular, links=links)
