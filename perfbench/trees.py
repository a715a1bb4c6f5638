"""Seeded input tree for the directory-hash workload.

`generate` writes the tree under `root` and returns its facts, including
the oracle's expected hash string, computed from the bytes as they are
written (never read back through the code under test). The same seed
always gives the same tree. File lengths sit just off a block multiple,
so every non-empty file ends in a short chunk.
"""
import os

import numpy as np

import oracle

MiB = 1024 * 1024
PIECE = 8 * MiB


def _write_file(rng, path, rel, size, algo, block_b):
    fd = oracle.FileDigests(algo, rel, block_b)
    with open(path, "wb") as f:
        left = size
        while left:
            piece = rng.bytes(min(PIECE, left))
            f.write(piece)
            fd.update(piece)
            left -= len(piece)
    return fd.finish()


# Names that make UTF-8 order and UTF-16 order disagree: U+FF5E sorts
# after U+1D11E in UTF-8 (EF.. < F0..) but before it in UTF-16 (the astral
# character is a D834 surrogate pair). Spaces and non-ASCII letters too.
_DIRS = ["répertoire 1", "データ～", "データ\U0001D11E"]
_NAMES = ["f 0.bin", "é1.dat", "日本2", "3～.bin", "4\U0001D11E.bin", "x5.tar.gz", "f 6 copy.txt",
          "y7"]


def bigfiles(root, seed):
    """One 512 MiB file and eight 64 MiB files (1 GiB) at 32 MiB blocks,
    the eight spread over three directories, plus an empty file and an
    empty directory."""
    algo, block = "sha256", "32M"
    block_b = oracle.block_bytes(block)
    rng = np.random.default_rng(seed)
    dirs = list(_DIRS) + [_DIRS[0] + "/vide"]
    for d in dirs:
        os.makedirs(os.path.join(root, d))
    layout = [("big 512.bin", 512 * MiB)] + [
        (f"{_DIRS[i % len(_DIRS)]}/{name}", 64 * MiB) for i, name in enumerate(_NAMES)]
    files = {}
    for rel, nominal in layout:
        size = nominal - int(rng.integers(1, 4096))
        files[rel] = _write_file(rng, os.path.join(root, rel), rel, size, algo, block_b)
    empty = f"{_DIRS[1]}/empty"
    files[empty] = _write_file(rng, os.path.join(root, empty), empty, 0, algo, block_b)
    return algo, block, (dirs, files)


def generate(root, seed):
    """Writes the bigfiles tree under root; returns its facts."""
    os.makedirs(root)
    algo, block, (dirs, files) = bigfiles(root, seed)
    tree_bytes = sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return {
        "algo": algo, "block": block,
        "expected": oracle.tree_hash(algo, block, dirs, files),
        "tree_bytes": tree_bytes,
        "files": len(files), "dirs": len(dirs),
        "chunks": sum(len(d) for d in files.values()),
        "empty_files": sum(1 for d in files.values() if not d),
    }
