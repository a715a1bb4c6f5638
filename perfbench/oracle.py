"""Independent reference implementation of the directory-hash spec.

Written against the spec (SURVEY.md section 1.3), not against the Scala
code it checks. For a tree rooted at R, hashed with algorithm A at block
size B:

  * the listing is every file and directory below R (R itself excluded);
    directories carry a trailing "/";
  * entries are sorted by their UTF-8 bytes;
  * every file is cut into B-byte chunks, the last one short; an empty
    file has no chunks;
  * chunk i of file P digests  utf8(P) 0x00 ascii(i) 0x00 content;
  * the result folds  ascii(len(listing)) 0x00 join(listing, 0x00) 0x00
    and then every chunk digest in (P as UTF-8 bytes, i) order.

The hash string is  v1-<algo>-<block size as given>-<hex>.
"""
import hashlib

# Chunk-digest known answers of the reference's own test-suite, the same
# constants the Scala golden-vector test pins. The oracle must reproduce
# them before it is trusted with anything else.
_LOREM = ("dir/subdir1/loremipsum.txt", b"Lorem ipsum dolor sit amet...")
_HELLO = ("dir/subdir1/hello_world.html", b"<html><body>Hello, World!</body></html>")
_PASSWORDS = ("dir/subdir2/my_passwords.txt", b"123456\npassword\nqwerty\nadmin\n1968\n")
_ABC = ("dir/subdir3/abc.txt", b"abc")
_EMPTY = ("dir/empty_file.txt", b"")
_ZEROS = ("32M Zeros.bin", bytes(32 * 1024 * 1024))
GOLDEN = [
    (_LOREM, "sha224", "47f643133bc485ccd35f8062487ef5dea826c7ce4761172787cc0e6d"),
    (_LOREM, "sha256", "31cf1c37b0ad34b0f338dfd67e28f84e6c250ff86449d0ca04e459bf5d8ecef2"),
    (_HELLO, "sha256", "4580355ebe176eaf9104604a29ecf94a29d0fc037195cb7188db4d395e083eab"),
    (_PASSWORDS, "sha256", "526c93bf9075212ede97162d68a47697b412a152e7804b53cb036a6d1b361630"),
    (_PASSWORDS, "sha384", "0c9ad04c8553046eacbc6260c32daa76e9f88d0f33f77cf3aebd03e204e5e168"
                           "d530874b1239f7d99bfc64789fc1224e"),
    (_ABC, "sha256", "b4f567d6c89cd9998bf08292ba1f04190b2213236d5691b2a24a6adcef1dc663"),
    (_ABC, "sha512", "5e7bfaf0fa6d6e46357b0c4c19e85dcf17d0ac910fc829c480d04457f02795fa"
                     "23ae096d61acfb09d5110ea23530f0dbd5b4a5d819071a00b42e3375202409ea"),
    (_EMPTY, "sha224", "9b227149fdfcf594980496a203b946f85b47c20c4f712dd559fce447"),
    (_EMPTY, "sha256", "59d4ae7bc15d68b021c0c9557c3568b769e36d6cc9a56582cc4c1b7f1d9a1bac"),
    (_ZEROS, "sha256", "67ee253eb4f7db3687ecd8fb8e8fd6712b828f1b8f742691070343b1c5bd630b"),
]

_SUFFIX = {"": 1, "k": 1024, "K": 1024, "M": 1024 ** 2, "G": 1024 ** 3}


def block_bytes(block):
    """'32M' -> 33554432, '1K' -> 1024, '128M' -> 134217728."""
    digits = block.rstrip("kKMG")
    return int(digits) * _SUFFIX[block[len(digits):]]


def chunk_hasher(algo, rel, idx):
    h = hashlib.new(algo)
    h.update(rel.encode("utf-8") + b"\0" + str(idx).encode("ascii") + b"\0")
    return h


def self_check():
    """Raises AssertionError unless every golden chunk digest reproduces."""
    for (rel, content), algo, want in GOLDEN:
        h = chunk_hasher(algo, rel, 0)
        h.update(content)
        got = h.hexdigest()
        assert got == want, f"oracle golden vector {rel}/{algo}: {got} != {want}"
    return len(GOLDEN)


class FileDigests:
    """Chunk digests of one file, fed its bytes in pieces of any size."""

    def __init__(self, algo, rel, block):
        self.algo, self.rel, self.block = algo, rel, block
        self.digests = []
        self._h = None
        self._fill = 0

    def update(self, piece):
        view = memoryview(piece)
        while len(view):
            if self._h is None:
                self._h = chunk_hasher(self.algo, self.rel, len(self.digests))
                self._fill = 0
            take = min(self.block - self._fill, len(view))
            self._h.update(view[:take])
            self._fill += take
            view = view[take:]
            if self._fill == self.block:
                self._close()

    def _close(self):
        self.digests.append(self._h.digest())
        self._h = None

    def finish(self):
        if self._h is not None:
            self._close()
        return self.digests


def tree_hash(algo, block, dirs, files):
    """The v1 hash string of a tree.

    dirs: relative directory paths without the trailing "/";
    files: {relative file path: [chunk digest, ...]}.
    """
    listing = sorted([d + "/" for d in dirs] + list(files),
                     key=lambda s: s.encode("utf-8"))
    h = hashlib.new(algo)
    h.update(str(len(listing)).encode("ascii") + b"\0")
    h.update(b"\0".join(s.encode("utf-8") for s in listing))
    h.update(b"\0")
    for rel in sorted(files, key=lambda s: s.encode("utf-8")):
        for d in files[rel]:
            h.update(d)
    return f"v1-{algo}-{block}-{h.hexdigest()}"
