"""Generation-manifest state machinery shared by every persisted index.

Three state roots follow the same discipline — the dedup labels table
(``operators/dedup.py``), the cell-partitioned ANN index
(``operators/similarity.py``), and the maintenance-demo staging corpus —
and this module owns the invariants they share, so the next persisted
index gets all of them for free:

* **Atomic manifest commit.** Every mutation stages its files into
  generation-scoped directories that no reader lists until the manifest
  names them, then replaces ``manifest.json`` via ``os.replace`` —
  readers see old-or-new, never a torn file or a half-applied write.
  That write is :func:`write_json_atomic`, which ``writer.
  ParquetWarehouse`` tables share for their pointer and metadata files.
  (The parquet analogue of Iceberg's manifest-list commit,
  ``SparkUtils.java:45-51`` being the reference's Iceberg bootstrap.)
* **Snapshot-keyed freshness.** ``corpus_snapshot`` records per-file
  (size, mtime_ns); ``snapshot_delta`` classifies a corpus change as
  unchanged / pure-append / rewrite, which is what lets maintenance run
  O(delta) on appends and rebuild only on rewrites.
* **Coherence checking.** When a state root and a separate staging area
  must agree (the maintenance demo), the manifest carries a phase stamp
  (``stamp_manifest``) and readers verify it before serving — deleting
  one root but not the other restages instead of silently serving a
  wrong diff.
* **Generation expiry.** ``expire_generations`` deletes generation
  directories the manifest no longer reaches (gens below ``base_gen``
  after compaction, orphans from crashed writers above ``gen``), so
  compaction actually reclaims space instead of leaving every historical
  generation on disk forever.
"""

from __future__ import annotations

import contextlib
import hashlib
import json
import os
import shutil
import time

_FP_BYTES = 4096  # bounded per-file fingerprint: first+last 4 KiB


def _file_fingerprint(path: str, size: int) -> str:
    """Cheap content fingerprint: blake2b over the first and last 4 KiB
    plus the length. O(1) I/O per file regardless of size — enough to
    catch a same-size same-mtime rewrite (``rsync -t`` / ``cp -p`` of a
    same-length edit), which pure (size, mtime_ns) classifies as
    'unchanged' and silently serves a stale index for."""
    h = hashlib.blake2b(str(size).encode(), digest_size=16)
    with open(path, "rb") as fh:
        h.update(fh.read(_FP_BYTES))
        if size > 2 * _FP_BYTES:
            fh.seek(size - _FP_BYTES)
            h.update(fh.read(_FP_BYTES))
        elif size > _FP_BYTES:
            fh.seek(_FP_BYTES)
            h.update(fh.read())
    return h.hexdigest()


def corpus_snapshot(src: str) -> dict:
    """Per-file (size, mtime_ns, content_fp) of the corpus — the append
    detector. The bounded content fingerprint (first/last 4 KiB blake2b)
    catches rewrites that preserve size AND mtime. _-prefixed markers
    (_SUCCESS) and dotfiles are transport noise, not data."""
    if os.path.isfile(src):
        st = os.stat(src)
        return {
            os.path.basename(src): [
                st.st_size,
                st.st_mtime_ns,
                _file_fingerprint(src, st.st_size),
            ]
        }
    out: dict = {}
    for dirpath, _, files in os.walk(src):
        for f in files:
            if f.startswith(("_", ".")):
                continue
            p = os.path.join(dirpath, f)
            st = os.stat(p)
            out[os.path.relpath(p, src)] = [
                st.st_size,
                st.st_mtime_ns,
                _file_fingerprint(p, st.st_size),
            ]
    return out


def _entry_matches(old_e: list, cur_e: list) -> bool:
    """Compare snapshot entries across format generations: manifests
    written before the content fingerprint carry 2-element entries, and
    a 2-vs-3 comparison must not spuriously classify the whole corpus as
    rewritten — compare on the fields both sides recorded."""
    n = min(len(old_e), len(cur_e))
    return list(old_e[:n]) == list(cur_e[:n])


def snapshot_delta(old: dict, cur: dict) -> tuple[str, list[str]]:
    """Classify a corpus change: ``("unchanged", [])`` when every file
    matches exactly; ``("appended", new_files)`` when every OLD file is
    byte-identical (size+mtime+bounded content fp) and at least one new
    file exists — the O(delta) maintenance precondition; ``("rewritten",
    [])`` for anything else (modified or deleted files → full rebuild)."""
    if set(old) == set(cur) and all(_entry_matches(old[k], cur[k]) for k in old):
        return "unchanged", []
    if (
        old
        and set(old) <= set(cur)
        and all(_entry_matches(old[k], cur[k]) for k in old)
    ):
        return "appended", sorted(k for k in cur if k not in old)
    return "rewritten", []


def write_json_atomic(path: str, value) -> None:
    """The one atomic JSON write behind every commit point: a state root's
    ``manifest.json`` and a ``writer.ParquetWarehouse`` table's ``CURRENT``,
    ``_MARKS.json``, ``SCHEMA``, ``SPEC`` and ``TAGS``. The JSON goes to a
    temp sibling that ``os.replace`` moves over ``path``, so a reader sees
    the old file or the new one, never a torn one. Durability (fsync)
    belongs here, once for both kinds of root."""
    tmp = path + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(value, fh)
    os.replace(tmp, path)


def read_manifest(root: str) -> dict | None:
    p = os.path.join(root, "manifest.json")
    if not os.path.exists(p):
        return None
    with open(p) as fh:
        return json.load(fh)


class ManifestConflict(RuntimeError):
    """The manifest moved between a writer's read and its commit —
    another maintainer committed first. The loser must re-read the
    manifest and redo (or skip) its maintenance against the new state;
    blindly retrying the same write would last-writer-wins away the
    winner's generation. The parquet analogue of Iceberg's optimistic
    catalog-commit CommitFailedException (the reference delegates this
    to the Iceberg catalog via ``SparkUtils.java:46-51``; this analogue
    owns it)."""


@contextlib.contextmanager
def maintenance_lease(root: str, timeout: float = 600.0):
    """Exclusive cross-process lease over a state root's maintenance.

    flock on ``<root>.maintenance.lock`` (a sibling of the root, not
    inside it — see below) — held for the duration of a
    build/maintain/compact so two concurrent maintainers serialize
    instead of interleaving their staging writes (generation dirs are
    keyed by gen number, so two writers staging gen N+1 simultaneously
    would corrupt each other's files BEFORE either reaches the manifest
    CAS). Readers never take the lock: manifest replace stays atomic and
    they see old-or-new. Advisory, same-host scope — the multi-host
    analogue is the catalog-side lock Iceberg provides; on one warehouse
    host (our deployment shape for the parquet analogue) flock is
    exactly the lease needed. Raises TimeoutError if the lease cannot be
    acquired within ``timeout`` seconds (a stuck peer holding the lock).

    The lock file is a SIBLING of the root (``<root>.maintenance.lock``),
    not inside it: a full rebuild rmtree's the root, and deleting the
    file a peer holds flocked would let a third writer create a fresh
    lock file and 'acquire' the lease concurrently."""
    import fcntl

    parent = os.path.dirname(os.path.abspath(root))
    os.makedirs(parent, exist_ok=True)
    path = os.path.abspath(root).rstrip(os.sep) + ".maintenance.lock"
    fd = os.open(path, os.O_CREAT | os.O_RDWR, 0o644)
    try:
        deadline = time.monotonic() + timeout
        while True:
            try:
                fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
                break
            except BlockingIOError:
                if time.monotonic() >= deadline:
                    raise TimeoutError(
                        f"maintenance lease on {root} not acquired within "
                        f"{timeout}s — another maintainer holds it"
                    )
                time.sleep(0.05)
        yield
    finally:
        with contextlib.suppress(OSError):
            fcntl.flock(fd, fcntl.LOCK_UN)
        os.close(fd)


def write_manifest(
    root: str, manifest: dict, expect_seq: int | None = None
) -> dict:
    """Manifest write is the commit point: written LAST (after every data
    file of the new generation) and atomically via rename, so a crashed
    writer never publishes partial state and a concurrent reader sees
    old-or-new, never a torn file.

    Optimistic-concurrency seam: every committed manifest carries a
    monotonically increasing ``commit_seq``. A writer that read the
    manifest at sequence S passes ``expect_seq=S`` and the commit raises
    :class:`ManifestConflict` if the on-disk sequence moved — the CAS
    check and the replace happen under a short flock critical section so
    two concurrent CAS commits cannot both win. ``expect_seq=None``
    (legacy call shape) still serializes the bump but does not check —
    callers are expected to hold :func:`maintenance_lease` instead.
    Returns the committed manifest (with its ``commit_seq``)."""
    import fcntl

    os.makedirs(root, exist_ok=True)
    # sibling path for the same reason as maintenance_lease: rebuilds
    # rmtree the root and must not delete a lock a peer holds
    lock_fd = os.open(
        os.path.abspath(root).rstrip(os.sep) + ".commit.lock",
        os.O_CREAT | os.O_RDWR,
        0o644,
    )
    try:
        fcntl.flock(lock_fd, fcntl.LOCK_EX)
        cur = read_manifest(root)
        cur_seq = int((cur or {}).get("commit_seq", 0))
        if expect_seq is not None and cur_seq != int(expect_seq):
            raise ManifestConflict(
                f"manifest at {root} moved: read at commit_seq={expect_seq}, "
                f"now commit_seq={cur_seq} — re-read and redo the maintenance"
            )
        manifest = dict(manifest)
        manifest["commit_seq"] = cur_seq + 1
        write_json_atomic(os.path.join(root, "manifest.json"), manifest)
        return manifest
    finally:
        with contextlib.suppress(OSError):
            fcntl.flock(lock_fd, fcntl.LOCK_UN)
        os.close(lock_fd)


def stamp_manifest(root: str, **extra) -> dict:
    """Read-modify-write extra keys into an existing manifest (atomic,
    CAS-retried: a concurrent commit between the read and the write
    re-reads and re-applies the stamp instead of clobbering the other
    writer's fields). Used for cross-root coherence stamps (e.g. the
    maintenance demo's ``stage_phase``) that the generic build/maintain
    writers don't know about. Raises if no manifest exists — a stamp on
    nothing is a bug."""
    for _ in range(64):
        man = read_manifest(root)
        if man is None:
            raise ValueError(f"no manifest at {root} to stamp")
        if all(man.get(k) == v for k, v in extra.items()):
            return man  # idempotent: warm serve re-stamps cost no commit
        seq = int(man.get("commit_seq", 0))
        man.update(extra)
        try:
            return write_manifest(root, man, expect_seq=seq)
        except ManifestConflict:
            continue
    raise ManifestConflict(f"stamp on {root} lost 64 consecutive CAS races")


def gen_dir(root: str, kind: str, gen: int) -> str:
    """Generation-scoped data directory: ``<root>/<kind>/gen_<g>``."""
    return os.path.join(root, kind, f"gen_{gen}")


def gen_paths(root: str, kind: str, gen: int, base: int = 0) -> list[str]:
    """Reader path list for an appended artifact: generations
    ``base..gen`` inclusive — a generation exists only once the manifest
    names it, so files written by a crashed half-applied maintenance are
    invisible until its manifest commit; the retry overwrites them."""
    return [gen_dir(root, kind, g) for g in range(base, gen + 1)]


def _live_gens(d: str) -> list[tuple[int, str]]:
    if not os.path.isdir(d):
        return []
    out = []
    for name in os.listdir(d):
        if name.startswith("gen_"):
            try:
                out.append((int(name[4:]), os.path.join(d, name)))
            except ValueError:
                continue
    return out


def expire_generations(root: str, keep: dict[str, set[int]]) -> list[str]:
    """Delete generation directories not named in ``keep`` (a map of
    artifact kind → the generation numbers still reachable from the
    manifest). Returns the deleted paths. The caller computes ``keep``
    from the COMMITTED manifest, so expiry can never race a writer into
    deleting a generation a reader could still list: anything outside
    the keep set is either below ``base_gen`` (compacted away) or an
    orphan from a crashed writer whose retry overwrites it anyway."""
    deleted = []
    for kind, gens in keep.items():
        for g, path in _live_gens(os.path.join(root, kind)):
            if g not in gens:
                shutil.rmtree(path, ignore_errors=True)
                deleted.append(path)
    return deleted
