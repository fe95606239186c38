"""The saved-store protocol: the one implementation of the crash-safety
primitives every saved store in the engine shares — local path
resolution, exclusive-create marker files, atomic small-file writes
and the generation publish (write a complete gen-N, flip _CURRENT,
sweep). The counts, classifier-weights and ANN stores publish through
it; the dedup index uses its resolver and markers around its own
rename-aside swap.

Durability caveat, stated once: the parquet DATA files are flushed by
Spark/OS page-cache policy, not fsynced here — full power-loss
durability for the data needs the filesystem's guarantees (or a
transactional table format), same as every other parquet sink in this
engine. Only the small files written by ``atomic_write`` are fsynced.
"""

from __future__ import annotations

import contextlib
import errno
import os
import re
import shutil
import warnings
from typing import Callable
from urllib.parse import urlparse

CURRENT = "_CURRENT"  # one line naming the live generation
_GEN = re.compile(r"gen-(\d+)")


class AmbiguousIndexPath(ValueError):
    """A saved-store URI that urlparse would silently truncate
    ('?'/'#' present): never downgraded to best-effort handling."""


def local_paths_or_none(path: str) -> tuple:
    """(spark_path, os_path) for a local store location, or
    (path, None) for a non-local one. Accepts plain paths, Windows
    drive paths (single-letter 'schemes'), and the file:/x /
    file:///x / file://localhost/x URI forms.

    NO percent-decoding happens anywhere: Hadoop treats %XX in a
    file: URI literally (verified against pyspark 4.1.2 — writing to
    'file:/x%20y' creates a directory literally named 'x%20y'), so
    the os-level side must use the byte-exact same path or every
    guard silently checks a different directory than Spark mutates.
    The Spark side gets the canonical 'file:<path>' form: Hadoop
    rejects the file://localhost authority spelling ('Wrong FS'),
    and keeping an explicit file: scheme stops a non-file
    fs.defaultFS from capturing the writes. Plain schemeless paths
    pass through verbatim for both sides (their defaultFS semantics
    are the caller's choice)."""
    parsed = urlparse(path)
    if len(parsed.scheme) <= 1:  # plain path or Windows drive letter
        return path, path
    if parsed.scheme != "file" or parsed.netloc not in ("", "localhost"):
        return path, None
    if parsed.query or parsed.fragment:
        # urlparse truncates at '?'/'#', but Hadoop treats both
        # literally in paths — silently operating on the truncated
        # directory would redirect the whole store. Raised even by
        # the "or None" resolver: treating it as non-local would skip
        # the crash-marker guards for exactly the URIs they must see.
        raise AmbiguousIndexPath(
            f"saved-index URI {path!r} contains '?' or '#'; these are "
            f"literal path bytes to Hadoop but URI separators to this "
            f"parser — pass the location as a plain path instead"
        )
    p = parsed.path
    if re.match(r"^/[A-Za-z]:[/\\]", p):  # file:///C:/x
        # keep the explicit scheme on the Spark side here too (a bare
        # 'C:/x' re-resolves against fs.defaultFS); os side gets C:/x
        return "file:" + p, p[1:]
    return "file:" + p, p


def local_paths(path: str, store: str, remedy: str) -> tuple:
    """(spark_path, os_path) for a location that MUST be local, or a
    ValueError naming ``store`` and its ``remedy`` (the store's own
    advice for object-store deployments)."""
    spark_path, os_path = local_paths_or_none(path)
    if os_path is None:
        raise ValueError(f"{store} at {path!r} is not a local path: {remedy}")
    return spark_path, os_path


def create_marker(path: str, payload: str) -> None:
    """Exclusive-create ``path`` holding ``payload``. Raises
    FileExistsError when the file already exists (the caller maps it
    to its store's error). If writing the payload fails after the
    create, the file is removed again: a marker whose existence is
    the signal must not survive a failed create."""
    fh = open(path, "x", encoding="utf-8")
    try:
        with fh:
            fh.write(payload)
    except BaseException:
        with contextlib.suppress(OSError):
            os.remove(path)
        raise


class WriterMarker:
    """The single-writer marker ``{os_path}/{name}``, held for a
    ``with`` block: acquired by exclusive create (loud ValueError
    naming the store and its ``recovery`` when already held) and
    removed on exit — unless the block called ``strand()``, which
    leaves it in place so a torn state stays loud to readers and the
    next writer. ``force=True`` removes a pre-existing marker first
    (the takeover of a crashed writer's marker, valid only when the
    caller has established no writer is live) and then acquires by
    exclusive create like any writer, so two racing takeovers cannot
    both win."""

    def __init__(
        self, os_path: str, name: str, store: str, recovery: str,
        force: bool = False,
    ):
        self.path = os.path.join(os_path, name)
        self._name, self._store, self._os_path = name, store, os_path
        self._force, self._recovery = force, recovery
        self.stranded = False

    def __enter__(self) -> WriterMarker:
        os.makedirs(self._os_path, exist_ok=True)
        if self._force:
            with contextlib.suppress(FileNotFoundError):
                os.remove(self.path)
        try:
            create_marker(self.path, f"{self._store} writer live\n")
        except FileExistsError:
            raise ValueError(
                f"{self._store} at {self._os_path!r}: {self._name} is held "
                f"— a writer is live or crashed. {self._recovery}"
            ) from None
        return self

    def strand(self) -> None:
        """Leave the marker held on exit: the writer may have
        committed bytes no reader should see."""
        self.stranded = True

    def __exit__(self, *exc) -> None:
        if not self.stranded:
            with contextlib.suppress(OSError):
                os.remove(self.path)


def atomic_write(path: str, text: str) -> None:
    """Replace the small file ``path`` with ``text`` atomically:
    write-aside to ``path + '.tmp'``, fsync it, os.replace, fsync the
    directory — readers see the old or the new content, never
    anything else, and the replacement survives a power loss at any
    step (an unflushed replace could otherwise surface empty or stale
    after reboot)."""
    tmp = path + ".tmp"
    with open(tmp, "w", encoding="utf-8") as fh:
        fh.write(text)
        fh.flush()
        os.fsync(fh.fileno())
    os.replace(tmp, path)
    try:
        # directory fsync is best-effort ONLY for portability: opening
        # a directory read-only is not universal (PermissionError on
        # Windows, ENOTSUP/EINVAL on some filesystems), and the
        # replace itself already committed — failing the write for
        # that would report a completed commit as a failure. A REAL
        # fsync error (EIO: the rename may not be durable) is not
        # silently swallowed: it degrades the power-loss guarantee
        # and says so.
        dfd = os.open(os.path.dirname(path) or ".", os.O_RDONLY)
        try:
            os.fsync(dfd)
        finally:
            os.close(dfd)
    except OSError as exc:
        if exc.errno not in (errno.ENOTSUP, errno.EINVAL, errno.EACCES,
                             errno.EPERM, errno.EISDIR):
            warnings.warn(
                f"directory fsync after replacing {path!r} failed ({exc}) "
                f"— the write committed but may not survive an immediate "
                f"power loss",
                stacklevel=2,
            )


def current_generation(os_path: str, store: str | None = None) -> str | None:
    """The live generation named by ``_CURRENT``. When no flip ever
    happened: None, or — when ``store`` is given — a ValueError
    naming the store."""
    try:
        with open(os.path.join(os_path, CURRENT), encoding="utf-8") as fh:
            return fh.read().strip()
    except FileNotFoundError:
        if store is None:
            return None
        raise ValueError(
            f"{store} at {os_path!r}: no {CURRENT} pointer — nothing was "
            f"ever saved here (or the location is not a {store})"
        ) from None


def flip_current(os_path: str, gen: str) -> None:
    """Atomically repoint ``_CURRENT`` at the complete generation
    ``gen`` — the one step that publishes it."""
    atomic_write(os.path.join(os_path, CURRENT), gen)


def _generations(os_path: str) -> dict:
    """{directory name: N} for every gen-N directory on disk."""
    return {
        name: int(m.group(1))
        for name in os.listdir(os_path)
        if (m := _GEN.fullmatch(name))
    }


def sweep_generations(os_path: str, keep: set) -> None:
    """Remove every gen-N directory not in ``keep``."""
    for name in _generations(os_path):
        if name not in keep:
            shutil.rmtree(os.path.join(os_path, name))


def publish_generation(
    os_path: str, write: Callable[[str], None], retain: int
) -> str:
    """Publish a new generation of the store at ``os_path`` and return
    its name. The generation is numbered one past the highest gen-N on
    disk (the first is gen-0) — crashed writers' partial directories
    count, so a dirty directory is never reused or republished.
    ``write(gen)`` writes the complete generation under
    ``{store}/{gen}``; then ``_CURRENT`` flips onto it, then the sweep
    removes every generation except the new one and the ``retain``
    most recent generations up to the one live before the flip (the
    store's reader grace window: a lazy plan bound before a publish
    survives ``retain`` further publishes). Everything else —
    superseded generations and crashed writers' litter — goes.

    The caller holds the store's writer marker around this call and
    owns the release-vs-strand decision. A failure before the flip
    leaves the old generation live. The post-flip sweep is
    BEST-EFFORT: once the flip committed, a sweep failure (EBUSY, NFS
    silly-rename, permissions) only warns — reporting the committed
    generation as a failed write would be wrong — and the litter
    waits for the next successful publish."""
    os.makedirs(os_path, exist_ok=True)
    prev = current_generation(os_path)
    gens = _generations(os_path)
    gen = f"gen-{max(gens.values(), default=-1) + 1}"
    keep = {gen}
    if prev is not None and (m := _GEN.fullmatch(prev)):
        older = sorted(
            (n for n in gens.values() if n <= int(m.group(1))), reverse=True
        )
        keep |= {f"gen-{n}" for n in older[:retain]}
    write(gen)
    flip_current(os_path, gen)
    try:
        sweep_generations(os_path, keep)
    except OSError as exc:
        warnings.warn(
            f"store at {os_path!r}: generation {gen} committed but the "
            f"sweep failed ({exc}) — superseded gen-N directories remain "
            f"until the next successful publish",
            stacklevel=2,
        )
    return gen
