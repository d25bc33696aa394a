"""Engine-state storage: the one module that touches the files the engine
owns outside its parquet tables — catalog pointers, stats and lock,
posting snapshots and index manifests, rollup versions, sink commits,
model artifacts.

Every commit is a rename: :func:`write_atomic` writes beside its target
and renames over it, and a :class:`Versions` store publishes a new
immutable version dir by rewriting its one-line pointer that way. POSIX
rename is atomic on a local disk, so a reader sees the old state or the
new, never a torn one. Only plain paths and ``file:`` URIs are
accepted; other schemes (``s3a://``, ``hdfs://``) raise ``ValueError``
rather than half-writing a commit or skipping a check.
"""

from __future__ import annotations

import json
import os
import shutil
import threading
from collections.abc import Callable
from urllib.parse import unquote, urlparse


def local_path(path: str) -> str:
    """``path`` (plain, ``file:/x`` or ``file:///x``) on the local
    filesystem; ``ValueError`` on any other scheme."""
    url = urlparse(path)
    if not url.scheme:
        return path
    if url.scheme == "file" and url.netloc in ("", "localhost"):
        return unquote(url.path)
    raise ValueError(
        f"unsupported filesystem scheme {url.scheme!r} in {path!r}: engine "
        "state needs an atomic rename, and only local paths and file: URIs "
        "are supported")


def exists(path: str) -> bool:
    return os.path.exists(local_path(path))


def mtime(path: str) -> float:
    return os.path.getmtime(local_path(path))


def read_text(path: str) -> str | None:
    """File content, or None when the file does not exist (one open)."""
    try:
        with open(local_path(path)) as f:
            return f.read()
    except FileNotFoundError:
        return None


def read_json(path: str):
    text = read_text(path)
    return None if text is None else json.loads(text)


def write_atomic(path: str, data: str | bytes) -> None:
    """Replace ``path`` with ``data`` in one rename. The temp name is
    unique per process and thread, so concurrent writers never share it."""
    p = local_path(path)
    os.makedirs(os.path.dirname(p) or ".", exist_ok=True)
    tmp = f"{p}.tmp-{os.getpid()}-{threading.get_ident()}"
    with open(tmp, "wb" if isinstance(data, bytes) else "w") as f:
        f.write(data)
    os.replace(tmp, p)


def write_json(path: str, obj, **dump_kwargs) -> None:
    write_atomic(path, json.dumps(obj, **dump_kwargs))


def create_exclusive(path: str, data: str) -> bool:
    """Create ``path`` holding ``data``; False if it already exists."""
    p = local_path(path)
    os.makedirs(os.path.dirname(p) or ".", exist_ok=True)
    try:
        with open(p, "x") as f:
            f.write(data)
    except FileExistsError:
        return False
    return True


def rename(src: str, dst: str) -> None:
    os.replace(local_path(src), local_path(dst))


def remove(path: str) -> None:
    """Delete a file; a missing file is not an error."""
    try:
        os.remove(local_path(path))
    except FileNotFoundError:
        pass


def remove_tree(path: str, *, ignore_errors: bool = False) -> None:
    """Delete a directory tree; a missing tree is not an error.
    ``ignore_errors`` ignores every other error too — for garbage that
    nothing reads any more (superseded versions, temp dirs)."""
    try:
        shutil.rmtree(local_path(path), ignore_errors=ignore_errors)
    except FileNotFoundError:
        pass


def list_files(path: str) -> dict[str, int]:
    """``{name: size}`` of the files directly under ``path`` ({} if missing)."""
    try:
        with os.scandir(local_path(path)) as it:
            return {e.name: e.stat().st_size for e in it if e.is_file()}
    except FileNotFoundError:
        return {}


def tree_size(path: str) -> int:
    """Total bytes of the files under ``path`` (0 if missing)."""
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _dirs, files in os.walk(local_path(path)) for f in files)


def link_or_copy(src: str, dst: str) -> None:
    """Hardlink an immutable file (no data moves); copy across devices."""
    s, d = local_path(src), local_path(dst)
    try:
        os.link(s, d)
    except OSError:
        shutil.copy2(s, d)


class Versions:
    """Immutable version dirs ``root/<prefix><n>`` (``n`` zero-padded to
    ``width``) and a pointer file ``root/<pointer>`` whose first line
    names the live one; later lines are ignored.

    :meth:`commit` writes the next version, publishes it and prunes. A
    crash before the publish leaves the old version live, one after it
    the new; a version a crash left behind is garbage for a later prune.
    Keeping two or more versions gives a reader that resolved the
    pointer just before a publish one full commit to finish."""

    def __init__(self, root: str, *, prefix: str = "v", width: int = 0,
                 pointer: str = "current"):
        local_path(root)  # reject unsupported schemes up front
        self.root, self.prefix, self.width = root, prefix, width
        self.pointer = os.path.join(root, pointer)

    def name(self, n: int) -> str:
        return f"{self.prefix}{n:0{self.width}d}"

    def path(self, n: int) -> str:
        return os.path.join(self.root, self.name(n))

    def _number(self, name: str) -> int | None:
        digits = name[len(self.prefix):]
        return int(digits) if name.startswith(self.prefix) and digits.isdigit() else None

    def live(self) -> int | None:
        """The live version; None before the first publish. Raises
        ``ValueError`` on a pointer that names no version."""
        text = read_text(self.pointer)
        if text is None:
            return None
        n = self._number(text.split("\n", 1)[0].strip())
        if n is None:
            raise ValueError(f"pointer {self.pointer} names no version: {text!r}")
        return n

    def live_path(self) -> str | None:
        n = self.live()
        return None if n is None else self.path(n)

    def versions(self) -> list[int]:
        """Version numbers on disk, oldest first."""
        try:
            with os.scandir(local_path(self.root)) as it:
                names = [e.name for e in it if e.is_dir()]
        except FileNotFoundError:
            return []
        return sorted(n for n in map(self._number, names) if n is not None)

    def publish(self, n: int) -> None:
        write_atomic(self.pointer, self.name(n))

    def prune(self, keep: int) -> None:
        """Remove all but the newest ``keep`` versions."""
        for n in self.versions()[:-keep]:
            remove_tree(self.path(n), ignore_errors=True)

    def commit(self, write: Callable[[str], None], *, keep: int,
               version: int | None = None) -> int:
        """``write(dir)`` version ``version`` (default: live + 1), publish
        it, prune to ``keep``; returns the new version."""
        n = version if version is not None else (self.live() or 0) + 1
        write(self.path(n))
        self.publish(n)
        self.prune(keep)
        return n

    def drop(self) -> None:
        """Remove the store, pointer first: a reader sees the complete
        live version or no store at all."""
        remove(self.pointer)
        remove_tree(self.root, ignore_errors=True)
