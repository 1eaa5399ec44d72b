"""Write-once artifact cache shared by every registry builder.

A builder persists a derived table (an index, a layout, a replay dir) once
per (inputs, parameters, code) so later calls read it back instead of
recomputing it. :func:`cached_artifact` is the one place that decides

- the key: each source file's (path, size, mtime_ns), the uid, the
  builder's parameters and the source of the code that writes it;
- the location: ``<gettempdir()>/frde_<kind>_<tag>``;
- completeness: an artifact is complete exactly when that directory
  exists;
- publication: ``build`` writes into a sibling scratch dir that is renamed
  into place in one step — the commit discipline of Structured Streaming's
  sink log (SIGMOD'18). A reader never sees a half-written artifact, and a
  crashed or concurrent builder never damages a finished one.
"""

from __future__ import annotations

import hashlib
import inspect
import os
import shutil
import tempfile
import uuid
from typing import Callable, Iterable

# Part of every tag. Change it whenever the on-disk protocol changes, so a
# directory an older protocol left behind (say, half-written in place and
# completed by a marker file) never counts as complete under this one.
_LAYOUT = "publish-by-rename-v1"


def _code_tag(*fns) -> str:
    """8-hex code-version token: the md5 of the given functions' SOURCE,
    so an algorithm change invalidates the persisted artifact even though
    the input fixture's size/mtime did not move."""
    parts = []
    for fn in fns:
        try:
            parts.append(inspect.getsource(fn))
        except (OSError, TypeError):
            # Stable fallback — repr() embeds the process memory address
            # and would defeat the cache every run in any source-less
            # environment.
            parts.append(f"{getattr(fn, '__module__', '')}."
                         f"{getattr(fn, '__qualname__', repr(type(fn)))}")
    return hashlib.md5("\x00".join(parts).encode()).hexdigest()[:8]


def cached_artifact(kind: str, sources: Iterable[str], params,
                    code: tuple, build: Callable[[str], object]) -> str:
    """Return the directory of the ``kind`` artifact for these inputs,
    building it first if no complete one exists.

    ``sources`` are the input files the artifact derives from; ``params``
    is anything with a stable ``repr`` that changes the output; ``code``
    (required, non-empty) holds the builder and every helper whose source
    decides the written bytes. ``build(scratch)`` writes the artifact into
    the empty directory ``scratch``. Concurrent builders of one artifact
    each build privately; the first rename wins and the rest discard their
    scratch, which is safe because equal keys build equal artifacts."""
    if not code:
        raise ValueError("cached_artifact needs the builder's code to key on")
    parts = [_LAYOUT, kind, str(os.getuid()), repr(params), _code_tag(*code)]
    for src in sources:
        st = os.stat(src)
        parts.append(f"{src}:{st.st_size}:{st.st_mtime_ns}")
    tag = hashlib.md5("\x00".join(parts).encode()).hexdigest()[:12]
    out = os.path.join(tempfile.gettempdir(), f"frde_{kind}_{tag}")
    if os.path.isdir(out):
        return out
    scratch = f"{out}.build-{uuid.uuid4().hex}"
    os.mkdir(scratch)
    try:
        build(scratch)
        try:
            os.rename(scratch, out)
        except OSError:
            if not os.path.isdir(out):
                raise
            # A concurrent builder published first.
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    return out
