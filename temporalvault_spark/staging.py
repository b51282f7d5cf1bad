"""Session-rooted staged artifacts: one primitive for every derived copy.

A staged artifact is a directory derived from one or more source tables of
a catalog directory — shingle signatures, near-dup pair frames, the
persisted band/centroid indexes, trade edges, the trained BPE and k-means
tables, the z-ordered and compacted events copies, the snapshot vault. All
of them live under ONE per-SparkSession root with a single teardown:

    {tmp}/tv_stage_{applicationId}_XXXX/<label>_XXXX/<label>

``artifact(spark, label, sf_dir, tables, build, force)`` owns the whole
cache decision:

- the key is ``(label, fingerprint(spark, sf_dir, tables))`` — the
  application id, the normalized directory and each source table's
  (mtime_ns, size) — so rewriting a source at the same path re-stages
  instead of serving a stale copy;
- the path for a key is stable for the session's life; a directory that
  vanished (``cleanup_staging`` ran, or the tmp reaper) re-stages, so an
  early cleanup costs a rebuild, never a wrong answer;
- ``build(tmp)`` writes a SIBLING directory that ``atomic_swap_rebuild``
  renames into place. A build that raises partway — including between a
  data write and its sidecar write — leaves the previous artifact whole,
  readable and still returned; no reader ever scans a half-overwritten
  directory.

``force=True`` rebuilds even when the artifact exists (the ``*_stage`` and
``*_index_build`` queries bench the build that way). ``artifact_path`` is
the keyed lookup alone, for callers that rebuild a private directory
themselves (the index-rebuild scenarios).
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
from collections.abc import Callable, Sequence

from pyspark.sql import SparkSession

# appId -> session staging root (one root per SparkSession lifetime)
_ROOTS: dict[str, str] = {}
_ATEXIT_REGISTERED = False
# (label, *fingerprint) -> the artifact's stable path
_PATHS: dict[tuple, str] = {}


def staging_root(spark: SparkSession) -> str:
    """The session's staging root, created on first use and removed at
    interpreter exit (or by an explicit cleanup_staging())."""
    global _ATEXIT_REGISTERED
    app = spark.sparkContext.applicationId
    root = _ROOTS.get(app)
    if root is None or not os.path.isdir(root):
        root = tempfile.mkdtemp(prefix=f"tv_stage_{app}_")
        _ROOTS[app] = root
        if not _ATEXIT_REGISTERED:
            atexit.register(cleanup_staging)
            _ATEXIT_REGISTERED = True
    return root


def stage_dir(spark: SparkSession, label: str) -> str:
    """A fresh unique directory under the session root for one staged
    artifact. ``label`` names it for humans inspecting tmp."""
    return tempfile.mkdtemp(prefix=f"{label}_", dir=staging_root(spark))


def cleanup_staging(spark: SparkSession | None = None) -> None:
    """Remove staging roots: the given session's, or every known root when
    called without one (the atexit form). Safe to call repeatedly; staged
    artifacts re-stage on their next use."""
    if spark is not None:
        app = spark.sparkContext.applicationId
        roots = [(app, _ROOTS[app])] if app in _ROOTS else []
    else:
        roots = list(_ROOTS.items())
    for app, root in roots:
        shutil.rmtree(root, ignore_errors=True)
        _ROOTS.pop(app, None)


def fingerprint(spark: SparkSession, sf_dir: str, tables: Sequence[str]) -> tuple:
    """(appId, normalized dir, ((table, mtime_ns, size), ...)) over each
    ``<table>.parquet`` in ``sf_dir``. A directory-style table folds every
    data file in (newest mtime, total size); a missing one reads (0, 0)."""
    sigs = []
    for t in tables:
        p = os.path.join(sf_dir, f"{t}.parquet")
        mtime_ns, size = 0, 0
        if os.path.isdir(p):
            for root, _dirs, files in os.walk(p):
                for fn in files:
                    st = os.stat(os.path.join(root, fn))
                    mtime_ns = max(mtime_ns, st.st_mtime_ns)
                    size += st.st_size
        elif os.path.exists(p):
            st = os.stat(p)
            mtime_ns, size = st.st_mtime_ns, st.st_size
        sigs.append((t, mtime_ns, size))
    return (spark.sparkContext.applicationId, os.path.normpath(sf_dir), tuple(sigs))


def artifact_path(
    spark: SparkSession, label: str, sf_dir: str, tables: Sequence[str]
) -> str:
    """The stable staged path for ``label`` over ``tables`` of ``sf_dir``:
    the same path for as long as the sources and the session root last, a
    fresh one otherwise. Its parent exists; the path itself may not."""
    key = (label, *fingerprint(spark, sf_dir, tables))
    path = _PATHS.get(key)
    if path is None or not os.path.isdir(os.path.dirname(path)):
        path = os.path.join(stage_dir(spark, label), label)
        _PATHS[key] = path
    return path


def artifact(
    spark: SparkSession,
    label: str,
    sf_dir: str,
    tables: Sequence[str],
    build: Callable[[str], None],
    force: bool = False,
) -> str:
    """Return the staged artifact's path, building it with ``build(tmp)``
    when forced or absent; the build is swapped in atomically."""
    path = artifact_path(spark, label, sf_dir, tables)
    if force or not os.path.isdir(path):
        atomic_swap_rebuild(path, build)
    return path


def adopt_swapped(path: str) -> bool:
    """Adopt-on-read recovery for the ``atomic_swap_rebuild`` crash window:
    the swap is two renames (``path`` -> ``path.old`` then
    ``path.rebuild`` -> ``path``), and a crash BETWEEN them leaves no index
    at ``path`` while the complete old index sits untouched at
    ``path.old``. Without recovery the streaming gates' ``index_ready``
    would read that as no-index and silently cold-rebuild from a single
    batch — permanently losing dedup coverage against the historic corpus.
    So every sidecar read first checks for exactly that signature (nothing
    at ``path``, a directory at ``path.old``) and renames the old index
    back. A leftover ``path.old`` NEXT TO a live index (crash after the
    second rename, before the cleanup rmtree) is NOT adopted — the new
    index won — and is removed here (completing the crashed cleanup):
    letting it linger would let a LATER external deletion of the live
    index silently resurrect the stale pre-rebuild index instead of
    tripping the gates' markers-without-index guard. Cross-PROCESS races
    (a reader adopting while a live rebuild sits between its two renames)
    are handled on the writer side: atomic_swap_rebuild retries its second
    rename after re-parking an adopted directory."""
    old = f"{path}.old"
    if os.path.isdir(old):
        if not os.path.exists(path):
            try:
                os.rename(old, path)
                return True
            except OSError:
                pass  # racing reader already adopted it — path now exists
        else:
            # stale .old beside a live index: finish the crashed rmtree so
            # it can never be adopted after a future deletion of path
            shutil.rmtree(old, ignore_errors=True)
    return False


def atomic_swap_rebuild(path: str, build_to: Callable[[str], None]) -> None:
    """Build a replacement into a SIBLING directory and rename-swap it in
    (the rollback_state swap precedent): readers racing the rebuild see
    either the old directory or the new one, never a mixture, and a build
    that raises leaves the old one untouched. With nothing at ``path`` yet
    the sibling is simply renamed into place. The swap itself is two
    renames, so a crash exactly between them leaves nothing at ``path`` and
    the complete old directory at ``path.old`` — that window is repaired by
    ``adopt_swapped``, which every index sidecar read (and this function's
    own entry) runs first, so the next touch renames the old one back
    instead of reading it as vanished."""
    tmp_new, tmp_old = f"{path}.rebuild", f"{path}.old"
    adopt_swapped(path)  # a crashed prior swap: restore before rebuilding
    shutil.rmtree(tmp_new, ignore_errors=True)
    shutil.rmtree(tmp_old, ignore_errors=True)
    build_to(tmp_new)
    if os.path.exists(path):
        os.rename(path, tmp_old)
    # a cross-process reader can adopt tmp_old back into path between the
    # two renames (adopt_swapped cannot tell that crash signature from a
    # LIVE swap); re-park it and retry — each retry empties path again, so
    # this converges unless readers adopt continuously (bounded attempts,
    # then raise rather than spin)
    for attempt in range(5):
        try:
            os.rename(tmp_new, path)
            break
        except OSError:
            os.rename(path, tmp_old)
    else:
        raise OSError(
            f"atomic_swap_rebuild: could not swap {path} after 5 attempts — "
            "a racing reader keeps adopting the old index; serialize "
            "rebuilds against probes (external lock) and retry"
        )
    shutil.rmtree(tmp_old, ignore_errors=True)
