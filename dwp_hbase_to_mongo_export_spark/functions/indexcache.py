"""Shared-fixture durable-store cache: placement, build serialization
and the one reuse rule.

The indexed queries (bm25_indexed, dedup_incremental_indexed,
dedup_edit_indexed, dedup_spans_indexed[_normalised]) and the recovery
drill persist their store once per fixture and reuse it only while the
fingerprint stamped in its meta matches the source's CONTENT
fingerprint (``cached_store``; the fingerprint must describe the
artifact's content for cross-session reuse to be correct). Two hazards
follow from caching under a fixed world-readable temp path (round-9
advice):

* **multi-user collision** — /tmp is shared, so two users running the
  suite over the same fixture basename would fight over one directory
  (and the second user may not even have write permission to the
  first's files). Fix: the cache root is keyed by ``getpass.getuser()``.
* **build-vs-build / read-during-build race** — two concurrent sessions
  over the same fixture (tools/spill_drill.py runs this query in a
  constrained AND an unconstrained session; tools/scale_sweep.py too)
  can both see a missing/stale fingerprint and race a rebuild against a
  query, so readers hit the loud-but-flaky ``_build-pending`` refusal
  mid-build. Fix: the fingerprint check + build runs under an exclusive
  ``flock`` on a sidecar lockfile — the second session blocks until the
  first's build commits, re-checks the fingerprint, sees it stamped,
  and skips its own build. (The query itself stays outside the lock:
  after a committed build, sessions over an UNCHANGED fixture never
  rebuild, so there is nothing left to race; regenerating the fixture
  underneath live queries is out of contract.)
"""

from __future__ import annotations

import contextlib
import getpass
import os
import shutil
import tempfile
from typing import Callable


def user_cache_dir(version_token: str, sf_dir: str) -> str:
    """Per-user durable-index cache directory for a fixture: the
    version token pins the artifact LAYOUT (bump on schema change), the
    user key prevents cross-user collisions on shared hosts, and the
    fixture basename separates scale factors. Content staleness is
    ``cached_store``'s fingerprint check, not the path's concern."""
    return os.path.join(
        tempfile.gettempdir(),
        f"{version_token}_{getpass.getuser()}",
        os.path.basename(sf_dir.rstrip("/")),
    )


@contextlib.contextmanager
def build_lock(path: str):
    """Exclusive advisory lock serializing the fingerprint-check+build
    critical section for the index at ``path``. POSIX ``flock`` on a
    sidecar file, so it works across processes (the concurrent-session
    scenario) and is released by the OS even if the holder dies — a
    crashed build leaves the store's own ``_build-pending`` marker, not
    a wedged lock."""
    import fcntl

    os.makedirs(os.path.dirname(path), exist_ok=True)
    fd = os.open(path + ".lock", os.O_CREAT | os.O_RDWR, 0o600)
    try:
        fcntl.flock(fd, fcntl.LOCK_EX)
        yield
    finally:
        fcntl.flock(fd, fcntl.LOCK_UN)
        os.close(fd)


def cached_store(
    spark,
    sf_dir: str,
    table: str,
    token: str,
    spec,
    build: Callable[..., None],
) -> str:
    """The durable store for ``sf_dir``'s ``table`` under the version
    ``token``: reused while ``spec``'s stamped fingerprint equals the
    source's, else removed and rebuilt as ``build(table_df, path, fp)``.
    A torn, build-pending, unreadable or unstamped artifact reads as no
    fingerprint (storeprotocol.stored_fingerprint), so it rebuilds too.
    The check and build run under ``build_lock``."""
    from ..operators import storeprotocol
    from ..sources.parquet import load_table
    from .fingerprint import source_fingerprint

    fp = source_fingerprint(os.path.join(sf_dir, f"{table}.parquet"))
    path = user_cache_dir(token, sf_dir)
    with build_lock(path):
        if storeprotocol.stored_fingerprint(spec, spark, path) != fp:
            shutil.rmtree(path, ignore_errors=True)
            build(load_table(spark, sf_dir, table), path, fp)
    return path
