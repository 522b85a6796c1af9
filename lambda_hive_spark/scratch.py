"""Scratch space: the one module that knows where scratch lives and how
long it lasts, so scratch grows with the number of ops, not of calls.
The root is `$SPARK_GRAFT_SCRATCH`, read per call, else `<checkout>/.tmp`.
`named` is a fixed path under it; `fresh` wipes that path at the op's
start (lake tables, orchestration nodes, stream sinks and checkpoints);
stamped derivations of fixture files are rebuilt only when a fixture
changes (`scratch_stale`, `mark_scratch_fresh`, `clear_scratch`).

CONSUMER CONTRACT (ADVICE r6), for every side-effect op: the DataFrame
it returns may read lazily from a dir that the NEXT invocation of the
same op wipes. Collect (or copy) the result BEFORE re-invoking the op;
a plan held across invocations fails with FILE_NOT_FOUND when finally
executed. `tools/verify_driver.py` and the tests follow this, and so do
real schedulers: a node owns its output location and its next run
overwrites it — readers that need stability pin a lake version.
"""

from __future__ import annotations

import json
import os
import shutil

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def root() -> str:
    return os.environ.get("SPARK_GRAFT_SCRATCH", os.path.join(_REPO, ".tmp"))


def named(name: str) -> str:
    base = root()
    os.makedirs(base, exist_ok=True)
    return os.path.join(base, name)


def fresh(name: str) -> str:
    path = named(name)
    clear_scratch(path)
    return path


def _fixture_stamp(*fixtures: str) -> list[list]:
    return [[f, os.path.getsize(f), os.path.getmtime(f)] for f in sorted(fixtures)]


def _stamp_path(scratch_dir: str) -> str:
    """Where a scratch dir's freshness stamp lives: NEXT to the dir, as
    overwrite-mode writes clear the dir itself."""
    return scratch_dir.rstrip("/") + ".stamp"


def clear_scratch(scratch_dir: str) -> None:
    """Remove a scratch dir AND its stamp, so the next scratch_stale()
    is True."""
    shutil.rmtree(scratch_dir, ignore_errors=True)
    try:
        os.remove(_stamp_path(scratch_dir))
    except OSError:
        pass


def scratch_stale(scratch_dir: str, *fixtures: str) -> bool:
    """True when a cached derivation of `fixtures` must be rebuilt: the
    dir is missing/empty, or a fixture's (size, mtime) changed since
    `mark_scratch_fresh` last ran. Fixtures are regenerated between
    rounds (ADVICE r3 item 1), so existence alone is not a valid cache
    key."""
    try:
        with open(_stamp_path(scratch_dir)) as fh:
            return not (
                json.load(fh) == _fixture_stamp(*fixtures)
                and os.path.isdir(scratch_dir)
                and os.listdir(scratch_dir)
            )
    except (OSError, ValueError):
        return True


def mark_scratch_fresh(scratch_dir: str, *fixtures: str) -> None:
    """Record the fixture fingerprint AFTER a successful rebuild (a
    rebuild that dies midway leaves no stamp → retried next call)."""
    with open(_stamp_path(scratch_dir), "w") as fh:
        json.dump(_fixture_stamp(*fixtures), fh)
