"""Driver-side job overlap (guide §2.6: "Overlap independent jobs").

Spark's scheduler happily runs several jobs at once inside one
application; actions are only sequential because driver code calls them
sequentially. Entries that materialize several INDEPENDENT frames (two
sketch builds, per-half register tables, gate frames) submit them from a
small thread pool so the later job's tasks back-fill executors freed by
the earlier job's tail instead of waiting for it to finish entirely.

Results are unchanged — each thunk is the same action it would have been
sequentially; only the wall-clock overlap differs. Job descriptions are
thread-local in Spark, so per-thread labels stay correct. 2-3 jobs in
flight is plenty (the guide's guidance verbatim); callers here never pass
more than a handful of thunks.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor
from typing import Any, Callable

_MAX_IN_FLIGHT = 3


def run_jobs(*thunks: Callable[[], Any]) -> list[Any]:
    """Run each thunk (a callable performing a Spark action and returning
    its result frame/value) concurrently; return their results in input
    order. Exceptions propagate (the first raising future re-raises)."""
    if len(thunks) <= 1:
        return [t() for t in thunks]
    with ThreadPoolExecutor(max_workers=min(_MAX_IN_FLIGHT, len(thunks))) as pool:
        futures = [pool.submit(t) for t in thunks]
        return [f.result() for f in futures]
