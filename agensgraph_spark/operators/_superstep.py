"""One superstep loop for the iterative graph operators (Pregelix's
uniform superstep dataflow, VLDB 2014, as a driver loop). It owns the
policies they share: how iteration state is pinned (`pin`), how
lineage is truncated (`truncate`), in which rounds (`supersteps`), and
what a round budget below 1 (`check_budget`) or a spent one does. No
other module of the package persists, unpersists or checkpoints a
frame itself. A step ``step(state, i, cut)`` builds round ``i``'s
state and passes each frame that needs truncating through ``cut``.

Loops that keep their own driver code:

- `paths.vle_expand`, `bfs_shortest`, `dijkstra_paths`: they reuse
  frontier counts as broadcast hints and drain probes, and Dijkstra
  exits at a proven depth — `graph_cypher`'s hot path; they take
  `pin`, `truncate`, `check_budget` and ``_CHECKPOINT_EVERY``.
- `similarity.train_ivf_centroids`: a driver-side collect loop over a
  NumPy matrix, with no lineage to truncate.
- `strongly_connected_components`' trim: an unbounded peel-to-fixpoint
  inside each settle round, which a round budget would only restate;
  it truncates through the settle round's ``cut``.

Each operator refuses a round budget below 1 with `check_budget`
before it does any work, so `supersteps` assumes ``rounds >= 1``.
"""

from __future__ import annotations

import logging
from contextlib import contextmanager
from functools import partial
from typing import Any, Callable, Iterator

from pyspark import StorageLevel
from pyspark.sql import DataFrame

log = logging.getLogger(__name__)

# Rounds between the cuts of sparse loops and between the VLE frontier
# checkpoints. Read at call time so tests can flip it.
_CHECKPOINT_EVERY = 6

# (conf value, resulting SparkContext directory) of the reliable
# checkpoint directory `truncate` set last
_dir_set: tuple[str, str] | None = None


def truncate(df: DataFrame, eager: bool = True) -> DataFrame:
    """``df`` with its lineage cut: ``localCheckpoint`` by default —
    fastest, but its blocks do NOT survive executor loss. With the
    engine conf ``spark.agensgraph.checkpointDir`` set to a reliable
    (HDFS / object-store) path, reliable ``DataFrame.checkpoint`` into
    it, re-applied whenever the conf names another directory (one
    pre-set with ``setCheckpointDir`` outside `truncate` is respected).
    ``eager=False`` stores a local checkpoint at the first action that
    reads it (under AQE, building it still runs its shuffle-map
    stages). Reliable cuts are always eager, one write per generation:
    a lazy one is not persisted, and Spark writes only the nearest
    marked ancestor of a job, so earlier generations would go
    unwritten."""
    global _dir_set
    spark = df.sparkSession
    d = spark.conf.get("spark.agensgraph.checkpointDir", "")
    if d:
        sc = spark.sparkContext
        cur = sc.getCheckpointDir()
        if cur is None or (_dir_set is not None and cur == _dir_set[1]
                           and d != _dir_set[0]):
            sc.setCheckpointDir(d)
            _dir_set = (d, sc.getCheckpointDir())
        return df.checkpoint()
    return df.localCheckpoint(eager=eager)


@contextmanager
def pin(df: DataFrame) -> Iterator[DataFrame]:
    """``df`` persisted for the ``with`` block (MEMORY_AND_DISK, so
    oversized state spills instead of failing) and released
    (non-blocking) when the block exits, also when it raises. A frame
    the block returns must not read the pin lazily: cut it
    (`truncate`) inside the block."""
    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        yield df
    finally:
        df.unpersist(blocking=False)


def check_budget(op: str, budget: str, rounds: int) -> None:
    """Refuse a round budget below 1; ``op`` and ``budget`` (the name
    of the round-count argument) label the message."""
    if rounds < 1:
        raise ValueError(f"{op}: {budget}={rounds} must be at least 1")


def supersteps(
    op: str,
    budget: str,
    rounds: int,
    state: Any,
    step: Callable[[Any, int, Callable[[DataFrame], DataFrame]], Any],
    until: Callable[[Any, Any], bool] | None = None,
    *,
    sparse: bool = False,
    strict: bool = False,
) -> Any:
    """Run ``step`` from ``state`` for up to ``rounds`` rounds and
    return the last state; ``op`` and ``budget`` (the name of the
    round-count argument) label the messages.

    Without ``until`` the round count is fixed and ``cut`` truncates
    lazily in every round but the last — or, when ``sparse``, eagerly
    in every ``_CHECKPOINT_EVERY``-th round but the last, so runs up to
    that long keep one closed-form plan an SQL oracle replays. With the
    count-based stop rule ``until(old, new)``, ``cut`` truncates lazily
    in every round (the rule's count materializes the generation in
    the same job) and the loop ends once the rule holds; a spent budget
    warns that the result is partial, or raises ``RuntimeError`` when
    ``strict`` (a partial result that would be silently wrong)."""
    for i in range(rounds):
        if ((until is None and i + 1 == rounds)
                or (sparse and (i + 1) % _CHECKPOINT_EVERY)):
            cut = _unchanged
        else:
            cut = truncate if sparse else partial(truncate, eager=False)
        new = step(state, i, cut)
        if until is not None and until(state, new):
            return new
        state = new
    if until is not None:
        msg = f"{op}: {budget}={rounds} reached before the fixpoint"
        if strict:
            raise RuntimeError(f"{msg}; raise {budget}")
        log.warning("%s — the result is partial", msg)
    return state


def _unchanged(df: DataFrame) -> DataFrame:
    return df
