"""Shared machinery for iterative (multi-job) operators.

Connected components, PageRank and k-means all run a loop of small
*independent* Spark jobs over state tables that are orders of magnitude
smaller than the session's input data. AQE coalesces partitions within
one query, but each loop round is its own job whose shuffle width would
otherwise stay at the session default — at sf0.1 that is 32 tasks of a
few thousand rows each, pure scheduling overhead (measured 7.5 s → 5.7 s
for the CC star loop, 89.7 s → 7.2 s combined with the fused rewrite in
round 3; the same fix applied to pagerank in round 4).

No reference counterpart: the reference's BigQuery DAG has no iterative
operators (`/root/reference/definitions/` is single-pass SQLX); this
supports the LLM-pipeline graph extensions (operators/components.py,
operators/pagerank.py).
"""

from __future__ import annotations

from contextlib import contextmanager

# Largest relation (super-graph edges, vocabulary, word table) an
# iterative operator solves on the driver in one collect; past it the
# distributed loop runs (components, bpe, wordpiece).
DRIVER_SOLVE_MAX = 200_000


def iteration_width(n_rows: int) -> int:
    """Shuffle width sized to an iteration's actual data volume.

    Floor of 8 keeps local[32] busy enough on tiny fixtures; on a real
    cluster 500k rows per partition ties width to data, not to whatever
    ``spark.sql.shuffle.partitions`` the session inherited.
    """
    return max(8, n_rows // 500_000 + 1)


@contextmanager
def iteration_shuffle_width(spark, n_rows: int):
    """Temporarily size ``spark.sql.shuffle.partitions`` to the loop's
    data volume. Only ever *shrinks* below the session width: sizing UP
    for 100 TB inputs is the session's job (tune_session / cluster
    conf), not a per-operator guess. Restored on exit; not safe under
    concurrent queries on the same session (the driver/bench contract
    runs queries sequentially).

    Note this only affects jobs *executed inside* the ``with`` block —
    Spark reads the conf at action time, so a lazily returned DataFrame
    collected later still plans at the session width. Iterative
    operators therefore materialize each round eagerly
    (``localCheckpoint(eager=True)`` / scalar collects) inside the
    scope.
    """
    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    target = iteration_width(n_rows)
    try:
        if target < int(before):
            spark.conf.set(key, str(target))
        yield
    finally:
        spark.conf.set(key, before)
