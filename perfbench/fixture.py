"""Build the refresh workload's pre-built warehouse in its own process.

    python3 perfbench/fixture.py <path>

``run.py`` calls this once per checkout and code version (the path
carries a hash of the sources), so the refresh run that finds no fixture
still times its cycle on a cold engine like every later run.
The fixture is the state a real backfill leaves (``warehouse/``) plus
the log-structured loader twins seeded from it (``logged/``).
"""

from __future__ import annotations

import os
import sys
import uuid

import run


def main(path: str) -> None:
    cpus = run.environment()
    import gen
    import warehouse

    corpus = gen.Corpus(run.FIXTURE_SEED, run.N_REFRESH)
    staging = f"{path}.tmp-{uuid.uuid4().hex[:8]}"
    spark = run.start_spark(cpus)
    try:
        root = os.path.join(staging, "warehouse")
        warehouse.seed_inputs(root, corpus)
        warehouse.backfill(spark, root, warehouse.make_client(gen.FakeTransport(corpus)))
        warehouse.init_logged(spark, root, os.path.join(staging, "logged"))
    finally:
        run.stop_spark(spark)
    os.rename(staging, path)


if __name__ == "__main__":
    main(sys.argv[1])
