"""Warehouse benchmark entry point.

    python3 perfbench/run.py --workload backfill --seed 1 --seconds 6 --trace 0

Run from the root of a checkout. Workloads (see NOTES.md):

- ``backfill``: empty warehouse → seeded ``thing_ids`` → fetch/process
  pipeline → full model DAG → readable ``game_profile``.
- ``daily_refresh``: a pre-built warehouse (set-up) → one refresh cycle:
  ~2% changed plus new games through ``pipeline.fetch_games`` and one
  ``incremental_dag_cycle``; the same delta is also loaded through the
  log-structured loader twins.

Both then serve their warehouse over ``service_http`` to closed-loop
HTTP clients for ``--seconds`` (at least ``READ_MIN_REQUESTS``), and
print the same end-to-end metrics (``--trace 0``) or per-layer metrics
from a traced run (``--trace 1``). The last stdout line is one
JSON object ``{"correct", "attempted", "failed", "metrics"}``; a failed
correctness check exits 1 after printing it. Scratch files go under
``.perfbench_work/`` in the checkout.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
WORK = os.path.join(REPO, ".perfbench_work")
DRIVER_MEM = "3g"  # below host RAM; the session default is 16g

N_BACKFILL = 60  # games in the backfill (one process batch)
N_REFRESH = 100  # games in the refresh workload's pre-built warehouse
FIXTURE_SEED = 0  # the pre-built warehouse is the same for every --seed
READ_CLIENTS_MAX = 4
READ_MIN_REQUESTS = 120  # p90 has >= 12 samples beyond it


def fixture_path() -> str:
    """Where the refresh fixture of this code lives: keyed by a hash of
    the engine's sources and the benchmark's, so a checkout of other code
    in the same tree builds its own."""
    h = hashlib.sha256()
    for top in (os.path.join(REPO, "bgg_data_warehouse_spark"), HERE):
        for base, dirs, files in os.walk(top):
            dirs[:] = sorted(d for d in dirs if d != "__pycache__" and not d.startswith("."))
            for f in sorted(files):
                if not f.endswith(".pyc"):
                    path = os.path.join(base, f)
                    h.update(os.path.relpath(path, REPO).encode() + b"\0")
                    with open(path, "rb") as fh:
                        h.update(fh.read())
    return os.path.join(WORK, "fixtures", f"refresh-{FIXTURE_SEED}-{N_REFRESH}-{h.hexdigest()[:16]}")


def environment() -> int:
    """Process environment the engine needs; returns the core count."""
    cpus = len(os.sched_getaffinity(0))
    # Spark's Python workers import the package from the checkout root
    # (bgg_xml.parse_responses runs mapInPandas on the workers)
    paths = [REPO, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    for d in (os.environ["SPARK_LOCAL_DIRS"], os.environ["TMPDIR"]):
        os.makedirs(d, exist_ok=True)
    sys.path[:0] = [REPO, HERE]
    return cpus


class PeakRss:
    """Samples the summed RSS of this process and all its descendants
    (the JVM and Spark's Python workers included)."""

    def __init__(self, interval: float = 0.2):
        self.interval, self.peak = interval, 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def _tree_rss(self) -> int:
        parent: dict[int, int] = {}
        for entry in os.listdir("/proc"):
            if entry.isdigit():
                try:
                    with open(f"/proc/{entry}/stat") as fh:
                        parent[int(entry)] = int(fh.read().rsplit(")", 1)[1].split()[1])
                except (OSError, IndexError, ValueError):
                    pass
        tree, frontier = {os.getpid()}, [os.getpid()]
        while frontier:
            p = frontier.pop()
            for child, pp in parent.items():
                if pp == p and child not in tree:
                    tree.add(child)
                    frontier.append(child)
        total = 0
        for pid in tree:
            try:
                with open(f"/proc/{pid}/statm") as fh:
                    total += int(fh.read().split()[1]) * self._page
            except (OSError, IndexError, ValueError):
                pass
        return total

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self.peak = max(self.peak, self._tree_rss())

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, self._tree_rss())


def log(msg: str) -> None:
    print(f"[perfbench {time.strftime('%H:%M:%S')}] {msg}", file=sys.stderr, flush=True)


def pct(values: list[float], q: float) -> float:
    return statistics.quantiles(values, n=100, method="inclusive")[q - 1] if len(values) > 1 else values[0]


class Outcome:
    """Operations attempted/failed and the checks that found wrong output."""

    def __init__(self):
        self.attempted = self.failed = 0
        self.errors: list[str] = []

    def add(self, errors: list[str], ops: int = 1, failed: int | None = None) -> None:
        self.attempted += ops
        self.failed += bool(errors) if failed is None else failed
        self.errors += errors


def start_spark(cpus: int):
    from bgg_data_warehouse_spark.session import get_spark

    return get_spark(
        "perfbench", cpus=cpus,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.environ['TMPDIR']}",
            "spark.sql.warehouse.dir": os.path.join(WORK, "spark-warehouse"),
        },
    )


def stop_spark(spark) -> None:
    """Stop the session and wait until its JVM (and with it Spark's
    Python workers) has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()  # the JVM exits on EOF from its parent
    gateway.proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None


def backfill_workload(spark, args, out: dict, outcome: Outcome, trace_on) -> None:
    import gen
    import warehouse

    corpus = gen.Corpus(args.seed, N_BACKFILL)
    client = warehouse.make_client(gen.FakeTransport(corpus))
    warehouse.seed_inputs(out["root"], corpus)
    out["setup_s"] = time.perf_counter() - out["t0"]
    trace_on()

    fetched, processed, out["ingest_s"] = warehouse.backfill(spark, out["root"], client)
    log(f"backfill {out['ingest_s']:.1f}s")
    outcome.add(warehouse.check_backfill(spark, out["root"], corpus, fetched, processed))
    out["landed"] = processed
    out["corpus"] = corpus
    parsed = set(corpus.parsed_ids())
    out["known"] = {"game": parsed, "features": parsed}


def refresh_workload(spark, args, out: dict, outcome: Outcome, trace_on) -> None:
    import gen
    import warehouse

    root, log_root = out["root"], os.path.join(WORK, "logged")
    corpus = gen.Corpus(FIXTURE_SEED, N_REFRESH)
    profiled = set(corpus.parsed_ids())  # game_profile is not rebuilt by the cycle
    shutil.rmtree(log_root, ignore_errors=True)
    shutil.copytree(os.path.join(out["fixture"], "warehouse"), root)
    shutil.copytree(os.path.join(out["fixture"], "logged"), log_root)
    client = warehouse.make_client(gen.FakeTransport(corpus))
    out["setup_s"] = time.perf_counter() - out["t0"]
    trace_on("cycle-0")

    changed, new, cycle_s = warehouse.refresh_cycle(spark, root, client, corpus, args.seed, 0)
    ids = changed + new
    log_store_s = warehouse.replay_logged(spark, log_root, corpus, ids, 0)
    out["ingest_s"] = cycle_s + log_store_s
    log(f"refresh cycle {cycle_s:.1f}s, logged replay {log_store_s:.1f}s")
    trace_on(None)
    errors = warehouse.check_cycle(spark, root, corpus, ids)
    errors += warehouse.check_incremental_equals_scratch(spark, root)
    errors += warehouse.check_logged(spark, root, log_root)
    outcome.add(errors)
    out["landed"] = warehouse.landed_games(spark, root, 0)
    out["corpus"] = corpus
    out["known"] = {"game": profiled, "features": set(corpus.parsed_ids())}


WORKLOADS = {"backfill": backfill_workload, "daily_refresh": refresh_workload}


def run(args) -> tuple[dict, Outcome]:
    """Run one workload, then the API read phase over its warehouse."""
    cpus = environment()
    import reads
    import spans

    out: dict = {"root": os.path.join(WORK, "warehouse"), "name": f"{args.workload}-seed{args.seed}"}
    if args.workload == "daily_refresh":
        out["fixture"] = fixture_path()
        if not os.path.isdir(out["fixture"]):
            # built once per checkout and code version, in its own process
            # so this run's cycle still meets a cold engine; a one-off
            # cost, so it is logged and kept out of setup_s
            t_fixture = time.perf_counter()
            subprocess.run([sys.executable, os.path.join(HERE, "fixture.py"), out["fixture"]],
                           check=True, timeout=600)
            log(f"refresh fixture built in {time.perf_counter() - t_fixture:.1f}s (not in setup_s)")
    out["t0"] = time.perf_counter()
    shutil.rmtree(out["root"], ignore_errors=True)
    t_session = time.perf_counter()
    spark = start_spark(cpus)
    out["session_s"] = time.perf_counter() - t_session
    log(f"session {out['session_s']:.1f}s")

    tracer = None
    if args.trace:
        tracer = spans.Tracer(spark)

    def trace_on(ctx: str | None = None) -> None:
        """Called once set-up is done (installs the wrappers), and to
        switch the cycle id spans are tagged with."""
        if tracer is not None:
            if not tracer.installed:
                spans.install(tracer)
            tracer.set_ctx(ctx)

    outcome = Outcome()
    out["tracer"] = tracer
    try:
        WORKLOADS[args.workload](spark, args, out, outcome, trace_on)
        log(f"setup {out['setup_s']:.1f}s; workload checked")
        rd = reads.read_phase(spark, out["root"], out["corpus"], out["known"], args.seed, args.seconds,
                              min(cpus, READ_CLIENTS_MAX), READ_MIN_REQUESTS, tracer is not None)
        log(f"reads: {rd['attempted']} in {rd['wall_s']:.1f}s")
        outcome.add(rd["errors"], ops=rd["attempted"], failed=rd["failed"])
        out["reads"] = rd
        out["warehouse_bytes"] = spans.dir_bytes(out["root"])
    finally:
        if tracer is not None:
            tracer.uninstall()
        stop_spark(spark)
    return out, outcome


def end_to_end(out: dict) -> dict:
    """Read figures cover successful requests only (0 if none succeeded)."""
    rd = out["reads"]
    lat = rd["latencies_ms"] or [0.0]
    return {
        "setup_s": (out["setup_s"], "s"),
        "ingest_s": (out["ingest_s"], "s"),
        "read_p50_ms": (statistics.median(lat), "ms"),
        "read_p90_ms": (pct(lat, 90), "ms"),
        "reads_per_s": (len(rd["latencies_ms"]) / rd["wall_s"], "req/s"),
        "warehouse_mb": (out["warehouse_bytes"] / 2**20, "MiB"),
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=4.0)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(REPO, "bgg_data_warehouse_spark")):
        print(f"engine package bgg_data_warehouse_spark not found under {REPO}", file=sys.stderr)
        return 2

    if args.trace:  # the sampler's /proc scans stay out of untraced runs
        with PeakRss() as rss:
            out, outcome = run(args)
        out["peak_rss_bytes"] = rss.peak
    else:
        out, outcome = run(args)

    metrics = end_to_end(out)
    if args.trace:
        import layers

        # the traced run's own end-to-end figures: their difference from
        # an untraced run of the same seed is the tracing overhead
        print("traced end-to-end: " + ", ".join(f"{k}={v:.4f}" for k, (v, _) in metrics.items()))
        metrics = layers.per_layer(out)
    attempted, failed = outcome.attempted, outcome.failed
    correct = not outcome.errors

    print(f"workload={args.workload} seed={args.seed} trace={args.trace}")
    for name, (value, unit) in metrics.items():
        print(f"  {name:<44} {value:12.4f} {unit}")
    rd = out["reads"]
    print(f"  failed_ratio {failed}/{attempted} = {failed / attempted:.4f} "
          f"(transport errors on reads: {rd['transport_errors']} of {rd['attempted']})")
    for e in outcome.errors[:20]:
        print(f"  CHECK FAILED: {e}")
    print(json.dumps({
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
