"""Warehouse phases of the benchmark: backfill, refresh cycle, the
logged-loader replay, and their correctness checks.

Every call goes through the engine's public entry points (``pipeline``,
``io``, ``plans.dag``, ``streaming.incremental``, ``readers``); the
inputs come from :mod:`gen` only. Engine functions are called through
their modules (``incremental.incremental_dag_cycle``, not a name bound
at import) so the traced run's wrappers see every call.
"""

from __future__ import annotations

import os
import time
from datetime import timedelta
from functools import reduce

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

import gen
from bgg_data_warehouse_spark import io, pipeline, schemas
from bgg_data_warehouse_spark.plans.dag import ModelDag
from bgg_data_warehouse_spark.readers import GameReader
from bgg_data_warehouse_spark.sources import bgg_xml
from bgg_data_warehouse_spark.sources.api_client import BGGApiClient, RateLimiter, land_responses
from bgg_data_warehouse_spark.streaming import incremental

READER_TABLES = [
    "game_profile", "games_features", "player_count_recommendations", "bgg_predictions",
    "bgg_game_coordinates", "fetched_responses", "game_neighbors", "game_similarity_search",
]
# tables the refresh replay also loads through the log-structured loader
# twins: one dimension (S6 insert-if-absent), one bridge (S7 delete+insert)
LOGGED = {"categories": ["category_id"], "game_mechanics": ["game_id"]}
LOGGED_DIMS = {"categories"}
# a refresh cycle rebuilds the incrementally maintained models
# (games_active, games_features); the full-rebuild tables, game_profile
# included, are left to the full build the backfill times
REFRESH_TARGETS = ["games_features"]
REFRESH_TARGETS_CHECKED = ["games_active", "games_features"]


LANDING = {
    "ml_predictions_landing": schemas.ML_PREDICTIONS_LANDING,
    "game_embeddings": schemas.GAME_EMBEDDINGS_LANDING,
    "description_embeddings": schemas.GAME_EMBEDDINGS_LANDING,
    "game_coordinates": schemas.GAME_COORDINATES_LANDING,
    "collection_predictions_landing": schemas.COLLECTION_PREDICTIONS_LANDING,
    "collection_models_registry": schemas.COLLECTION_MODELS_REGISTRY,
}


def make_client(transport):
    """BGG client over the fake transport; the rate limiter gets a no-op
    clock and sleep so the 2 req/s ceiling does not hide the engine."""

    return BGGApiClient(
        transport=transport,
        rate_limiter=RateLimiter(clock=lambda: 0.0, sleep=lambda s: None),
        sleep=lambda s: None,
    )


def _arrow_type(dt):

    simple = {T.LongType: pa.int64(), T.DoubleType: pa.float64(), T.StringType: pa.string(),
              T.BooleanType: pa.bool_(), T.TimestampType: pa.timestamp("us", tz="UTC")}
    if isinstance(dt, T.ArrayType):
        return pa.list_(_arrow_type(dt.elementType))
    return simple[type(dt)]


def write_input(root: str, name: str, rows: list[dict], schema) -> None:
    """Land an upstream input table (one parquet file, the engine's
    schema) the way an external producer would: without the engine."""

    arrow = pa.schema([pa.field(f.name, _arrow_type(f.dataType), f.nullable) for f in schema.fields])
    os.makedirs(os.path.join(root, name), exist_ok=True)
    pq.write_table(pa.Table.from_pylist(rows, schema=arrow), os.path.join(root, name, "part-00000.parquet"))


def seed_inputs(root: str, corpus: gen.Corpus) -> None:
    """Land the backfill's upstream inputs: ``thing_ids`` (the id
    sitemap) and the ML landing tables (the scoring jobs' output)."""

    ids = [
        {"game_id": g, "type": "boardgame", "processed": False, "process_timestamp": None,
         "source": "perfbench", "load_timestamp": gen.T0}
        for g in corpus.game_ids
    ]
    write_input(root, "thing_ids", ids, schemas.THING_IDS)
    for name, rows in corpus.landing_rows().items():
        write_input(root, name, rows, LANDING[name])


def dag_inputs(spark, root: str) -> dict:
    """Core + landing tables as the model DAG reads them."""

    names = list(schemas.CORE_TABLES) + list(LANDING)
    return {n: io.read_table(spark, root, n) for n in names if io.table_exists(root, n)}


def reader(spark, root: str):

    return GameReader({n: io.read_table(spark, root, n) for n in READER_TABLES})


# -- backfill -----------------------------------------------------------


def backfill(spark, root: str, client) -> tuple[int, int, float]:
    """Seeded ids → fetched, processed, fully built and queryable
    ``game_profile``. Returns (fetched, processed, seconds)."""

    t0 = time.perf_counter()
    fetched, processed = pipeline.fetch_new_games(spark, root, client, now=gen.T0)
    ModelDag().run_persisted(spark, dag_inputs(spark, root), root)
    io.read_table(spark, root, "game_profile").select("game_id").collect()
    return fetched, processed, time.perf_counter() - t0


def check_backfill(spark, root: str, corpus: gen.Corpus, fetched: int, processed: int) -> list[str]:

    errors = []
    parsed = corpus.parsed_ids()
    if (fetched, processed) != (len(corpus.game_ids), len(parsed)):
        errors.append(f"fetch_new_games returned {(fetched, processed)}, "
                      f"expected {(len(corpus.game_ids), len(parsed))}")
    expected = gen.expected_core_counts(corpus)
    counts = reduce(DataFrame.unionByName, [
        io.read_table(spark, root, name).select(F.lit(name).alias("t"), F.count("*").alias("n"))
        for name in expected
    ])
    got = dict(counts.collect())
    for name, want in expected.items():
        if got[name] != want:
            errors.append(f"{name}: {got[name]} rows, generator predicts {want}")
    prof = [r.game_id for r in io.read_table(spark, root, "game_profile").select("game_id").collect()]
    if sorted(prof) != parsed:
        errors.append(f"game_profile has {len(prof)} rows, expected one per parsed game ({len(parsed)})")
    return errors


# -- daily refresh ------------------------------------------------------


def refresh_cycle(spark, root: str, client, corpus: gen.Corpus, seed: int, cycle: int):
    """Land ~2% changed games plus a few new ones, run one incremental
    DAG cycle, and read the refreshed feature rows back. Returns
    (changed, new, seconds)."""

    changed, new = corpus.change_set(seed, cycle)
    now = gen.T0 + timedelta(days=cycle + 1)
    t0 = time.perf_counter()
    pipeline.fetch_games(spark, root, client, changed + new, now=now)
    incremental.incremental_dag_cycle(spark, ModelDag(), dag_inputs(spark, root), root,
                                      targets=REFRESH_TARGETS)
    feats = io.read_table(spark, root, "games_features")
    feats.where(feats.game_id.isin(changed + new)).collect()
    return changed, new, time.perf_counter() - t0


def landed_games(spark, root: str, cycle: int) -> int:
    """``games`` rows the refresh cycle landed."""
    ts = gen.T0 + timedelta(days=cycle + 1)
    return io.read_table(spark, root, "games").where(F.col("load_timestamp") == F.lit(ts)).count()


def expected_values(corpus: gen.Corpus, gid: int) -> tuple[str, float]:
    item = corpus.item(gid)
    name = item["name"][0] if isinstance(item["name"], list) else item["name"]
    return name["@value"], float(item["statistics"]["ratings"]["bayesaverage"]["@value"])


def check_cycle(spark, root: str, corpus: gen.Corpus, ids: list[int]) -> list[str]:
    """Each changed/new game shows its current values in the two
    incrementally maintained models."""

    errors = []
    for table in REFRESH_TARGETS_CHECKED:
        df = io.read_table(spark, root, table)
        got = {
            r.game_id: (r.name, r.geek_rating)
            for r in df.where(df.game_id.isin(ids)).select("game_id", "name", "geek_rating").collect()
        }
        for gid in ids:
            if got.get(gid) != expected_values(corpus, gid):
                errors.append(f"{table}[{gid}] = {got.get(gid)}, expected {expected_values(corpus, gid)}")
    return errors


def check_incremental_equals_scratch(spark, root: str) -> list[str]:
    """The incrementally maintained ``games_active``/``games_features``
    equal a from-scratch ``ModelDag().run`` over the same inputs."""

    targets = ["games_active", "games_features"]
    scratch = ModelDag().run(dag_inputs(spark, root), targets=targets)
    errors = []
    for name in targets:
        cols = [c for c in scratch[name].columns if c != "last_updated"]
        want = sorted(map(tuple, scratch[name].select(*cols).collect()), key=repr)
        got = sorted(map(tuple, io.read_table(spark, root, name).select(*cols).collect()), key=repr)
        if got != want:
            diff = len(set(map(repr, got)) ^ set(map(repr, want)))
            errors.append(f"incremental {name} differs from a from-scratch build ({diff} rows)")
    return errors


# -- logged-loader replay (log_store) -------------------------------------


def init_logged(spark, root: str, log_root: str) -> None:
    """Seed the log-structured twins from the warehouse's snapshot tables."""

    for name, keys in LOGGED.items():
        snap = io.read_table(spark, root, name)
        load = io.merge_insert_missing_logged if name in LOGGED_DIMS else io.delete_insert_logged
        load(spark, snap, log_root, name, keys)


def replay_logged(spark, log_root: str, corpus: gen.Corpus, ids: list[int], cycle: int) -> float:
    """Load one refresh delta through the S6/S7 log-structured twins
    (``io.*_logged`` over ``log_store``); returns seconds."""

    now = gen.T0 + timedelta(days=cycle + 1)
    t0 = time.perf_counter()
    raw, _ = land_responses(spark, {g: corpus.payload(g) for g in ids}, now)
    parsed = bgg_xml.parse_responses(raw.where("response_data <> ''")).cache()
    tables = bgg_xml.normalize(parsed, now)
    for name, keys in LOGGED.items():
        load = io.merge_insert_missing_logged if name in LOGGED_DIMS else io.delete_insert_logged
        load(spark, tables[name], log_root, name, keys)
    parsed.unpersist()
    return time.perf_counter() - t0


def check_logged(spark, root: str, log_root: str) -> list[str]:
    """Each logged twin reads back exactly the snapshot table the
    pipeline's S6/S7 strategies maintained."""

    errors = []
    for name, keys in LOGGED.items():
        snap = io.read_table(spark, root, name)
        logged = io.read_loader_table_logged(spark, log_root, name, keys).select(*snap.columns)
        a = sorted(map(tuple, snap.collect()), key=repr)
        b = sorted(map(tuple, logged.collect()), key=repr)
        if a != b:
            errors.append(f"logged {name} ({len(b)} rows) differs from snapshot ({len(a)} rows)")
    return errors
