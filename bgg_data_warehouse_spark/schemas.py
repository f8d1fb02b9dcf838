"""StructType registry — single source of truth for every warehouse table.

The reference declares schemas redundantly in three places (Terraform JSON,
Python SchemaField lists, implicit SQLX outputs —
`/root/reference/terraform/schemas/*.json`,
`/root/reference/src/warehouse/setup_bigquery.py:37-205`); this module is
the one registry replacing all three. Layer = namespace prefix
(raw/core/analytics/predictions), mirroring `config/bigquery.yaml:4-8`.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _f(name: str, dtype: T.DataType, nullable: bool = True) -> T.StructField:
    return T.StructField(name, dtype, nullable)


LONG = T.LongType()
DOUBLE = T.DoubleType()
STRING = T.StringType()
BOOL = T.BooleanType()
TS = T.TimestampType()

# --- core.games — time-series fact, PK (game_id, load_timestamp)
# (`src/warehouse/setup_bigquery.py:87-119`, `processor.py:669-670`)
GAMES = T.StructType(
    [
        _f("game_id", LONG, False),
        _f("type", STRING),
        _f("primary_name", STRING, False),
        _f("year_published", LONG),
        _f("min_players", LONG),
        _f("max_players", LONG),
        _f("playing_time", LONG),
        _f("min_playtime", LONG),
        _f("max_playtime", LONG),
        _f("min_age", LONG),
        _f("description", STRING),
        _f("thumbnail", STRING),
        _f("image", STRING),
        _f("users_rated", LONG),
        _f("average_rating", DOUBLE),
        _f("bayes_average", DOUBLE),
        _f("standard_deviation", DOUBLE),
        _f("median_rating", DOUBLE),
        _f("owned_count", LONG),
        _f("trading_count", LONG),
        _f("wanting_count", LONG),
        _f("wishing_count", LONG),
        _f("num_comments", LONG),
        _f("num_weights", LONG),
        _f("average_weight", DOUBLE),
        _f("load_timestamp", TS, False),
    ]
)


def _dim(id_name: str) -> T.StructType:
    # dimension tables: {<singular>_id, name} (`setup_bigquery.py:120-143`)
    return T.StructType([_f(id_name, LONG, False), _f("name", STRING, False)])


DIMENSIONS = {
    "categories": _dim("category_id"),
    "mechanics": _dim("mechanic_id"),
    "families": _dim("family_id"),
    "designers": _dim("designer_id"),
    "artists": _dim("artist_id"),
    "publishers": _dim("publisher_id"),
}

DIM_ID_COLS = {name: schema.fields[0].name for name, schema in DIMENSIONS.items()}


def _bridge(other_id: str) -> T.StructType:
    # bridge tables: PK (game_id, <other>_id) (`setup_bigquery.py:144-175`)
    return T.StructType([_f("game_id", LONG, False), _f(other_id, LONG, False)])


BRIDGES = {
    "game_categories": _bridge("category_id"),
    "game_mechanics": _bridge("mechanic_id"),
    "game_families": _bridge("family_id"),
    "game_designers": _bridge("designer_id"),
    "game_artists": _bridge("artist_id"),
    "game_publishers": _bridge("publisher_id"),
    "game_implementations": _bridge("implementation_id"),
    "game_expansions": _bridge("expansion_id"),
}

# --- per-game detail tables (`setup_bigquery.py:115-119,176-202`)
PLAYER_COUNTS = T.StructType(
    [
        _f("game_id", LONG, False),
        _f("player_count", STRING, False),  # STRING on purpose: '4+' values
        _f("best_votes", LONG),
        _f("recommended_votes", LONG),
        _f("not_recommended_votes", LONG),
    ]
)
ALTERNATE_NAMES = T.StructType(
    [_f("game_id", LONG, False), _f("name", STRING), _f("sort_index", LONG)]
)
LANGUAGE_DEPENDENCE = T.StructType(
    [
        _f("game_id", LONG, False),
        _f("level", LONG, False),
        _f("description", STRING),
        _f("votes", LONG),
    ]
)
SUGGESTED_AGES = T.StructType(
    [_f("game_id", LONG, False), _f("age", STRING, False), _f("votes", LONG)]
)
RANKINGS = T.StructType(
    [
        _f("game_id", LONG, False),
        _f("ranking_type", STRING, False),
        _f("ranking_name", STRING, False),
        _f("friendly_name", STRING),
        _f("value", LONG),
        _f("bayes_average", DOUBLE),
        _f("load_timestamp", TS, False),
    ]
)

# --- raw layer + work tracking (`terraform/schemas/*.json`)
THING_IDS = T.StructType(
    [
        _f("game_id", LONG, False),
        _f("type", STRING, False),
        _f("processed", BOOL),
        _f("process_timestamp", TS),
        _f("source", STRING),
        _f("load_timestamp", TS),
    ]
)
RAW_RESPONSES = T.StructType(
    [
        _f("game_id", LONG, False),
        _f("response_data", STRING),
        _f("fetch_timestamp", TS, False),
        _f("record_id", STRING, False),
    ]
)
FETCHED_RESPONSES = T.StructType(
    [
        _f("record_id", STRING, False),
        _f("game_id", LONG, False),
        _f("fetch_timestamp", TS, False),
        _f("fetch_status", STRING, False),
    ]
)
PROCESSED_RESPONSES = T.StructType(
    [
        _f("record_id", STRING, False),
        _f("process_timestamp", TS, False),
        _f("process_status", STRING, False),
        _f("process_attempt", LONG),
        _f("error_message", STRING),
    ]
)
FETCH_IN_PROGRESS = T.StructType(
    [_f("game_id", LONG, False), _f("fetch_start_timestamp", TS, False)]
)
REQUEST_LOG = T.StructType(
    [
        _f("request_id", STRING, False),
        _f("url", STRING),
        _f("method", STRING),
        _f("game_ids", STRING),
        _f("status_code", LONG),
        _f("response_time", DOUBLE),
        _f("error", STRING),
        _f("request_timestamp", TS, False),
    ]
)

# --- ML landing tables (`definitions/sources.js:31-72`, FIXTURES.md A7)
ML_PREDICTIONS_LANDING = T.StructType(
    [_f("job_id", STRING, False), _f("game_id", LONG, False), _f("name", STRING),
     _f("year_published", LONG), _f("predicted_hurdle_prob", DOUBLE),
     _f("predicted_complexity", DOUBLE), _f("predicted_rating", DOUBLE),
     _f("predicted_users_rated", DOUBLE), _f("predicted_geek_rating", DOUBLE)]
    + [
        _f(f"{fam}_{part}", STRING)
        for fam in ("geek_rating", "hurdle", "complexity", "rating", "users_rated")
        for part in ("model_name", "model_version", "experiment")
    ]
    + [_f("score_ts", TS, False), _f("source_environment", STRING)]
)
GAME_EMBEDDINGS_LANDING = T.StructType(
    [
        _f("game_id", LONG, False),
        _f("name", STRING),
        _f("year_published", LONG),
        _f("embedding", T.ArrayType(DOUBLE), False),
        _f("embedding_8", T.ArrayType(DOUBLE)),
        _f("embedding_16", T.ArrayType(DOUBLE)),
        _f("embedding_32", T.ArrayType(DOUBLE)),
        _f("embedding_model", STRING),
        _f("embedding_version", LONG, False),
        _f("embedding_dim", LONG),
        _f("algorithm", STRING),
        _f("created_ts", TS, False),
        _f("job_id", STRING),
    ]
)
GAME_COORDINATES_LANDING = T.StructType(
    [
        _f("game_id", LONG, False),
        _f("umap_1", DOUBLE),
        _f("umap_2", DOUBLE),
        _f("pca_1", DOUBLE),
        _f("pca_2", DOUBLE),
        _f("embedding_model", STRING),
        _f("embedding_version", LONG, False),
        _f("created_ts", TS, False),
    ]
)
COLLECTION_PREDICTIONS_LANDING = T.StructType(
    [
        _f("username", STRING, False),
        _f("game_id", LONG, False),
        _f("outcome", STRING, False),
        _f("predicted_prob", DOUBLE),
        _f("predicted_label", BOOL),
        _f("threshold", DOUBLE),
        _f("model_name", STRING),
        _f("model_version", STRING, False),
        _f("score_ts", TS, False),
        _f("job_id", STRING),
    ]
)
COLLECTION_MODELS_REGISTRY = T.StructType(
    [
        _f("username", STRING, False),
        _f("outcome", STRING, False),
        _f("model_version", STRING, False),
        _f("finalize_through_year", LONG),
        _f("registered_at", TS),
        _f("status", STRING, False),
    ]
)

CORE_TABLES: dict[str, T.StructType] = {
    "games": GAMES,
    **DIMENSIONS,
    **BRIDGES,
    "player_counts": PLAYER_COUNTS,
    "alternate_names": ALTERNATE_NAMES,
    "language_dependence": LANGUAGE_DEPENDENCE,
    "suggested_ages": SUGGESTED_AGES,
    "rankings": RANKINGS,
}

RAW_TABLES: dict[str, T.StructType] = {
    "thing_ids": THING_IDS,
    "raw_responses": RAW_RESPONSES,
    "fetched_responses": FETCHED_RESPONSES,
    "processed_responses": PROCESSED_RESPONSES,
    "fetch_in_progress": FETCH_IN_PROGRESS,
    "request_log": REQUEST_LOG,
}


_ARROW_TYPES = {
    T.LongType: pa.int64(),
    T.DoubleType: pa.float64(),
    T.StringType: pa.string(),
    T.BooleanType: pa.bool_(),
    T.TimestampType: pa.timestamp("us", tz="UTC"),
}


def arrow_schema(schema: T.StructType) -> pa.Schema:
    """The Arrow form of a flat (raw/core) table schema, as the driver
    writer lands it: timestamps are UTC microseconds, and every field is
    nullable, as Spark's parquet reader reports every column."""
    return pa.schema([pa.field(f.name, _ARROW_TYPES[type(f.dataType)]) for f in schema.fields])


def conform(df, schema: T.StructType, *, extras: str = "error"):
    """Pre-write schema conformance — the Spark analogue of the
    reference's ``prepare_for_bigquery`` (processor.py:619-666) plus its
    additive ALTER TABLE evolution (setup_bigquery.py:257-265).

    - REQUIRED (non-nullable) columns must be present: hard error.
    - Missing NULLABLE columns are added as typed NULLs (the write-side
      half of additive evolution; the read side is free — an explicit
      ``spark.read.schema(...)`` fills columns absent from old parquet
      footers with NULL, so old files never need rewriting).
    - Present columns are cast to the declared type (safe ``cast`` — the
      registry is the single source of truth, unlike the reference's
      three redundant schema copies).
    - ``extras``: 'error' (default) rejects undeclared columns — the
      registry must be updated FIRST, mirroring the reference's
      evolve-then-load discipline; 'drop' discards them; 'keep' appends
      them after the declared columns (caller has pre-evolved frames).
    """
    have = {f.name for f in df.schema.fields}
    missing_required = [
        f.name for f in schema.fields if not f.nullable and f.name not in have
    ]
    if missing_required:
        raise ValueError(f"required columns absent: {missing_required}")
    declared = {f.name for f in schema.fields}
    undeclared = [c for c in df.columns if c not in declared]
    if undeclared and extras == "error":
        raise ValueError(
            f"undeclared columns {undeclared}: evolve the schema registry "
            "first (additive evolution), or pass extras='drop'|'keep'"
        )
    cols = [
        (
            F.col(f.name).cast(f.dataType).alias(f.name)
            if f.name in have
            else F.lit(None).cast(f.dataType).alias(f.name)
        )
        for f in schema.fields
    ]
    if undeclared and extras == "keep":
        cols += [F.col(c) for c in undeclared]
    return df.select(*cols)


def validate_no_all_null_columns(df, columns: list[str] | None = None) -> list[str]:
    """Reference's all-null guard (processor.py:646-664): returns the
    names of columns that are entirely NULL (empty = pass). ONE
    aggregate job — never a per-column count loop."""
    cols = columns or df.columns
    row = df.agg(
        *[F.count(F.col(c)).alias(c) for c in cols]
    ).collect()[0]
    total = df.count()
    if total == 0:
        return []
    return [c for c in cols if row[c] == 0]
