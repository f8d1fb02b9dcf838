"""The analytics transform DAG: one function per reference Dataform model.

Each function is ``f(inputs: dict[str, DataFrame]) -> DataFrame`` — the
Spark re-expression of the corresponding `/root/reference/definitions/
*.sqlx` model (file:line cited per function). Materialization policy and
topological ordering live in dag.py; incremental scoping (I1/J6) is
composed by the runner via streaming/incremental.py, keeping the model
bodies full-refresh-pure exactly like Dataform SQLX bodies.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.hashing import content_fingerprint
from ..operators.latest import latest_per_key, topk_per_key

ENTITY_FILTERS = {
    # filter_* models: (bridge table, dim table, dim id col) — the reference
    # builds filter models for exactly these four entities
    "categories": ("game_categories", "categories", "category_id"),
    "mechanics": ("game_mechanics", "mechanics", "mechanic_id"),
    "designers": ("game_designers", "designers", "designer_id"),
    "publishers": ("game_publishers", "publishers", "publisher_id"),
}

ENTITY_ARRAYS = {
    # games_features aggregates SIX entity arrays
    # (`definitions/games_features.sqlx:14-60,84-89`): the four filterable
    # ones plus artists and families
    **ENTITY_FILTERS,
    "artists": ("game_artists", "artists", "artist_id"),
    "families": ("game_families", "families", "family_id"),
}


def games_active(t: dict[str, DataFrame]) -> DataFrame:
    """Latest snapshot per game (`definitions/games_active.sqlx:7-43`):
    MAX(load_timestamp) per game_id joined back on the composite key (J1),
    renames (P2), defensive DISTINCT (U4), full reference column set
    (`games_active.sqlx:13-38` — ownership/trade counts, playtime bounds)
    plus the ``last_updated`` build timestamp (`:39`)."""
    games = t["games"]
    latest = games.groupBy("game_id").agg(F.max("load_timestamp").alias("load_timestamp"))
    return (
        games.join(latest, ["game_id", "load_timestamp"], "inner")
        .select(
            "game_id",
            F.col("primary_name").alias("name"),
            "type",
            "year_published",
            "min_players",
            "max_players",
            "playing_time",
            "min_playtime",
            "max_playtime",
            "min_age",
            "description",
            "thumbnail",
            "image",
            "users_rated",
            "average_rating",
            F.col("bayes_average").alias("geek_rating"),
            F.col("average_weight").alias("complexity"),
            "owned_count",
            "trading_count",
            "wanting_count",
            "wishing_count",
            "num_comments",
            "num_weights",
            "load_timestamp",
        )
        .distinct()
        # after DISTINCT: the build timestamp must not defeat row dedup
        .withColumn("last_updated", F.current_timestamp())
    )


def games_features(t: dict[str, DataFrame]) -> DataFrame:
    """Feature table (`definitions/games_features.sqlx:14-98`): per-entity
    ARRAY_AGG of names (A2) behind LEFT JOINs (J3) with empty-array
    defaults (F4), LN feature (F1), hurdle flag (F5). All six entity
    arrays (`games_features.sqlx:47-58` adds artists + families)."""
    ga = t["games_active"]
    out = ga
    for ent, (bridge, dim, id_col) in ENTITY_ARRAYS.items():
        names = (
            t[bridge]
            .join(t[dim], id_col)
            .groupBy("game_id")
            .agg(F.sort_array(F.collect_set("name")).alias(ent))
        )
        out = out.join(names, "game_id", "left")
    return out.select(
        "game_id",
        "name",
        "year_published",
        "users_rated",
        "average_rating",
        "geek_rating",
        "complexity",
        "description",
        *[F.coalesce(F.col(e), F.array().cast("array<string>")).alias(e) for e in ENTITY_ARRAYS],
        F.log(F.col("users_rated") + 1).alias("log_users_rated"),
        (F.col("users_rated") >= 25).alias("rating_hurdle"),
    )


def _player_counts_ranked(t: dict[str, DataFrame]) -> DataFrame:
    """Shared CTE of best_player_counts (`definitions/best_player_counts.sqlx:10-48`):
    SAFE_CAST (F3), 1..8 filter (P4), guarded ratios (A8), dual windows (W2)."""
    pc = t["player_counts"]
    base = (
        pc.withColumn("player_count_int", F.expr("try_cast(player_count AS long)"))
        .where(F.col("player_count_int").between(1, 8))
        .withColumn(
            "total_votes",
            F.col("best_votes") + F.col("recommended_votes") + F.col("not_recommended_votes"),
        )
    )

    def pct(c):
        return (
            F.when(F.col("total_votes") == 0, F.lit(0.0)).otherwise(
                F.round(F.col(c).cast("double") / F.col("total_votes") * 100, 2)
            )
        )

    ranked = (
        base.withColumn("best_percentage", pct("best_votes"))
        .withColumn("recommended_percentage", pct("recommended_votes"))
        .withColumn(
            "best_rank",
            F.row_number().over(
                Window.partitionBy("game_id").orderBy(
                    F.col("best_percentage").desc(),
                    F.col("best_votes").desc(),
                    F.col("player_count_int"),
                )
            ),
        )
        .withColumn(
            "recommended_rank",
            F.row_number().over(
                Window.partitionBy("game_id").orderBy(
                    F.col("recommended_percentage").desc(),
                    F.col("recommended_votes").desc(),
                    F.col("player_count_int"),
                )
            ),
        )
    )
    return ranked


def _ordered_string_agg(value_when, order_col) -> F.Column:
    """STRING_AGG(CASE … ORDER BY rank) (A4): collect (rank, value) structs,
    sort, join — collect_list order is otherwise nondeterministic."""
    return F.array_join(
        F.transform(
            F.array_sort(F.collect_list(F.struct(order_col.alias("o"), value_when.alias("v")))),
            lambda x: x["v"],
        ),
        ", ",
    )


def best_player_counts(t: dict[str, DataFrame]) -> DataFrame:
    """`definitions/best_player_counts.sqlx:47-65`: ordered STRING_AGG of
    top-3 best/recommended counts (A4), conditional MIN/COUNT aggs (A6)."""
    ranked = _player_counts_ranked(t)
    return ranked.groupBy("game_id").agg(
        _ordered_string_agg(
            F.when(F.col("best_rank") <= 3, F.col("player_count")),
            F.when(F.col("best_rank") <= 3, F.col("best_rank")),
        ).alias("best_player_counts"),
        _ordered_string_agg(
            F.when(F.col("recommended_rank") <= 3, F.col("player_count")),
            F.when(F.col("recommended_rank") <= 3, F.col("recommended_rank")),
        ).alias("recommended_player_counts"),
        F.min(
            F.when(
                (F.col("best_rank") <= 3) & (F.col("best_percentage") >= 40),
                F.col("player_count_int"),
            )
        ).alias("min_best_player_count"),
        (
            F.count(
                F.when((F.col("best_rank") <= 3) & (F.col("best_percentage") >= 40), F.lit(1))
            )
            > 0
        ).alias("has_best_count"),
    )


def player_count_recommendations(t: dict[str, DataFrame]) -> DataFrame:
    """`definitions/player_count_recommendations.sqlx:12-40`: per-count
    guarded vote ratios (A8), vote-floor predicate (P4), presentation
    ORDER BY (O4)."""
    ranked = _player_counts_ranked(t)
    return (
        ranked.where(F.col("total_votes") > 5)
        .select(
            "game_id",
            "player_count",
            "best_votes",
            "recommended_votes",
            "not_recommended_votes",
            "total_votes",
            "best_percentage",
            "recommended_percentage",
        )
        .orderBy(F.col("total_votes").desc(), F.col("best_percentage").desc())
    )


def _filter_options(t: dict[str, DataFrame], ent: str) -> DataFrame:
    """filter_* models (`definitions/filter_categories.sqlx:9-16`): COUNT
    DISTINCT games per entity (A5) over rating-positive games (P4), top 500
    (O1)."""
    bridge, dim, id_col = ENTITY_FILTERS[ent]
    rated = (
        t["games_active"]
        .where(F.col("geek_rating").isNotNull() & (F.col("geek_rating") > 0))
        .select("game_id")  # avoid `name` clash with the dim; prunes the scan
    )
    return (
        t[bridge]
        .join(rated, "game_id")
        .join(t[dim], id_col)
        .groupBy(F.col(id_col).alias("entity_id"), "name")
        .agg(F.countDistinct("game_id").alias("game_count"))
        .orderBy(F.col("game_count").desc(), F.col("entity_id"))
        .limit(500)
    )


def filter_categories(t):  # noqa: D103 — see _filter_options
    return _filter_options(t, "categories")


def filter_mechanics(t):  # noqa: D103
    return _filter_options(t, "mechanics")


def filter_designers(t):  # noqa: D103
    return _filter_options(t, "designers")


def filter_publishers(t):  # noqa: D103
    return _filter_options(t, "publishers")


def filter_options_combined(t: dict[str, DataFrame]) -> DataFrame:
    """`definitions/filter_options_combined.sqlx:6-23` (U1): UNION ALL of
    the four option lists with an entity_type discriminator."""
    parts = []
    for ent in ENTITY_FILTERS:
        parts.append(
            t[f"filter_{ent}"].select(
                F.lit(ent).alias("entity_type"), "entity_id", "name", "game_count"
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def game_dropdown_options(t: dict[str, DataFrame]) -> DataFrame:
    """`definitions/game_dropdown_options.sqlx:14-15` (O1): top 25k games by
    COALESCE(geek_rating, 0) DESC."""
    return (
        t["games_active"]
        .select(
            "game_id",
            "name",
            "year_published",
            F.coalesce("geek_rating", F.lit(0.0)).alias("sort_rating"),
        )
        .orderBy(F.col("sort_rating").desc(), F.col("game_id"))
        .limit(25000)
    )


def bgg_predictions(t: dict[str, DataFrame], as_of=None) -> DataFrame:
    """`definitions/bgg_predictions.sqlx:36-49`: latest prediction per game
    (W1 by score_ts, job_id), DATE casts + freshness flags (F9), helper
    rank dropped (P3).

    ``as_of`` optionally replaces ``CURRENT_DATE()`` as the freshness
    anchor (a Column — e.g. a broadcast-joined dataset max) so the
    is_new_1d/7d flags can be computed deterministically; the reference
    anchors to the wall clock (`bgg_predictions.sqlx:45-46`), which is
    the default here.
    """
    anchor = F.current_date() if as_of is None else as_of
    latest = latest_per_key(
        t["ml_predictions_landing"],
        ["game_id"],
        [F.col("score_ts").desc(), F.col("job_id").desc()],
    )
    return latest.select(
        "game_id",
        "name",
        "predicted_hurdle_prob",
        "predicted_complexity",
        "predicted_rating",
        "predicted_users_rated",
        "predicted_geek_rating",
        F.col("score_ts"),
        F.to_date("score_ts").alias("score_date"),
        (F.datediff(anchor, F.to_date("score_ts")) <= 1).alias("is_new_1d"),
        (F.datediff(anchor, F.to_date("score_ts")) <= 7).alias("is_new_7d"),
    )


def bgg_complexity_predictions(t: dict[str, DataFrame]) -> DataFrame:
    """`definitions/bgg_complexity_predictions.sqlx:19-27` (W1 subset)."""
    latest = latest_per_key(
        t["ml_predictions_landing"],
        ["game_id"],
        [F.col("score_ts").desc(), F.col("job_id").desc()],
    )
    return latest.select(
        "game_id", "name", "predicted_complexity",
        F.col("complexity_model_version").alias("model_version"), "score_ts",
    )


def _latest_embeddings(landing: DataFrame) -> DataFrame:
    """`definitions/bgg_game_embeddings.sqlx:10-38`: scalar-subquery filter
    to MAX(embedding_version) (P7) then latest row per game (W1)."""
    max_v = landing.agg(F.max("embedding_version").alias("v"))
    scoped = landing.join(
        F.broadcast(max_v), landing.embedding_version == max_v.v, "inner"
    ).drop("v")
    return latest_per_key(
        scoped, ["game_id"], [F.col("created_ts").desc(), F.col("job_id").desc()]
    )


def bgg_game_embeddings(t):  # noqa: D103 — see _latest_embeddings
    return _latest_embeddings(t["game_embeddings"]).select(
        "game_id", "name", "embedding", "embedding_8", "embedding_16",
        "embedding_32", "embedding_model", "embedding_version", "created_ts",
    )


def bgg_description_embeddings(t):  # noqa: D103
    return _latest_embeddings(t["description_embeddings"]).select(
        "game_id", "name", "embedding", "embedding_model", "embedding_version", "created_ts"
    )


def bgg_game_coordinates(t: dict[str, DataFrame]) -> DataFrame:
    """`definitions/bgg_game_coordinates.sqlx:8-28` (P7 + W1)."""
    landing = t["game_coordinates"]
    max_v = landing.agg(F.max("embedding_version").alias("v"))
    scoped = landing.join(
        F.broadcast(max_v), landing.embedding_version == max_v.v, "inner"
    ).drop("v")
    return latest_per_key(scoped, ["game_id"], [F.col("created_ts").desc()])


def game_first_prediction(t: dict[str, DataFrame]) -> DataFrame:
    """`definitions/game_first_prediction.sqlx:7-11` (A1 MIN per key)."""
    return t["ml_predictions_landing"].groupBy("game_id").agg(
        F.min("score_ts").alias("first_score_ts")
    )


def user_collection_predictions(t: dict[str, DataFrame]) -> DataFrame:
    """`definitions/user_collection_predictions.sqlx:30-56`: latest per
    (username, game_id, outcome) (W1) joined USING the active model
    registry (J9, P5)."""
    active = t["collection_models_registry"].where(F.col("status") == "active")
    latest = latest_per_key(
        t["collection_predictions_landing"],
        ["username", "game_id", "outcome"],
        [F.col("score_ts").desc(), F.col("job_id").desc()],
    )
    return latest.join(
        active.select("username", "outcome", "model_version"),
        on=["username", "outcome", "model_version"],
        how="inner",
    )


def deployed_models(t: dict[str, DataFrame]) -> DataFrame:
    """`definitions/deployed_models.sqlx:9-129` (U2): one branch per model
    family over the same landing table, game counts per version (A5)."""
    landing = t["ml_predictions_landing"]
    parts = []
    for fam in ("geek_rating", "hurdle", "complexity", "rating", "users_rated"):
        parts.append(
            landing.groupBy(
                F.lit(fam).alias("model_type"),
                F.col(f"{fam}_model_name").alias("model_name"),
                F.col(f"{fam}_model_version").alias("model_version"),
            ).agg(
                F.countDistinct("game_id").alias("game_count"),
                F.max("score_ts").alias("last_score_ts"),
            )
        )
    emb = t["game_embeddings"]
    parts.append(
        emb.groupBy(
            F.lit("game_embeddings").alias("model_type"),
            F.col("embedding_model").alias("model_name"),
            F.col("embedding_version").cast("string").alias("model_version"),
        ).agg(
            F.countDistinct("game_id").alias("game_count"),
            F.max("created_ts").alias("last_score_ts"),
        )
    )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def game_features_hash(t: dict[str, DataFrame]) -> DataFrame:
    """`definitions/game_features_hash.sqlx:9-29` (F7): 64-bit change hash
    of the feature tuple; compared only to itself across runs."""
    gf = t["games_features"]
    feature_cols = [c for c in gf.columns if c != "game_id"]
    return gf.select(
        "game_id",
        content_fingerprint(*[F.col(c) for c in feature_cols]).alias("features_hash"),
    )


def game_similarity_search(t: dict[str, DataFrame]) -> DataFrame:
    """`definitions/game_similarity_search.sqlx:30-38` (J2): embeddings ⋈
    features for the live-similarity corpus. Carries ``year_published``
    so the precomputed neighbor rows can embed it
    (`game_neighbors.sqlx:24,60,83`)."""
    return t["bgg_game_embeddings"].join(
        t["games_features"].select(
            "game_id", "users_rated", "complexity", "geek_rating", "year_published"
        ),
        "game_id",
        "inner",
    )


@dataclass(frozen=True)
class SimilarityProfile:
    """One entry of the reference's PROFILES config
    (`definitions/game_neighbors.sqlx:19-35`) — the ONE place similarity
    defaults are declared. To tune, add a NEW profile alongside the
    existing one and flip which one the API treats as default, rather
    than mutating ``default`` in place: profiles live side-by-side in
    the ``(profile, game_id)``-clustered table, so an extra profile
    costs one more build block, not a migration."""

    name: str = "default"
    min_users_rated: int = 100  # matches DEFAULT_MIN_RATINGS in the viewer
    complexity_band: float = 0.75  # source-relative: |candidate - source| <= band
    distance: str = "COSINE"
    dims: int = 64
    top_k: int = 10


DEFAULT_PROFILE = "default"
PROFILES: list[SimilarityProfile] = [SimilarityProfile()]


def _embedding_column(dims: int) -> str:
    """64-d lives in ``embedding``; reduced dims in ``embedding_8/16/32``
    (`game_neighbors.sqlx:38-40`)."""
    return "embedding" if dims == 64 else f"embedding_{dims}"


def game_neighbors(t: dict[str, DataFrame]) -> DataFrame:
    """`definitions/game_neighbors.sqlx:16-93`: one block per profile —
    filter corpus (per-profile users_rated floor — BASELINE.md "filter
    BEFORE distance"), banded complexity self-join (J7) via the
    cogrouped bucket matmul, top-k (W3), ordered ARRAY_AGG(STRUCT) (A3)
    — UNION ALL'd with the profile name and its tuning parameters on
    every row (`:78-93`), so the table is self-describing and the API
    dispatches per-profile from one clustered lookup. Layout is
    ``(profile, game_id)`` (io.LAYOUTS), mirroring the reference's
    clusterBy (`:6-8`)."""
    from ..operators.band_join import banded_cosine_pairs

    parts = []
    for p in PROFILES:
        corpus = (
            t["game_similarity_search"]
            .where(F.col("users_rated") >= p.min_users_rated)
            .where(F.col("complexity").isNotNull())
            .select(
                "game_id", "complexity", F.col(_embedding_column(p.dims)).alias("embedding")
            )
        )
        pairs = banded_cosine_pairs(
            corpus, "game_id", "complexity", "embedding", p.complexity_band
        )
        top = topk_per_key(
            pairs, ["s_id"], [F.col("cos").desc(), F.col("t_id").asc()], k=p.top_k
        )
        # neighbor display attrs join AFTER top-k (k·|corpus| rows, not
        # every candidate pair) — the reference's rows carry nbr
        # name/year_published in the struct (`game_neighbors.sqlx:78-86`)
        attrs = t["game_similarity_search"].select(
            F.col("game_id").alias("t_id"),
            F.col("name").alias("_nbr_name"),
            F.col("year_published").alias("_nbr_year"),
        )
        parts.append(
            top.join(attrs, "t_id")
            .groupBy(F.col("s_id").alias("game_id"))
            .agg(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            F.col("rank").alias("rank"),
                            F.col("t_id").alias("neighbor_id"),
                            F.col("_nbr_name").alias("name"),
                            F.col("_nbr_year").alias("year_published"),
                            F.round(F.col("cos"), 6).alias("score"),
                        )
                    )
                ).alias("similar")
            )
            .select(
                F.lit(p.name).alias("profile"),
                "game_id",
                "similar",
                F.lit(p.min_users_rated).alias("min_users_rated"),
                F.lit(p.complexity_band).alias("complexity_band"),
                F.lit(p.distance).alias("distance_type"),
                F.lit(p.dims).alias("embedding_dims"),
                F.current_timestamp().alias("computed_ts"),
            )
        )
    out = parts[0]
    for part in parts[1:]:
        out = out.unionByName(part)
    return out


def game_profile(t: dict[str, DataFrame]) -> DataFrame:
    """`definitions/game_profile.sqlx:22-119`: the nested serving document —
    ordered player_counts block (A3), whole-struct prediction block with
    NULL-struct guard (F5/F6), neighbors array, RANGE_BUCKET partition key
    (F14: floor(game_id / 1000))."""
    ga = t["games_active"]
    pc = (
        t["player_count_recommendations"]
        .groupBy("game_id")
        .agg(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.col("player_count").alias("player_count"),
                        F.col("best_percentage").alias("best_pct"),
                        F.col("recommended_percentage").alias("recommended_pct"),
                        F.col("total_votes").alias("total_votes"),
                    )
                )
            ).alias("player_counts")
        )
    )
    pred = t["bgg_predictions"].select(
        "game_id",
        F.struct(
            "predicted_hurdle_prob",
            "predicted_complexity",
            "predicted_rating",
            "predicted_geek_rating",
            "score_ts",
        ).alias("predictions"),
    )
    emb = t["bgg_game_embeddings"].select(
        "game_id",
        F.struct("embedding", "embedding_model", "embedding_version").alias("embedding_block"),
    )
    # coordinates block (`game_profile.sqlx:101-108`): struct built BEFORE
    # the left join, so a game without coordinates gets a NULL struct (not
    # a struct of NULLs) — same F5 guard as the predictions block
    coords = t["bgg_game_coordinates"].select(
        "game_id",
        F.struct(
            "umap_1", "umap_2", "pca_1", "pca_2",
            "embedding_model", "embedding_version",
        ).alias("coordinates"),
    )
    # the profile document embeds the DEFAULT profile's neighbor list;
    # other profiles are served from the neighbors table directly
    nbrs = t["game_neighbors"].where(F.col("profile") == DEFAULT_PROFILE).select(
        "game_id", "similar"
    )
    prof = (
        ga.join(pc, "game_id", "left")
        .join(pred, "game_id", "left")
        .join(emb, "game_id", "left")
        .join(coords, "game_id", "left")
        .join(nbrs, "game_id", "left")
    )
    return prof.select(
        "game_id",
        F.floor(F.col("game_id") / 1000).alias("game_id_bucket"),
        "name",
        "year_published",
        "geek_rating",
        "complexity",
        F.coalesce(
            "player_counts",
            F.array().cast(
                "array<struct<player_count:string,best_pct:double,recommended_pct:double,total_votes:long>>"
            ),
        ).alias("player_counts"),
        "predictions",  # NULL struct (not struct of NULLs) when no prediction
        "embedding_block",
        "coordinates",  # NULL struct when the game has no coordinates row
        F.coalesce(
            "similar",
            F.array().cast(
                "array<struct<rank:int,neighbor_id:long,name:string,"
                "year_published:long,score:double>>"
            ),
        ).alias("similar"),
        F.struct(
            F.col("load_timestamp").alias("snapshot_ts"),
            F.current_timestamp().alias("built_ts"),
        ).alias("provenance"),
    )
