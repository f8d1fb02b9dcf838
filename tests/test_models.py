"""Analytics model tests on BGG-shaped fixtures, with DuckDB as the oracle
for the root model (games_active) and invariant checks per model."""

from __future__ import annotations

import duckdb
import pytest

from pyspark.sql import functions as F

from bgg_data_warehouse_spark.plans.dag import REGISTRY, ModelDag

from tests.bgg_fixtures import core_fixture_tables


@pytest.fixture(scope="module")
def tables(spark):
    return core_fixture_tables(spark)


@pytest.fixture(scope="module")
def built(spark, tables):
    out = ModelDag().run(tables)
    for name in REGISTRY:
        out[name] = out[name].cache()
    return out


def test_dag_order_respects_deps():
    order = ModelDag().order()
    pos = {n: i for i, n in enumerate(order)}
    for name, (deps, _, _) in REGISTRY.items():
        for d in deps:
            if d in pos:
                assert pos[d] < pos[name], f"{d} must precede {name}"


def test_dag_targets_subset():
    order = ModelDag().order(["games_features"])
    assert "games_features" in order
    assert "game_profile" not in order  # not a dependency


def test_games_active_matches_duckdb_oracle(spark, tables, built):
    games_pdf = tables["games"].toPandas()
    con = duckdb.connect()
    con.register("games", games_pdf)
    oracle = con.execute(
        """
        SELECT game_id, primary_name AS name, bayes_average AS geek_rating
        FROM (
          SELECT g.*, ROW_NUMBER() OVER (
            PARTITION BY game_id ORDER BY load_timestamp DESC) AS rn
          FROM games g
        ) WHERE rn = 1 ORDER BY game_id
        """
    ).fetchall()
    got = [
        (r.game_id, r.name, r.geek_rating)
        for r in built["games_active"].orderBy("game_id").collect()
    ]
    assert got == oracle
    # exactly one row per game
    assert built["games_active"].groupBy("game_id").count().where("count > 1").isEmpty()


def test_games_features_arrays_and_hurdle(built):
    from bgg_data_warehouse_spark.plans.models import ENTITY_ARRAYS, ENTITY_FILTERS

    # all SIX reference entity arrays (games_features.sqlx:14-60), while the
    # filter_* surface stays at the reference's four
    assert set(ENTITY_ARRAYS) == {
        "categories", "mechanics", "designers", "publishers", "artists", "families",
    }
    assert len(ENTITY_FILTERS) == 4
    gf = built["games_features"]
    rows = {r.game_id: r for r in gf.collect()}
    for r in rows.values():
        for ent in ENTITY_ARRAYS:
            vals = getattr(r, ent)
            assert vals == sorted(vals)  # deterministic arrays
            assert isinstance(vals, list)  # empty array, never null
        assert r.rating_hurdle == (r.users_rated >= 25)
    # a game divisible by 13 has no bridge rows → empty arrays
    assert rows[13].categories == []
    assert rows[13].artists == []
    assert rows[13].families == []


def test_best_player_counts_manual_case(spark, built):
    from bgg_data_warehouse_spark.plans import models as M

    pc = spark.createDataFrame(
        [
            (1, "2", 10, 5, 5),   # best_pct 50
            (1, "3", 30, 10, 0),  # best_pct 75  → rank 1
            (1, "4+", 99, 0, 0),  # non-castable → excluded
            (1, "9", 99, 0, 0),   # out of 1..8 → excluded
            (2, "1", 0, 0, 0),    # zero votes → 0 pct, no div error
        ],
        "game_id long, player_count string, best_votes long, recommended_votes long, not_recommended_votes long",
    )
    out = {r.game_id: r for r in M.best_player_counts({"player_counts": pc}).collect()}
    assert out[1].best_player_counts == "3, 2"
    # MIN(CASE WHEN rank<=3 AND pct>=40 THEN pc END): both 3 (75%) and 2
    # (50%) qualify; reference semantics take the MINIMUM qualifying count
    assert out[1].min_best_player_count == 2
    assert out[1].has_best_count
    assert out[2].best_player_counts == "1"
    assert not out[2].has_best_count


def test_filter_options_and_combined(built):
    fc = built["filter_categories"]
    assert fc.columns == ["entity_id", "name", "game_count"]
    counts = [r.game_count for r in fc.collect()]
    assert counts == sorted(counts, reverse=True)  # top-N ordering
    combined = built["filter_options_combined"]
    types = {r.entity_type for r in combined.select("entity_type").distinct().collect()}
    assert types == {"categories", "mechanics", "designers", "publishers"}


def test_latest_per_key_models(built):
    # bgg_predictions: job-2 (later score_ts) always wins
    assert built["bgg_predictions"].groupBy("game_id").count().where("count > 1").isEmpty()
    # embeddings: only version 2 rows survive the MAX(version) filter
    vers = built["bgg_game_embeddings"].select("embedding_version").distinct().collect()
    assert [v.embedding_version for v in vers] == [2]
    # coordinates: latest version only, one row per game
    assert built["bgg_game_coordinates"].groupBy("game_id").count().where("count > 1").isEmpty()


def test_user_collection_predictions_registry_join(built):
    rows = built["user_collection_predictions"].collect()
    # alice's active model is v2, bob's is v1; latest row per key is v2-scored
    by_user = {}
    for r in rows:
        by_user.setdefault(r.username, set()).add(r.model_version)
    assert by_user["alice"] == {"v2"}
    assert "bob" not in by_user  # bob's latest rows are v2 but active is v1


def test_deployed_models_branches(built):
    types = {r.model_type for r in built["deployed_models"].collect()}
    assert types == {
        "geek_rating", "hurdle", "complexity", "rating", "users_rated", "game_embeddings",
    }


def test_game_features_hash_change_detection(spark, built, tables):
    from bgg_data_warehouse_spark.plans import models as M

    h1 = {r.game_id: r.features_hash for r in built["game_features_hash"].collect()}
    # rebuilding from identical inputs yields identical hashes
    rebuilt = ModelDag().run(tables, targets=["game_features_hash"])
    h2 = {r.game_id: r.features_hash for r in rebuilt["game_features_hash"].collect()}
    assert h1 == h2


def test_games_active_column_parity_with_reference(built):
    """`games_active.sqlx:13-38` column-for-column, in the repo's aliases
    (primary_name→name, bayes_average→geek_rating,
    average_weight→complexity — the repo-wide names every downstream
    model keys on)."""
    want = [
        "game_id",
        "name",
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
        "geek_rating",
        "complexity",
        "owned_count",
        "trading_count",
        "wanting_count",
        "wishing_count",
        "num_comments",
        "num_weights",
        "load_timestamp",
        "last_updated",
    ]
    assert built["games_active"].columns == want
    reference_select_list = [  # verbatim order from games_active.sqlx
        "game_id", "type", "name", "year_published", "average_rating",
        "average_weight", "bayes_average", "users_rated", "owned_count",
        "trading_count", "wanting_count", "wishing_count", "num_comments",
        "num_weights", "min_players", "max_players", "playing_time",
        "min_playtime", "max_playtime", "min_age", "description",
        "thumbnail", "image", "load_timestamp", "last_updated",
    ]
    alias = {"average_weight": "complexity", "bayes_average": "geek_rating"}
    assert sorted(alias.get(c, c) for c in reference_select_list) == sorted(want)


def test_game_neighbors_profiles_side_by_side(built, monkeypatch):
    """`game_neighbors.sqlx:6-8,19-35,78-93`: profiles build as UNION'd
    blocks keyed (profile, game_id), each row carrying its own tuning
    parameters, so a new profile ships alongside `default` and the API
    flips by name — never by mutating the default in place."""
    from bgg_data_warehouse_spark.plans import models as M

    profs = [
        M.SimilarityProfile(),
        M.SimilarityProfile(
            name="loose_16", min_users_rated=0, complexity_band=2.0,
            dims=16, top_k=3,
        ),
    ]
    monkeypatch.setattr(M, "PROFILES", profs)
    nbrs = M.game_neighbors(
        {"game_similarity_search": built["game_similarity_search"]}
    ).cache()
    assert {r.profile for r in nbrs.select("profile").distinct().collect()} == {
        "default", "loose_16",
    }
    # reference struct content parity (`game_neighbors.sqlx:78-86`): the
    # row embeds the neighbor's display attrs, not just its id
    assert set(nbrs.schema["similar"].dataType.elementType.fieldNames()) == {
        "rank", "neighbor_id", "name", "year_published", "score",
    }
    # one row per (profile, game_id); self-describing tuning columns
    assert (
        nbrs.groupBy("profile", "game_id").count().where("count > 1").isEmpty()
    )
    by_profile = {
        r.profile: r
        for r in nbrs.select(
            "profile", "min_users_rated", "complexity_band",
            "distance_type", "embedding_dims",
        ).distinct().collect()
    }
    assert by_profile["default"].embedding_dims == 64
    assert by_profile["loose_16"].embedding_dims == 16
    assert by_profile["loose_16"].complexity_band == 2.0
    for row in nbrs.where("profile = 'loose_16'").collect():
        assert len(row.similar) <= 3
    # the default block is exactly the standing single-profile build
    default_rows = {
        r.game_id: [(s.rank, s.neighbor_id) for s in r.similar]
        for r in nbrs.where("profile = 'default'").collect()
    }
    standing = {
        r.game_id: [(s.rank, s.neighbor_id) for s in r.similar]
        for r in built["game_neighbors"].where("profile = 'default'").collect()
    }
    assert default_rows == standing


def test_game_neighbors_band_and_topk(built):
    sim = built["game_similarity_search"]
    cx = {r.game_id: r.complexity for r in sim.collect()}
    eligible = {r.game_id for r in sim.where("users_rated >= 100").collect()}
    for row in built["game_neighbors"].collect():
        assert row.game_id in eligible
        assert len(row.similar) <= 10
        ranks = [s.rank for s in row.similar]
        assert ranks == sorted(ranks)
        for s in row.similar:
            assert abs(cx[s.neighbor_id] - cx[row.game_id]) <= 0.75 + 1e-9


def test_game_profile_nested_blocks(built):
    prof = {r.game_id: r for r in built["game_profile"].collect()}
    assert built["game_profile"].groupBy("game_id").count().where("count > 1").isEmpty()
    for r in prof.values():
        assert r.game_id_bucket == r.game_id // 1000
        assert isinstance(r.player_counts, list)
        assert isinstance(r.similar, list)
        # predictions block: NULL struct or fully-formed struct (F5 guard)
        if r.predictions is not None:
            assert r.predictions.predicted_rating is not None
        # coordinates block (game_profile.sqlx:101-108): games without a
        # coordinates row get a NULL block, NOT a struct of NULLs
        if r.game_id % 13 == 0:
            assert r.coordinates is None
        else:
            assert r.coordinates is not None
            assert r.coordinates.umap_1 is not None
            assert r.coordinates.embedding_version == 2  # latest version


def test_run_persisted_materializes_and_merges(spark, tables, tmp_path):
    import os

    from pyspark.sql import functions as F

    from bgg_data_warehouse_spark import io
    from bgg_data_warehouse_spark.plans import models as M

    root = str(tmp_path)
    dag = ModelDag()
    out1 = dag.run_persisted(spark, tables, root, targets=["game_profile"])
    # tables persisted; views not
    assert io.table_exists(root, "games_active")
    assert io.table_exists(root, "game_profile")
    assert not io.table_exists(root, "filter_options_combined")
    # profile written under its bucket layout
    assert any(
        d.startswith("game_id_bucket=") for d in os.listdir(f"{root}/game_profile")
    )
    rating_before = {
        r.game_id: r.geek_rating for r in out1["games_active"].collect()
    }

    # incremental cycle: one game gets a newer snapshot with a new rating
    newer = (
        tables["games"]
        .where("game_id = 1")
        .orderBy(F.col("load_timestamp").desc())
        .limit(1)
        .withColumn("load_timestamp", F.expr("load_timestamp + INTERVAL 10 DAYS"))
        .withColumn("bayes_average", F.lit(9.99))
    )
    out2 = dag.run_persisted(
        spark, {**tables, "games": newer}, root, targets=["games_active"]
    )
    after = {r.game_id: r.geek_rating for r in out2["games_active"].collect()}
    assert after[1] == 9.99  # merged: key 1 replaced
    assert len(after) == len(rating_before)  # all other keys persisted
    assert all(after[g] == rating_before[g] for g in after if g != 1)


def test_run_persisted_changed_keys_recomputes_only_changed(spark, tables, tmp_path):
    """J6 wired into the DAG (`games_features.sqlx:15-18`): an incremental
    cycle with a changed-key set re-aggregates ONLY the changed games.
    Proof: the categories dim is renamed between cycles — only the changed
    game may observe the rename; every other game's row must be carried
    through the merge verbatim."""
    from pyspark.sql import functions as F

    from bgg_data_warehouse_spark import io
    from bgg_data_warehouse_spark.plans.dag import scope_to_changed
    from bgg_data_warehouse_spark.streaming.incremental import (
        changed_key_set,
        high_watermark,
        incremental_dag_cycle,
    )

    root = str(tmp_path)
    dag = ModelDag()
    out1 = dag.run_persisted(spark, tables, root, targets=["games_features"])
    feats_before = {r.game_id: r for r in out1["games_features"].collect()}
    # pick a changed game guaranteed to have category links
    target_gid = min(g for g, r in feats_before.items() if r.categories)

    newer = (
        tables["games"]
        .where(F.col("game_id") == target_gid)
        .orderBy(F.col("load_timestamp").desc())
        .limit(1)
        .withColumn("load_timestamp", F.expr("load_timestamp + INTERVAL 10 DAYS"))
        .withColumn("users_rated", F.lit(777))
    )
    renamed_cats = tables["categories"].withColumn(
        "name", F.concat(F.col("name"), F.lit(" vNEW"))
    )
    wm = high_watermark(io.read_table(spark, root, "games_active"), "load_timestamp")
    all_games = tables["games"].unionByName(newer)
    changed = changed_key_set(all_games, "load_timestamp", wm, ["game_id"])
    assert [r.game_id for r in changed.collect()] == [target_gid]

    # plan audit: the scoping is a broadcast semi join — no shuffle of the
    # heavy input, the 100 TB shape
    scoped_plan = (
        scope_to_changed(tables["games"], changed)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "LeftSemi" in scoped_plan and "Broadcast" in scoped_plan, scoped_plan[:2000]

    out2 = incremental_dag_cycle(
        spark,
        dag,
        {**tables, "games": all_games, "categories": renamed_cats},
        root,
        targets=["games_features"],
    )
    after = {r.game_id: r for r in out2["games_features"].collect()}
    assert len(after) == len(feats_before)
    assert after[target_gid].users_rated == 777
    assert after[target_gid].categories and all(
        c.endswith(" vNEW") for c in after[target_gid].categories
    ), "changed game was not re-aggregated against fresh inputs"
    for gid, row in feats_before.items():
        if gid == target_gid:
            continue
        assert after[gid] == row, f"unchanged game {gid} was recomputed"
