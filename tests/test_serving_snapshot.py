"""The in-memory serving snapshot behind the read API (readers.GameReader).

- every route answers what a direct Spark read of the same persisted
  tables answers: known, absent and unknown ids, the profile dispatch,
  and live ``/similar`` against the Spark ``functions.vector``
  expressions for every metric, dims and two ``min_ratings`` floors;
- no route runs a Spark job once the snapshot is built;
- a server started before a table swap keeps answering from its
  snapshot, and serves the new values once a new reader is published.
"""

from __future__ import annotations

import json
import shutil
import urllib.request
from datetime import datetime, timedelta
from functools import reduce

import pytest
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from bgg_data_warehouse_spark import io, schemas
from bgg_data_warehouse_spark.functions.vector import (
    cosine_similarity,
    dot_product,
    euclidean_distance,
)
from bgg_data_warehouse_spark.readers import GameReader
from bgg_data_warehouse_spark.service_http import serve

SERVING = [
    "game_profile", "games_features", "player_count_recommendations", "bgg_predictions",
    "bgg_game_coordinates", "fetched_responses", "game_neighbors", "game_similarity_search",
]
UNKNOWN = 999_999
T0 = datetime(2026, 3, 1, 12, 0, 0)
COPY = 1000  # games 1-4 re-enter the similarity corpus as 1001-1004


@pytest.fixture(scope="module")
def root(spark, tmp_path_factory):
    """The serving tables of a fixture DAG run, persisted. The fetch
    history has timestamp ties, and the similarity corpus holds exact
    copies of four games, so every metric has score ties."""
    from bgg_data_warehouse_spark.plans.dag import ModelDag

    from tests.bgg_fixtures import core_fixture_tables

    out = str(tmp_path_factory.mktemp("serving"))
    ModelDag().run_persisted(spark, core_fixture_tables(spark), out, targets=["game_profile"])
    sim = io.read_table(spark, out, "game_similarity_search")
    copies = sim.where(F.col("game_id") <= 4).withColumn("game_id", F.col("game_id") + COPY)
    # one copy lacks its 8-d vector: Spark scores it null, sorted last
    # descending and first ascending
    copies = copies.withColumn("embedding_8", F.expr(f"IF(game_id = {COPY + 4}, NULL, embedding_8)"))
    io.rewrite_table(sim.unionByName(copies), out, "game_similarity_search")
    fetches = [
        ("r-1", 1, T0, "success"),
        ("r-2", 1, T0 + timedelta(days=1), "no_response"),
        ("r-3", 1, T0 + timedelta(days=1), "success"),
        ("r-4", 2, T0, "success"),
    ]
    io.write_table(spark.createDataFrame(fetches, schemas.FETCHED_RESPONSES), out, "fetched_responses")
    return out


def _read(spark, root: str) -> dict[str, DataFrame]:
    return {n: io.read_table(spark, root, n) for n in SERVING}


@pytest.fixture(scope="module")
def reader(spark, root):
    return GameReader(_read(spark, root))


def _by_game(df: DataFrame, *order) -> dict[int, list[dict]]:
    """One Spark collect of ``df``, grouped by game_id in ``order``."""
    out: dict[int, list[dict]] = {}
    for r in df.orderBy("game_id", *order).collect():
        out.setdefault(r.game_id, []).append(r.asDict(recursive=True))
    return out


def _same(a, b) -> bool:
    # perfbench's in-process body check: JSON with default=str, so a
    # tz-aware timestamp (+00:00) or an int/float swap is a difference
    return json.dumps(a, default=str, sort_keys=True) == json.dumps(b, default=str, sort_keys=True)


def test_point_routes_equal_spark_reads(spark, root, reader):
    t = _read(spark, root)
    profile = _by_game(t["game_profile"])
    features = _by_game(t["games_features"].select(
        "game_id", "name", "categories", "mechanics", "complexity", "geek_rating"))
    players = _by_game(t["player_count_recommendations"], "player_count")
    predictions = _by_game(t["bgg_predictions"])
    coords = _by_game(t["bgg_game_coordinates"].select(
        "game_id", "umap_1", "umap_2", "pca_1", "pca_2",
        "embedding_model", "embedding_version", "created_ts"))
    provenance = _by_game(
        t["fetched_responses"].select("record_id", "game_id", "fetch_timestamp", "fetch_status"),
        F.col("fetch_timestamp").desc())
    neighbors = {
        (r.profile, r.game_id): [s.asDict() for s in r.similar]
        for r in t["game_neighbors"].collect()
    }
    ids = sorted(set(profile) | set(features) | set(coords) | set(provenance)) + [0, UNKNOWN]
    assert len(profile) > 10 and len(provenance) == 2 and len(neighbors) > 5

    for gid in ids:
        doc = profile.get(gid, [None])[0]
        if doc is not None:
            doc["similar"] = doc.pop("similar") or []
        assert _same(reader.get_game(gid), doc), gid
        feat = features.get(gid, [None])[0]
        if feat is not None:
            feat["player_counts"] = players.get(gid, [])
        assert _same(reader.get_features(gid), feat), gid
        assert _same(reader.get_player_counts(gid), players.get(gid, [])), gid
        assert _same(reader.get_predictions(gid), predictions.get(gid, [None])[0]), gid
        assert _same(reader.get_embedding(gid), coords.get(gid, [None])[0]), gid
        got, want = reader.get_provenance(gid), provenance.get(gid, [])
        # newest first; rows tied on fetch_timestamp may come in any order
        assert [r["fetch_timestamp"] for r in got] == [r["fetch_timestamp"] for r in want]
        by_id = lambda rows: sorted(rows, key=lambda r: r["record_id"])  # noqa: E731
        assert _same(by_id(got), by_id(want)), gid
        default = neighbors.get(("default", gid), [])
        assert _same(reader.get_similar(gid), default), gid
        assert _same(reader.get_similar(gid, profile="default"), default), gid
        assert reader.get_similar(gid, profile="") == []  # empty != default
        assert reader.get_similar(gid, profile="no_such_profile") == []


def _spark_live(sim: DataFrame, metric: str, dims, min_ratings: int, n: int) -> DataFrame:
    """Live k-NN for every source game at once: the Spark vector
    expressions, ORDER BY score, game_id per source, first n."""
    vec = {8: "embedding_8", 16: "embedding_16", 32: "embedding_32"}.get(dims, "embedding")
    src = sim.select(F.col("game_id").alias("src_id"), F.col(vec).alias("src_vec"))
    corpus = sim.where(F.col("users_rated") >= min_ratings).select(
        "game_id", "name", F.col(vec).alias("vec"))
    score = {"cosine": cosine_similarity, "dot": dot_product, "euclidean": euclidean_distance}[
        metric](F.col("vec"), F.col("src_vec"))
    order = F.col("score").asc() if metric == "euclidean" else F.col("score").desc()
    rank = F.row_number().over(Window.partitionBy("src_id").orderBy(order, F.col("game_id")))
    return (
        corpus.crossJoin(src)
        .where(F.col("game_id") != F.col("src_id"))
        .withColumn("score", score)
        .withColumn("rank", rank)
        .where(F.col("rank") <= n)
        .select(
            F.lit(metric).alias("metric"), F.lit(dims).cast("int").alias("dims"),
            F.lit(min_ratings).alias("min_ratings"), "src_id", "rank",
            "game_id", "name", F.round("score", 6).alias("score"),
        )
    )


def test_live_similar_equals_spark_vector_expressions(spark, root, reader):
    sim = io.read_table(spark, root, "game_similarity_search")
    n = 6
    combos = [
        (metric, dims, floor)
        for metric in ("cosine", "dot", "euclidean")
        for dims in (None, 8, 16, 32)
        for floor in (0, 100)
    ]
    want: dict[tuple, list[dict]] = {}
    rows = reduce(DataFrame.unionByName, [_spark_live(sim, *c, n) for c in combos])
    for r in rows.orderBy("metric", "dims", "min_ratings", "src_id", "rank").collect():
        want.setdefault((r.metric, r.dims, r.min_ratings, r.src_id), []).append(
            {"game_id": r.game_id, "name": r.name, "score": r.score})
    sources = [r.game_id for r in sim.select("game_id").collect()] + [UNKNOWN]
    ties = 0
    for metric, dims, floor in combos:
        for gid in sources:
            got = reader.get_similar(gid, n=n, metric=metric, dims=dims, min_ratings=floor)
            expected = want.get((metric, dims, floor, gid), [])
            assert got == expected, (metric, dims, floor, gid)
            ties += sum(a["score"] == b["score"] for a, b in zip(got, got[1:]))
    assert ties > 0  # the copied games put exact ties inside the limit
    assert any(r["score"] is None for rows in want.values() for r in rows)


def test_routes_run_no_spark_job(spark, reader):
    sc = spark.sparkContext
    calls = [
        lambda: reader.get_game(1), lambda: reader.get_features(1),
        lambda: reader.get_player_counts(1), lambda: reader.get_predictions(1),
        lambda: reader.get_embedding(1), lambda: reader.get_provenance(1),
        lambda: reader.get_similar(1), lambda: reader.get_similar(1, profile="default"),
        lambda: reader.get_similar(1, n=3, metric="euclidean", dims=16, min_ratings=0),
        lambda: reader.get_game(UNKNOWN), lambda: reader.get_similar(UNKNOWN, n=3),
    ]
    try:
        sc.setJobGroup("snapshot-routes", "every read route")
        for call in calls:
            call()
        assert list(sc.statusTracker().getJobIdsForGroup("snapshot-routes")) == []
        # the guard sees jobs when there are some
        sc.setJobGroup("snapshot-control", "one Spark action")
        spark.range(3).collect()
        assert list(sc.statusTracker().getJobIdsForGroup("snapshot-control")) != []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


def _get(srv, path):
    host, port = srv.server_address
    try:
        with urllib.request.urlopen(f"http://{host}:{port}{path}") as r:
            return r.status, json.loads(r.read())
    except urllib.error.HTTPError as e:
        return e.code, json.loads(e.read())


def test_server_outlives_a_table_swap_and_serves_a_published_snapshot(spark, root, tmp_path):
    live = str(tmp_path / "live")
    shutil.copytree(root, live)
    srv = serve(GameReader(_read(spark, live)), port=0)
    try:
        gid = io.read_table(spark, live, "games_features").first().game_id
        status, before = _get(srv, f"/games/{gid}/features")
        assert status == 200
        feats = io.read_table(spark, live, "games_features")
        bumped = F.coalesce(F.col("geek_rating"), F.lit(0.0)) + F.lit(1.0)
        io.rewrite_table(feats.withColumn("geek_rating", bumped), live, "games_features")
        # the old snapshot keeps answering though its files are gone
        assert _get(srv, f"/games/{gid}/features") == (200, before)
        srv.reader = GameReader(_read(spark, live))  # publish
        status, after = _get(srv, f"/games/{gid}/features")
        assert status == 200
        assert after["geek_rating"] == (before["geek_rating"] or 0.0) + 1.0
        assert {k: v for k, v in after.items() if k != "geek_rating"} == {
            k: v for k, v in before.items() if k != "geek_rating"}
    finally:
        srv.shutdown()
        srv.server_close()
