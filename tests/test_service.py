"""Read-service routing-contract tests — the analogue of the reference's
`tests/test_games_router.py` (reader faked, no Spark): 404 mapping, 200/null
optional blocks, tuning-param passthrough, allow-list violations as 400,
and the /players-never-scans-features guarantee. A second test class runs
the same contract against the REAL GameReader over built model tables."""

from __future__ import annotations

import pytest

from bgg_data_warehouse_spark.service import handle


class FakeReader:
    """Records calls; per-method return values set by tests."""

    def __init__(self, **returns):
        self.returns = returns
        self.calls = []

    def __getattr__(self, name):
        if name.startswith("_"):
            raise AttributeError(name)

        def method(*args, **kwargs):
            self.calls.append((name, args, kwargs))
            val = self.returns.get(name, None)
            if isinstance(val, Exception):
                raise val
            return val

        return method


def test_health():
    assert handle(FakeReader(), "GET", "/health") == (200, {"status": "ok"})


def test_get_game_ok():
    rd = FakeReader(get_game={"game_id": 13, "name": "Catan"})
    status, body = handle(rd, "GET", "/games/13")
    assert status == 200 and body["name"] == "Catan"
    assert rd.calls == [("get_game", (13,), {})]


def test_get_game_missing_is_404():
    status, body = handle(FakeReader(get_game=None), "GET", "/games/999999")
    assert status == 404 and "999999" in body["detail"]


def test_features_missing_is_404_but_optional_blocks_are_null_200():
    rd = FakeReader(get_features=None, get_predictions=None, get_embedding=None)
    assert handle(rd, "GET", "/games/7/features")[0] == 404
    # a real game may simply not have these blocks yet → 200 with null body
    assert handle(rd, "GET", "/games/7/predictions") == (200, None)
    assert handle(rd, "GET", "/games/7/embedding") == (200, None)


def test_players_reads_player_counts_only():
    """/players must not touch games_features (reference test_players_sub_resource)."""
    rd = FakeReader(get_player_counts=[{"player_count": "4"}])
    status, body = handle(rd, "GET", "/games/13/players")
    assert status == 200 and body == [{"player_count": "4"}]
    called = {name for name, _, _ in rd.calls}
    assert called == {"get_player_counts"}, f"/players touched {called}"


def test_similar_untuned_passes_no_params():
    rd = FakeReader(get_similar=[{"game_id": 21, "score": 0.9}])
    status, body = handle(rd, "GET", "/games/13/similar")
    assert status == 200 and body[0]["game_id"] == 21
    _, _, kwargs = rd.calls[0]
    assert all(v is None for v in kwargs.values())


def test_similar_passes_tuning_params_through():
    rd = FakeReader(get_similar=[])
    status, _ = handle(
        rd, "GET", "/games/13/similar",
        {"n": "25", "metric": "euclidean", "min_ratings": "500", "dims": "32"},
    )
    assert status == 200
    _, _, kwargs = rd.calls[0]
    assert kwargs == {
        "n": 25, "metric": "euclidean", "min_ratings": 500, "dims": 32,
        "profile": None,
    }


def test_similar_passes_profile_through():
    """?profile=name selects a precomputed profile list (R2 dispatch on
    the (profile, game_id)-keyed neighbors table)."""
    rd = FakeReader(get_similar=[])
    status, _ = handle(rd, "GET", "/games/13/similar", {"profile": "coarse"})
    assert status == 200
    _, _, kwargs = rd.calls[0]
    assert kwargs["profile"] == "coarse"
    assert all(v is None for k, v in kwargs.items() if k != "profile")


def test_similar_rejects_bad_metric_as_400():
    rd = FakeReader(get_similar=ValueError("metric must be one of ..."))
    status, body = handle(rd, "GET", "/games/13/similar", {"metric": "NOPE"})
    assert status == 400, "invalid tuning params should be 400, not 500"
    assert "metric" in body["detail"]


def test_similar_malformed_param_is_400():
    assert handle(FakeReader(), "GET", "/games/13/similar", {"n": "abc"})[0] == 400


def test_unknown_routes_and_methods():
    assert handle(FakeReader(), "GET", "/games/abc")[0] == 404
    assert handle(FakeReader(), "GET", "/nope")[0] == 404
    assert handle(FakeReader(), "GET", "/games/1/nope")[0] == 404
    assert handle(FakeReader(), "POST", "/games/1")[0] == 405


# --------------------------------------------------------------------------
# same contract against the real reader over built model tables
# --------------------------------------------------------------------------


@pytest.fixture(scope="module")
def real_reader(spark):
    from bgg_data_warehouse_spark.plans.dag import ModelDag
    from bgg_data_warehouse_spark.readers import GameReader

    from tests.bgg_fixtures import core_fixture_tables

    tables = ModelDag().run(core_fixture_tables(spark))
    return GameReader(tables)


def test_real_point_document_and_404(real_reader):
    status, doc = handle(real_reader, "GET", "/games/1")
    assert status == 200 and doc["game_id"] == 1 and "similar" in doc
    assert handle(real_reader, "GET", "/games/999999")[0] == 404


def test_real_players_block_sorted(real_reader):
    status, rows = handle(real_reader, "GET", "/games/1/players")
    assert status == 200
    counts = [r["player_count"] for r in rows]
    assert counts == sorted(counts)


def test_real_similar_tuned_vs_precomputed(real_reader):
    s0, pre = handle(real_reader, "GET", "/games/1/similar")
    s1, live = handle(real_reader, "GET", "/games/1/similar", {"metric": "cosine", "n": "3"})
    assert s0 == 200 and s1 == 200
    assert len(live) <= 3
    assert handle(real_reader, "GET", "/games/1/similar", {"metric": "manhattan"})[0] == 400
    assert handle(real_reader, "GET", "/games/1/similar", {"dims": "7"})[0] == 400


def test_real_similar_n_below_one_is_400(real_reader):
    """n=-1 would slice all but one corpus row and n=0 used to fall
    back to 10: both are caller errors."""
    for n in ("-1", "0"):
        status, body = handle(real_reader, "GET", "/games/1/similar", {"n": n})
        assert status == 400 and "n must be" in body["detail"], n
    assert len(handle(real_reader, "GET", "/games/1/similar", {"n": "1"})[1]) <= 1
