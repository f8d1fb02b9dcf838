"""Tests for the benchmark's synthetic BGG generator.

    python3 -m pytest perfbench/test_gen.py -q

Checks that a seed reproduces byte-identical payloads, that another seed
differs, and that every table the engine flattens the payloads into
passes ``bgg_xml.validate_pk_unique`` and has the row count
``gen.expected_core_counts`` predicts.
"""

from __future__ import annotations

import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), HERE]

import gen  # noqa: E402

# primary keys of the flattened tables (normalize's dedup keys)
PKS = {
    "games": ["game_id"],
    "categories": ["category_id"], "mechanics": ["mechanic_id"], "families": ["family_id"],
    "designers": ["designer_id"], "artists": ["artist_id"], "publishers": ["publisher_id"],
    "game_categories": ["game_id", "category_id"], "game_mechanics": ["game_id", "mechanic_id"],
    "game_families": ["game_id", "family_id"], "game_designers": ["game_id", "designer_id"],
    "game_artists": ["game_id", "artist_id"], "game_publishers": ["game_id", "publisher_id"],
    "game_implementations": ["game_id", "implementation_id"],
    "game_expansions": ["game_id", "expansion_id"],
    "player_counts": ["game_id", "player_count"],
    "language_dependence": ["game_id", "level"],
    "suggested_ages": ["game_id", "age"],
    "alternate_names": ["game_id", "name"],
    "rankings": ["game_id", "ranking_type", "ranking_name"],
}


def _payloads(seed: int, n: int = 60) -> list[str]:
    c = gen.Corpus(seed, n)
    return [c.payload(g) for g in c.game_ids]


def test_same_seed_is_byte_identical():
    assert _payloads(7) == _payloads(7)
    assert gen.Corpus(7, 60).landing_rows() == gen.Corpus(7, 60).landing_rows()
    a, b = gen.Corpus(7, 60), gen.Corpus(7, 60)
    assert gen.read_requests(a, 3, 200) == gen.read_requests(b, 3, 200)
    assert a.change_set(3, 0) == b.change_set(3, 0)
    assert [a.payload(g) for g in a.game_ids] == [b.payload(g) for g in b.game_ids]


def test_other_seed_differs():
    assert _payloads(7) != _payloads(8)
    assert gen.Corpus(7, 60).game_ids != gen.Corpus(8, 60).game_ids


def test_payload_shape():
    c = gen.Corpus(5, 200)
    kinds = [c.kind[g] for g in c.game_ids]
    assert "empty" in kinds and "malformed" in kinds
    assert all(c.payload(g) == "" for g in c.game_ids if c.kind[g] == "empty")
    link_types = {
        ln["@type"] for g in c.game_ids if c.kind[g] == "ok" for ln in c.item(g)["link"]
    }
    assert link_types == set(gen.LINK_POOLS)


@pytest.fixture(scope="module")
def spark():
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    os.environ["PYTHONPATH"] = os.pathsep.join([os.path.dirname(HERE), os.environ.get("PYTHONPATH", "")])
    from bgg_data_warehouse_spark.session import get_spark

    s = get_spark("perfbench-test-gen", cpus=2, extra_conf={"spark.ui.showConsoleProgress": "false"})
    yield s
    s.stop()


def test_flattened_tables_have_unique_keys_and_predicted_counts(spark):
    from bgg_data_warehouse_spark.sources import bgg_xml
    from bgg_data_warehouse_spark.sources.api_client import land_responses

    c = gen.Corpus(11, 80)
    raw, _ = land_responses(spark, {g: c.payload(g) for g in c.game_ids}, gen.T0)
    parsed = bgg_xml.parse_responses(raw.where("response_data <> ''")).cache()
    tables = bgg_xml.normalize(parsed, gen.T0)
    assert set(tables) == set(PKS)
    expected = gen.expected_core_counts(c)
    for name, df in tables.items():
        assert bgg_xml.validate_pk_unique(df, PKS[name]), name
        assert df.count() == expected[name], name
