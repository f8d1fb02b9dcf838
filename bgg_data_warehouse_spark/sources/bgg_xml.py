"""BGG XML-response flattener: raw payload strings → the 20 core tables.

Reference semantics: `/root/reference/src/data_processor/processor.py` —
`process_game` (`:300-398`) flattens one xmltodict payload to a typed flat
dict; `prepare_for_bigquery` (`:400-617`) fans out to per-table frames
with set-based dedup (`:490-522`); `validate_data` (`:619-710`) enforces
PK uniqueness. Value-parsing rules mirrored here:

- int/float attributes parse with 0 defaults on malformed input
  (`processor.py:13-57`);
- ``year_published`` keeps only digit-strings and treats ``"0"`` as null
  (`processor.py:102-164`, `tests/test_processor.py:162-190`);
- rank ``"Not Ranked"`` → null (`tests/test_processor.py`);
- ``name``/``link``/``poll``/``rank`` appear as dict OR list OR bare
  string — all variants accepted (`tests/test_processor.py:17-108`);
- implementations flagged ``@inbound="true"`` are excluded from
  ``game_implementations`` (`tests/test_processor.py:59-108`);
- payloads are JSON or python-literal dict strings; empty/unparseable
  payloads produce no rows (`response_processor.py:255-265`).

Shape: a process batch is bounded (at most ``PROCESS_BATCH`` = 100
games), so it is flattened on the driver. :func:`parse_payload`
normalizes one payload's semi-structured variants into a wide row per
game (Python is unavoidable for dict-vs-list variant handling), and
:func:`fan_out` is the one multi-output fan-out (A9): the wide rows of a
batch become the 20 core tables as Arrow tables in their declared
schemas (``schemas.CORE_TABLES``), deduplicated on each table's key,
first row wins. No Spark job runs for either step. ``parse_responses``
and ``normalize`` are DataFrame adapters over the same two functions.
"""

from __future__ import annotations

import ast
import json
from typing import Any

import pyarrow as pa

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import schemas

LINK_TYPE_TO_BRIDGE = {
    "boardgamecategory": ("game_categories", "category_id", "categories"),
    "boardgamemechanic": ("game_mechanics", "mechanic_id", "mechanics"),
    "boardgamefamily": ("game_families", "family_id", "families"),
    "boardgamedesigner": ("game_designers", "designer_id", "designers"),
    "boardgameartist": ("game_artists", "artist_id", "artists"),
    "boardgamepublisher": ("game_publishers", "publisher_id", "publishers"),
    "boardgameimplementation": ("game_implementations", "implementation_id", None),
    "boardgameexpansion": ("game_expansions", "expansion_id", None),
}

PARSED_SCHEMA = """
    game_id long, type string, primary_name string, year_published long,
    min_players long, max_players long, playing_time long, min_playtime long,
    max_playtime long, min_age long, description string, thumbnail string,
    image string, users_rated long, average_rating double, bayes_average double,
    standard_deviation double, median_rating double, owned_count long,
    trading_count long, wanting_count long, wishing_count long,
    num_comments long, num_weights long, average_weight double,
    names array<struct<name_type: string, value: string, sort_index: long>>,
    links array<struct<link_type: string, link_id: long, value: string, inbound: boolean>>,
    player_counts array<struct<player_count: string, best_votes: long,
                               recommended_votes: long, not_recommended_votes: long>>,
    language_dependence array<struct<level: long, description: string, votes: long>>,
    suggested_ages array<struct<age: string, votes: long>>,
    ranks array<struct<ranking_type: string, ranking_name: string,
                       friendly_name: string, value: long, bayes_average: double>>
"""


def _as_list(v: Any) -> list:
    """BGG XML collapses single-element lists to dicts; re-expand."""
    if v is None:
        return []
    return v if isinstance(v, list) else [v]


def _safe_int(v: Any, default: int | None = 0) -> int | None:
    try:
        return int(float(v))
    except (TypeError, ValueError):
        return default


def _safe_float(v: Any, default: float | None = 0.0) -> float | None:
    try:
        return float(v)
    except (TypeError, ValueError):
        return default


def _attr_int(d: Any) -> int | None:
    return _safe_int(d.get("@value") if isinstance(d, dict) else None, 0)


def _attr_float(d: Any) -> float | None:
    return _safe_float(d.get("@value") if isinstance(d, dict) else None, 0.0)


def _parse_year(d: Any) -> int | None:
    # digits-only guard; year 0 means unknown (processor.py year edge cases)
    raw = d.get("@value") if isinstance(d, dict) else None
    if not isinstance(raw, str) or not raw.lstrip("-").isdigit():
        return None
    y = int(raw)
    return None if y == 0 else y


def parse_payload(payload: str) -> list[dict]:
    """One raw response string → list of parsed game dicts (usually one)."""
    if payload is None or not payload.strip():
        return []
    try:
        doc = json.loads(payload)
    except (ValueError, TypeError):
        try:  # legacy python-dict-literal payloads (F16)
            doc = ast.literal_eval(payload)
        except (ValueError, SyntaxError):
            return []
    if not isinstance(doc, dict):
        return []
    items = doc.get("items") or {}
    out = []
    for item in _as_list(items.get("item")):
        if not isinstance(item, dict) or "@id" not in item:
            continue
        out.append(_parse_item(item))
    return out


def _parse_item(item: dict) -> dict:
    names = []
    for n in _as_list(item.get("name")):
        if isinstance(n, str):
            names.append({"name_type": "primary", "value": n, "sort_index": None})
        elif isinstance(n, dict):
            names.append(
                {
                    "name_type": n.get("@type", "primary"),
                    "value": n.get("@value"),
                    "sort_index": _safe_int(n.get("@sortindex"), None),
                }
            )
    primary = next((n["value"] for n in names if n["name_type"] == "primary"), None)
    if primary is None and names:
        primary = names[0]["value"]

    links = [
        {
            "link_type": ln.get("@type"),
            "link_id": _safe_int(ln.get("@id"), None),
            "value": ln.get("@value"),
            "inbound": str(ln.get("@inbound", "")).lower() == "true",
        }
        for ln in _as_list(item.get("link"))
        if isinstance(ln, dict)
    ]

    player_counts, lang_dep, ages = [], [], []
    for poll in _as_list(item.get("poll")):
        if not isinstance(poll, dict):
            continue
        pname = poll.get("@name")
        results = poll.get("results")
        if pname == "suggested_numplayers":
            for res in _as_list(results):
                if not isinstance(res, dict):
                    continue
                votes = {"Best": 0, "Recommended": 0, "Not Recommended": 0}
                for r in _as_list(res.get("result")):
                    if isinstance(r, dict) and r.get("@value") in votes:
                        votes[r["@value"]] = _safe_int(r.get("@numvotes"), 0)
                player_counts.append(
                    {
                        "player_count": res.get("@numplayers"),
                        "best_votes": votes["Best"],
                        "recommended_votes": votes["Recommended"],
                        "not_recommended_votes": votes["Not Recommended"],
                    }
                )
        elif pname == "language_dependence":
            for res in _as_list(results):
                for r in _as_list(res.get("result") if isinstance(res, dict) else None):
                    if isinstance(r, dict):
                        lang_dep.append(
                            {
                                "level": _safe_int(r.get("@level"), None),
                                "description": r.get("@value"),
                                "votes": _safe_int(r.get("@numvotes"), 0),
                            }
                        )
        elif pname == "suggested_playerage":
            for res in _as_list(results):
                for r in _as_list(res.get("result") if isinstance(res, dict) else None):
                    if isinstance(r, dict) and r.get("@value") is not None:
                        ages.append(
                            {"age": str(r.get("@value")), "votes": _safe_int(r.get("@numvotes"), 0)}
                        )

    stats = item.get("statistics") or {}
    ratings = stats.get("ratings") if isinstance(stats, dict) else {}
    ratings = ratings if isinstance(ratings, dict) else {}
    ranks = []
    ranks_node = ratings.get("ranks") or {}
    for rk in _as_list(ranks_node.get("rank") if isinstance(ranks_node, dict) else None):
        if not isinstance(rk, dict):
            continue
        value = rk.get("@value")
        ranks.append(
            {
                "ranking_type": rk.get("@type"),
                "ranking_name": rk.get("@name"),
                "friendly_name": rk.get("@friendlyname"),
                # "Not Ranked" → null, never 0
                "value": _safe_int(value, None) if value != "Not Ranked" else None,
                "bayes_average": _safe_float(rk.get("@bayesaverage"), None),
            }
        )

    return {
        "game_id": _safe_int(item.get("@id"), None),
        "type": item.get("@type"),
        "primary_name": primary,
        "year_published": _parse_year(item.get("yearpublished")),
        "min_players": _attr_int(item.get("minplayers")),
        "max_players": _attr_int(item.get("maxplayers")),
        "playing_time": _attr_int(item.get("playingtime")),
        "min_playtime": _attr_int(item.get("minplaytime")),
        "max_playtime": _attr_int(item.get("maxplaytime")),
        "min_age": _attr_int(item.get("minage")),
        "description": item.get("description"),
        "thumbnail": item.get("thumbnail"),
        "image": item.get("image"),
        "users_rated": _attr_int(ratings.get("usersrated")),
        "average_rating": _attr_float(ratings.get("average")),
        "bayes_average": _attr_float(ratings.get("bayesaverage")),
        "standard_deviation": _attr_float(ratings.get("stddev")),
        "median_rating": _attr_float(ratings.get("median")),
        "owned_count": _attr_int(ratings.get("owned")),
        "trading_count": _attr_int(ratings.get("trading")),
        "wanting_count": _attr_int(ratings.get("wanting")),
        "wishing_count": _attr_int(ratings.get("wishing")),
        "num_comments": _attr_int(ratings.get("numcomments")),
        "num_weights": _attr_int(ratings.get("numweights")),
        "average_weight": _attr_float(ratings.get("averageweight")),
        "names": names,
        "links": links,
        "player_counts": player_counts,
        "language_dependence": lang_dep,
        "suggested_ages": ages,
        "ranks": ranks,
    }


# the key the fan-out deduplicates each core table on (first row wins);
# a batch shares one load_timestamp, so game_id alone keys a games row
FAN_OUT_KEYS = {
    "games": ["game_id"],
    **{name: [sch.fields[0].name] for name, sch in schemas.DIMENSIONS.items()},
    **{name: [sch.fields[0].name, sch.fields[1].name] for name, sch in schemas.BRIDGES.items()},
    "player_counts": ["game_id", "player_count"],
    "alternate_names": ["game_id", "name"],
    "language_dependence": ["game_id", "level"],
    "suggested_ages": ["game_id", "age"],
    "rankings": ["game_id", "ranking_type", "ranking_name"],
}
_GAME_SCALARS = [f.name for f in schemas.GAMES.fields if f.name != "load_timestamp"]


def fan_out(parsed: list[dict], load_timestamp) -> dict[str, pa.Table]:
    """The multi-output fan-out (A9): wide parsed rows → the 20 core
    tables, each an Arrow table in its declared schema. A batch may hold
    the same game twice (a re-fetch) and games share entities, so every
    table keeps the first row per key (processor set-dedup `:490-522`)."""
    rows: dict[str, list[dict]] = {name: [] for name in FAN_OUT_KEYS}
    for g in parsed:
        gid = g["game_id"]
        rows["games"].append({**{c: g[c] for c in _GAME_SCALARS}, "load_timestamp": load_timestamp})
        for ln in g["links"]:
            if ln["link_type"] not in LINK_TYPE_TO_BRIDGE:
                continue
            bridge, other_id, dim = LINK_TYPE_TO_BRIDGE[ln["link_type"]]
            if not (bridge == "game_implementations" and ln["inbound"]):  # outbound only
                rows[bridge].append({"game_id": gid, other_id: ln["link_id"]})
            if dim is not None:
                rows[dim].append({other_id: ln["link_id"], "name": ln["value"]})
        for table in ("player_counts", "language_dependence", "suggested_ages"):
            rows[table] += [{"game_id": gid, **x} for x in g[table]]
        rows["alternate_names"] += [
            {"game_id": gid, "name": n["value"], "sort_index": n["sort_index"]}
            for n in g["names"]
            if n["name_type"] == "alternate"
        ]
        rows["rankings"] += [{"game_id": gid, **rk, "load_timestamp": load_timestamp} for rk in g["ranks"]]
    out = {}
    for name, keys in FAN_OUT_KEYS.items():
        seen, kept = set(), []
        for r in rows[name]:
            key = tuple(r[k] for k in keys)
            if key not in seen:
                seen.add(key)
                kept.append(r)
        out[name] = pa.Table.from_pylist(kept, schema=schemas.arrow_schema(schemas.CORE_TABLES[name]))
    return out


def parse_responses(raw_responses: DataFrame) -> DataFrame:
    """raw_responses(response_data, ...) → one wide parsed row per game:
    a DataFrame adapter that collects the payloads and parses them on
    the driver with :func:`parse_payload`."""
    rows = [
        game
        for r in raw_responses.select("response_data").collect()
        for game in parse_payload(r.response_data)
    ]
    return raw_responses.sparkSession.createDataFrame(rows, PARSED_SCHEMA)


def normalize(parsed: DataFrame, load_timestamp) -> dict[str, DataFrame]:
    """DataFrame adapter over :func:`fan_out`: parsed wide rows → one
    DataFrame per core table."""
    spark = parsed.sparkSession
    tables = fan_out(parsed.toArrow().to_pylist(), load_timestamp)
    return {name: spark.createDataFrame(t) for name, t in tables.items()}


def validate_pk_unique(df: DataFrame, keys: list[str]) -> bool:
    """A10 PK-uniqueness validation (processor.py:667-704)."""
    return df.groupBy(*keys).count().where(F.col("count") > 1).isEmpty()
