"""Seeded synthetic BGG corpus for the warehouse benchmark.

Everything the engine sees in a benchmark run comes from here: thing ids,
per-game API payloads (served by :class:`FakeTransport`), the ML landing
tables, the daily-refresh change sets and the API read traffic. The same
seed gives byte-identical payloads and tables.

Shape of the corpus:

- every payload carries all eight BGG link types; entity ids are drawn
  from per-type pools with Zipf(``ZIPF_S``) popularity, so a few
  categories/mechanics/publishers appear in most games;
- polls (suggested players, language dependence, player age), rank lists
  and descriptions vary in size from game to game;
- a small planted share of games is served empty (the id is missing from
  the API response, so it lands as ``no_response``) or malformed (an item
  whose link/poll/statistics nodes are garbage: the parser must tolerate
  them and land a zero-filled ``games`` row with no child rows).

:func:`expected_core_counts` predicts the row count of every core table
from the generated items, so the backfill check needs no second
implementation of the flattener.
"""

from __future__ import annotations

import json
import random
from dataclasses import dataclass, field
from datetime import datetime, timedelta

ZIPF_S = 1.1  # entity popularity exponent
ID_SPACE = 40_000  # game ids are sampled from 1..ID_SPACE (40 profile buckets)
EMPTY_SHARE = 0.02
MALFORMED_SHARE = 0.01
CHANGE_SHARE = 0.02  # games changed per refresh cycle
NEW_PER_CYCLE = 3  # unseen games added per refresh cycle
EMBED_DIM = 64
T0 = datetime(2026, 4, 1, 6, 0, 0)

# API read traffic. No request log or traffic study backs these numbers:
# the route weights, the read popularity and the unknown-id rate are
# assumptions, so a gain on the read metrics holds for this mix only.
READ_ZIPF_S = 1.0  # API game-id popularity exponent
UNKNOWN_EVERY = 50  # 2% of requests name an unknown game
# route -> relative weight in the read mix
ROUTE_MIX = [
    ("game", 6),
    ("similar", 3),
    ("similar_live", 1),
    ("players", 3),
    ("features", 2),
    ("predictions", 2),
    ("embedding", 2),
    ("provenance", 1),
]
ROUTE_PATH = {
    "game": "/games/{}",
    "similar": "/games/{}/similar",
    "similar_live": "/games/{}/similar",
    "players": "/games/{}/players",
    "features": "/games/{}/features",
    "predictions": "/games/{}/predictions",
    "embedding": "/games/{}/embedding",
    "provenance": "/games/{}/provenance",
}

# link type -> (entity pool size, min links, max links)
LINK_POOLS = {
    "boardgamecategory": (80, 1, 5),
    "boardgamemechanic": (150, 1, 8),
    "boardgamefamily": (400, 0, 6),
    "boardgamedesigner": (600, 1, 3),
    "boardgameartist": (500, 0, 4),
    "boardgamepublisher": (400, 1, 6),
    "boardgameimplementation": (3000, 0, 2),
    "boardgameexpansion": (3000, 0, 4),
}
# link type -> (bridge table, dimension table or None)
LINK_TABLES = {
    "boardgamecategory": ("game_categories", "categories"),
    "boardgamemechanic": ("game_mechanics", "mechanics"),
    "boardgamefamily": ("game_families", "families"),
    "boardgamedesigner": ("game_designers", "designers"),
    "boardgameartist": ("game_artists", "artists"),
    "boardgamepublisher": ("game_publishers", "publishers"),
    "boardgameimplementation": ("game_implementations", None),
    "boardgameexpansion": ("game_expansions", None),
}
FAMILY_RANKS = [
    "strategygames", "familygames", "partygames", "thematic",
    "wargames", "abstracts", "cgs", "childrensgames",
]
LANGUAGE_LEVELS = [
    "No necessary in-game text",
    "Some necessary text - easily memorized or small crib sheet",
    "Moderate in-game text - needs crib sheet or paste ups",
    "Extensive use of text - massive conversion needed to be playable",
    "Unplayable in another language",
]
WORDS = (
    "trade build settle card dice worker placement engine deck drafting "
    "tile area control route network hand management auction bidding "
    "cooperative campaign legacy puzzle abstract economic war empire "
    "dungeon explore castle river farm market city train ship space"
).split()


def zipf_weights(n: int, s: float) -> list[float]:
    return [1.0 / (rank**s) for rank in range(1, n + 1)]


def _draw_distinct(rng: random.Random, pool: list[int], cum: list[float], k: int) -> list[int]:
    out: list[int] = []
    while len(out) < min(k, len(pool)):
        v = rng.choices(pool, cum_weights=cum)[0]
        if v not in out:
            out.append(v)
    return out


def _cumulative(weights: list[float]) -> list[float]:
    total, cum = 0.0, []
    for w in weights:
        total += w
        cum.append(total)
    return cum


@dataclass
class Corpus:
    """One seeded corpus: ``n_games`` initial games plus change sets."""

    seed: int
    n_games: int
    game_ids: list[int] = field(init=False)
    kind: dict[int, str] = field(init=False)  # "ok" | "empty" | "malformed"
    revision: dict[int, int] = field(init=False)  # bumped by each change set

    def __post_init__(self) -> None:
        rng = random.Random(f"corpus:{self.seed}")
        self.game_ids = sorted(rng.sample(range(1, ID_SPACE + 1), self.n_games))
        self.kind = {}
        for gid in self.game_ids:
            u = rng.random()
            self.kind[gid] = (
                "empty" if u < EMPTY_SHARE
                else "malformed" if u < EMPTY_SHARE + MALFORMED_SHARE
                else "ok"
            )
        self.revision = {gid: 0 for gid in self.game_ids}
        self._pools = {}
        for lt, (size, _, _) in LINK_POOLS.items():
            base = {"boardgameimplementation": 100_000, "boardgameexpansion": 200_000}.get(lt, 0)
            ids = list(range(base + 1, base + size + 1))
            prng = random.Random(f"pool:{self.seed}:{lt}")
            prng.shuffle(ids)  # popularity rank is independent of id order
            self._pools[lt] = (ids, _cumulative(zipf_weights(size, ZIPF_S)))

    # -- payloads -------------------------------------------------------

    def parsed_ids(self) -> list[int]:
        """Ids that land a ``games`` row (everything but the empties)."""
        return [g for g in self.game_ids if self.kind.get(g, "ok") != "empty"]

    def item(self, gid: int) -> dict | None:
        """The BGG item for ``gid`` at its current revision; None = the
        API omits the id (an empty payload)."""
        kind = self.kind.get(gid, "ok")
        if kind == "empty":
            return None
        rev = self.revision.get(gid, 0)
        if kind == "malformed":
            return {
                "@id": str(gid),
                "@type": "boardgame",
                "name": f"Broken {gid}",
                "yearpublished": {"@value": "n/a"},
                "link": "garbage",
                "poll": "garbage",
                "statistics": "garbage",
            }
        rng = random.Random(f"item:{self.seed}:{gid}")
        n_alt = rng.choice([0, 0, 1, 2, 3])
        names = [{"@type": "primary", "@sortindex": "1", "@value": f"Game {gid}"}] + [
            {"@type": "alternate", "@sortindex": "1", "@value": f"Game {gid} alt {i}"}
            for i in range(n_alt)
        ]
        if rev:
            names[0]["@value"] = f"Game {gid} rev {rev}"
        max_players = rng.choice([1, 2, 2, 4, 4, 4, 5, 6, 8])
        links = []
        for lt, (ids, cum) in self._pools.items():
            lo, hi = LINK_POOLS[lt][1:]
            for eid in _draw_distinct(rng, ids, cum, rng.randint(lo, hi)):
                link = {"@type": lt, "@id": str(eid), "@value": f"{lt[9:]} {eid}"}
                if lt == "boardgameimplementation" and rng.random() < 0.3:
                    link["@inbound"] = "true"
                links.append(link)
        numplayers = [str(p) for p in range(1, max_players + 1)] + [f"{max_players}+"]
        polls = [
            {
                "@name": "suggested_numplayers",
                "results": [
                    {
                        "@numplayers": p,
                        "result": [
                            {"@value": v, "@numvotes": str(rng.randint(0, 40))}
                            for v in ("Best", "Recommended", "Not Recommended")
                        ],
                    }
                    for p in numplayers
                ],
            },
            {
                "@name": "language_dependence",
                "results": {
                    "result": [
                        {"@level": str(i + 1), "@value": txt, "@numvotes": str(rng.randint(0, 9))}
                        for i, txt in enumerate(LANGUAGE_LEVELS)
                    ]
                },
            },
            {
                "@name": "suggested_playerage",
                "results": {
                    "result": [
                        {"@value": str(a), "@numvotes": str(rng.randint(0, 9))}
                        for a in sorted(rng.sample(range(2, 21), rng.randint(0, 8)))
                    ]
                },
            },
        ]
        users_rated = int(10 * rng.paretovariate(0.8)) + rev * 7
        ranked = rng.random() > 0.1
        ranks = [
            {
                "@type": "subtype", "@name": "boardgame", "@friendlyname": "Board Game Rank",
                "@value": str(rng.randint(1, 30000)) if ranked else "Not Ranked",
                "@bayesaverage": f"{rng.uniform(5.5, 8.5):.5f}" if ranked else "Not Ranked",
            }
        ] + [
            {
                "@type": "family", "@name": fam, "@friendlyname": f"{fam} Rank",
                "@value": str(rng.randint(1, 3000)),
                "@bayesaverage": f"{rng.uniform(5.5, 8.5):.5f}",
            }
            for fam in rng.sample(FAMILY_RANKS, rng.randint(0, 3))
        ]
        n_words = min(int(rng.lognormvariate(4.5, 1.0)) + 5, 3000)
        return {
            "@id": str(gid),
            "@type": "boardgame" if gid % 9 else "boardgameexpansion",
            "name": names if len(names) > 1 else names[0],
            "yearpublished": {"@value": str(rng.choice([0, *range(1960, 2027)]))},
            "minplayers": {"@value": str(rng.randint(1, max_players))},
            "maxplayers": {"@value": str(max_players)},
            "playingtime": {"@value": str(rng.choice([15, 30, 45, 60, 90, 120, 240]))},
            "minplaytime": {"@value": "30"},
            "maxplaytime": {"@value": "120"},
            "minage": {"@value": str(rng.randint(3, 16))},
            "description": " ".join(rng.choices(WORDS, k=n_words)),
            "thumbnail": f"https://img.example/{gid}_t.jpg",
            "image": f"https://img.example/{gid}.jpg",
            "link": links,
            "poll": polls,
            "statistics": {
                "ratings": {
                    "usersrated": {"@value": str(users_rated)},
                    "average": {"@value": f"{rng.uniform(4.0, 9.0):.5f}"},
                    "bayesaverage": {"@value": f"{rng.uniform(5.5, 8.5) + rev * 0.01:.5f}"},
                    "stddev": {"@value": f"{rng.uniform(0.5, 2.0):.5f}"},
                    "median": {"@value": "0"},
                    "owned": {"@value": str(users_rated * 2)},
                    "trading": {"@value": str(rng.randint(0, 200))},
                    "wanting": {"@value": str(rng.randint(0, 200))},
                    "wishing": {"@value": str(rng.randint(0, 900))},
                    "numcomments": {"@value": str(rng.randint(0, 900))},
                    "numweights": {"@value": str(rng.randint(0, 300))},
                    "averageweight": {"@value": f"{rng.uniform(1.0, 5.0):.4f}"},
                    "ranks": {"rank": ranks if len(ranks) > 1 else ranks[0]},
                }
            },
        }

    def payload(self, gid: int) -> str:
        """The per-game payload string the engine lands."""
        item = self.item(gid)
        return "" if item is None else json.dumps({"items": {"item": item}})

    # -- change sets (daily refresh) -----------------------------------

    def change_set(self, seed: int, cycle: int) -> tuple[list[int], list[int]]:
        """Pick ``CHANGE_SHARE`` of the well-formed games to change and
        ``NEW_PER_CYCLE`` unseen ids to add (drawn from ``seed``); bumps
        revisions so later payloads differ. Returns (changed, new ids)."""
        rng = random.Random(f"cycle:{seed}:{cycle}")
        known = [g for g in self.game_ids if self.kind[g] == "ok"]
        changed = sorted(rng.sample(known, max(1, round(CHANGE_SHARE * len(known)))))
        taken = set(self.game_ids)
        fresh: list[int] = []
        while len(fresh) < NEW_PER_CYCLE:
            g = rng.randint(1, ID_SPACE)
            if g not in taken:
                taken.add(g)
                fresh.append(g)
        for g in changed:
            self.revision[g] += 1
        for g in fresh:
            self.game_ids.append(g)
            self.kind[g] = "ok"
            self.revision[g] = 0
        self.game_ids.sort()
        return changed, sorted(fresh)

    # -- ML landing tables --------------------------------------------

    def landing_rows(self) -> dict[str, list[dict]]:
        """ML landing tables for the initial games (dict rows)."""
        rng = random.Random(f"ml:{self.seed}")
        parsed = self.parsed_ids()
        preds, embs, coords, colls = [], [], [], []
        for gid in parsed:
            for job in (1, 2):
                preds.append({
                    "job_id": f"job-{job}", "game_id": gid, "name": f"Game {gid}",
                    "year_published": 2000 + gid % 26,
                    "predicted_hurdle_prob": round(rng.random(), 4),
                    "predicted_complexity": round(rng.uniform(1, 5), 3),
                    "predicted_rating": round(rng.uniform(5, 9), 3),
                    "predicted_users_rated": float(rng.randint(10, 5000)),
                    "predicted_geek_rating": round(rng.uniform(5.5, 8), 3),
                    **{
                        f"{fam}_{part}": f"{fam}-{part}-v{job}"
                        for fam in ("geek_rating", "hurdle", "complexity", "rating", "users_rated")
                        for part in ("model_name", "model_version", "experiment")
                    },
                    "score_ts": T0 - timedelta(days=3 - job),
                    "source_environment": "prod",
                })
            for version in (1, 2):
                vec = [round(rng.gauss(0.0, 1.0), 6) for _ in range(EMBED_DIM)]
                embs.append({
                    "game_id": gid, "name": f"Game {gid}", "year_published": 2000 + gid % 26,
                    "embedding": vec, "embedding_8": vec[:8], "embedding_16": vec[:16],
                    "embedding_32": vec[:32], "embedding_model": "emb",
                    "embedding_version": version, "embedding_dim": EMBED_DIM,
                    "algorithm": "svd", "created_ts": T0 - timedelta(days=3 - version),
                    "job_id": f"emb-{version}",
                })
                if gid % 13:
                    coords.append({
                        "game_id": gid, "umap_1": round(rng.uniform(-5, 5), 4),
                        "umap_2": round(rng.uniform(-5, 5), 4),
                        "pca_1": round(rng.uniform(-2, 2), 4), "pca_2": round(rng.uniform(-2, 2), 4),
                        "embedding_model": "emb", "embedding_version": version,
                        "created_ts": T0 - timedelta(days=3 - version),
                    })
        users = [f"user{u:03d}" for u in range(20)]
        for user in users:
            for gid in rng.sample(parsed, min(15, len(parsed))):
                for ver in ("v1", "v2"):
                    colls.append({
                        "username": user, "game_id": gid, "outcome": "own",
                        "predicted_prob": round(rng.random(), 4),
                        "predicted_label": rng.random() > 0.5, "threshold": 0.5,
                        "model_name": "coll", "model_version": ver,
                        "score_ts": T0 - timedelta(days=2 if ver == "v1" else 1),
                        "job_id": f"c-{ver}",
                    })
        registry = [
            {"username": u, "outcome": "own", "model_version": "v2" if i % 3 else "v1",
             "finalize_through_year": 2026, "registered_at": T0, "status": "active"}
            for i, u in enumerate(users)
        ]
        return {
            "ml_predictions_landing": preds,
            "game_embeddings": embs,
            "description_embeddings": embs,
            "game_coordinates": coords,
            "collection_predictions_landing": colls,
            "collection_models_registry": registry,
        }


def expected_core_counts(corpus: Corpus) -> dict[str, int]:
    """Row counts of every core table after all games are fetched and
    processed once, derived from the generated items."""
    counts = {name: 0 for name, _ in LINK_TABLES.values()}
    counts.update({d: 0 for _, d in LINK_TABLES.values() if d})
    counts.update(games=0, rankings=0, player_counts=0, language_dependence=0,
                  suggested_ages=0, alternate_names=0)
    entities: dict[str, set[int]] = {d: set() for _, d in LINK_TABLES.values() if d}
    for gid in corpus.game_ids:
        item = corpus.item(gid)
        if item is None:
            continue
        counts["games"] += 1
        if corpus.kind.get(gid) == "malformed":
            continue
        names = item["name"] if isinstance(item["name"], list) else [item["name"]]
        counts["alternate_names"] += sum(n["@type"] == "alternate" for n in names)
        for ln in item["link"]:
            bridge, dim = LINK_TABLES[ln["@type"]]
            if ln.get("@inbound") != "true":
                counts[bridge] += 1
            if dim:
                entities[dim].add(int(ln["@id"]))
        poll_np, poll_lang, poll_age = item["poll"]
        counts["player_counts"] += len(poll_np["results"])
        counts["language_dependence"] += len(poll_lang["results"]["result"])
        counts["suggested_ages"] += len(poll_age["results"]["result"])
        rank = item["statistics"]["ratings"]["ranks"]["rank"]
        counts["rankings"] += len(rank) if isinstance(rank, list) else 1
    for dim, ents in entities.items():
        counts[dim] = len(ents)
    return counts


class FakeTransport:
    """Zero-latency stand-in for the BGG HTTP API over a :class:`Corpus`:
    answers ``.../thing?id=a,b,c&stats=1`` with the items of the known,
    non-empty ids (empties are simply absent, like the real API)."""

    def __init__(self, corpus: Corpus):
        self.corpus = corpus

    def __call__(self, url: str) -> tuple[int, str]:
        ids = url.split("id=", 1)[1].split("&", 1)[0].split(",")
        items = []
        for raw in ids:
            item = self.corpus.item(int(raw))
            if item is not None:
                items.append(item)
        return 200, json.dumps({"items": {"item": items}})


def read_requests(corpus: Corpus, seed: int, n: int) -> list[tuple[str, int, dict]]:
    """Seeded API traffic: (route, game_id, params). Game ids follow a
    Zipf(``READ_ZIPF_S``) popularity over the parsed games. The mix is
    stratified so every run sees the same proportions: each block of
    ``sum(ROUTE_MIX weights)`` requests holds every route at its weight
    (in seeded order), and one request in each ``UNKNOWN_EVERY`` names an
    id the warehouse never saw (a 404 for the point routes)."""
    rng = random.Random(f"reads:{seed}")
    ranked = corpus.parsed_ids()
    rng.shuffle(ranked)
    cum = _cumulative(zipf_weights(len(ranked), READ_ZIPF_S))
    block = [route for route, weight in ROUTE_MIX for _ in range(weight)]
    routes: list[str] = []
    while len(routes) < n:
        rng.shuffle(block)
        routes += block
    unknown_at = {
        start + rng.randrange(UNKNOWN_EVERY) for start in range(0, n, UNKNOWN_EVERY)
    }
    out = []
    for i, route in enumerate(routes[:n]):
        gid = ID_SPACE + 1 + rng.randrange(1000) if i in unknown_at else rng.choices(ranked, cum_weights=cum)[0]
        params = {"n": str(rng.choice([5, 10]))} if route == "similar_live" else {}
        out.append((route, gid, params))
    return out
