"""Read-API composition (R1–R3) over an in-memory serving snapshot.

Mirrors `/root/reference/src/warehouse/readers/games.py`:

- ``get_game`` (`:253-289`): profile row + precomputed neighbors composed
  into one document; None when no profile row (the router's 404).
- ``get_similar`` (`:134-225`): no tuning params → precomputed
  ``game_neighbors`` lookup; any param → live query with allow-listed
  metric/dims (R2 dispatch), filtered BEFORE distance+rank.
- block readers (`:55-131`) project explicit columns, never SELECT *.

The constructor copies each serving table into this process once (one
``toArrow``); no request runs a Spark job or opens a file after that. At
catalogue size (~10^5 games) this single-node form is the design: point
routes are dict lookups, live ``/similar`` one brute-force float64 pass. A
refresh publishes a new reader by swapping one reference (``srv.reader``).
"""

from __future__ import annotations

import json
import math
from datetime import datetime
from decimal import ROUND_HALF_UP, Decimal

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from .functions.vector import pair_scores
from .plans.models import DEFAULT_PROFILE

ALLOWED_METRICS = ("cosine", "euclidean", "dot")
ALLOWED_DIMS = (8, 16, 32, 64)
VECTOR_COLUMNS = {8: "embedding_8", 16: "embedding_16", 32: "embedding_32"}  # else "embedding"

# table -> _keyed arguments: served columns (default all), key, order within a key
POINT_TABLES = {
    "game_profile": {},
    "games_features": {"cols": ["game_id", "name", "categories", "mechanics", "complexity",
                                "geek_rating"]},
    "player_count_recommendations": {"order": ("player_count", "ascending")},
    "bgg_predictions": {},  # SELECT * on purpose: the ML pipeline owns the columns
    "bgg_game_coordinates": {"cols": ["game_id", "umap_1", "umap_2", "pca_1", "pca_2",
                                      "embedding_model", "embedding_version", "created_ts"]},
    "fetched_responses": {"cols": ["record_id", "game_id", "fetch_timestamp", "fetch_status"],
                          "order": ("fetch_timestamp", "descending")},
    "game_neighbors": {"cols": ["profile", "game_id", "similar"], "key": ("profile", "game_id")},
}


def _keyed(df, cols=None, key=("game_id",), order=None):
    """``df`` (projected to ``cols``) as one Arrow table sorted by ``key``
    then ``order``, plus each key's contiguous ``[lo, hi)`` row range."""
    df = df.select(*cols) if cols else df
    # every field nullable: a left join leaves null structs whose fields
    # Spark still marks non-null, which toArrow's schema cast refuses
    relaxed = df.schema.json().replace('"nullable":false', '"nullable":true')
    table = df.to(df.schema.fromJson(json.loads(relaxed))).toArrow()
    sort = [(c, "ascending") for c in key] + ([order] if order else [])
    table = table.take(pc.sort_indices(table, sort_keys=sort))
    ranges: dict[tuple, list[int]] = {}
    for i, k in enumerate(zip(*(table.column(c).to_pylist() for c in key))):
        ranges.setdefault(k, [i, i])[1] = i + 1
    return table, ranges


def _matrix(col: pa.ChunkedArray) -> np.ndarray:
    """A list column as an (n, width) float64 matrix; a null, short or
    null-holding vector is a NaN row, which scores as Spark's null."""
    arr = col.combine_chunks()
    lens = pc.list_value_length(arr).fill_null(0).to_numpy()
    full = lens == lens.max(initial=0)
    mat = np.full((len(arr), lens.max(initial=0)), np.nan)
    values = arr.filter(pa.array(full)).flatten()
    mat[full] = np.asarray(values, np.float64).reshape(mat[full].shape)
    return mat


def _plain(v):
    """Arrow's Python value as Spark's ``collect()`` gives it: timestamps,
    nested ones included, as naive local datetimes."""
    if isinstance(v, datetime):
        return v.astimezone().replace(tzinfo=None)
    if isinstance(v, dict):
        return {k: _plain(x) for k, x in v.items()}
    if isinstance(v, list):
        return [_plain(x) for x in v]
    return v


def _round6(x) -> float | None:
    """``F.round(x, 6)``: HALF_UP on the shortest decimal repr, not
    Python's half-even ``round``; NaN is Spark's null."""
    if math.isnan(x):
        return None
    return float(Decimal(repr(float(x))).quantize(Decimal("1e-6"), ROUND_HALF_UP))


class GameReader:
    """Readers over one snapshot of the built analytics tables (a dict
    name → DataFrame — parquet-backed via io.read_table or in-memory from
    the DAG runner). A table the dict lacks fails its routes at call time."""

    def __init__(self, tables: dict):
        self._snapshot = {n: _keyed(tables[n], **a) for n, a in POINT_TABLES.items() if n in tables}
        if "game_similarity_search" in tables:
            sim = tables["game_similarity_search"]
            vecs = [c for c in ("embedding", *VECTOR_COLUMNS.values()) if c in sim.columns]
            t = sim.select("game_id", "name", "users_rated", *vecs).toArrow()
            self._snapshot["game_similarity_search"] = (
                t.column("game_id").to_numpy(), t.column("name").to_pylist(),
                t.column("users_rated").to_numpy(),  # a null is NaN: never >= min_ratings
                {c: _matrix(t.column(c)) for c in vecs})

    def _rows(self, name: str, *key) -> list[dict]:
        table, ranges = self._snapshot[name]
        lo, hi = ranges.get(key, (0, 0))
        return [_plain(r) for r in table.slice(lo, hi - lo).to_pylist()]

    def _row(self, name: str, *key) -> dict | None:
        return next(iter(self._rows(name, *key)), None)

    def get_game(self, game_id: int) -> dict | None:
        """R1 point document; None → caller's 404."""
        doc = self._row("game_profile", game_id)
        if doc is not None:
            doc["similar"] = doc.pop("similar", None) or []
        return doc

    def get_features(self, game_id: int) -> dict | None:
        """R3 block reader — explicit columns only (no SELECT *); carries
        the per-player-count block like the reference's ``get_features``
        (`readers/games.py:83-91`)."""
        doc = self._row("games_features", game_id)
        if doc is not None:
            doc["player_counts"] = self.get_player_counts(game_id)
        return doc

    def get_player_counts(self, game_id: int) -> list[dict]:
        """Per-player-count rows, read from ``player_count_recommendations``
        ONLY (`readers/games.py:67-81`) — ``/players`` must never pay for a
        games_features scan. Empty list for an unknown game."""
        return self._rows("player_count_recommendations", game_id)

    def get_predictions(self, game_id: int) -> dict | None:
        """Latest prediction row; None when the game has no prediction —
        a legitimate state, the router serves it as 200/null."""
        return self._row("bgg_predictions", game_id)

    def get_embedding(self, game_id: int) -> dict | None:
        """UMAP/PCA coordinates (`readers/games.py:120-131`); None if the
        game was never embedded."""
        return self._row("bgg_game_coordinates", game_id)

    def get_provenance(self, game_id: int) -> list[dict]:
        """Fetch-history provenance rows (`readers/games.py` PROVENANCE_COLUMNS),
        newest first."""
        return self._rows("fetched_responses", game_id)

    def get_similar(
        self,
        game_id: int,
        *,
        n: int | None = None,
        metric: str | None = None,
        dims: int | None = None,
        min_ratings: int | None = None,
        profile: str | None = None,
    ) -> list[dict]:
        """R2 two-tier dispatch: precomputed unless any tuning param set.

        The untuned path reads the ``game_neighbors`` table at the
        requested (or default) profile — the reference serves the common
        path from the ``(profile, game_id)``-clustered neighbors lookup
        (`definitions/game_neighbors.sqlx:4-8`, `readers/games.py:134-166`),
        so new profiles ship side-by-side and flip in by name without a
        rebuild of the serving document.

        DELIBERATE deviation from the reference: combining ``profile``
        with any tuning param raises ValueError (HTTP 400 at the
        service layer), where the reference's tuned path silently
        ignores ``profile`` (`src/warehouse/readers/games.py:144-174`).
        A request naming a precomputed list AND ad-hoc tuning knobs is
        contradictory — answering the tuned query under the profile's
        name would mislabel the result — so we reject it loudly. Pinned
        by tests/test_service.py (profile/tuning exclusivity) and
        listed in COVERAGE.md's deviation notes."""
        tuned = any(v is not None for v in (n, metric, dims, min_ratings))
        if not tuned:
            # `is not None`, not truthiness: profile="" is an UNKNOWN
            # profile (empty result), not a request for the default
            wanted = profile if profile is not None else DEFAULT_PROFILE
            row = self._row("game_neighbors", wanted, game_id)
            return [] if row is None else row["similar"]
        if profile is not None:
            raise ValueError("profile selects a precomputed list; it cannot combine with tuning params")
        if metric is not None and metric not in ALLOWED_METRICS:
            raise ValueError(f"metric must be one of {ALLOWED_METRICS}")
        if dims is not None and dims not in ALLOWED_DIMS:
            raise ValueError(f"dims must be one of {ALLOWED_DIMS}")
        if n is not None and n < 1:
            raise ValueError("n must be >= 1")
        return self._similar_live(
            game_id,
            n=n if n is not None else 10,
            metric=metric or "cosine",
            dims=dims,
            min_ratings=min_ratings if min_ratings is not None else 100,
        )

    def _similar_live(self, game_id, *, n, metric, dims, min_ratings) -> list[dict]:
        """Live k-NN (J8 + O2): the source vector scored against the
        pre-filtered corpus, ORDER BY score, game_id LIMIT n."""
        ids, names, rated, vectors = self._snapshot["game_similarity_search"]
        mat = vectors.get(VECTOR_COLUMNS.get(dims), vectors["embedding"])
        src = mat[ids == game_id][:1]
        if not len(src):
            return []
        keep = np.flatnonzero((rated >= min_ratings) & (ids != game_id))
        score = pair_scores(mat, src, metric)[keep]
        desc = metric != "euclidean"
        # null (NaN) scores go last descending and first ascending, as in Spark
        order = np.lexsort((ids[keep], -score if desc else score, np.isnan(score) == desc))[:n]
        return [{"game_id": int(ids[keep[j]]), "name": names[keep[j]], "score": _round6(score[j])}
                for j in order]
