"""Topo-ordered model runner — the Spark stand-in for the Dataform compiler.

The reference's DAG is induced by ``${ref(...)}`` across ~22 SQLX models
(`/root/reference/docs/lineage.md:4-62`, execution §3.2 of SURVEY.md).
Here the DAG is explicit: every model declares its inputs; the runner
topo-sorts, executes each ``f(tables) -> DataFrame`` and adds the result
to the table registry. Materialization is pluggable (dict registry for
tests, io.py writers for persisted runs) and per-model policies mirror
Dataform's view/table/incremental split.
"""

from __future__ import annotations

from collections.abc import Callable
from graphlib import TopologicalSorter

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import models as M

ModelFn = Callable[[dict[str, DataFrame]], DataFrame]

# model name -> (dependencies, fn, materialization policy)
# policies mirror the reference configs: "table" = full rebuild,
# "incremental" = watermark + merge-by-uniqueKey (handled by the runner
# via streaming/incremental.py when persistence is enabled)
REGISTRY: dict[str, tuple[tuple[str, ...], ModelFn, str]] = {
    "games_active": (("games",), M.games_active, "incremental"),
    "games_features": (
        (
            "games_active",
            "game_categories", "categories",
            "game_mechanics", "mechanics",
            "game_designers", "designers",
            "game_publishers", "publishers",
            "game_artists", "artists",
            "game_families", "families",
        ),
        M.games_features,
        "incremental",
    ),
    "best_player_counts": (("player_counts",), M.best_player_counts, "table"),
    "player_count_recommendations": (
        ("player_counts",),
        M.player_count_recommendations,
        "table",
    ),
    "filter_categories": (
        ("games_active", "game_categories", "categories"),
        M.filter_categories,
        "table",
    ),
    "filter_mechanics": (
        ("games_active", "game_mechanics", "mechanics"),
        M.filter_mechanics,
        "table",
    ),
    "filter_designers": (
        ("games_active", "game_designers", "designers"),
        M.filter_designers,
        "table",
    ),
    "filter_publishers": (
        ("games_active", "game_publishers", "publishers"),
        M.filter_publishers,
        "table",
    ),
    "filter_options_combined": (
        tuple(f"filter_{e}" for e in M.ENTITY_FILTERS),
        M.filter_options_combined,
        "view",
    ),
    "game_dropdown_options": (("games_active",), M.game_dropdown_options, "table"),
    "bgg_predictions": (("ml_predictions_landing",), M.bgg_predictions, "incremental"),
    "bgg_complexity_predictions": (
        ("ml_predictions_landing",),
        M.bgg_complexity_predictions,
        "table",
    ),
    "bgg_game_embeddings": (("game_embeddings",), M.bgg_game_embeddings, "table"),
    "bgg_description_embeddings": (
        ("description_embeddings",),
        M.bgg_description_embeddings,
        "table",
    ),
    "bgg_game_coordinates": (("game_coordinates",), M.bgg_game_coordinates, "table"),
    "game_first_prediction": (
        ("ml_predictions_landing",),
        M.game_first_prediction,
        "table",
    ),
    "user_collection_predictions": (
        ("collection_predictions_landing", "collection_models_registry"),
        M.user_collection_predictions,
        "incremental",
    ),
    "deployed_models": (
        ("ml_predictions_landing", "game_embeddings"),
        M.deployed_models,
        "view",
    ),
    "game_features_hash": (("games_features",), M.game_features_hash, "table"),
    "game_similarity_search": (
        ("bgg_game_embeddings", "games_features"),
        M.game_similarity_search,
        "incremental",
    ),
    "game_neighbors": (("game_similarity_search",), M.game_neighbors, "table"),
    "game_profile": (
        (
            "games_active",
            "player_count_recommendations",
            "bgg_predictions",
            "bgg_game_embeddings",
            "bgg_game_coordinates",
            "game_neighbors",
        ),
        M.game_profile,
        "table",
    ),
}


def scope_to_changed(df: DataFrame, changed_keys: DataFrame | None) -> DataFrame:
    """J6 changed-keys scoping (`games_features.sqlx:15-18`): semi-join an
    input to the small changed-key set so an incremental run re-aggregates
    ONLY changed keys — the reference's 8 s-vs-4 h lesson. The key set is
    broadcast (it's a watermark slice, tiny by construction), so the heavy
    input is filtered in place with no shuffle. Inputs lacking the key
    columns (dimension tables) pass through untouched."""
    if changed_keys is None:
        return df
    kcols = changed_keys.columns
    if not all(c in df.columns for c in kcols):
        return df
    return df.join(F.broadcast(changed_keys), kcols, "left_semi")


class ModelDag:
    """Run the model DAG over a registry of source DataFrames."""

    def __init__(self):
        self.registry = REGISTRY

    def order(self, targets: list[str] | None = None) -> list[str]:
        """Topological execution order (optionally restricted to targets +
        their transitive deps)."""
        graph = {name: set(deps) for name, (deps, _, _) in self.registry.items()}
        if targets is not None:
            needed: set[str] = set()
            stack = list(targets)
            while stack:
                n = stack.pop()
                if n in needed or n not in graph:
                    continue
                needed.add(n)
                stack.extend(graph[n])
            graph = {n: {d for d in deps if d in graph} for n, deps in graph.items() if n in needed}
        else:
            graph = {
                n: {d for d in deps if d in self.registry} for n, deps in graph.items()
            }
        return list(TopologicalSorter(graph).static_order())

    def run(
        self,
        tables: dict[str, DataFrame],
        targets: list[str] | None = None,
    ) -> dict[str, DataFrame]:
        """Execute models in dependency order; results land in (a copy of)
        the table registry and feed downstream models."""
        out = dict(tables)
        for name in self.order(targets):
            deps, fn, _policy = self.registry[name]
            missing = [d for d in deps if d not in out]
            if missing:
                raise KeyError(f"model {name!r} missing inputs: {missing}")
            out[name] = fn(out)
        return out

    def run_persisted(
        self,
        spark,
        tables: dict[str, DataFrame],
        root: str,
        targets: list[str] | None = None,
        changed_keys: DataFrame | None = None,
    ) -> dict[str, DataFrame]:
        """Execute and MATERIALIZE per model policy (the Dataform run).

        - ``view``: computed, fed downstream, never written;
        - ``table``: full rebuild (CREATE OR REPLACE semantics);
        - ``incremental``: MERGE by uniqueKey into the existing table —
          fresh rows replace matched keys, unmatched keys persist. The
          reference's watermark scoping of *inputs* (I1) composes on top
          via streaming.incremental; the runner owns the write side AND,
          when ``changed_keys`` is given, the J6 input scoping: every
          keyed input of an incremental model is semi-joined to the
          changed-key set before the model body runs, so only changed
          keys are re-aggregated (`games_features.sqlx:15-18`). Full-
          rebuild models ignore ``changed_keys`` — they see full inputs,
          like the reference's non-incremental configs.

        Downstream models read the PERSISTED table (not the in-memory
        plan), exactly like Dataform's ref() — so an incremental model's
        consumers see merged history, not just this run's slice.
        """
        from .. import io
        from ..operators.merge import delete_insert

        out = dict(tables)
        for name in self.order(targets):
            deps, fn, policy = self.registry[name]
            missing = [d for d in deps if d not in out]
            if missing:
                raise KeyError(f"model {name!r} missing inputs: {missing}")
            keys = UNIQUE_KEYS.get(name)
            if policy == "incremental" and keys:
                # crashed-swap table must not read as "first write" —
                # that would replace accumulated state with one cycle
                io.recover_table(root, name)
            merge_into_existing = (
                policy == "incremental" and keys and io.table_exists(root, name)
            )
            if merge_into_existing and changed_keys is not None:
                scoped = dict(out)
                for d in deps:
                    scoped[d] = scope_to_changed(out[d], changed_keys)
                df = fn(scoped)
            else:
                df = fn(out)
            if policy == "view":
                out[name] = df
                continue
            if merge_into_existing:
                existing = io.read_table(spark, root, name)
                io.rewrite_table(delete_insert(existing, df, keys), root, name)
            else:
                io.write_table(df, root, name)
            out[name] = io.read_table(spark, root, name)
        return out


# uniqueKey declarations for incremental models, mirroring the reference's
# Dataform configs (e.g. games_features.sqlx `uniqueKey: ["game_id"]`)
UNIQUE_KEYS: dict[str, list[str]] = {
    "games_active": ["game_id"],
    "games_features": ["game_id"],
    "bgg_predictions": ["game_id"],
    "user_collection_predictions": ["username", "game_id", "outcome"],
    "game_similarity_search": ["game_id"],
}
