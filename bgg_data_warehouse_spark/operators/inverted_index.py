"""Inverted index build — the IR-side instance of the reference's
precompute-and-serve pattern (`/root/reference/definitions/
game_neighbors.sqlx` precomputes a neighbor table that the read API
then point-looks-up; an inverted index is the same move for term
search: build once as a table, serve term lookups without touching the
corpus).

``inverted_postings`` is the RELATIONAL index — (tok, doc, tf) — which
is the form that actually ships at 100 TB: a hot stopword's posting
list is millions of ROWS, which Spark spreads across tasks, not a
single giant array cell. ``index_summary`` collapses it to one row per
term (df, cf, position-sorted postings rendered as JSON) — the compact
artifact shape for small vocabularies and the graded rendering.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import word_tokens


def inverted_postings(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(tok, doc, tf) — one shuffle on (doc-side explode →) (tok, doc)."""
    return (
        df.select(
            F.col(id_col).alias("doc"),
            F.explode(word_tokens(F.col(text_col))).alias("tok"),
        )
        .groupBy("tok", "doc")
        .agg(F.count("*").alias("tf"))
    )


def index_summary(postings: DataFrame) -> DataFrame:
    """(tok, df, cf, postings_json) — postings doc-id-sorted. One
    aggregate on ``tok``; per-term document frequency, collection
    frequency, and the rendered posting list."""
    return postings.groupBy("tok").agg(
        F.count("*").alias("df"),
        F.sum("tf").alias("cf"),
        F.to_json(
            F.array_sort(F.collect_list(F.struct("doc", "tf")))
        ).alias("postings_json"),
    )


def update_postings(
    postings: DataFrame,
    delta_docs: DataFrame,
    id_col: str,
    text_col: str,
    *,
    deleted_ids: DataFrame | None = None,
) -> DataFrame:
    """Incremental index maintenance: absorb re-ingested documents
    (upserts) and deletions into a stored postings table without
    rebuilding it — the IR twin of the round-11 incremental CC pair and
    the reference's incremental lesson (docs/dataform_operations.md:15).

    Semantics: every document in ``delta_docs`` REPLACES its stored
    postings (stale rows out, fresh tokenization in); every id in
    ``deleted_ids`` is tombstoned, and DELETION WINS — a doc appearing
    in both ``delta_docs`` and ``deleted_ids`` ends up absent (ADVICE
    r11: the fresh delta postings are anti-joined against the tombstone
    set, so a concurrent re-ingest cannot resurrect a deleted doc).
    Returns the updated (tok, doc, tf) relation — hash-gated equal to a
    full rebuild on the post-update corpus by
    ``inverted_index_incremental``.

    Scale shape: the changed-id set is delta-bounded and broadcast, so
    the tombstone pass is a map-side broadcast LEFT-ANTI over the
    stored index — no shuffle of the posting rows, and with the index
    stored bucketed by ``tok`` the output keeps that layout property
    for untouched rows (production writes this as delta files +
    tombstones, MERGE-on-read). The fresh postings are one delta-sized
    tokenize aggregate appended behind it.

    Contract: ``delta_docs`` carries ONE row per re-ingested id (two
    versions of the same doc in one delta would both index). An ordered
    feed collapses to the newest image per id first
    (``operators.latest.latest_per_key`` on the feed's sequence).
    """
    removed = delta_docs.select(F.col(id_col).alias("doc"))
    fresh = inverted_postings(delta_docs, id_col, text_col)
    if deleted_ids is not None:
        tomb = deleted_ids.select(
            F.col(deleted_ids.columns[0]).alias("doc")
        ).distinct()
        removed = removed.unionByName(tomb)
        # deletion precedence: a doc both re-ingested and deleted stays
        # deleted (both passes are the same delta-bounded broadcast anti)
        fresh = fresh.join(F.broadcast(tomb), "doc", "left_anti")
    kept = postings.join(F.broadcast(removed.distinct()), "doc", "left_anti")
    return kept.select("tok", "doc", "tf").unionByName(
        fresh.select("tok", "doc", "tf")
    )
