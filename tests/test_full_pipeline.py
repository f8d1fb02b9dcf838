"""End-to-end ingest pipeline: fetch stage → process stage → core tables,
idempotency on re-run, and failure accounting — the reference's
fetch_new_games lifecycle (§3.1)."""

from __future__ import annotations

import json
from datetime import datetime

import pytest

from bgg_data_warehouse_spark import io, pipeline, schemas
from bgg_data_warehouse_spark.sources.api_client import BGGApiClient, RateLimiter

from tests.bgg_fixtures import CATAN, EDGE_MINIMAL

T0 = datetime(2026, 4, 1, 12, 0, 0)


def _client(served: dict[int, dict | None]):
    """Fake transport: per-game canned items; None → omitted from response."""

    def transport(url):
        ids = url.split("id=")[1].split("&")[0].split(",")
        items = []
        for gid in ids:
            spec = served.get(int(gid))
            if spec is None:
                continue
            item = dict(spec["items"]["item"])
            item["@id"] = gid
            items.append(item)
        return 200, json.dumps({"items": {"item": items}})

    return BGGApiClient(
        transport=transport,
        rate_limiter=RateLimiter(clock=lambda: 0.0, sleep=lambda s: None),
        sleep=lambda s: None,
    )


@pytest.fixture(scope="module")
def seeded(spark, tmp_path_factory):
    """Every lifecycle test starts from the SAME initial fetch (same
    canned client, same now=T0) — run it once per module, snapshot the
    table directory, and hand each test a fresh filesystem copy (r16,
    r15 VERDICT #1: suite wall — the per-test replay of the identical
    initial pipeline run was ~11 s x 5 of duplicated work). The
    returned counts are the initial run's, asserted where the old
    per-test run asserted them."""
    root = str(tmp_path_factory.mktemp("seed"))
    thing_ids = spark.createDataFrame(
        [
            {"game_id": g, "type": "boardgame", "processed": False,
             "process_timestamp": None, "source": "test", "load_timestamp": T0}
            for g in (13, 99, 404)
        ],
        schemas.THING_IDS,
    )
    io.write_table(thing_ids, root, "thing_ids")
    client = _client({13: CATAN, 99: EDGE_MINIMAL, 404: None})
    counts = pipeline.fetch_new_games(spark, root, client, now=T0)
    return root, counts


@pytest.fixture()
def root(seeded, tmp_path):
    import shutil

    src, _ = seeded
    dst = str(tmp_path / "root")
    shutil.copytree(src, dst)
    return dst


def test_fetch_and_process_end_to_end(spark, root, seeded):
    fetched, processed = seeded[1]
    assert fetched == 3
    assert processed == 2  # 404 produced no payload → no raw row to process

    games = io.read_table(spark, root, "games")
    assert sorted(r.game_id for r in games.collect()) == [13, 99]
    cats = io.read_table(spark, root, "categories")
    assert {(r.category_id, r.name) for r in cats.collect()} == {(1026, "Negotiation")}
    pc = io.read_table(spark, root, "player_counts")
    assert {r.player_count for r in pc.where("game_id = 13").collect()} == {"3", "4+"}

    statuses = {
        r.game_id: r.fetch_status
        for r in io.read_table(spark, root, "fetched_responses").collect()
    }
    assert statuses[13] == "success" and statuses[404] == "no_response"
    # leases drained
    assert io.read_table(spark, root, "fetch_in_progress").count() == 0


def test_rerun_is_idempotent(spark, root):
    client = _client({13: CATAN, 99: EDGE_MINIMAL, 404: None})
    games_before = io.read_table(spark, root, "games").count()

    fetched2, processed2 = pipeline.fetch_new_games(spark, root, client, now=T0)
    # 13/99 fetched OK → excluded; 404 has 1 failed attempt, inside the
    # 1h cool-down at the same `now` → nothing to fetch, nothing to process
    assert (fetched2, processed2) == (0, 0)
    assert io.read_table(spark, root, "games").count() == games_before


def test_refetch_replaces_bridges_appends_games(spark, root):
    # simulate a refresh: clear tracking state for game 13 and serve a
    # changed payload (category renamed) at a later load time
    changed = json.loads(json.dumps(CATAN))
    changed["items"]["item"]["link"][0]["@value"] = "Trading"
    changed["items"]["item"]["link"][0]["@id"] = "2000"
    fetched = io.read_table(spark, root, "fetched_responses").where("game_id <> 13")
    io.rewrite_table(fetched, root, "fetched_responses")

    T1 = datetime(2026, 4, 2, 12, 0, 0)
    pipeline.fetch_new_games(spark, root, _client({13: changed}), now=T1)

    games = io.read_table(spark, root, "games").where("game_id = 13")
    assert games.count() == 2  # time-series append: both snapshots kept
    bridges = io.read_table(spark, root, "game_categories").where("game_id = 13")
    assert {r.category_id for r in bridges.collect()} == {2000}  # replaced, not appended
    cats = {r.category_id for r in io.read_table(spark, root, "categories").collect()}
    assert cats == {1026, 2000}  # dimension keeps union of all entities ever seen


def test_fetch_games_on_demand_refetches(spark, root):
    """fetch_games (reference src/pipeline/fetch_games.py): explicit ids
    are fetched EVEN IF already fetched — refresh semantics — and the
    id list is deduplicated preserving order."""
    client = _client({13: CATAN, 99: EDGE_MINIMAL, 404: None})
    games_before = io.read_table(spark, root, "games").count()

    T1 = datetime(2026, 4, 3, 12, 0, 0)
    fetched, processed = pipeline.fetch_games(
        spark, root, client, [13, 13, 99], now=T1
    )
    assert fetched == 2  # deduped; refetched despite prior success
    assert processed == 2
    # time-series append: each game gains a second snapshot
    assert io.read_table(spark, root, "games").count() == games_before + 2
    assert io.read_table(spark, root, "fetch_in_progress").count() == 0


def test_refresh_old_games_band_driven(spark, root):
    """refresh_old_games (reference src/pipeline/refresh_old_games.py):
    staleness bands pick the refetch set; a fresh fetch is NOT re-fetched,
    a stale one is."""
    client = _client({13: CATAN, 99: EDGE_MINIMAL, 404: None})

    # CATAN year=1995 → 180-day band; EDGE_MINIMAL year=0 → 180-day band
    # (max_year=1999). Just after T0 nothing is stale:
    soon = datetime(2026, 4, 2, 12, 0, 0)
    assert pipeline.refresh_old_games(spark, root, client, now=soon) == (0, 0)

    # 200 days later both are stale
    later = datetime(2026, 10, 20, 12, 0, 0)
    fetched, processed = pipeline.refresh_old_games(spark, root, client, now=later)
    assert (fetched, processed) == (2, 2)
    # refreshed games got new success rows → a rerun finds nothing stale
    assert pipeline.refresh_old_games(spark, root, client, now=later) == (0, 0)


def test_incremental_curation_cycle(spark, tmp_path):
    """The signature composition at 100 TB: curation (quality filter +
    PII scrub) runs INCREMENTALLY — a new batch past the curated table's
    watermark is the only data curated, and the merged table equals a
    full recompute over everything."""
    from datetime import datetime

    from pyspark.sql import Window, functions as F

    from bgg_data_warehouse_spark.functions.text import (
        pii_redact_cols,
        quality_score_cols,
        word_tokens,
    )
    from bgg_data_warehouse_spark.operators.merge import delete_insert
    from bgg_data_warehouse_spark.streaming.incremental import (
        high_watermark,
        watermark_filter,
    )

    root = str(tmp_path)

    def curate(docs):
        toks = word_tokens(F.col("text"))
        q = quality_score_cols(F.col("text"), toks)
        red = pii_redact_cols(F.col("text"))
        return docs.where(F.size(toks) >= 3).select(
            "doc_id",
            "ts",
            red["redacted"].alias("text"),
            q["quality_score"].alias("quality_score"),
        )

    t1, t2 = datetime(2026, 1, 1), datetime(2026, 2, 1)
    batch1 = spark.createDataFrame(
        [(i, f"doc number {i} with plenty of words here", t1) for i in range(20)],
        "doc_id long, text string, ts timestamp",
    )
    io.write_table(curate(batch1), root, "curated_docs")

    batch2 = spark.createDataFrame(
        [(i, f"late doc {i} mail x@y.io arrives", t2) for i in range(15, 30)],
        "doc_id long, text string, ts timestamp",
    )
    all_docs = batch1.unionByName(batch2)

    curated = io.read_table(spark, root, "curated_docs")
    wm = high_watermark(curated, "ts")
    assert wm == t1
    fresh_in = watermark_filter(all_docs, "ts", wm)
    assert fresh_in.count() == 15  # ONLY the new batch is curated
    merged = delete_insert(curated, curate(fresh_in), ["doc_id"])
    io.rewrite_table(merged, root, "curated_docs")

    got = io.read_table(spark, root, "curated_docs")
    w = Window.partitionBy("doc_id").orderBy(F.col("ts").desc())
    full = curate(
        all_docs.withColumn("_r", F.row_number().over(w))
        .where(F.col("_r") == 1)
        .drop("_r")
    )
    a = {tuple(r) for r in got.collect()}
    b = {tuple(r) for r in full.collect()}
    assert a == b  # incremental == full recompute
    # overlapping ids 15-19 were updated to the fresh (redacted) version
    row15 = {r.doc_id: r.text for r in got.collect()}[15]
    assert "<EMAIL>" in row15
