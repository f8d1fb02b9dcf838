"""IO write strategies, incremental MERGE, tracking work-queue, API client,
readers, and the streaming path — the ingest half of the engine."""

from __future__ import annotations

import json
from datetime import datetime, timedelta

import pyarrow as pa
import pytest

from pyspark.sql import functions as F

from bgg_data_warehouse_spark import io, schemas
from bgg_data_warehouse_spark.sources.api_client import (
    BGGApiClient,
    RateLimiter,
    land_responses,
)
from bgg_data_warehouse_spark.streaming import incremental, tracking

from tests.bgg_fixtures import CATAN

T0 = datetime(2026, 3, 1, 12, 0, 0)


# ---------------------------------------------------------------- io.py


def test_write_strategies_roundtrip(spark, tmp_path):
    root = str(tmp_path)
    dim = spark.createDataFrame([(1, "a"), (2, "b")], "category_id long, name string")
    io.write_table(dim, root, "categories")
    assert io.table_exists(root, "categories")

    incoming = spark.createDataFrame(
        [(2, "CHANGED"), (3, "c")], "category_id long, name string"
    )
    io.merge_insert_missing_table(spark, incoming, root, "categories", ["category_id"])
    got = {r.category_id: r.name for r in io.read_table(spark, root, "categories").collect()}
    assert got == {1: "a", 2: "b", 3: "c"}  # existing 2 kept, 3 inserted

    bridge = spark.createDataFrame(
        [(1, 10), (1, 11), (2, 10)], "game_id long, category_id long"
    )
    io.write_table(bridge, root, "game_categories")
    repl = spark.createDataFrame([(1, 99)], "game_id long, category_id long")
    io.delete_insert_table(spark, repl, root, "game_categories", ["game_id"])
    rows = {
        (r.game_id, r.category_id)
        for r in io.read_table(spark, root, "game_categories").collect()
    }
    assert rows == {(1, 99), (2, 10)}


def test_partitioned_layout_and_pruning(spark, tmp_path):
    root = str(tmp_path)
    rows = [
        {
            "game_id": g,
            "game_id_bucket": g // 1000,
            "name": f"G{g}",
        }
        for g in (5, 950, 1005, 2500)
    ]
    df = spark.createDataFrame(rows, "game_id long, game_id_bucket long, name string")
    io.write_table(df, root, "game_profile")
    import os

    buckets = {d for d in os.listdir(f"{root}/game_profile") if d.startswith("game_id_bucket=")}
    assert buckets == {"game_id_bucket=0", "game_id_bucket=1", "game_id_bucket=2"}
    # point lookup filtered on the bucket prunes partitions in the plan
    prof = io.read_table(spark, root, "game_profile")
    plan = (
        prof.where((F.col("game_id_bucket") == 1) & (F.col("game_id") == 1005))
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "game_id_bucket" in plan
    got = prof.where(
        (F.col("game_id_bucket") == 1) & (F.col("game_id") == 1005)
    ).collect()
    assert [r.name for r in got] == ["G1005"]


def _jobs_in_group(spark, group, fn):
    """Spark jobs ``fn`` starts, counted in one job group."""
    sc = spark.sparkContext
    try:
        sc.setJobGroup(group, group)
        fn()
        return len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


def test_ingest_table_reads_start_no_job(spark, tmp_path):
    """A read of an ingest table passes the declared schema: no
    schema-inference job, declared column order, and the DAY partition
    column still appended last."""
    from bgg_data_warehouse_spark.sources import bgg_xml
    from bgg_data_warehouse_spark.sources.api_client import land_batch

    root = str(tmp_path)
    tables = bgg_xml.fan_out(bgg_xml.parse_payload(json.dumps(CATAN)), T0)
    io.append_table(tables["games"], root, "games")
    raw, _ = land_batch({13: json.dumps(CATAN)}, T0)
    io.append_table(raw, root, "raw_responses")
    frames = {}

    def read():
        frames["games"] = io.read_table(spark, root, "games")
        frames["raw_responses"] = io.read_table(spark, root, "raw_responses")

    assert _jobs_in_group(spark, "ingest-reads", read) == 0
    for name, part in (("games", "load_date"), ("raw_responses", "fetch_date")):
        df = frames[name]
        assert df.columns == [f.name for f in io.INGEST_TABLES[name].fields] + [part]
        assert dict(df.dtypes)[part] == "date"
        assert [tuple(r) for r in df.select("game_id", part).collect()] == [(13, T0.date())]


# --------------------------------------------------- incremental (I1)


def test_watermark_missing_column_is_loud(spark):
    df = spark.createDataFrame([(1,)], "id long")
    with pytest.raises(ValueError, match="watermark column"):
        incremental.high_watermark(df, "ts")


# ---------------------------------------------------- tracking (I2-I4)


@pytest.fixture()
def tracking_tables(spark):
    thing_ids = spark.createDataFrame(
        [
            {"game_id": g, "type": "boardgame", "processed": False,
             "process_timestamp": None, "source": "t", "load_timestamp": T0}
            for g in range(1, 8)
        ],
        schemas.THING_IDS,
    )
    fetched = spark.createDataFrame(
        [
            # 1: already fetched OK
            {"record_id": "r1", "game_id": 1, "fetch_timestamp": T0, "fetch_status": "success"},
            # 2: failed 3 times → attempt cap
            *[
                {"record_id": f"r2-{i}", "game_id": 2,
                 "fetch_timestamp": T0 - timedelta(hours=5 - i), "fetch_status": "parse_error"}
                for i in range(3)
            ],
            # 3: failed recently → cool-down
            {"record_id": "r3", "game_id": 3,
             "fetch_timestamp": T0 - timedelta(minutes=10), "fetch_status": "no_response"},
            # 4: failed long ago, once → eligible again
            {"record_id": "r4", "game_id": 4,
             "fetch_timestamp": T0 - timedelta(hours=3), "fetch_status": "parse_error"},
        ],
        schemas.FETCHED_RESPONSES,
    )
    in_progress = spark.createDataFrame(
        [
            # 5: live lease
            {"game_id": 5, "fetch_start_timestamp": T0 - timedelta(minutes=5)},
            # 6: expired lease (> 30 min) → eligible
            {"game_id": 6, "fetch_start_timestamp": T0 - timedelta(minutes=45)},
        ],
        schemas.FETCH_IN_PROGRESS,
    )
    return thing_ids, fetched, in_progress


def test_unfetched_ids_policy(spark, tracking_tables):
    thing_ids, fetched, in_progress = tracking_tables
    got = sorted(
        r.game_id
        for r in tracking.unfetched_ids(thing_ids, fetched, in_progress, now=T0).collect()
    )
    # 1 fetched, 2 capped, 3 cooling, 5 leased → 4 (retry), 6 (lease expired), 7 (new)
    assert got == [4, 6, 7]


def test_lease_lifecycle(spark, tracking_tables):
    thing_ids, fetched, in_progress = tracking_tables
    live = tracking.expire_leases(in_progress, now=T0)
    assert [r.game_id for r in live.collect()] == [5]
    # the driver-side claim drops the expired lease (6) on the way
    claimed = tracking.claim(in_progress.toArrow(), [7], now=T0)
    assert sorted(claimed["game_id"].to_pylist()) == [5, 7]
    released = tracking.release(claimed, [5])
    assert released["game_id"].to_pylist() == [7]


def test_unprocessed_responses_dedups_and_orders(spark):
    raw = spark.createDataFrame(
        [
            {"game_id": 1, "response_data": "old", "fetch_timestamp": T0, "record_id": "a"},
            {"game_id": 1, "response_data": "new",
             "fetch_timestamp": T0 + timedelta(hours=1), "record_id": "b"},
            {"game_id": 2, "response_data": "x", "fetch_timestamp": T0, "record_id": "c"},
            {"game_id": 3, "response_data": "y", "fetch_timestamp": T0, "record_id": "d"},
        ],
        schemas.RAW_RESPONSES,
    )
    fetched = spark.createDataFrame(
        [
            {"record_id": rid, "game_id": gid, "fetch_timestamp": T0, "fetch_status": "success"}
            for rid, gid in [("a", 1), ("b", 1), ("c", 2), ("d", 3)]
        ],
        schemas.FETCHED_RESPONSES,
    )
    processed = spark.createDataFrame(
        [{"record_id": "c", "process_timestamp": T0, "process_status": "success",
          "process_attempt": 1, "error_message": None}],
        schemas.PROCESSED_RESPONSES,
    )
    got = tracking.unprocessed_responses(raw, fetched, processed).collect()
    # game 1 → only latest record b; game 2 done; ordered oldest-first
    assert [r.record_id for r in got] == ["d", "b"]


def _status_rows(rows):
    return pa.Table.from_pylist(rows, schema=schemas.arrow_schema(schemas.PROCESSED_RESPONSES))


def test_unprocessed_responses_caps_attempts(spark):
    # A payload that fails parsing forever (status 'parse_error', never in the
    # done set) must leave the queue once MAX_ATTEMPTS status rows exist —
    # mirroring the reference ResponseProcessor's max_retries=3.
    raw = spark.createDataFrame(
        [{"game_id": 1, "response_data": "bad", "fetch_timestamp": T0, "record_id": "a"}],
        schemas.RAW_RESPONSES,
    )
    fetched = spark.createDataFrame(
        [{"record_id": "a", "game_id": 1, "fetch_timestamp": T0, "fetch_status": "success"}],
        schemas.FETCHED_RESPONSES,
    )
    processed = _status_rows([])
    for attempt in range(1, tracking.MAX_ATTEMPTS + 1):
        pending = tracking.unprocessed_responses(raw, fetched, spark.createDataFrame(processed))
        assert pending.count() == 1
        failure = _status_rows(
            [{"record_id": "a", "process_timestamp": T0 + timedelta(hours=attempt),
              "process_status": "parse_error", "process_attempt": 0,
              "error_message": "boom"}]
        )
        processed = tracking.record_process_results(processed, failure)
    assert processed["process_attempt"].to_pylist() == [1, 2, 3]
    pending = tracking.unprocessed_responses(raw, fetched, spark.createDataFrame(processed))
    assert pending.count() == 0


def test_record_process_results_attempt_numbering():
    processed = _status_rows(
        [{"record_id": "x", "process_timestamp": T0, "process_status": "error",
          "process_attempt": 1, "error_message": "boom"}]
    )
    results = _status_rows(
        [
            {"record_id": "x", "process_timestamp": T0 + timedelta(hours=1),
             "process_status": "success", "process_attempt": 0, "error_message": None},
            {"record_id": "y", "process_timestamp": T0 + timedelta(hours=1),
             "process_status": "success", "process_attempt": 0, "error_message": None},
        ]
    )
    out = tracking.record_process_results(processed, results).to_pylist()
    attempts = {(r["record_id"], r["process_status"]): r["process_attempt"] for r in out}
    assert attempts[("x", "success")] == 2  # second attempt
    assert attempts[("y", "success")] == 1


# ------------------------------------------------------ api client (S1)


def test_api_client_rate_limit_chunking_and_retry(spark):
    calls = []
    clock = {"t": 0.0}
    slept = []

    def fake_sleep(s):
        slept.append(round(s, 3))
        clock["t"] += s

    def fake_clock():
        clock["t"] += 0.01
        return clock["t"]

    responses = iter(
        [
            (429, ""),  # first call rate-limited → backoff + retry
            (200, json.dumps({"items": {"item": [
                {"@id": str(g), "@type": "boardgame", "name": {"@value": f"G{g}"}}
                for g in range(1, 21)
            ]}})),
            (200, json.dumps({"items": {"item":
                {"@id": "21", "@type": "boardgame", "name": {"@value": "G21"}}}})),
        ]
    )

    def transport(url):
        calls.append(url)
        return next(responses)

    client = BGGApiClient(
        transport=transport,
        rate_limiter=RateLimiter(clock=fake_clock, sleep=fake_sleep),
        sleep=fake_sleep,
    )
    out = client.fetch_all(list(range(1, 22)))
    assert len(calls) == 3  # 21 ids → 2 chunks, +1 retry
    assert "id=1," in calls[0] and calls[0].endswith("stats=1")
    assert 5.0 in slept  # linear backoff after the 429
    assert set(out) == set(range(1, 22))
    # every payload is a single-item envelope the flattener accepts
    assert json.loads(out[21])["items"]["item"]["@id"] == "21"
    statuses = [e.status_code for e in client.request_log]
    assert statuses == [429, 200, 200]


def test_land_responses_and_flatten_roundtrip(spark):
    from bgg_data_warehouse_spark.sources import bgg_xml

    payloads = {13: json.dumps(CATAN), 99: ""}
    raw, fetched = land_responses(spark, payloads, T0)
    assert {r.fetch_status for r in fetched.collect()} == {"success", "no_response"}
    parsed = bgg_xml.parse_responses(raw)
    assert [r.game_id for r in parsed.collect()] == [13]


# ------------------------------------------------ pipeline job floor


def _canned_client(served: dict[int, dict]):
    """Fake BGG transport serving ``served[id]``'s item under each id."""

    def transport(url):
        ids = url.split("id=")[1].split("&")[0].split(",")
        items = [
            {**served[int(g)]["items"]["item"], "@id": g} for g in ids if int(g) in served
        ]
        return 200, json.dumps({"items": {"item": items}})

    return BGGApiClient(
        transport=transport,
        rate_limiter=RateLimiter(clock=lambda: 0.0, sleep=lambda s: None),
        sleep=lambda s: None,
    )


@pytest.fixture(scope="module")
def built_root(spark, tmp_path_factory):
    """A warehouse the pipeline built from three fetched games."""
    from bgg_data_warehouse_spark import pipeline

    root = str(tmp_path_factory.mktemp("built"))
    thing_ids = [
        {"game_id": g, "type": "boardgame", "processed": False,
         "process_timestamp": None, "source": "test", "load_timestamp": T0}
        for g in (13, 14, 15)
    ]
    io.write_table(spark.createDataFrame(thing_ids, schemas.THING_IDS), root, "thing_ids")
    client = _canned_client({13: CATAN, 14: CATAN, 15: CATAN})
    assert pipeline.fetch_new_games(spark, root, client, now=T0) == (3, 3)
    return root


@pytest.fixture()
def refetched(built_root, tmp_path):
    import shutil

    root = str(tmp_path / "root")
    shutil.copytree(built_root, root)
    return root, _canned_client({13: CATAN, 14: CATAN}), T0 + timedelta(days=1)


def test_process_batch_job_floor(spark, refetched):
    """One refetch batch runs at most 1 Spark job, and one process batch
    at most 15: the candidate query is the only Spark work; parsing,
    fan-out and every core-table write run on the driver."""
    from bgg_data_warehouse_spark import pipeline

    root, client, t1 = refetched
    fetch_jobs = _jobs_in_group(
        spark, "fetch-batch", lambda: pipeline._fetch_id_batch(spark, root, client, [13, 14], now=t1)
    )
    assert fetch_jobs <= 1
    done = {}
    process_jobs = _jobs_in_group(
        spark, "process-batch",
        lambda: done.update(n=pipeline.process_stage(spark, root, load_timestamp=t1)),
    )
    assert done["n"] == 2
    assert process_jobs <= 15
    games = io.read_table(spark, root, "games")
    assert games.where(F.col("load_timestamp") == F.lit(t1)).count() == 2
    assert io.read_table(spark, root, "fetch_in_progress").count() == 0


def test_crash_mid_batch_leaves_the_batch_pending(spark, refetched, monkeypatch):
    """The status write is the batch's last write: a failure in the
    fan-out writes records nothing, and the next run processes the
    whole batch again. The retry's S4 appends replace the crashed run's
    files, so each game has one row per append table at the load time."""
    from bgg_data_warehouse_spark import pipeline

    root, client, t1 = refetched
    pipeline._fetch_id_batch(spark, root, client, [13, 14], now=t1)
    statuses = io.read_arrow(root, "processed_responses").num_rows
    real = io.delete_insert_table

    def crash(spark, df, root, name, keys):
        if name == "player_counts":
            raise OSError("disk gone")
        real(spark, df, root, name, keys)

    monkeypatch.setattr(io, "delete_insert_table", crash)
    with pytest.raises(OSError):
        pipeline.process_stage(spark, root, load_timestamp=t1)
    assert io.read_arrow(root, "processed_responses").num_rows == statuses
    monkeypatch.setattr(io, "delete_insert_table", real)
    assert pipeline.process_stage(spark, root, load_timestamp=t1) == 2
    status = io.read_table(spark, root, "processed_responses")
    assert status.where("process_status = 'success'").count() == statuses + 2
    pc = io.read_table(spark, root, "player_counts")
    assert pc.where("game_id = 13").count() == 2  # replaced, not doubled
    for name in ("games", "rankings"):
        at_t1 = io.read_table(spark, root, name).where(F.col("load_timestamp") == F.lit(t1))
        assert sorted(r.game_id for r in at_t1.collect()) == [13, 14], name


# ------------------------------------------------------------- readers


@pytest.fixture(scope="module")
def reader(spark):
    from bgg_data_warehouse_spark.plans.dag import ModelDag
    from bgg_data_warehouse_spark.readers import GameReader

    from tests.bgg_fixtures import core_fixture_tables

    built = ModelDag().run(core_fixture_tables(spark))
    return GameReader(built)


def test_get_game_document_and_404(reader):
    doc = reader.get_game(1)
    assert doc is not None and doc["game_id"] == 1
    assert "similar" in doc and isinstance(doc["similar"], list)
    assert doc["predictions"] is None or "predicted_rating" in doc["predictions"]
    assert reader.get_game(999999) is None


def test_get_similar_two_tier_dispatch(reader):
    pre = reader.get_similar(1)  # no params → precomputed list (possibly [])
    assert isinstance(pre, list)
    live = reader.get_similar(1, n=3, metric="cosine", min_ratings=0)
    assert len(live) <= 3
    assert all(set(r) == {"game_id", "name", "score"} for r in live)
    with pytest.raises(ValueError, match="metric"):
        reader.get_similar(1, metric="manhattan")
    with pytest.raises(ValueError, match="dims"):
        reader.get_similar(1, dims=7)


def test_get_similar_profile_dispatch(reader):
    """Untuned path reads the (profile, game_id)-keyed neighbors table
    (game_neighbors.sqlx:4-8): default and explicit profile='default'
    agree, an unknown profile is empty (not an error), and profile
    cannot combine with tuning params."""
    assert reader.get_similar(1) == reader.get_similar(1, profile="default")
    assert reader.get_similar(1, profile="no_such_profile") == []
    assert reader.get_similar(1, profile="") == []  # empty != default
    with pytest.raises(ValueError, match="profile"):
        reader.get_similar(1, profile="default", n=5)


# ----------------------------------------------------------- streaming


def test_streaming_windowed_counts(spark, tmp_path):
    from bgg_data_warehouse_spark.sources.tables import load_table
    from bgg_data_warehouse_spark.streaming import ingest

    land = str(tmp_path / "landing")
    load_table(spark, "/root/testdata/sf0.001", "events").write.parquet(land)
    stream = ingest.read_event_stream(spark, land)
    assert stream.isStreaming
    # complete mode: append would hold back windows not yet past the
    # watermark (the stream "ends" with open windows in a bounded test)
    q = ingest.run_to_memory(
        ingest.windowed_counts(stream, window="1 hour"), "win_counts", mode="complete"
    )
    try:
        got = spark.sql("SELECT * FROM win_counts").collect()
        batch = (
            load_table(spark, "/root/testdata/sf0.001", "events")
            .groupBy(F.window("ts", "1 hour"), "event_type")
            .count()
        )
        assert len(got) == batch.count()
    finally:
        q.stop()


def test_streaming_interval_join_matches_batch(spark, tmp_path):
    """Watermarked stream-stream join returns exactly the pairs the
    equivalent batch range join returns (state expiry must not drop
    in-horizon matches in a bounded replay)."""
    from bgg_data_warehouse_spark.sources.tables import load_table
    from bgg_data_warehouse_spark.streaming import ingest

    land = str(tmp_path / "join_landing")
    events = load_table(spark, "/root/testdata/sf0.001", "events")
    events.write.parquet(land)
    stream = ingest.read_event_stream(spark, land)
    clicks = stream.where(F.col("event_type") == "click")
    purchases = stream.where(F.col("event_type") == "purchase")
    q = ingest.run_to_memory(
        ingest.interval_join(clicks, purchases), "attrib", mode="append"
    )
    try:
        got = {
            (r.purchase_id, r.click_id)
            for r in spark.sql("SELECT * FROM attrib").collect()
        }
        b = events.alias("c").join(
            events.alias("p"),
            (F.col("c.user_id") == F.col("p.user_id"))
            & (F.col("c.event_type") == "click")
            & (F.col("p.event_type") == "purchase")
            & (F.col("c.ts") <= F.col("p.ts"))
            & (F.col("c.ts") >= F.col("p.ts") - F.expr("INTERVAL 1 HOUR")),
        )
        want = {
            (r.pid, r.cid)
            for r in b.select(
                F.col("p.event_id").alias("pid"), F.col("c.event_id").alias("cid")
            ).collect()
        }
        assert got == want and len(want) > 0
    finally:
        q.stop()


def test_stream_restart_resumes_from_checkpoint(spark, tmp_path):
    """Stop/restart against the same checkpoint dir must not reprocess
    already-committed input files (exactly-once file source) — the
    recovery contract a long-running ingest relies on."""
    from bgg_data_warehouse_spark.sources.tables import load_table
    from bgg_data_warehouse_spark.streaming import ingest

    land = str(tmp_path / "ckpt_landing")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    events = load_table(spark, "/root/testdata/sf0.001", "events")
    first = events.limit(100)
    first.write.mode("append").parquet(land)

    def run_once():
        q = (
            ingest.read_event_stream(spark, land)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_once()
    n1 = spark.read.parquet(out).count()
    assert n1 == 100
    # second batch lands while the stream is DOWN; restart picks up only it
    events.limit(150).write.mode("append").parquet(land)
    run_once()
    got = spark.read.parquet(out)
    # restart processed ONLY the newly appended files (150 rows); the
    # first 100 committed rows were not re-emitted
    assert got.count() == n1 + 150
    run_once()  # third run with no new files: nothing added
    assert spark.read.parquet(out).count() == n1 + 150


def test_stateful_streaming_dedup(spark, tmp_path):
    """applyInPandasWithState dedups replayed events across micro-batches."""
    from bgg_data_warehouse_spark.sources.tables import load_table
    from bgg_data_warehouse_spark.streaming import ingest

    land = str(tmp_path / "dup_landing")
    events = load_table(spark, "/root/testdata/sf0.001", "events").limit(200)
    # write the SAME events twice -> two files -> duplicate stream input
    events.write.mode("append").parquet(land)
    events.write.mode("append").parquet(land)

    stream = ingest.read_event_stream(spark, land)
    q = ingest.run_to_memory(
        ingest.dedup_stream_stateful(stream, ttl_minutes=None), "dedup_out", mode="append"
    )
    try:
        got = spark.sql("SELECT event_id FROM dedup_out").collect()
        ids = [r.event_id for r in got]
        assert len(ids) == len(set(ids)), "duplicates leaked through state"
        assert sorted(set(ids)) == sorted(r.event_id for r in events.collect())
    finally:
        q.stop()


def test_stateful_dedup_ttl_removes_state():
    """The timeout branch must free state (I3 lease expiry), not re-arm it."""
    import pandas as pd

    from bgg_data_warehouse_spark.streaming import ingest

    class FakeState:
        def __init__(self):
            self.hasTimedOut = True
            self.exists = True
            self.get = ([1, 2, 3],)
            self.removed = False
            self.updated = False
            self.rearmed = False

        def remove(self):
            self.removed = True

        def update(self, value):
            self.updated = True

        def setTimeoutDuration(self, ms):
            self.rearmed = True

    state = FakeState()
    handler = ingest.make_dedup_handler(ttl_minutes=60)
    out = list(handler((0,), iter([pd.DataFrame({"event_id": [1]})]), state))
    assert state.removed, "timed-out state was not removed"
    assert not state.updated and not state.rearmed, "timeout branch re-armed state"
    assert sum(len(p) for p in out) == 0, "timeout branch emitted rows"


# ----------------------------------------------------------- refresher


def test_refresh_candidates_band_policy(spark):
    from bgg_data_warehouse_spark.streaming.refresher import refresh_candidates

    now = datetime(2026, 3, 1, 12, 0, 0)
    games = spark.createDataFrame(
        [
            (1, 2025),  # 7-day band
            (2, 2020),  # 30-day band
            (3, 2005),  # 90-day band
            (4, 1990),  # 180-day band
            (5, None),  # null-year band (14 days)
            (6, 2025),  # fresh fetch → excluded
            (7, 2025),  # in-progress → excluded
        ],
        "game_id long, year_published long",
    )
    fetched = spark.createDataFrame(
        [
            (1, now - timedelta(days=8), "success"),    # stale for 7d band
            (2, now - timedelta(days=10), "success"),   # fresh for 30d band
            (3, now - timedelta(days=100), "success"),  # stale for 90d band
            (4, now - timedelta(days=100), "success"),  # fresh for 180d band
            (6, now - timedelta(days=1), "success"),
            (7, now - timedelta(days=30), "success"),
        ],
        "game_id long, fetch_timestamp timestamp, fetch_status string",
    )
    in_progress = spark.createDataFrame([(7,)], "game_id long")
    got = refresh_candidates(games, fetched, in_progress, now=now).collect()
    ids = [r.game_id for r in got]
    # 5 never fetched (null-year band), 1 stale, 3 stale; 2/4 fresh; 6 fresh; 7 leased
    assert set(ids) == {1, 3, 5}
    # priority: newest year first (1=2025, 3=2005, 5=null-year last)
    assert ids == [1, 3, 5]
    days = {r.game_id: r.refresh_days for r in got}
    assert days == {1: 7, 3: 90, 5: 14}
