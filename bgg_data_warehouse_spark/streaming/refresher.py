"""Age-band refresh scheduling (I5/P8/U3/O3).

Reference: `/root/reference/src/modules/response_refresher.py:80-229` with
the band policy from `/root/reference/config/bigquery.yaml:10-34` — games
published recently refresh often, old games rarely, unknown-year games on
their own cadence. The reference unions one SQL branch per band (U3); here
a single-pass CASE chain classifies every game once — same semantics, one
scan instead of N.
"""

from __future__ import annotations

from dataclasses import dataclass
from datetime import datetime

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


@dataclass(frozen=True)
class RefreshBand:
    """Publication-year band → refresh cadence. None bounds are open;
    ``null_year=True`` matches games with unknown year."""

    refresh_days: int
    min_year: int | None = None
    max_year: int | None = None
    null_year: bool = False


# mirrors config/bigquery.yaml:10-34 (7/30/90/180 days + 14 for null-year)
DEFAULT_POLICY: tuple[RefreshBand, ...] = (
    RefreshBand(refresh_days=7, min_year=2024),
    RefreshBand(refresh_days=30, min_year=2015, max_year=2023),
    RefreshBand(refresh_days=90, min_year=2000, max_year=2014),
    RefreshBand(refresh_days=180, max_year=1999),
    RefreshBand(refresh_days=14, null_year=True),
)


def _band_days(policy: tuple[RefreshBand, ...]):
    """Single-pass CASE chain: year → refresh_days (U3 collapsed)."""
    expr = None
    year = F.col("year_published")
    for band in policy:
        if band.null_year:
            cond = year.isNull()
        else:
            cond = F.lit(True)
            if band.min_year is not None:
                cond = cond & (year >= band.min_year)
            if band.max_year is not None:
                cond = cond & (year <= band.max_year)
        clause = F.when(cond, F.lit(band.refresh_days))
        expr = clause if expr is None else expr.when(cond, F.lit(band.refresh_days))
    return expr.otherwise(F.lit(None))


def refresh_candidates(
    games_active: DataFrame,
    fetched_responses: DataFrame,
    fetch_in_progress: DataFrame,
    *,
    now: datetime | None = None,
    batch: int = 1000,
) -> DataFrame:
    """Games whose last successful fetch is staler than their band allows.

    last_fetch per game (A1 MAX) → staleness predicate per band (P8) →
    exclude in-flight fetches (J5 NOT EXISTS) → priority order: newest
    games first, then longest-unfetched (O3,
    `response_refresher.py:223-229`), LIMIT batch.
    """
    now_expr = F.lit(now).cast("timestamp") if now is not None else F.current_timestamp()
    last_fetch = (
        fetched_responses.where(F.col("fetch_status") == "success")
        .groupBy("game_id")
        .agg(F.max("fetch_timestamp").alias("last_fetch"))
    )
    scoped = (
        games_active.select("game_id", "year_published")
        .join(last_fetch, "game_id", "left")
        .withColumn("refresh_days", _band_days(DEFAULT_POLICY))
        .where(F.col("refresh_days").isNotNull())
        .where(
            F.col("last_fetch").isNull()
            | (
                F.col("last_fetch")
                < F.expr("{} - make_interval(0, 0, 0, refresh_days, 0, 0, 0)".format(
                    "current_timestamp()" if now is None else f"timestamp'{now}'"
                ))
            )
        )
        .join(fetch_in_progress.select("game_id"), "game_id", "left_anti")
    )
    return (
        scoped.orderBy(
            F.col("year_published").desc_nulls_last(),
            F.coalesce(F.col("last_fetch"), F.lit("1970-01-01").cast("timestamp")).asc(),
            F.col("game_id"),
        )
        .limit(batch)
        .select("game_id", "year_published", "last_fetch", "refresh_days")
    )
