"""Sitemap id source — the ENGINE side of S3.

Reference: `/root/reference/src/modules/id_fetcher_browser.py:26-235`
discovers the game-id universe by scraping the BGG sitemap index and
its per-type sitemap pages. The browser/stealth/Cloudflare layer is out
of engine scope (SURVEY §2.1) and stays out; what IS engine work — and
was previously modeled away as a pre-built `thing_ids` table — is
everything after the bytes arrive:

- parse the sitemap INDEX into the ordered list of sitemap page URLs
  (`fetch_sitemap_index` ref :86-146: regex over content, sorted by
  (type order, page number));
- parse each sitemap PAGE into (game_id, type) entries
  (`fetch_sitemap_page` ref :148-190);
- resolve each id's type by LAST-WRITE-WINS over the type-ordered
  processing sequence (`fetch_all_ids` ref :192-235 builds a dict in
  boardgame < expansion < accessory order so more specific types
  overwrite less specific ones).

``thing_ids_table`` is the distributed form: fetched page contents land
as a (url, content) table (any fetcher — browser, proxy, archive dump —
can produce it), and id extraction + type resolution run relationally.
The imperative last-write-wins dict becomes a per-id MAX over the type
order — identical semantics (the reference processes types in
ascending order, so the last write IS the max), but associative, so it
partitions. Everything stays in built-in expressions
(``regexp_extract_all`` + explode + max_by); no Python crosses the row
boundary at 100 TB of sitemap bytes (not that sitemaps get that big —
but the same shape serves any URL-corpus id harvest).
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Mirrors the reference's SITEMAP_PATTERN / GAME_ID_PATTERN (ref :26-33)
SITEMAP_PATTERN = re.compile(
    r"https://boardgamegeek\.com/sitemap_geekitems_boardgame"
    r"(expansion|accessory|)_\d+"
)
GAME_ID_PATTERN = re.compile(
    r"https://boardgamegeek\.com/boardgame(expansion|accessory|)/(\d+)"
)

# ref :39-40 — more specific types later, so they win last-write-wins
SITEMAP_TYPE_ORDER = {
    "boardgame": 0,
    "boardgameexpansion": 1,
    "boardgameaccessory": 2,
}


def sitemap_urls_from_index(content: str) -> list[str]:
    """Sitemap page URLs from the index page content, sorted by
    (type order, page number) — ref ``fetch_sitemap_index`` :115-130.
    Raises on zero matches: a 200 with no sitemap URLs is a block /
    challenge page, not an empty universe (ref :120-125)."""
    urls = [m.group(0) for m in SITEMAP_PATTERN.finditer(content)]
    if not urls:
        raise ValueError(
            "no sitemap URLs found on index page "
            "(possible block page or empty response)"
        )

    def _key(url: str) -> tuple[int, int]:
        m = SITEMAP_PATTERN.search(url)
        order = SITEMAP_TYPE_ORDER.get(f"boardgame{m.group(1)}", 99)
        return (order, int(url.rsplit("_", 1)[-1]))

    return sorted(urls, key=_key)


def ids_from_sitemap(content: str) -> list[dict]:
    """(game_id, type) entries from one sitemap page's content — ref
    ``fetch_sitemap_page`` :168-173."""
    return [
        {"game_id": int(m.group(2)), "type": f"boardgame{m.group(1)}"}
        for m in GAME_ID_PATTERN.finditer(content)
    ]


def thing_ids_table(pages: DataFrame) -> DataFrame:
    """The distributed id harvest: (url, content) sitemap pages →
    distinct (game_id, type) — the `thing_ids` table the rest of the
    engine consumes (tracking seeds, pipeline cold start).

    Type resolution: the reference walks sitemaps in
    boardgame < expansion < accessory order and lets the LAST write win
    (ref :192-235), which — because the walk is ascending in
    SITEMAP_TYPE_ORDER — is exactly "keep the type with the MAX order"
    per id. ``max_by`` over the order expresses that associatively:
    one (game_id)-keyed aggregate, partial-combining map-side, no
    dependence on row arrival order (a property the imperative dict
    loop only had by construction).

    Scale shape: regexp_extract_all + posexplode are per-row narrow
    work; the only exchange is the per-id aggregate on a long key.
    """
    entries = pages.select(
        F.explode(
            F.regexp_extract_all(
                F.col("content"),
                F.lit(r"https://boardgamegeek\.com/boardgame"
                      r"(expansion|accessory|)/(\d+)"),
                0,
            )
        ).alias("_url")
    ).select(
        F.regexp_extract("_url", r"/boardgame(?:expansion|accessory)?/(\d+)", 1)
        .cast("long")
        .alias("game_id"),
        F.concat(
            F.lit("boardgame"),
            F.regexp_extract("_url", r"/boardgame(expansion|accessory|)/", 1),
        ).alias("type"),
    )
    order = F.when(F.col("type") == "boardgameexpansion", F.lit(1)).when(
        F.col("type") == "boardgameaccessory", F.lit(2)
    ).otherwise(F.lit(0))
    return (
        entries.withColumn("_ord", order)
        .groupBy("game_id")
        .agg(F.max_by("type", F.col("_ord")).alias("type"))
    )
