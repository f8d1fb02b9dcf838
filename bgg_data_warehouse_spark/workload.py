"""The graded query surface: one entry per SURVEY.md §2 operator pattern.

Each query is a function ``(spark, sf_dir) -> DataFrame`` expressed on the
driver's TPC-H-ish testdata (FIXTURES.md §B maps every reference pattern to
these tables), paired with an ANSI-SQL oracle DuckDB runs on the same
parquet. Conventions for bit-stable oracle comparison:

- every computed column is aliased identically in Spark and SQL;
- money sums go through DECIMAL(18,2) (exact, order-independent) and are
  cast back to DOUBLE + ROUND(2) — double-sum ordering differences between
  engines can flip a rounded cent otherwise;
- ratios divide two exact values in DOUBLE (deterministic IEEE) then ROUND;
- arrays are sorted; ROW_NUMBER orderings always carry a PK tiebreak;
- session timezone pinned to UTC (DuckDB reads parquet timestamps naive);
- NO raw array/struct columns in graded output — the driver canonicalizer
  pandas-sorts every column and list cells are unhashable; render nested
  values with to_json on BOTH sides;
- NO DuckDB HUGEINT in oracle output — count_if(...) and windowed SUM of
  ints return HUGEINT, which pandas renders as float64 and the hash sees
  as 3.0 vs Spark's 3; always CAST(... AS BIGINT) in the oracle SQL;
- transcendental outputs (ln/exp) are rounded (4dp) or folded into
  micro-nat INTEGERS before any further arithmetic — libm differs by an
  ulp between engines on some inputs; plain +,-,*,/ chains evaluated in
  IDENTICAL association are bit-safe unrounded (holt / holt_winters);
- date outputs use date_trunc('day', ts) on BOTH sides — CAST(ts AS
  DATE) renders differently between the engines' canonicalizers;
- unrolled oracle CTE chains whose level i is referenced twice (next
  level + a join) MUST be AS MATERIALIZED in DuckDB — default inlining
  doubles the plan per level (2^n scans; unigram_oracle_sql).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .session import tune_session
from .sources.tables import load_table

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}


def query(name: str, oracle: str | None = None):
    def deco(fn: QueryFn) -> QueryFn:
        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            tune_session(spark)
            return fn(spark, sf_dir)

        QUERIES[name] = wrapped
        if oracle is not None:
            ORACLES[name] = oracle
        return wrapped

    return deco


def _dec(c):
    return F.col(c).cast("decimal(18,2)") if isinstance(c, str) else c.cast("decimal(18,2)")


def _money_sum(expr) -> F.Column:
    """Exact decimal sum rendered as a rounded double (order-independent)."""
    return F.round(F.sum(expr).cast("double"), 2)


# ---------------------------------------------------------------------------
# W1/J1 — latest-row-per-key dedup (games_active pattern,
# reference definitions/games_active.sqlx:7-43)
# ---------------------------------------------------------------------------


@query(
    "latest_snapshot",
    oracle="""
    SELECT user_id, event_id, event_type, value, ts
    FROM (
      SELECT e.*, ROW_NUMBER() OVER (
        PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      FROM events e
    ) WHERE rn = 1
    """,
)
def latest_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.latest import latest_per_key

    events = load_table(spark, sf_dir, "events")
    return latest_per_key(
        events, ["user_id"], [F.col("ts").desc(), F.col("event_id").desc()]
    ).select("user_id", "event_id", "event_type", "value", "ts")


# ---------------------------------------------------------------------------
# A2/J3 — ARRAY_AGG IGNORE NULLS behind left joins (games_features pattern,
# reference definitions/games_features.sqlx:14-59,84-89)
# ---------------------------------------------------------------------------


@query(
    "feature_arrays",
    oracle="""
    SELECT c.c_custkey,
           c.c_name,
           to_json(coalesce(
             list_sort(list(DISTINCT p.p_brand) FILTER (WHERE p.p_brand IS NOT NULL)),
             [])) AS brands,
           count(DISTINCT o.o_orderkey) AS n_orders
    FROM customer c
    LEFT JOIN orders o ON o.o_custkey = c.c_custkey
    LEFT JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    LEFT JOIN part p ON p.p_partkey = l.l_partkey
    GROUP BY c.c_custkey, c.c_name
    """,
)
def feature_arrays(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    # pre-aggregated branches instead of one wide 4-way join feeding a
    # double-distinct aggregate: the brand set reduces to distinct
    # (custkey, brand) pairs before collecting, and the order count never
    # touches lineitem at all — same results, half the shuffled bytes
    brands = (
        orders.join(lineitem, lineitem.l_orderkey == orders.o_orderkey)
        .join(part, part.p_partkey == lineitem.l_partkey)
        .select("o_custkey", "p_brand")
        .distinct()
        .groupBy("o_custkey")
        .agg(F.sort_array(F.collect_list("p_brand")).alias("brands"))
    )
    n_orders = orders.groupBy("o_custkey").agg(F.count("*").alias("n_orders"))
    return (
        customer.join(brands, brands.o_custkey == customer.c_custkey, "left")
        .drop("o_custkey")
        .join(n_orders, n_orders.o_custkey == customer.c_custkey, "left")
        .select(
            "c_custkey",
            "c_name",
            # JSON-rendered, not a raw array: the driver canonicalizer
            # pandas-sorts every output column and list cells are unhashable
            F.to_json(
                F.coalesce("brands", F.array().cast("array<string>"))
            ).alias("brands"),
            F.coalesce("n_orders", F.lit(0)).alias("n_orders"),
        )
    )


# ---------------------------------------------------------------------------
# W2/A4/A6 — dual ranking windows + ordered STRING_AGG + conditional aggs
# (best_player_counts pattern, reference definitions/best_player_counts.sqlx)
# ---------------------------------------------------------------------------


@query(
    "dual_rank_topk",
    oracle="""
    WITH m AS (
      SELECT l_suppkey,
             round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                           * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE), 2)
               AS revenue,
             count(*) AS n_items
      FROM lineitem GROUP BY l_suppkey
    ), r AS (
      SELECT s.s_nationkey, s.s_name, s.s_acctbal, m.revenue, m.n_items,
             ROW_NUMBER() OVER (PARTITION BY s.s_nationkey
                                ORDER BY m.revenue DESC, s.s_suppkey) AS revenue_rank,
             ROW_NUMBER() OVER (PARTITION BY s.s_nationkey
                                ORDER BY m.n_items DESC, s.s_suppkey) AS volume_rank
      FROM supplier s JOIN m ON s.s_suppkey = m.l_suppkey
    )
    SELECT s_nationkey,
           string_agg(CASE WHEN revenue_rank <= 3 THEN s_name END, ', '
                      ORDER BY revenue_rank) AS top_revenue_suppliers,
           round(max(CASE WHEN revenue_rank = 1 THEN s_acctbal END), 2)
             AS best_supplier_acctbal,
           (count(CASE WHEN volume_rank <= 3 THEN 1 END) > 0) AS has_top_volume
    FROM r GROUP BY s_nationkey
    """,
)
def dual_rank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    supplier = load_table(spark, sf_dir, "supplier")
    lineitem = load_table(spark, sf_dir, "lineitem")
    metrics = lineitem.groupBy("l_suppkey").agg(
        _money_sum(_dec("l_extendedprice") * (F.lit(1) - _dec("l_discount"))).alias("revenue"),
        F.count("*").alias("n_items"),
    )
    r = supplier.join(metrics, supplier.s_suppkey == metrics.l_suppkey)
    w_rev = Window.partitionBy("s_nationkey").orderBy(F.col("revenue").desc(), F.col("s_suppkey"))
    w_vol = Window.partitionBy("s_nationkey").orderBy(F.col("n_items").desc(), F.col("s_suppkey"))
    ranked = r.withColumn("revenue_rank", F.row_number().over(w_rev)).withColumn(
        "volume_rank", F.row_number().over(w_vol)
    )
    # ordered STRING_AGG == sort collected (rank, name) structs then join —
    # collect_list order is nondeterministic, array_sort restores it (A4).
    return ranked.groupBy("s_nationkey").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(
                            F.col("revenue_rank") <= 3,
                            F.struct(F.col("revenue_rank").alias("r"), F.col("s_name").alias("n")),
                        )
                    )
                ),
                lambda x: x["n"],
            ),
            ", ",
        ).alias("top_revenue_suppliers"),
        F.round(F.max(F.when(F.col("revenue_rank") == 1, F.col("s_acctbal"))), 2).alias(
            "best_supplier_acctbal"
        ),
        (F.count(F.when(F.col("volume_rank") <= 3, F.lit(1))) > 0).alias("has_top_volume"),
    )


# ---------------------------------------------------------------------------
# A8 — guarded ratio projection (vote-percentage pattern,
# reference definitions/best_player_counts.sqlx:25-33)
# ---------------------------------------------------------------------------


@query(
    "ratio_guarded",
    oracle="""
    WITH rev AS (
      SELECT l_orderkey, l_linenumber,
             CAST(l_extendedprice AS DECIMAL(18,2))
               * (1 - CAST(l_discount AS DECIMAL(18,2))) AS line_rev
      FROM lineitem
    ), tot AS (
      SELECT l_orderkey, sum(line_rev) AS order_rev FROM rev GROUP BY l_orderkey
    )
    SELECT r.l_orderkey, r.l_linenumber,
           CASE WHEN t.order_rev = 0 THEN 0.0
                ELSE round(CAST(r.line_rev AS DOUBLE) / CAST(t.order_rev AS DOUBLE) * 100, 2)
           END AS rev_share_pct
    FROM rev r JOIN tot t ON r.l_orderkey = t.l_orderkey
    """,
)
def ratio_guarded(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = load_table(spark, sf_dir, "lineitem")
    rev = lineitem.select(
        "l_orderkey",
        "l_linenumber",
        (_dec("l_extendedprice") * (F.lit(1) - _dec("l_discount"))).alias("line_rev"),
    )
    # Window-sum per order key instead of aggregate+self-join: one Exchange on
    # l_orderkey serves both the per-line rows and the order total, halving the
    # shuffle volume on the 100 TB fact table.
    w = Window.partitionBy("l_orderkey")
    rev = rev.withColumn("order_rev", F.sum("line_rev").over(w))
    return rev.select(
        "l_orderkey",
        "l_linenumber",
        F.when(F.col("order_rev") == 0, F.lit(0.0))
        .otherwise(
            F.round(
                F.col("line_rev").cast("double") / F.col("order_rev").cast("double") * 100, 2
            )
        )
        .alias("rev_share_pct"),
    )


# ---------------------------------------------------------------------------
# A5/O1 — COUNT DISTINCT + global top-N (filter_categories pattern,
# reference definitions/filter_categories.sqlx:9-16)
# ---------------------------------------------------------------------------


@query(
    "filter_topn",
    oracle="""
    SELECT p.p_partkey, p.p_name, count(DISTINCT l.l_orderkey) AS order_count
    FROM part p JOIN lineitem l ON l.l_partkey = p.p_partkey
    GROUP BY p.p_partkey, p.p_name
    ORDER BY order_count DESC, p.p_partkey
    LIMIT 100
    """,
)
def filter_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COUNT DISTINCT collapses the fact table BEFORE the dim join: the
    distinct (partkey, orderkey) pre-aggregation shrinks lineitem to its
    key pairs, the per-part count is a second small shuffle, and the part
    dim joins broadcast onto the counts — p_name never rides a fact-table
    exchange. Measured ~1.8x over join-then-countDistinct at sf0.1."""
    part = load_table(spark, sf_dir, "part")
    lineitem = load_table(spark, sf_dir, "lineitem")
    counts = (
        lineitem.select("l_partkey", "l_orderkey")
        .distinct()
        .groupBy("l_partkey")
        .agg(F.count("*").alias("order_count"))
    )
    return (
        counts.join(
            F.broadcast(part.select("p_partkey", "p_name")),
            counts.l_partkey == F.col("p_partkey"),
        )
        .select("p_partkey", "p_name", "order_count")
        .orderBy(F.col("order_count").desc(), F.col("p_partkey"))
        .limit(100)
    )


# ---------------------------------------------------------------------------
# U1 — UNION ALL with discriminator (filter_options_combined pattern,
# reference definitions/filter_options_combined.sqlx:6-23)
# ---------------------------------------------------------------------------


@query(
    "union_discriminated",
    oracle="""
    SELECT 'supplier' AS entity_type, CAST(s_suppkey AS BIGINT) AS entity_id, s_name AS name FROM supplier
    UNION ALL
    SELECT 'customer', CAST(c_custkey AS BIGINT), c_name FROM customer
    UNION ALL
    SELECT 'part', CAST(p_partkey AS BIGINT), p_name FROM part
    """,
)
def union_discriminated(spark: SparkSession, sf_dir: str) -> DataFrame:
    supplier = load_table(spark, sf_dir, "supplier")
    customer = load_table(spark, sf_dir, "customer")
    part = load_table(spark, sf_dir, "part")

    def opt(df: DataFrame, tag: str, idc: str, namec: str) -> DataFrame:
        return df.select(
            F.lit(tag).alias("entity_type"),
            F.col(idc).cast("long").alias("entity_id"),
            F.col(namec).alias("name"),
        )

    return (
        opt(supplier, "supplier", "s_suppkey", "s_name")
        .unionByName(opt(customer, "customer", "c_custkey", "c_name"))
        .unionByName(opt(part, "part", "p_partkey", "p_name"))
    )


# ---------------------------------------------------------------------------
# J4 — anti-join pending-work (unprocessed-responses pattern,
# reference src/modules/response_processor.py:156-165,182-201)
# ---------------------------------------------------------------------------


@query(
    "anti_join_pending",
    oracle="""
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
    FROM orders o
    WHERE NOT EXISTS (
      SELECT 1 FROM lineitem l
      WHERE l.l_orderkey = o.o_orderkey AND l.l_returnflag = 'R'
    )
    """,
)
def anti_join_pending(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    returned = lineitem.where(F.col("l_returnflag") == "R").select("l_orderkey")
    return orders.join(
        returned, orders.o_orderkey == returned.l_orderkey, "left_anti"
    ).select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")


# ---------------------------------------------------------------------------
# J6 — semi-join scoped aggregation (incremental changed-keys pattern,
# reference definitions/games_features.sqlx:15-18)
# ---------------------------------------------------------------------------


@query(
    "semi_scoped_agg",
    oracle="""
    SELECT o.o_custkey AS c_custkey,
           round(CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2)
             AS total_spent,
           count(*) AS n_orders
    FROM orders o
    WHERE EXISTS (
      SELECT 1 FROM events e
      WHERE e.event_type = 'purchase' AND e.user_id = o.o_custkey
    )
    GROUP BY o.o_custkey
    """,
)
def semi_scoped_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    events = load_table(spark, sf_dir, "events")
    changed = events.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("o_custkey")
    )
    return (
        orders.join(changed, "o_custkey", "left_semi")
        .groupBy(F.col("o_custkey").alias("c_custkey"))
        .agg(
            _money_sum(_dec("o_totalprice")).alias("total_spent"),
            F.count("*").alias("n_orders"),
        )
    )


# ---------------------------------------------------------------------------
# P7 + W1 — scalar-subquery latest-version filter then latest-per-key
# (bgg_game_embeddings pattern, reference definitions/bgg_game_embeddings.sqlx:10-38)
# ---------------------------------------------------------------------------


@query(
    "latest_version_dedup",
    oracle="""
    SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice
    FROM (
      SELECT o.*, ROW_NUMBER() OVER (
        PARTITION BY o_custkey ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
      FROM orders o
      WHERE year(o_orderdate) = (SELECT max(year(o_orderdate)) FROM orders)
    ) WHERE rn = 1
    """,
)
def latest_version_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.latest import latest_per_key

    orders = load_table(spark, sf_dir, "orders")
    max_year = orders.agg(F.max(F.year("o_orderdate")).alias("y"))
    latest_gen = orders.join(
        F.broadcast(max_year), F.year(orders.o_orderdate) == max_year.y, "inner"
    )
    return latest_per_key(
        latest_gen, ["o_custkey"], [F.col("o_orderdate").desc(), F.col("o_orderkey").desc()]
    ).select("o_custkey", "o_orderkey", "o_orderdate", "o_totalprice")


@query(
    "fuzzy_match_parts",
    oracle="""
    WITH p AS (
      SELECT p_partkey AS k, p_name AS n,
             string_split(p_name, ' ')[1] AS blk
      FROM part
    ), cand AS (
      SELECT a.k AS src, b.k AS dst,
             CAST(levenshtein(a.n, b.n) AS BIGINT) AS dist
      FROM p a JOIN p b ON a.blk = b.blk AND a.k <> b.k
    ), ranked AS (
      SELECT src, dst, dist,
             ROW_NUMBER() OVER (PARTITION BY src ORDER BY dist, dst) AS rn
      FROM cand
    )
    SELECT src AS p_partkey, dst AS best_match, dist
    FROM ranked WHERE rn = 1 AND dist <= 6
    """,
)
def fuzzy_match_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked fuzzy entity matching: each part's nearest same-block
    neighbor by Levenshtein edit distance (blocking key = first name
    token). The naive row×row block join is QUADRATIC in scale factor
    when the blocking key has fixed cardinality (measured 61 s at sf0.1
    vs 2 s for this plan) — so the distance work runs on DISTINCT names
    (bounded by vocabulary, not row count) and each part only joins the
    per-name-group representative: the min part id of every candidate
    name group, with the group's second-min standing in when the min is
    the part itself. Row-for-row identical to the naive form — the
    best (dist, dst) pair is always achieved at a group's min id — and
    the oracle IS the naive form, so the rewrite is hash-verified."""
    p = load_table(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("k"),
        F.col("p_name").alias("n"),
        F.split(F.col("p_name"), " ").getItem(0).alias("blk"),
    )
    names = p.select("blk", "n").distinct()
    name_pairs = (
        names.alias("a")
        .join(names.alias("b"), "blk")
        .select(
            "blk",
            F.col("a.n").alias("n_a"),
            F.col("b.n").alias("n_b"),
            F.levenshtein(F.col("a.n"), F.col("b.n")).cast("long").alias("dist"),
        )
    )
    g1 = p.groupBy("blk", "n").agg(F.min("k").alias("min1"))
    g2 = (
        p.join(g1, ["blk", "n"])
        .where(F.col("k") > F.col("min1"))
        .groupBy("blk", "n")
        .agg(F.min("k").alias("min2"))
    )
    mins = g1.join(g2, ["blk", "n"], "left")
    cand = (
        p.join(name_pairs, (p.blk == name_pairs.blk) & (p.n == name_pairs.n_a))
        .drop(name_pairs.blk)
        .join(
            mins.select(
                F.col("blk").alias("_mb"),
                F.col("n").alias("_mn"),
                "min1",
                "min2",
            ),
            (F.col("blk") == F.col("_mb")) & (F.col("n_b") == F.col("_mn")),
        )
        .select(
            F.col("k").alias("src"),
            F.when(F.col("min1") == F.col("k"), F.col("min2"))
            .otherwise(F.col("min1"))
            .alias("dst"),
            "dist",
        )
        .where(F.col("dst").isNotNull())
    )
    w = Window.partitionBy("src").orderBy(F.col("dist").asc(), F.col("dst").asc())
    return (
        cand.withColumn("rn", F.row_number().over(w))
        .where((F.col("rn") == 1) & (F.col("dist") <= 6))
        .select(
            F.col("src").alias("p_partkey"),
            F.col("dst").alias("best_match"),
            "dist",
        )
    )


@query(
    "full_outer_reconcile",
    oracle="""
    WITH o AS (
      SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_orders
      FROM orders GROUP BY o_custkey
    )
    SELECT coalesce(c.c_custkey, o.o_custkey) AS custkey,
           c.c_custkey IS NOT NULL AS in_customers,
           CAST(coalesce(o.n_orders, 0) AS BIGINT) AS n_orders
    FROM customer c FULL OUTER JOIN o ON o.o_custkey = c.c_custkey
    """,
)
def full_outer_reconcile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reconciliation audit: FULL OUTER join between the customer
    dimension and per-customer order counts — surviving rows flag
    dimension entries with no facts and facts with no dimension entry
    (FK-drift detection, the standard warehouse data-quality sweep)."""
    customer = load_table(spark, sf_dir, "customer")
    o = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.count("*").alias("n_orders"))
    )
    return customer.select("c_custkey").join(
        o, customer.c_custkey == o.o_custkey, "full_outer"
    ).select(
        F.coalesce("c_custkey", "o_custkey").alias("custkey"),
        F.col("c_custkey").isNotNull().alias("in_customers"),
        F.coalesce("n_orders", F.lit(0)).cast("long").alias("n_orders"),
    )


@query(
    "except_intersect_keys",
    oracle="""
    SELECT 'only_customers' AS side, CAST(count(*) AS BIGINT) AS n
    FROM (SELECT c_custkey FROM customer
          EXCEPT SELECT o_custkey FROM orders)
    UNION ALL
    SELECT 'in_both' AS side, CAST(count(*) AS BIGINT) AS n
    FROM (SELECT c_custkey FROM customer
          INTERSECT SELECT o_custkey FROM orders)
    """,
)
def except_intersect_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT / INTERSECT set semantics (distinct variants — Spark
    ``subtract`` / ``intersect``), the remaining §2.7 set-operation
    cells: customers who never ordered vs customers present on both
    sides. Both plan as hash aggregates + joins, no global sort."""
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("k")
    )
    ords = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("k")
    )
    only = cust.subtract(ords).agg(F.count("*").alias("n")).select(
        F.lit("only_customers").alias("side"), F.col("n")
    )
    both = cust.intersect(ords).agg(F.count("*").alias("n")).select(
        F.lit("in_both").alias("side"), F.col("n")
    )
    return only.unionByName(both)


@query(
    "scd2_intervals",
    oracle="""
    SELECT o_custkey, o_orderkey,
           o_orderdate AS valid_from,
           lead(o_orderdate) OVER (PARTITION BY o_custkey
                                   ORDER BY o_orderdate, o_orderkey)
             AS valid_to,
           lead(o_orderdate) OVER (PARTITION BY o_custkey
                                   ORDER BY o_orderdate, o_orderkey) IS NULL
             AS is_current
    FROM orders
    """,
)
def scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD type-2 history from a change log (operators/latest.py::
    validity_intervals): each customer's orders become versioned rows
    valid [own date, next date), open-ended + is_current for the
    latest. One shuffle on the key, one lead — the point-in-time
    history table the as-of join (asof_feature_join) consumes."""
    from .operators.latest import validity_intervals

    orders = load_table(spark, sf_dir, "orders")
    return validity_intervals(
        orders,
        ["o_custkey"],
        "o_orderdate",
        [F.col("o_orderdate").asc(), F.col("o_orderkey").asc()],
    ).select("o_custkey", "o_orderkey", "valid_from", "valid_to", "is_current")


# ---------------------------------------------------------------------------
# I1 — high-watermark incremental filter (reference
# definitions/games_features.sqlx:11,99 ${when(incremental(), ...)})
# ---------------------------------------------------------------------------

WATERMARK = "2024-01-20 00:00:00"


@query(
    "watermark_increment",
    oracle=f"""
    SELECT event_type,
           count(*) AS n_events,
           round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2) AS total_value
    FROM events
    WHERE ts > TIMESTAMP '{WATERMARK}'
    GROUP BY event_type
    """,
)
def watermark_increment(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .sources.tables import load_events_after

    # the watermark predicate is applied in the raw storage domain so it
    # pushes into the parquet scan (see load_events_after) — a filter on
    # the derived ts column would scan every row-group
    events = load_events_after(spark, sf_dir, WATERMARK)
    return (
        events.groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            _money_sum(_dec("value")).alias("total_value"),
        )
    )


# ---------------------------------------------------------------------------
# S6 — MERGE insert-if-absent (dimension upsert,
# reference src/data_processor/loader.py:151-163)
# ---------------------------------------------------------------------------


@query(
    "merge_insert_missing",
    oracle="""
    WITH incoming AS (
      SELECT p_partkey, p_name, p_brand FROM part WHERE p_size > 40
      UNION ALL
      SELECT p_partkey + 1000000 AS p_partkey, 'NEW ' || p_name AS p_name, p_brand
      FROM part WHERE p_size > 45
    ), existing AS (
      SELECT p_partkey, p_name, p_brand FROM part
    )
    SELECT * FROM existing
    UNION ALL
    SELECT * FROM (
      SELECT DISTINCT ON (p_partkey) p_partkey, p_name, p_brand FROM incoming
      ORDER BY p_partkey
    ) i
    WHERE NOT EXISTS (SELECT 1 FROM existing e WHERE e.p_partkey = i.p_partkey)
    """,
)
def merge_insert_missing_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.merge import merge_insert_missing

    part = load_table(spark, sf_dir, "part")
    existing = part.select("p_partkey", "p_name", "p_brand")
    # incoming batch: half overlapping keys (ignored), half new keys (inserted)
    overlap = part.where(F.col("p_size") > 40).select("p_partkey", "p_name", "p_brand")
    new = part.where(F.col("p_size") > 45).select(
        (F.col("p_partkey") + 1000000).alias("p_partkey"),
        F.concat(F.lit("NEW "), F.col("p_name")).alias("p_name"),
        "p_brand",
    )
    return merge_insert_missing(existing, overlap.unionByName(new), ["p_partkey"])


# ---------------------------------------------------------------------------
# S7 — delete+insert refresh (bridge-table refresh,
# reference src/data_processor/loader.py:57-84,166-176)
# ---------------------------------------------------------------------------


@query(
    "delete_insert_refresh",
    oracle="""
    WITH repl AS (
      SELECT l_orderkey, 1 AS l_linenumber,
             CAST(sum(l_quantity) AS DOUBLE) AS l_quantity,
             round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE), 2)
               AS l_extendedprice
      FROM lineitem WHERE l_orderkey % 100 = 0 GROUP BY l_orderkey
    )
    SELECT l_orderkey, l_linenumber, l_quantity,
           round(CAST(l_extendedprice AS DOUBLE), 2) AS l_extendedprice
    FROM lineitem WHERE l_orderkey % 100 <> 0
    UNION ALL
    SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice FROM repl
    """,
)
def delete_insert_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.merge import delete_insert

    lineitem = load_table(spark, sf_dir, "lineitem")
    existing = lineitem.select(
        "l_orderkey",
        "l_linenumber",
        F.col("l_quantity").cast("double").alias("l_quantity"),
        F.round(F.col("l_extendedprice").cast("double"), 2).alias("l_extendedprice"),
    )
    replacement = (
        lineitem.where(F.col("l_orderkey") % 100 == 0)
        .groupBy("l_orderkey")
        .agg(
            F.sum("l_quantity").cast("double").alias("l_quantity"),
            _money_sum(_dec("l_extendedprice")).alias("l_extendedprice"),
        )
        .select(
            "l_orderkey",
            F.lit(1).alias("l_linenumber"),
            "l_quantity",
            "l_extendedprice",
        )
    )
    return delete_insert(existing, replacement, ["l_orderkey"])


# ---------------------------------------------------------------------------
# U3/P8 — staleness/age-band classification (refresh-policy pattern,
# reference src/modules/response_refresher.py:151-209, config/bigquery.yaml:10-34)
# ---------------------------------------------------------------------------


@query(
    "staleness_bands",
    oracle="""
    SELECT CASE
             WHEN o_orderdate >= TIMESTAMP '2001-01-01' THEN 'fresh'
             WHEN o_orderdate >= TIMESTAMP '1999-01-01' THEN 'recent'
             WHEN o_orderdate >= TIMESTAMP '1997-01-01' THEN 'aging'
             ELSE 'stale'
           END AS band,
           count(*) AS n_orders,
           count(DISTINCT o_custkey) AS n_customers
    FROM orders
    GROUP BY 1
    """,
)
def staleness_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    band = (
        F.when(F.col("o_orderdate") >= F.to_timestamp(F.lit("2001-01-01 00:00:00")), "fresh")
        .when(F.col("o_orderdate") >= F.to_timestamp(F.lit("1999-01-01 00:00:00")), "recent")
        .when(F.col("o_orderdate") >= F.to_timestamp(F.lit("1997-01-01 00:00:00")), "aging")
        .otherwise("stale")
    )
    return (
        orders.withColumn("band", band)
        .groupBy("band")
        .agg(
            F.count("*").alias("n_orders"),
            F.countDistinct("o_custkey").alias("n_customers"),
        )
    )


# ---------------------------------------------------------------------------
# Streaming-shaped batch rollup — tumbling-window aggregation (the batch
# twin of streaming/ingest.py's windowed agg; oracle via date_trunc)
# ---------------------------------------------------------------------------


@query(
    "hourly_event_rollup",
    oracle="""
    SELECT date_trunc('hour', ts) AS window_start,
           event_type,
           count(*) AS n_events,
           round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2) AS total_value
    FROM events
    GROUP BY 1, 2
    """,
)
def hourly_event_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return (
        events.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            _money_sum(_dec("value")).alias("total_value"),
        )
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events", "total_value")
    )


# ===========================================================================
# Vector similarity layer (F8/J7/J8/W3/O2 — game_neighbors / live k-NN)
# ===========================================================================

_DUCK_COS = (
    "list_dot_product({a}::DOUBLE[], {b}::DOUBLE[]) / "
    "(sqrt(list_dot_product({a}::DOUBLE[], {a}::DOUBLE[])) * "
    "sqrt(list_dot_product({b}::DOUBLE[], {b}::DOUBLE[])))"
)


@query(
    "band_self_join_knn",
    oracle=f"""
    WITH pairs AS (
      SELECT s.vec_id AS query_id, t.vec_id AS nbr_id,
             {_DUCK_COS.format(a='s.embedding', b='t.embedding')} AS cos
      FROM embeddings s JOIN embeddings t
        ON t.vec_id <> s.vec_id
       AND t.label BETWEEN s.label - 1 AND s.label + 1
    ), ranked AS (
      SELECT query_id, nbr_id, cos,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cos DESC, nbr_id) AS rank
      FROM pairs
    )
    SELECT query_id, nbr_id, round(cos, 6) AS cosine_sim, rank
    FROM ranked WHERE rank <= 5
    """,
)
def band_self_join_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """game_neighbors pattern (reference definitions/game_neighbors.sqlx:53-93):
    banded self-join prunes candidates, exact cosine ranks, top-k per source.
    The band join is bucketed (operators/band_join.py) — never all-pairs."""
    from .operators.band_join import banded_cosine_pairs
    from .operators.latest import topk_per_key

    # cogrouped per-bucket matrix cosine: each vector crosses to Arrow once
    # per bucket instead of once per PAIR (see banded_cosine_pairs)
    emb = load_table(spark, sf_dir, "embeddings")
    pairs = banded_cosine_pairs(emb, "vec_id", "label", "embedding", 1.0)
    return topk_per_key(
        pairs,
        ["s_id"],
        [F.col("cos").desc(), F.col("t_id").asc()],
        k=5,
    ).select(
        F.col("s_id").alias("query_id"),
        F.col("t_id").alias("nbr_id"),
        F.round("cos", 6).alias("cosine_sim"),
        "rank",
    )


@query(
    "neighbors_incremental",
    oracle=f"""
    WITH corpus AS (
      SELECT vec_id, label,
             CASE WHEN label = 8 AND vec_id % 7 = 0
                  THEN list_reverse(embedding) ELSE embedding
             END AS embedding
      FROM embeddings
      WHERE NOT (label = 7 AND vec_id % 9 = 0)
    ), pairs AS (
      SELECT s.vec_id AS query_id, t.vec_id AS nbr_id,
             {_DUCK_COS.format(a='s.embedding', b='t.embedding')} AS cos
      FROM corpus s JOIN corpus t
        ON t.vec_id <> s.vec_id
       AND t.label BETWEEN s.label - 1 AND s.label + 1
    ), ranked AS (
      SELECT query_id, nbr_id, cos,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cos DESC, nbr_id) AS rank
      FROM pairs
    )
    SELECT query_id, nbr_id, round(cos, 6) AS cosine_sim, rank
    FROM ranked WHERE rank <= 5
    """,
)
def neighbors_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental refresh of the precomputed neighbors table (r11
    VERDICT #5 — operators/band_join.py::incremental_neighbors,
    composing the green J6 semi-scoping + J7 band join + I1 watermark
    pieces under the maintenance family's upsert/delete contract; the
    reference rebuilds its neighbors table FULLY on every run,
    definitions/game_neighbors.sqlx:16, 13.1 s / 17,258 games).
    Fixture: the stored table is the band_self_join_knn result on the
    base corpus; one arriving batch then carries all three change
    kinds — ADDS (label == 9, vec_id % 5 == 0, absent from base),
    RE-EMBEDS (label == 8, vec_id % 7 == 0 arrive with reversed
    embeddings — a re-encoded document), and DELETES (label == 7,
    vec_id % 9 == 0 tombstoned). The refresh (1) broadcast-semi-joins
    surviving base vectors onto the touched band buckets — old AND new
    positions, so a vanished or moved neighbor can demote out of a
    stored top-k (labels 6-9 are affected at band 1.0; labels <= 5
    pass through), (2) re-ranks affected ∪ upserts ASYMMETRICALLY
    against the post-update corpus through the banded cogroup matmul —
    untouched queries' vectors never enter the probe side
    (plan-audited), and (3) keeps unaffected stored rows via one
    broadcast anti over probed ∪ removed ids. The oracle is the full
    rebuild on the post-update corpus, so a query the scoping wrongly
    skipped, a stale neighbor the anti-join wrongly kept, a surviving
    tombstoned row, or any rank drift hash-mismatches."""
    from .operators.band_join import banded_cosine_pairs, incremental_neighbors
    from .operators.latest import topk_per_key

    emb = load_table(spark, sf_dir, "embeddings")
    is_add = (F.col("label") == 9) & (F.col("vec_id") % 5 == 0)
    is_chg = (F.col("label") == 8) & (F.col("vec_id") % 7 == 0)
    is_del = (F.col("label") == 7) & (F.col("vec_id") % 9 == 0)
    base = emb.where(~is_add)  # re-embeds/deletes exist in base (old rows)
    delta = emb.where(is_add).unionByName(
        emb.where(is_chg).withColumn("embedding", F.reverse("embedding"))
    )
    deleted = emb.where(is_del).select("vec_id")
    # fixture: the stored neighbors table, as band_self_join_knn built it
    stored = topk_per_key(
        banded_cosine_pairs(base, "vec_id", "label", "embedding", 1.0),
        ["s_id"],
        [F.col("cos").desc(), F.col("t_id").asc()],
        k=5,
    ).select(
        F.col("s_id").alias("query_id"),
        F.col("t_id").alias("nbr_id"),
        F.round("cos", 6).alias("cosine_sim"),
        "rank",
    )
    return incremental_neighbors(
        stored, base, delta, "vec_id", "label", "embedding", 1.0, 5,
        deleted_ids=deleted,
    )


# (name, min_label, band, dims, top_k) — the PROFILES config analog of
# `definitions/game_neighbors.sqlx:19-35` over the embeddings testdata:
# min_label stands in for the users_rated corpus floor, label for the
# source-relative complexity band, dims for the reduced-dim columns.
_NEIGHBOR_PROFILES = [
    ("default", 1, 1, 64, 5),
    ("coarse_16", 0, 2, 16, 3),
]


def _neighbor_profile_oracle() -> str:
    blocks = []
    for name, min_label, band, dims, top_k in _NEIGHBOR_PROFILES:
        vec = "embedding" if dims == 64 else f"embedding[1:{dims}]"
        blocks.append(f"""
    (WITH corpus AS (
      SELECT vec_id, label, {vec} AS v
      FROM embeddings WHERE label >= {min_label}
    ), pairs AS (
      SELECT s.vec_id AS query_id, t.vec_id AS nbr_id,
             {_DUCK_COS.format(a='s.v', b='t.v')} AS cos
      FROM corpus s JOIN corpus t
        ON t.vec_id <> s.vec_id
       AND t.label BETWEEN s.label - {band} AND s.label + {band}
    ), ranked AS (
      SELECT query_id, nbr_id, cos,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cos DESC, nbr_id) AS rank
      FROM pairs
    )
    SELECT '{name}' AS profile, query_id,
           to_json(list(struct_pack(
               rank := rank, nbr_id := nbr_id,
               score_x1e6 := CAST(round(cos * 1000000) AS BIGINT))
             ORDER BY rank)) AS similar_json,
           CAST({min_label} AS BIGINT) AS min_label,
           CAST({band} AS BIGINT) AS band,
           CAST({dims} AS BIGINT) AS dims,
           CAST({top_k} AS BIGINT) AS top_k
    FROM ranked WHERE rank <= {top_k} GROUP BY query_id)""")
    return "\nUNION ALL\n".join(blocks)


@query("neighbors_profiles", oracle=_neighbor_profile_oracle())
def neighbors_profiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Profile-dimensioned neighbors table (reference
    definitions/game_neighbors.sqlx:6-8,19-35,78-93; Spark-side twin of
    plans/models.py::game_neighbors): ONE banded-join block per profile
    — per-profile corpus floor, band width, reduced dims, top-k —
    UNION ALL'd with the tuning parameters self-described on every row,
    so profiles ship side-by-side and the API dispatches by name. The
    nested `similar` array is rendered as canonical JSON with
    micro-integer scores for engine-portable hashing; each block is the
    bucketed cogroup matmul (never all-pairs), so the per-profile cost
    is the same banded join the single-profile table pays."""
    from .operators.band_join import banded_cosine_pairs
    from .operators.latest import topk_per_key

    emb = load_table(spark, sf_dir, "embeddings")
    parts = []
    for name, min_label, band, dims, top_k in _NEIGHBOR_PROFILES:
        vec = F.col("embedding") if dims == 64 else F.slice("embedding", 1, dims)
        corpus = emb.where(F.col("label") >= min_label).select(
            "vec_id", "label", vec.alias("embedding")
        )
        pairs = banded_cosine_pairs(corpus, "vec_id", "label", "embedding", float(band))
        top = topk_per_key(
            pairs, ["s_id"], [F.col("cos").desc(), F.col("t_id").asc()], k=top_k
        )
        parts.append(
            top.groupBy(F.col("s_id").alias("query_id"))
            .agg(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            F.col("rank").alias("rank"),
                            F.col("t_id").alias("nbr_id"),
                            F.round(F.col("cos") * 1e6)
                            .cast("long")
                            .alias("score_x1e6"),
                        )
                    )
                ).alias("similar")
            )
            .select(
                F.lit(name).alias("profile"),
                "query_id",
                F.to_json("similar").alias("similar_json"),
                F.lit(min_label).cast("long").alias("min_label"),
                F.lit(band).cast("long").alias("band"),
                F.lit(dims).cast("long").alias("dims"),
                F.lit(top_k).cast("long").alias("top_k"),
            )
        )
    out = parts[0]
    for part in parts[1:]:
        out = out.unionByName(part)
    return out


@query(
    "knn_bruteforce",
    oracle=f"""
    WITH q AS (SELECT * FROM embeddings WHERE vec_id < 10),
    pairs AS (
      SELECT q.vec_id AS query_id, c.vec_id AS nbr_id,
             {_DUCK_COS.format(a='q.embedding', b='c.embedding')} AS cos
      FROM q JOIN embeddings c ON c.vec_id <> q.vec_id
    ), ranked AS (
      SELECT query_id, nbr_id, cos,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cos DESC, nbr_id) AS rank
      FROM pairs
    )
    SELECT query_id, nbr_id, round(cos, 6) AS cosine_sim, rank
    FROM ranked WHERE rank <= 10
    """,
)
def knn_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Live k-NN baseline (reference src/warehouse/readers/games.py:200-216):
    broadcast the small query side over ONE corpus scan — no corpus shuffle."""
    from .operators.similarity import brute_force_topk

    emb = load_table(spark, sf_dir, "embeddings")
    return brute_force_topk(
        emb.where(F.col("vec_id") < 10), emb, "vec_id", "embedding", k=10
    )


# Shared exact-side replay for the bounded-assert ANN gates: the
# knn_bruteforce oracle's top-10 pair set, reused as a CTE body.
_EXACT_TOP10_SQL = f"""
      SELECT query_id, nbr_id FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS nbr_id,
               ROW_NUMBER() OVER (PARTITION BY q.vec_id
                                  ORDER BY
                 {_DUCK_COS.format(a='q.embedding', b='c.embedding')} DESC,
                                  c.vec_id) AS rank
        FROM (SELECT * FROM embeddings WHERE vec_id < 10) q
        JOIN embeddings c ON c.vec_id <> q.vec_id
      ) WHERE rank <= 10
"""

# (config label, num_tables, bits_per_table, min overall recall %).
# Bounds are measured floors with wide margins: overall recall at
# sf0.001/0.01/0.1 is 0.10/0.11/0.13 for the default 8x8 (candidate
# rate ~3%/table → sparse buckets on near-random synthetic vectors),
# 0.90/0.89/0.89 for 16x4, and 0.99/0.98/1.00 for 32x4 — the
# recall-vs-cost knob an LSH deployment actually tunes (more tables ×
# fewer bits → denser buckets → higher recall, more candidates).
_LSH_RECALL_CONFIGS = (
    ("nt8_b8", 8, 8, 4),
    ("nt16_b4", 16, 4, 50),
    ("nt32_b4", 32, 4, 80),
)


@query(
    "knn_lsh",
    oracle=f"""
    WITH exact AS ({_EXACT_TOP10_SQL}),
    s AS (
      SELECT CAST(count(DISTINCT query_id) AS BIGINT) AS n_queries,
             CAST(count(*) AS BIGINT) AS exact_pairs
      FROM exact
    )
    SELECT c.config, c.num_tables, c.bits_per_table,
           s.n_queries, s.exact_pairs, c.min_recall_pct,
           TRUE AS recall_ok
    FROM s CROSS JOIN (VALUES
      ('nt8_b8',  CAST(8 AS BIGINT),  CAST(8 AS BIGINT), CAST(4 AS BIGINT)),
      ('nt16_b4', CAST(16 AS BIGINT), CAST(4 AS BIGINT), CAST(50 AS BIGINT)),
      ('nt32_b4', CAST(32 AS BIGINT), CAST(4 AS BIGINT), CAST(80 AS BIGINT))
    ) AS c(config, num_tables, bits_per_table, min_recall_pct)
    """,
)
def knn_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH recall sweep, bounded-assert oracle-gated (r10 VERDICT #3 —
    rows-only through round 10). WHICH neighbors a signature family
    misses is index-dependent by design, so the exact result set cannot
    hash-match; what CAN is (a) the exact brute-force side, fully
    replayed in SQL, and (b) the accuracy CONTRACT: one row per LSH
    config asserting overall recall@10 >= a measured floor (margins
    2.5-7x, see _LSH_RECALL_CONFIGS). A recall regression in the
    signature UDF, the bucket join, or the re-rank flips recall_ok and
    hash-mismatches — the same bounded-assert shape as
    ``ann_recall_eval``, extended to the config sweep a deployment runs
    when tuning tables × bits. Exhaustive-regime twin: ``knn_lsh_exact``
    (bits=0). Scale shape: the exact side is the broadcast-query
    brute-force scan (gated at knn_bruteforce); each config's candidate
    join stays (table, bucket)-bucketed; the per-config summary
    aggregates a <= 100-row joined frame."""
    from .operators.similarity import brute_force_topk, lsh_topk

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") < 10)
    # pinned: three config branches each join against the exact side and
    # union branches are not CSE'd — without the pin the brute-force
    # corpus scan would run 3x. <= 100 rows.
    exact = (
        brute_force_topk(q, emb, "vec_id", "embedding", k=10)
        .select("query_id", "nbr_id")
        .localCheckpoint()
    )
    out = None
    for config, nt, bits, min_pct in _LSH_RECALL_CONFIGS:
        approx = lsh_topk(
            q, emb, "vec_id", "embedding", k=10,
            num_tables=nt, bits_per_table=bits,
        ).select("query_id", "nbr_id", F.lit(1).alias("hit"))
        row = (
            exact.join(approx, ["query_id", "nbr_id"], "left")
            .agg(
                F.count_distinct("query_id").alias("n_queries"),
                F.count(F.lit(1)).alias("exact_pairs"),
                F.sum(F.coalesce("hit", F.lit(0))).alias("n_hits"),
            )
            .select(
                F.lit(config).alias("config"),
                F.lit(nt).cast("long").alias("num_tables"),
                F.lit(bits).cast("long").alias("bits_per_table"),
                "n_queries",
                "exact_pairs",
                F.lit(min_pct).cast("long").alias("min_recall_pct"),
                (
                    F.col("n_hits") * 100 >= F.lit(min_pct) * F.col("exact_pairs")
                ).alias("recall_ok"),
            )
        )
        out = row if out is None else out.unionByName(row)
    return out


@query(
    "knn_ivf",
    oracle=f"""
    WITH exact AS ({_EXACT_TOP10_SQL}),
    per AS (
      SELECT query_id, CAST(count(*) AS BIGINT) AS n_exact
      FROM exact GROUP BY query_id
    )
    SELECT query_id, n_exact,
           CAST(30 AS BIGINT) AS min_recall_pct, TRUE AS recall_ok
    FROM per
    UNION ALL
    SELECT CAST(-1 AS BIGINT), CAST(sum(n_exact) AS BIGINT),
           CAST(60 AS BIGINT), TRUE
    FROM per
    """,
)
def knn_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF (production nprobe=2 < cells) recall contract, bounded-assert
    oracle-gated (r10 VERDICT #3). The probe-limited result set is
    index-dependent, so the gate hash-checks what is deterministic
    cross-engine: the exact side's per-query neighbor counts (SQL
    replay) plus per-query and overall recall@10 floor booleans.
    Measured floors: per-query min hits 7/10 across sf0.001-0.1 (bound
    30%), overall 0.88/0.88/0.97 (bound 60%) — 2.3x/1.5x margins. The
    nprobe=1 regime is fully SQL-replayed in ``ann_recall_eval``; the
    exhaustive regime in ``knn_ivf_exact``. Scale shape identical to
    those gates: broadcast 16-cell argmin assignment, (cell)-bucketed
    probe join, per-query TakeOrdered re-rank."""
    from .operators.similarity import brute_force_topk, ivf_topk

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") < 10)
    approx = ivf_topk(q, emb, "vec_id", "embedding", k=10).select(
        "query_id", "nbr_id", F.lit(1).alias("hit")
    )
    per = (
        brute_force_topk(q, emb, "vec_id", "embedding", k=10)
        .select("query_id", "nbr_id")
        .join(approx, ["query_id", "nbr_id"], "left")
        .groupBy("query_id")
        .agg(
            F.count(F.lit(1)).alias("n_exact"),
            F.sum(F.coalesce("hit", F.lit(0))).alias("n_hits"),
        )
        # pinned: the summary branch re-aggregates `per` and union
        # branches are not CSE'd — the brute-force + probe join would
        # execute twice otherwise (ann_recall_eval's pin rationale).
        # 10 rows, bounded by the query set at any corpus scale.
        .localCheckpoint()
    )
    per_rows = per.select(
        "query_id",
        "n_exact",
        F.lit(30).cast("long").alias("min_recall_pct"),
        (F.col("n_hits") * 100 >= 30 * F.col("n_exact")).alias("recall_ok"),
    )
    summary = per.agg(
        F.lit(-1).cast("long").alias("query_id"),
        F.sum("n_exact").alias("n_exact"),
        F.lit(60).cast("long").alias("min_recall_pct"),
        (F.sum("n_hits") * 100 >= 60 * F.sum("n_exact")).alias("recall_ok"),
    )
    return per_rows.unionByName(summary)


@query(
    "knn_ivf_exact",
    oracle=f"""
    WITH q AS (SELECT * FROM embeddings WHERE vec_id < 10),
    pairs AS (
      SELECT q.vec_id AS query_id, c.vec_id AS nbr_id,
             {_DUCK_COS.format(a='q.embedding', b='c.embedding')} AS cos
      FROM q JOIN embeddings c ON c.vec_id <> q.vec_id
    ), ranked AS (
      SELECT query_id, nbr_id, cos,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cos DESC, nbr_id) AS rank
      FROM pairs
    )
    SELECT query_id, nbr_id, round(cos, 6) AS cosine_sim, rank
    FROM ranked WHERE rank <= 10
    """,
)
def knn_ivf_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF with ``nprobe == num_cells`` probes every cell, so the search
    is exhaustive and the index machinery (centroid table, cell
    assignment, probe join, re-rank) is hash-gated against the plain
    brute-force SQL. Same plan as ``knn_ivf`` — only the probe budget
    differs — so a green gate here vouches for the whole IVF code path;
    the nprobe<cells variant stays rows-only because which neighbors it
    MISSES is index-dependent by design."""
    from .operators.similarity import ivf_topk

    emb = load_table(spark, sf_dir, "embeddings")
    return ivf_topk(
        emb.where(F.col("vec_id") < 10),
        emb,
        "vec_id",
        "embedding",
        k=10,
        num_cells=16,
        nprobe=16,
    )


@query(
    "embedding_near_dup",
    oracle="""
    WITH corpus AS (
      SELECT vec_id, embedding FROM embeddings
      UNION ALL
      SELECT vec_id + 1000000, embedding FROM embeddings WHERE vec_id < 200
    )
    SELECT a.vec_id AS doc_a, b.vec_id AS doc_b
    FROM corpus a JOIN corpus b
      ON a.embedding = b.embedding AND a.vec_id < b.vec_id
    """,
)
def embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup at RADIUS 0, hash-gated directly (r9 VERDICT
    #3 — rows-only through round 9; the dedup_minhash j=1.0 conversion
    applied to the embedding tier).

    The plan is the PRODUCTION bucketed LSH candidate join (8 tables ×
    8 hyperplane bits — never all-pairs); only the verifier changes, a
    cosine threshold → exact vector equality. Recall 1 is
    corpus-independent at radius 0: identical vectors get identical
    sign bits under ANY hyperplane family, so they collide in every
    table (operators/similarity.py::embedding_exact_dup_pairs), and the
    equality verifier gives precision 1 — the bucketed output provably
    equals the equality self-join oracle. The testdata has no natural
    byte-identical vectors, so the gate plants them: vec_id < 200 is
    re-inserted shifted by 1e6 (same derivation in the oracle), making
    the result exactly those 200 pairs PLUS any natural duplicates —
    non-vacuous by construction. The positive-radius regime (which
    pairs an index MISSES is signature-dependent by design) stays
    covered by ``embedding_near_dup_exact``'s exhaustive bits=0 gate at
    threshold 0.35 and the unit suite."""
    from .operators.similarity import embedding_exact_dup_pairs

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    planted = emb.where(F.col("vec_id") < 200).select(
        (F.col("vec_id") + 1000000).alias("vec_id"), "embedding"
    )
    return embedding_exact_dup_pairs(
        emb.unionByName(planted), "vec_id", "embedding"
    )


@query(
    "embedding_near_dup_exact",
    oracle=f"""
    WITH e AS (SELECT * FROM embeddings WHERE vec_id < 1000)
    SELECT a.vec_id AS doc_a, b.vec_id AS doc_b,
           round({_DUCK_COS.format(a='a.embedding', b='b.embedding')}, 6)
             AS cosine_sim
    FROM e a JOIN e b ON a.vec_id < b.vec_id
    WHERE {_DUCK_COS.format(a='a.embedding', b='b.embedding')} >= 0.35
    """,
)
def embedding_near_dup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``embedding_near_dup`` with ``bits_per_table=0``: every vector
    lands in the single signature bucket, so the LSH candidate join is
    exhaustive and the whole code path (signature UDF, bucket join,
    dedup, cosine threshold) is hash-gated against the brute-force
    all-pairs SQL — the ``knn_lsh_exact`` trick applied to the near-dup
    tier. The production bits>0 variant stays rows-only because which
    pairs it misses is signature-dependent by design. The graded fixture
    is budgeted to vec_id < 1000 (exhaustive is quadratic by intent; the
    gate needs the code path, not the full corpus)."""
    from .operators.similarity import embedding_near_dup_pairs

    # the fixture is ONE parquet split, so the single-bucket candidate
    # join would emit every pair (and, post-r15, compute every cosine)
    # in one task; production corpora arrive as thousands of splits.
    # The explicit cores-proportional repartition stands in for that
    # input parallelism (the bloom_pruned_join precedent) — it is NOT
    # part of the operator.
    emb = (
        load_table(spark, sf_dir, "embeddings")
        .where(F.col("vec_id") < 1000)
        .repartition(spark.sparkContext.defaultParallelism, "vec_id")
    )
    return embedding_near_dup_pairs(
        emb,
        "vec_id",
        "embedding",
        threshold=0.35,
        num_tables=1,
        bits_per_table=0,
    )


@query(
    "knn_quantized",
    oracle="""
    WITH mx AS (
      SELECT max(abs(CAST(v AS DOUBLE))) AS scale
      FROM embeddings, unnest(embedding) AS u(v)
    ), q AS (
      SELECT vec_id AS id,
             list_transform(embedding,
               x -> CAST(round(CAST(x AS DOUBLE) / scale * 127) AS BIGINT))
               AS qv
      FROM embeddings CROSS JOIN mx
    ), dots AS (
      SELECT a.id AS query_id, b.id AS nbr_id,
             CAST(list_sum(list_transform(list_zip(a.qv, b.qv),
                                          p -> p[1] * p[2])) AS BIGINT)
               AS qdot
      FROM q a JOIN q b ON b.id <> a.id
      WHERE a.id < 10
    ), ranked AS (
      SELECT query_id, nbr_id, qdot,
             CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY qdot DESC, nbr_id)
                  AS BIGINT) AS rank
      FROM dots
    )
    SELECT query_id, nbr_id, qdot, rank FROM ranked WHERE rank <= 5
    """,
)
def knn_quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8-quantized similarity search (operators/quantization.py):
    symmetric max-|x| quantization of the embedding corpus (the 4×-IO
    storage form a 100 TB vector column actually ships in), then exact
    top-5 by INTEGER quantized dot. The scale is a max-aggregate (no
    float-sum ordering hazard), quantization is one exact-operand
    division + correctly-rounded round per component, and scores are
    integer sums — the whole quantize+search pipeline hash-gates
    against the SQL replay. Unit tests separately bound recall@5 vs
    the float-precision ``knn_bruteforce``."""
    from .operators.quantization import quantize_embeddings, quantized_topk

    emb = load_table(spark, sf_dir, "embeddings")
    qv = quantize_embeddings(emb, "vec_id", "embedding")
    return quantized_topk(qv.where(F.col("id") < 10), qv, k=5)


# ===========================================================================
# Dedup family (LLM-pipeline extension; exact + sketch)
# ===========================================================================


@query(
    "substring_dedup",
    oracle="""
    WITH t AS (
      SELECT doc_id AS doc,
             list_filter(string_split_regex(lower(text), '\\s+'),
                         x -> x <> '') AS toks
      FROM documents
    ), tok AS (
      SELECT doc, CAST(i AS BIGINT) AS pos, toks[i] AS tok
      FROM t, unnest(generate_series(1, len(toks))) AS u(i)
    ), g AS (
      SELECT doc, CAST(i AS BIGINT) AS pos,
             concat_ws(' ', toks[i], toks[i+1], toks[i+2], toks[i+3],
                       toks[i+4], toks[i+5], toks[i+6], toks[i+7]) AS span
      FROM t, unnest(generate_series(1, len(toks) - 7)) AS u(i)
    ), ranked AS (
      SELECT doc, pos,
             ROW_NUMBER() OVER (PARTITION BY span ORDER BY doc, pos) AS rn
      FROM g
    ), covered AS (
      SELECT DISTINCT doc, CAST(p AS BIGINT) AS pos
      FROM ranked, unnest(generate_series(pos, pos + 7)) AS u(p)
      WHERE rn > 1
    ), kept AS (
      SELECT tok.doc, tok.pos, tok.tok
      FROM tok ANTI JOIN covered
        ON covered.doc = tok.doc AND covered.pos = tok.pos
    ), agg AS (
      SELECT doc, CAST(count(*) AS BIGINT) AS n_kept,
             string_agg(tok, ' ' ORDER BY pos) AS text_dedup
      FROM kept GROUP BY doc
    ), totals AS (
      SELECT doc, CAST(count(*) AS BIGINT) AS n_tokens FROM tok GROUP BY doc
    )
    SELECT d.doc_id AS doc,
           coalesce(totals.n_tokens, 0) AS n_tokens,
           coalesce(agg.n_kept, 0) AS n_kept,
           coalesce(agg.text_dedup, '') AS text_dedup
    FROM documents d
    LEFT JOIN totals ON totals.doc = d.doc_id
    LEFT JOIN agg ON agg.doc = d.doc_id
    """,
)
def substring_dedup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-document exact dedup (operators/dedup.py::substring_dedup):
    every 8-token span seen elsewhere in the corpus is cut from all but
    its first occurrence, token-exactly — the duplicated-boilerplate
    remover whole-doc dedup cannot express. The oracle re-derives the
    identical removal in SQL, so the span ranking, coverage explosion,
    anti-join, and re-assembly are all hash-checked."""
    from .operators.dedup import substring_dedup

    docs = load_table(spark, sf_dir, "documents")
    return substring_dedup(docs, "doc_id", "text", span_tokens=8)


@query(
    "dedup_exact",
    oracle="""
    SELECT doc_id, lang, source, n_chars
    FROM (
      SELECT d.*, ROW_NUMBER() OVER (PARTITION BY text ORDER BY doc_id) AS rn
      FROM documents d
    ) WHERE rn = 1
    """,
)
def dedup_exact_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.dedup import dedup_exact

    docs = load_table(spark, sf_dir, "documents")
    return dedup_exact(docs, "text", "doc_id").select("doc_id", "lang", "source", "n_chars")


@query(
    "dedup_minhash",
    oracle="""
    WITH toks AS (
      SELECT DISTINCT doc_id AS doc, tok
      FROM documents,
           UNNEST(list_filter(string_split_regex(lower(text), '\\s+'),
                              x -> x <> '')) AS t(tok)
    ), sizes AS (
      SELECT doc, count(*) AS n_tok FROM toks GROUP BY doc
    ), inter AS (
      SELECT l.doc AS doc_a, r.doc AS doc_b, count(*) AS i
      FROM toks l JOIN toks r ON l.tok = r.tok AND l.doc < r.doc
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           round(i * 1.0 / (sa.n_tok + sb.n_tok - i), 4) AS jaccard
    FROM inter
    JOIN sizes sa ON inter.doc_a = sa.doc
    JOIN sizes sb ON inter.doc_b = sb.doc
    WHERE i = sa.n_tok AND i = sb.n_tok
    """,
)
def dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH at the EXACT-duplicate threshold (j = 1.0), hash-gated
    directly (r8 VERDICT #5 — this gate was rows-only through round 8).

    The exactness argument is corpus-INDEPENDENT, unlike
    ``dedup_minhash_verified``'s 0.97 bar (which needs the measured
    vocabulary structure): two docs have token-set Jaccard 1.0 iff their
    distinct-token sets are identical, identical sets produce identical
    MinHash signatures under ANY hash family, identical signatures
    collide in EVERY band — recall is exactly 1 by construction — and
    the exact set-Jaccard verifier gives precision 1. So the banded
    plan's output provably equals the all-pairs oracle while never
    forming all pairs. Bands are deep (2 × 32 rows of 64 hashes) because
    the corpus's background pairwise Jaccard is ≈0.9: 0.9^32 ≈ 3% of
    background pairs collide per band, versus ~100% at the 4×16 default.
    """
    from .operators.dedup import minhash_lsh_pairs

    docs = load_table(spark, sf_dir, "documents")
    return minhash_lsh_pairs(
        docs,
        "doc_id",
        "text",
        shingle_k=1,
        num_hashes=64,
        bands=2,
        jaccard_threshold=1.0,
    )


@query(
    "dedup_minhash_verified",
    oracle="""
    WITH toks AS (
      SELECT DISTINCT doc_id AS doc, tok
      FROM documents,
           UNNEST(list_filter(string_split_regex(lower(text), '\\s+'),
                              x -> x <> '')) AS t(tok)
    ), sizes AS (
      SELECT doc, count(*) AS n_tok FROM toks GROUP BY doc
    ), inter AS (
      SELECT l.doc AS doc_a, r.doc AS doc_b, count(*) AS i
      FROM toks l JOIN toks r ON l.tok = r.tok AND l.doc < r.doc
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           round(i * 1.0 / (sa.n_tok + sb.n_tok - i), 4) AS jaccard
    FROM inter
    JOIN sizes sa ON inter.doc_a = sa.doc
    JOIN sizes sb ON inter.doc_b = sb.doc
    WHERE i * 1.0 / (sa.n_tok + sb.n_tok - i) >= 0.97
    """,
)
def dedup_minhash_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH whose VERIFIER is oracle-gated (VERDICT r1 item 7).

    shingle_k=1 makes the sketch a MinHash over token SETS — required
    here because the corpus's near-dups are PERMUTATIONS (identical token
    sets, different order), which shingle sketches cannot bucket.

    Band depth is sized to the corpus's MEASURED similarity structure:
    the generator vocabulary is 31 tokens with ~23-token sets, so the
    background pairwise Jaccard is ≈0.9 — and with sets capped at 31, a
    pair can only reach j >= 0.97 by having IDENTICAL token sets
    ((n-1)/(n+1) >= 0.97 needs n >= 66 tokens). Identical sets collide
    deterministically in every band at any depth, so recall is exactly 1
    while the bands can be as deep as the background demands: 2 bands ×
    24 rows cuts background band-collisions to 0.9^24 ≈ 0.08% (measured
    6.3M candidate pairs at 8×6 → ~100k at 2×24, 13.6 s → 1.5 s at
    sf0.1, byte-identical output). Verification computes exact token-set
    Jaccard — the same quantity as the all-pairs oracle.
    """
    from .operators.dedup import minhash_lsh_pairs

    docs = load_table(spark, sf_dir, "documents")
    return minhash_lsh_pairs(
        docs,
        "doc_id",
        "text",
        shingle_k=1,
        num_hashes=48,
        bands=2,
        jaccard_threshold=0.97,
    )


@query(
    "dedup_minhash_incremental",
    oracle="""
    WITH toks AS (
      SELECT DISTINCT doc_id AS doc, tok
      FROM documents,
           UNNEST(list_filter(string_split_regex(lower(text), '\\s+'),
                              x -> x <> '')) AS t(tok)
    ), sizes AS (
      SELECT doc, count(*) AS n_tok FROM toks GROUP BY doc
    ), inter AS (
      SELECT l.doc AS doc_a, r.doc AS doc_b, count(*) AS i
      FROM toks l JOIN toks r ON l.tok = r.tok AND l.doc < r.doc
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           round(i * 1.0 / (sa.n_tok + sb.n_tok - i), 4) AS jaccard
    FROM inter
    JOIN sizes sa ON inter.doc_a = sa.doc
    JOIN sizes sb ON inter.doc_b = sb.doc
    WHERE i * 1.0 / (sa.n_tok + sb.n_tok - i) >= 0.97
      AND (doc_a % 10 = 0 OR doc_b % 10 = 0)
    """,
)
def dedup_minhash_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Steady-state corpus dedup: the corpus MinHash index is built once
    (operators/dedup.py minhash_sketch — the persistable (doc, shingles,
    sig) table) and an arriving batch (doc_id % 10 = 0, ~10% of the
    corpus) is sketched ALONE and paired against it
    (incremental_minhash_pairs): batch×index band equi-join + batch
    self-join, exact token-Jaccard verify. The oracle is the
    batch-touching subset of the full-corpus all-pairs computation, so
    the incremental path is hash-gated to produce EXACTLY what a full
    recompute would — the equivalence that makes per-batch dedup safe at
    100 TB. Same recall-1 configuration as dedup_minhash_verified
    (identical token sets collide in every band)."""
    from .operators.dedup import incremental_minhash_pairs, minhash_sketch

    docs = load_table(spark, sf_dir, "documents")
    conf = dict(shingle_k=1, num_hashes=48)
    index = minhash_sketch(
        docs.where(F.col("doc_id") % 10 != 0), "doc_id", "text", **conf
    )
    batch = minhash_sketch(
        docs.where(F.col("doc_id") % 10 == 0), "doc_id", "text", **conf
    )
    # index built in-query here (no persisted table to lean on): cache
    # it explicitly so its two reads don't re-sketch — in the steady
    # state the index IS a table and stays uncached (ADVICE r04 #4).
    return incremental_minhash_pairs(
        index,
        batch,
        num_hashes=48,
        bands=2,
        jaccard_threshold=0.97,
        cache_index=True,
    )


@query(
    "dedup_minhash_delete",
    oracle="""
    WITH live AS (
      SELECT doc_id, text FROM documents
      WHERE doc_id % 16 <> 1 AND doc_id % 64 <> 0
    ), toks AS (
      SELECT DISTINCT doc_id AS doc, tok
      FROM live,
           UNNEST(list_filter(string_split_regex(lower(text), '\\s+'),
                              x -> x <> '')) AS t(tok)
    ), sizes AS (
      SELECT doc, count(*) AS n_tok FROM toks GROUP BY doc
    ), inter AS (
      SELECT l.doc AS doc_a, r.doc AS doc_b, count(*) AS i
      FROM toks l JOIN toks r ON l.tok = r.tok AND l.doc < r.doc
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           round(i * 1.0 / (sa.n_tok + sb.n_tok - i), 4) AS jaccard
    FROM inter
    JOIN sizes sa ON inter.doc_a = sa.doc
    JOIN sizes sb ON inter.doc_b = sb.doc
    WHERE i * 1.0 / (sa.n_tok + sb.n_tok - i) >= 0.97
    """,
)
def dedup_minhash_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deletion/re-ingest maintenance of the persisted MinHash dedup
    index (r11 VERDICT #2, completing the incremental dedup family):
    the stored (doc, shingles, sig) sketch table was built from a STALE
    corpus — every doc_id % 16 == 0 was sketched from a 20-char text
    prefix, and the doc_id % 16 == 1 docs haven't been deleted yet —
    then ``operators.dedup.update_minhash_index`` absorbs the fresh
    re-ingest of the % 16 == 0 docs and tombstones % 16 == 1, with the
    % 64 == 0 docs appearing in BOTH the delta and the tombstone set
    (deletion precedence: they must end absent). Pairs are then
    regenerated from the MAINTAINED index alone
    (``operators.dedup.sketch_pairs`` — no document text re-read), and
    the oracle is the all-pairs token-Jaccard computation on the
    post-update corpus: any stale sketch the replacement missed, any
    tombstoned doc that survived, or any live pair the maintained
    buckets lost would hash-mismatch. Same recall-1 configuration as
    dedup_minhash_verified (48 hashes × 2 bands, identical token sets
    collide in every band). The stale build is fixture setup
    (production reads its sketch table); the update touches delta docs
    + the index only, via broadcast anti-joins
    (tests/test_plan_audit.py pins the maintenance joins map-side)."""
    from .operators.dedup import (
        minhash_sketch,
        sketch_pairs,
        update_minhash_index,
    )

    docs = load_table(spark, sf_dir, "documents")
    conf = dict(shingle_k=1, num_hashes=48)
    stale = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 16 == 0, F.substring("text", 1, 20)
        ).otherwise(F.col("text")).alias("text"),
    )
    index = minhash_sketch(stale, "doc_id", "text", **conf)
    maintained = update_minhash_index(
        index,
        docs.where(F.col("doc_id") % 16 == 0),
        "doc_id",
        "text",
        deleted_ids=docs.where(
            (F.col("doc_id") % 16 == 1) | (F.col("doc_id") % 64 == 0)
        ).select("doc_id"),
        **conf,
    )
    # the maintained index feeds the bucket self-join AND two verify
    # joins — cache it, as the steady state reads it from storage
    return sketch_pairs(
        maintained.cache(),
        num_hashes=48,
        bands=2,
        jaccard_threshold=0.97,
    )


@query(
    "dedup_cluster_collapse",
    oracle="""
    WITH RECURSIVE toks AS (
      SELECT DISTINCT doc_id AS doc, tok
      FROM documents,
           UNNEST(list_filter(string_split_regex(lower(text), '\\s+'),
                              x -> x <> '')) AS t(tok)
    ), sizes AS (
      SELECT doc, count(*) AS n_tok FROM toks GROUP BY doc
    ), inter AS (
      SELECT l.doc AS doc_a, r.doc AS doc_b, count(*) AS i
      FROM toks l JOIN toks r ON l.tok = r.tok AND l.doc < r.doc
      GROUP BY 1, 2
    ), pairs AS (
      SELECT doc_a, doc_b
      FROM inter
      JOIN sizes sa ON inter.doc_a = sa.doc
      JOIN sizes sb ON inter.doc_b = sb.doc
      WHERE i * 1.0 / (sa.n_tok + sb.n_tok - i) >= 0.97
    ), edges AS (
      SELECT doc_a AS a, doc_b AS b FROM pairs
      UNION SELECT doc_b, doc_a FROM pairs
    ), walk(node, label) AS (
      SELECT a, a FROM edges
      UNION
      SELECT e.b, w.label FROM walk w JOIN edges e ON e.a = w.node
    ), comp AS (
      SELECT node, min(label) AS canonical FROM walk GROUP BY node
    )
    SELECT d.doc_id AS doc,
           coalesce(c.canonical, d.doc_id) AS canonical,
           coalesce(c.canonical, d.doc_id) = d.doc_id AS is_kept
    FROM documents d LEFT JOIN comp c ON c.node = d.doc_id
    """,
)
def dedup_cluster_collapse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTER collapse: pairs → connected components → one kept
    representative per cluster (operators/components.py, hash-min label
    propagation). The oracle walks the same pair graph with a recursive
    CTE — min reachable id == component min — so the distributed
    fixed-point iteration is hash-checked exactly, not just row-counted.
    Pairs come from the oracle-matched minhash-verified config, so the
    edge sets are identical by the dedup_minhash_verified gate."""
    from .operators.components import collapse_clusters
    from .operators.dedup import minhash_lsh_pairs

    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(
        docs,
        "doc_id",
        "text",
        shingle_k=1,
        num_hashes=48,
        bands=2,
        jaccard_threshold=0.97,
    )
    # minhash_lsh_pairs canonicalizes (a < b, deduped) -> skip the CC prep shuffle
    return collapse_clusters(docs, "doc_id", pairs, canonical_pairs=True)


@query(
    "components_star_chains",
    oracle="""
    WITH RECURSIVE nxt AS (
      SELECT o_orderkey AS k,
             lead(o_orderkey) OVER (PARTITION BY o_custkey
                                    ORDER BY o_orderkey) AS nk
      FROM orders
    ), e0 AS (
      SELECT k AS a, nk AS b FROM nxt WHERE nk IS NOT NULL
    ), edges AS (
      SELECT a, b FROM e0 UNION SELECT b, a FROM e0
    ), walk(node, label) AS (
      SELECT a, a FROM edges
      UNION
      SELECT e.b, w.label FROM walk w JOIN edges e ON e.a = w.node
    )
    SELECT node, CAST(min(label) AS BIGINT) AS canonical
    FROM walk GROUP BY node
    """,
)
def components_star_chains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Large-star/small-star CC on a HIGH-diameter graph: each customer's
    orders chained in key order (diameter ≈ orders-per-customer, the
    shape where hash-min label propagation needs diameter rounds but
    star converges in O(log² n)). The oracle's recursive CTE walks the
    same chains, so the star fixed point is hash-checked exactly —
    complementing dedup_cluster_collapse, which gates hash-min on
    low-diameter dup blobs."""
    from .operators.components import connected_components_star

    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderkey")
    edges = (
        orders.select(
            F.col("o_orderkey").alias("src"),
            F.lead("o_orderkey").over(w).alias("dst"),
        )
        .where(F.col("dst").isNotNull())
    )
    # lead() over an ascending sort emits distinct (smaller, larger)
    # pairs by construction — the prep canonicalize shuffle is skippable
    return connected_components_star(
        edges, "src", "dst", canonical_edges=True
    ).select("node", F.col("canonical").cast("long").alias("canonical"))


@query(
    "cc_incremental_update",
    oracle="""
    WITH RECURSIVE nxt AS (
      SELECT event_id AS k,
             lead(event_id) OVER (PARTITION BY user_id
                                  ORDER BY event_id) AS nk
      FROM events
    ), e0 AS (
      SELECT k AS a, nk AS b FROM nxt WHERE nk IS NOT NULL
    ), edges AS (
      SELECT a, b FROM e0 UNION SELECT b, a FROM e0
    ), walk(node, label) AS (
      SELECT a, a FROM edges
      UNION
      SELECT e.b, w.label FROM walk w JOIN edges e ON e.a = w.node
    )
    SELECT node, CAST(min(label) AS BIGINT) AS canonical
    FROM walk GROUP BY node
    """,
)
def cc_incremental_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental connected-components maintenance (r10 VERDICT #4):
    a stored CC labeling absorbs a batch of NEW edges WITHOUT touching
    the base edge set — delta endpoints contract to their stored
    canonicals, CC runs on the delta-sized super-graph only, and a
    broadcast relabel pass updates the label table
    (operators/components.py::incremental_components_update; the graph
    twin of ``mv_incremental_refresh`` and the reference's incremental
    lesson, docs/dataform_operations.md:15 — 8 s vs 4+ h). The graph is
    per-user event chains (one component per multi-event user, diameter
    = chain length — the adversarial shape for label propagation);
    ~1/32 of edges, hash-selected, arrive as the delta, splitting every
    chain into segments whose re-merge exercises real multi-hop
    super-graph work (each user's segments re-link into a long super
    PATH — the star-CC case, not a trivial blob). The oracle is the
    defining correctness statement: the FULL RECOMPUTE over base ∪
    delta, walked by a recursive CTE — and it is split-independent,
    so it pins the delta-selection arithmetic too. Here the 'stored'
    labeling is fixture setup (in production it IS the stored table),
    derived in closed form — chain-segment components are runs of
    consecutive non-delta edges, so one window pass yields canonical =
    first node of each run — rather than by running full CC on the
    base split, which would bill redundant fixture cost (already gated
    by components_star_chains) to the incremental path under
    measurement. The update path reads delta edges + the label table
    only, pinned by tests/test_plan_audit.py (zero base-edge scans;
    the audit builds ITS stored labeling with real star CC, proving
    closed-form fixture ≡ stored CC output)."""
    from .operators.components import incremental_components_update

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("event_id")
    delta_mod = 32
    chain = ev.select(
        "user_id",
        F.col("event_id").alias("node"),
        F.lag("event_id").over(w).alias("prev"),
        F.lead("event_id").over(w).alias("nxt"),
    )
    in_edge_delta = (
        F.pmod(F.xxhash64("prev", F.col("node")), F.lit(delta_mod)) == 0
    )
    out_edge_delta = (
        F.pmod(F.xxhash64(F.col("node"), "nxt"), F.lit(delta_mod)) == 0
    )
    # fixture setup: the stored labeling, in closed form. A segment
    # starts where the incoming edge is absent or delta; its canonical
    # is its first (minimum) node id. Nodes with no base edge at all
    # are not in the stored table (they arrive as delta-side news).
    seg = F.sum(
        (F.col("prev").isNull() | in_edge_delta).cast("int")
    ).over(Window.partitionBy("user_id").orderBy("node"))
    # pinned: the update operator reads the stored labeling three times
    # (endpoint lookup, new-node anti-join, relabel pass-through) —
    # cheap re-scans of a STORED table in production, but three window
    # recomputes if left as lineage here (measured 3.0 s of the gate).
    labels0 = (
        chain.withColumn("seg", seg)
        .where(
            (F.col("prev").isNotNull() & ~in_edge_delta)
            | (F.col("nxt").isNotNull() & ~out_edge_delta)
        )
        .select(
            "node",
            F.min("node")
            .over(Window.partitionBy("user_id", "seg"))
            .alias("canonical"),
        )
        .localCheckpoint(eager=True)
    )
    delta = chain.where(F.col("nxt").isNotNull() & out_edge_delta).select(
        F.col("node").alias("src"), F.col("nxt").alias("dst")
    )
    return incremental_components_update(labels0, delta, "src", "dst").select(
        "node", F.col("canonical").cast("long").alias("canonical")
    )


@query(
    "cc_incremental_delete",
    oracle="""
    WITH RECURSIVE nxt AS (
      SELECT o_orderkey AS k,
             lead(o_orderkey) OVER (PARTITION BY o_custkey
                                    ORDER BY o_orderkey) AS nk
      FROM orders
    ), e0 AS (
      SELECT k AS a, nk AS b FROM nxt
      WHERE nk IS NOT NULL AND (k + nk) % 32 <> 0
    ), edges AS (
      SELECT a, b FROM e0 UNION SELECT b, a FROM e0
    ), walk(node, label) AS (
      SELECT a, a FROM edges
      UNION
      SELECT e.b, w.label FROM walk w JOIN edges e ON e.a = w.node
    )
    SELECT node, CAST(min(label) AS BIGINT) AS canonical
    FROM walk GROUP BY node
    """,
)
def cc_incremental_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edge-DELETION maintenance of a stored CC labeling — the
    splitting case incremental_components_update's monotone contraction
    cannot handle, via affected-component localization
    (operators/components.py::incremental_components_delete): stored
    canonicals of the deleted endpoints name the affected components,
    ONLY their edges are rescanned (semi-join here; the
    component-annotated scan-prune layout is pinned by the plan audit),
    deleted pairs anti-join out, and CC reruns on that slice alone —
    unaffected components' labels pass through unread. Fixture: the
    per-customer order chains (components_star_chains' graph), stored
    labeling in closed form (a full chain's canonical is the customer's
    min order key); deletions are the PORTABLE predicate
    (src + dst) % 32 = 0 — arithmetic both engines compute identically,
    because unlike the addition gate the oracle here DEPENDS on the
    delete set. The oracle is the full recompute on the post-delete
    edge set, including nodes isolated by their deletions dropping
    out."""
    from .operators.components import incremental_components_delete

    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderkey")
    edges = orders.select(
        F.col("o_custkey").alias("cust"),
        F.col("o_orderkey").alias("src"),
        F.lead("o_orderkey").over(w).alias("dst"),
    ).where(F.col("dst").isNotNull())
    # fixture setup: the stored labeling, in closed form — every
    # multi-order customer's full chain is one component whose
    # canonical is the min order key. Pinned: the delete operator reads
    # the stored labeling three times (affected lookup, component
    # localization, pass-through).
    wc = Window.partitionBy("o_custkey")
    labels0 = (
        orders.select(
            F.col("o_orderkey").alias("node"),
            F.min("o_orderkey").over(wc).alias("canonical"),
            F.count("*").over(wc).alias("n"),
        )
        .where(F.col("n") >= 2)
        .drop("n")
        .localCheckpoint(eager=True)
    )
    deleted = edges.where((F.col("src") + F.col("dst")) % 32 == 0)
    return incremental_components_delete(
        labels0, edges, deleted, "src", "dst"
    ).select("node", F.col("canonical").cast("long").alias("canonical"))


@query(
    "cc_log_maintenance",
    oracle="""
    WITH RECURSIVE nxt AS (
      SELECT o_orderkey AS k,
             lead(o_orderkey) OVER (PARTITION BY o_custkey
                                    ORDER BY o_orderkey) AS nk
      FROM orders WHERE o_custkey % 2 = 0
    ), e0 AS (
      SELECT k AS a, nk AS b FROM nxt
      WHERE nk IS NOT NULL AND (k + nk) % 32 <> 0
    ), edges AS (
      SELECT a, b FROM e0 UNION SELECT b, a FROM e0
    ), walk(node, label) AS (
      SELECT a, a FROM edges
      UNION
      SELECT e.b, w.label FROM walk w JOIN edges e ON e.a = w.node
    ), state AS MATERIALIZED (
      SELECT node, CAST(min(label) AS BIGINT) AS canonical
      FROM walk GROUP BY node
    )
    SELECT 'generational' AS phase, node, canonical FROM state
    UNION ALL
    SELECT 'compacted' AS phase, node, canonical FROM state
    """,
)
def cc_log_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log-structured CC maintenance end-to-end (io.py::
    maintain_components_log over the PAIRED log store, r13 VERDICT #5 —
    the delta-sized-write answer to a snapshot-sized label+edge
    rewrite, whose rebuild twin the r13
    scaling curves showed shuffling 86-100x across a 100x base step):
    a stored labeling+edge pair for the per-customer order chains
    (components_star_chains' graph) absorbs TWO epochs as generations —
    epoch 1 ADDS the hash-selected ~1/16 of chain edges held out of the
    base (re-merging every split chain, exercising the update-delta's
    relabel change set over a multi-hop super-graph), epoch 2 DELETES
    every current edge with (src + dst) % 32 == 0 (including edges
    epoch 1 itself added — tombstone-over-re-ingest in the edges part;
    isolated nodes become label tombstones). Base labeling is the
    closed-form chain-segment fixture (same derivation the
    cc_incremental_update gate pins against real star CC). The gate
    hash-checks the GENERATIONAL read (base + 2 generations, broadcast
    anti exit) AND the post-COMPACTION read (both parts folded in ONE
    staged swap) of the labels part against the full recursive-CTE
    recompute on the final edge set — split-independent for the
    addition epoch, delete-dependent through portable arithmetic, so a
    stale label surviving a merge, a tombstone out-living its node, or
    compaction dropping either part hash-mismatches in whichever phase
    carries it. Per-epoch read/write volume is change-set-sized; the
    pair commits atomically (labels never publish without their
    edges)."""
    from .io import init_components_log, maintain_components_log
    from .log_store import fold_pair_store_copy, read_pair_store

    root = _fresh_logstore_root(sf_dir)

    def build():
        _fresh_logstore_root(sf_dir, "cc", "cc_compacted")
        # even-custkey half of the chain graph (portable predicate):
        # the gate is an INTEGRATION gate — its cost is ~25 small Spark
        # jobs of storage round-trips, not data volume — so the fixture
        # keeps the conflict matrix thousands-strong while halving
        # every scan and the oracle's recursive walk
        orders = load_table(spark, sf_dir, "orders").where(
            F.col("o_custkey") % 2 == 0
        )
        w = Window.partitionBy("o_custkey").orderBy("o_orderkey")
        # pinned: the chain frame feeds FOUR fixture derivations
        # (stored labels, base edges, add delta, delete delta) — one
        # window pass, not four (measured ~2s of the gate at sf0.1)
        # coalesce before pinning (r15, §2.6): the window shuffle leaves
        # core-count partitions of ~KB each, and every later evaluation
        # of a chain-derived frame (four fixture derivations + each
        # broadcast of a delta frame inside the epochs) pays task-launch
        # overhead per partition — measured on this host a trivial
        # 32-task job costs ~0.59 s wall vs ~0.21 s at 1 partition. The
        # width only narrows the pinned fixture frame, scaled to the
        # session so a bigger cluster keeps proportionally more.
        n_fix = max(2, spark.sparkContext.defaultParallelism // 8)
        chain = orders.select(
            "o_custkey",
            F.col("o_orderkey").alias("node"),
            F.lag("o_orderkey").over(w).alias("prev"),
            F.lead("o_orderkey").over(w).alias("nxt"),
        ).coalesce(n_fix).localCheckpoint(eager=True)
        delta_mod = 16
        in_d = F.pmod(F.xxhash64("prev", F.col("node")), F.lit(delta_mod)) == 0
        out_d = F.pmod(F.xxhash64(F.col("node"), "nxt"), F.lit(delta_mod)) == 0
        seg = F.sum((F.col("prev").isNull() | in_d).cast("int")).over(
            Window.partitionBy("o_custkey").orderBy("node")
        )
        labels0 = (
            chain.withColumn("seg", seg)
            .where(
                (F.col("prev").isNotNull() & ~in_d)
                | (F.col("nxt").isNotNull() & ~out_d)
            )
            .select(
                "node",
                F.min("node")
                .over(Window.partitionBy("o_custkey", "seg"))
                .alias("canonical"),
            )
            .coalesce(n_fix)
            # NOT checkpointed (r15): consumed exactly once, by the
            # init_pair_store base write — the windows replay over the
            # pinned chain inside that write job, one job instead of two
        )
        edges0 = chain.where(F.col("nxt").isNotNull() & ~out_d).select(
            F.col("node").alias("src"), F.col("nxt").alias("dst")
        )
        delta_add = chain.where(F.col("nxt").isNotNull() & out_d).select(
            F.col("node").alias("src"), F.col("nxt").alias("dst")
        )
        delta_del = chain.where(
            F.col("nxt").isNotNull()
            & ((F.col("node") + F.col("nxt")) % 32 == 0)
        ).select(F.col("node").alias("src"), F.col("nxt").alias("dst"))
        init_components_log(root, "cc", labels0, edges0, "src", "dst")
        maintain_components_log(
            spark, root, "cc", delta_add, "src", "dst", auto_compact=False
        )
        maintain_components_log(
            spark, root, "cc", delta_del, "src", "dst",
            deleted=True, auto_compact=False,
        )
        # the compacted phase is a freshly FOLDED sibling store (the
        # original keeps its generations for the generational phase) —
        # r16, r15 VERDICT #2: the copytree+compact two-step collapsed
        # into one staged write off the original's files
        fold_pair_store_copy(
            spark, root, "cc",
            {"labels": "node", "edges": ["src", "dst"]},
        )

    # the store pair rebuilds on EVERY invocation (r15 optimization
    # round: the bench/oracle contract forbids intermediates persisted
    # across runs, so the r14-VERDICT-#6 build-once sentinel was
    # removed) — both maintenance epochs and the pair compaction are
    # timed work; the build path itself is optimized instead
    # (coalesced single-file generation writes, thread-overlapped part
    # writes, tombstone-less fast path — log_store.py)
    build()
    gen = read_pair_store(spark, root, "cc", "labels", "node")
    comp = read_pair_store(spark, root, "cc_compacted", "labels", "node")
    out_cols = [
        "phase", "node", F.col("canonical").cast("long").alias("canonical")
    ]
    return (
        gen.withColumn("phase", F.lit("generational"))
        .select(*out_cols)
        .unionByName(
            comp.withColumn("phase", F.lit("compacted")).select(*out_cols)
        )
    )


@query(
    "benchmark_contamination",
    oracle="""
    WITH arr AS (
      SELECT doc_id, source,
             list_filter(string_split_regex(lower(text), '\\s+'),
                         x -> x <> '') AS l
      FROM documents
    ), sh AS (
      SELECT doc_id, source,
             unnest(list_distinct(list_transform(range(len(l) - 2),
                    i -> l[i+1] || ' ' || l[i+2] || ' ' || l[i+3]))) AS sh
      FROM arr WHERE len(l) >= 3
    ), bench AS (
      SELECT DISTINCT sh FROM sh WHERE source = 'src1'
    ), train AS (
      SELECT doc_id, sh FROM sh WHERE source <> 'src1'
    )
    SELECT t.doc_id AS doc,
           count(*) AS n_shingles,
           count(b.sh) AS n_hit,
           round(count(b.sh) * 1.0 / count(*), 6) AS contamination,
           count(b.sh) * 1.0 / count(*) >= 0.2 AS flagged
    FROM train t LEFT JOIN bench b ON b.sh = t.sh
    GROUP BY t.doc_id
    """,
)
def benchmark_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontamination scan (operators/contamination.py): every non-src1
    document scored by the share of its distinct 3-gram shingles that
    appear in the src1 'benchmark' pool. The pool is broadcast under one
    training-corpus scan — at 100 TB the benchmark side is MBs, so this
    stays a single wide scan with a map-side semi lookup."""
    from .operators.contamination import ngram_contamination

    docs = load_table(spark, sf_dir, "documents")
    return ngram_contamination(
        docs.where(F.col("source") != "src1"),
        docs.where(F.col("source") == "src1"),
        "doc_id",
        "text",
        n=3,
        flag_threshold=0.2,
    )


from .operators.sampling import md5_bucket, md5_bucket_sql  # noqa: E402


@query(
    "curation_pipeline",
    oracle="""
    WITH RECURSIVE arrd AS (
      SELECT doc_id,
             len(list_filter(string_split_regex(lower(text), '\\s+'),
                             x -> x <> '')) AS n_tok
      FROM documents WHERE lang = 'en'
    ), elig AS (
      SELECT doc_id FROM arrd WHERE n_tok BETWEEN 10 AND 1000
    ), toks AS (
      SELECT DISTINCT d.doc_id AS doc, tok
      FROM documents d
      JOIN elig e ON e.doc_id = d.doc_id,
           UNNEST(list_filter(string_split_regex(lower(d.text), '\\s+'),
                              x -> x <> '')) AS t(tok)
    ), sizes AS (
      SELECT doc, count(*) AS n_tok FROM toks GROUP BY doc
    ), inter AS (
      SELECT l.doc AS doc_a, r.doc AS doc_b, count(*) AS i
      FROM toks l JOIN toks r ON l.tok = r.tok AND l.doc < r.doc
      GROUP BY 1, 2
    ), pairs AS (
      SELECT doc_a, doc_b
      FROM inter
      JOIN sizes sa ON inter.doc_a = sa.doc
      JOIN sizes sb ON inter.doc_b = sb.doc
      WHERE i * 1.0 / (sa.n_tok + sb.n_tok - i) >= 0.97
    ), edges AS (
      SELECT doc_a AS a, doc_b AS b FROM pairs
      UNION SELECT doc_b, doc_a FROM pairs
    ), walk(node, label) AS (
      SELECT a, a FROM edges
      UNION
      SELECT e.b, w.label FROM walk w JOIN edges e ON e.a = w.node
    ), comp AS (
      SELECT node, min(label) AS canonical FROM walk GROUP BY node
    ), kept AS (
      SELECT e.doc_id
      FROM elig e LEFT JOIN comp c ON c.node = e.doc_id
      WHERE c.canonical IS NULL OR c.canonical = e.doc_id
    )
    SELECT doc_id,
           CASE WHEN {B} < 800 THEN 'train'
                WHEN {B} < 900 THEN 'val'
                ELSE 'test' END AS split
    FROM kept
    """.replace("{B}", md5_bucket_sql("doc_id")),
)
def curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end corpus curation, the composition a real training-data
    run executes: language filter → token-length filter → near-dup
    cluster collapse (one kept doc per cluster) → deterministic
    train/val/test split. Every stage is the already-gated operator —
    this query gates their COMPOSITION (filters push to the scan, the
    dedup runs only on the eligible slice, split is a pure hash of the
    id). Output: (doc_id, split) for the curated corpus."""
    from .operators.components import collapse_clusters
    from .operators.dedup import minhash_lsh_pairs
    from .operators.sampling import train_test_split
    from .functions.text import word_tokens

    docs = load_table(spark, sf_dir, "documents")
    eligible = docs.where(
        (F.col("lang") == "en")
        & F.size(word_tokens(F.col("text"))).between(10, 1000)
    )
    pairs = minhash_lsh_pairs(
        eligible,
        "doc_id",
        "text",
        shingle_k=1,
        num_hashes=48,
        bands=2,
        jaccard_threshold=0.97,
    )
    kept = (
        collapse_clusters(eligible, "doc_id", pairs, canonical_pairs=True)
        .where(F.col("is_kept"))
        .select(F.col("doc").alias("doc_id"))
    )
    return train_test_split(
        kept, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1},
        bucket_fn=md5_bucket,
    ).select("doc_id", "split")


@query(
    "dedup_simhash",
    oracle="""
    WITH toks AS (
      SELECT doc_id AS doc, tok
      FROM documents,
           UNNEST(list_filter(string_split_regex(lower(text), '\\s+'),
                              x -> x <> '')) AS t(tok)
    ), h AS (
      SELECT doc, CAST(('0x' || substr(md5(tok), 25, 8)) AS BIGINT) AS h
      FROM toks
    ), bits AS (
      SELECT doc, j,
             sum(CASE WHEN (h >> CAST(j AS INT)) & 1 = 1 THEN 1 ELSE -1 END) AS s
      FROM h, UNNEST(range(0, 32)) AS r(j)
      GROUP BY doc, j
    ), sk AS (
      SELECT doc,
             sum(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << CAST(j AS INT))
                      ELSE 0 END) AS sketch
      FROM bits GROUP BY doc
    )
    SELECT a.doc AS doc_a, b.doc AS doc_b,
           CAST(bit_count(xor(a.sketch, b.sketch)) AS INT) AS hamming
    FROM sk a JOIN sk b ON a.doc < b.doc
    WHERE bit_count(xor(a.sketch, b.sketch)) <= 2
    """,
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash pigeonhole at the STRICT hamming <= 2 bar, hash-gated
    directly (r8 VERDICT #5 — rows-only through round 8). Same portable
    md5-derived 32-bit sketch as ``dedup_simhash_verified`` (which gates
    the looser <= 3 bar), so the oracle recomputes the identical sketch
    per doc; pigeonhole over 4 chunks is lossless for hamming <= 3, a
    fortiori for <= 2, so the bucketed candidate join provably equals
    the all-pairs oracle at this bar too. The 64-bit xxhash64 default of
    ``simhash_pairs`` stays the engine-internal fast path (unit-pinned
    in tests/test_dedup_similarity.py)."""
    from .operators.dedup import md5_bucket_hash, simhash_pairs

    docs = load_table(spark, sf_dir, "documents")
    return simhash_pairs(
        docs,
        "doc_id",
        "text",
        max_hamming=2,
        num_chunks=4,
        hash_fn=md5_bucket_hash,
        n_bits=32,
    ).withColumn("hamming", F.col("hamming").cast("int"))


@query(
    "dedup_simhash_verified",
    oracle="""
    WITH toks AS (
      SELECT doc_id AS doc, tok
      FROM documents,
           UNNEST(list_filter(string_split_regex(lower(text), '\\s+'),
                              x -> x <> '')) AS t(tok)
    ), h AS (
      SELECT doc, CAST(('0x' || substr(md5(tok), 25, 8)) AS BIGINT) AS h
      FROM toks
    ), bits AS (
      SELECT doc, j,
             sum(CASE WHEN (h >> CAST(j AS INT)) & 1 = 1 THEN 1 ELSE -1 END) AS s
      FROM h, UNNEST(range(0, 32)) AS r(j)
      GROUP BY doc, j
    ), sk AS (
      SELECT doc,
             sum(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << CAST(j AS INT))
                      ELSE 0 END) AS sketch
      FROM bits GROUP BY doc
    )
    SELECT a.doc AS doc_a, b.doc AS doc_b,
           CAST(bit_count(xor(a.sketch, b.sketch)) AS INT) AS hamming
    FROM sk a JOIN sk b ON a.doc < b.doc
    WHERE bit_count(xor(a.sketch, b.sketch)) <= 3
    """,
)
def dedup_simhash_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash with an EXACT oracle gate (the last sketch family without
    one): token hash = low 32 bits of md5 — the value DuckDB reproduces
    with a hex-substr cast — so the oracle computes the identical 32-bit
    simhash per doc and the full pigeonhole candidate join + hamming filter
    is hash-checked against a brute-force all-pairs. Pigeonhole is
    lossless for hamming <= chunks-1, so Spark's bucketed join and the
    oracle's all-pairs agree EXACTLY, not just statistically."""
    from .operators.dedup import md5_bucket_hash, simhash_pairs

    docs = load_table(spark, sf_dir, "documents")
    return simhash_pairs(
        docs,
        "doc_id",
        "text",
        max_hamming=3,
        num_chunks=4,
        hash_fn=md5_bucket_hash,
        n_bits=32,
    ).withColumn("hamming", F.col("hamming").cast("int"))


@query(
    "ngram_jaccard",
    oracle="""
    WITH toks AS (
      SELECT DISTINCT doc_id AS doc, tok
      FROM documents,
           UNNEST(list_filter(string_split_regex(lower(text), '\\s+'),
                              x -> x <> '')) AS t(tok)
    ), sizes AS (
      SELECT doc, count(*) AS n_tok FROM toks GROUP BY doc
    ), inter AS (
      SELECT l.doc AS doc_a, r.doc AS doc_b, count(*) AS i
      FROM toks l JOIN toks r ON l.tok = r.tok AND l.doc < r.doc
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           round(i * 1.0 / (sa.n_tok + sb.n_tok - i), 4) AS jaccard
    FROM inter
    JOIN sizes sa ON inter.doc_a = sa.doc
    JOIN sizes sb ON inter.doc_b = sb.doc
    WHERE i * 1.0 / (sa.n_tok + sb.n_tok - i) >= 0.97
    """,
)
def ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.dedup import ngram_jaccard_pairs

    docs = load_table(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(docs, "doc_id", "text", threshold=0.97)


# ===========================================================================
# Sampling / splitting / mixing / packing (LLM-pipeline extension)
#
# Every query here uses operators.sampling with its md5_bucket hasher —
# the deterministic hash both Spark and DuckDB compute bit-identically —
# so the whole family is fully oracle-gated. Production callers use the
# default xxhash64 bucket; the plan shape is identical.
# ===========================================================================

from .operators.sampling import md5_bucket, md5_bucket_sql  # noqa: E402

_B = md5_bucket_sql("doc_id")


@query(
    "split_assign",
    oracle=f"""
    SELECT doc_id,
           CASE WHEN {_B} < 800 THEN 'train'
                WHEN {_B} < 900 THEN 'val'
                ELSE 'test' END AS split
    FROM documents
    """,
)
def split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash train/val/test split — membership is a pure
    function of doc_id: zero shuffles, rerun-stable, exact band edges."""
    from .operators.sampling import train_test_split

    docs = load_table(spark, sf_dir, "documents")
    return train_test_split(
        docs, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1}, bucket_fn=md5_bucket
    ).select("doc_id", "split")


@query(
    "leakage_safe_split",
    oracle=f"""
    WITH RECURSIVE toks AS (
      SELECT DISTINCT doc_id AS doc, tok
      FROM documents,
           UNNEST(list_filter(string_split_regex(lower(text), '\\s+'),
                              x -> x <> '')) AS t(tok)
    ), sizes AS (
      SELECT doc, count(*) AS n_tok FROM toks GROUP BY doc
    ), inter AS (
      SELECT l.doc AS doc_a, r.doc AS doc_b, count(*) AS i
      FROM toks l JOIN toks r ON l.tok = r.tok AND l.doc < r.doc
      GROUP BY 1, 2
    ), pairs AS (
      SELECT doc_a, doc_b
      FROM inter
      JOIN sizes sa ON inter.doc_a = sa.doc
      JOIN sizes sb ON inter.doc_b = sb.doc
      WHERE i * 1.0 / (sa.n_tok + sb.n_tok - i) >= 0.97
    ), edges AS (
      SELECT doc_a AS a, doc_b AS b FROM pairs
      UNION SELECT doc_b, doc_a FROM pairs
    ), walk(node, label) AS (
      SELECT a, a FROM edges
      UNION
      SELECT e.b, w.label FROM walk w JOIN edges e ON e.a = w.node
    ), comp AS (
      SELECT node, min(label) AS canonical FROM walk GROUP BY node
    ), collapsed AS (
      SELECT d.doc_id AS doc,
             coalesce(c.canonical, d.doc_id) AS canonical
      FROM documents d LEFT JOIN comp c ON c.node = d.doc_id
    )
    SELECT doc, canonical,
           CASE WHEN {md5_bucket_sql("canonical")} < 800 THEN 'train'
                WHEN {md5_bucket_sql("canonical")} < 900 THEN 'val'
                ELSE 'test' END AS split
    FROM collapsed
    """,
)
def leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/val/test split: near-dup CLUSTERS are the unit
    of assignment, not documents — hash-banding the cluster canonical
    keeps every near-duplicate on the same side of the split, closing
    the train/test contamination hole a doc-level split leaves open
    (the step real pretraining pipelines run between dedup and
    sharding). Pure composition of two gated operators: cluster
    collapse (operators/components.py) feeding the hash-band splitter
    (operators/sampling.py) keyed on ``canonical``; the split adds ZERO
    shuffles beyond the dedup itself. The oracle replays the pair graph
    with a recursive CTE and bands the same md5 bucket, so cluster
    membership AND split assignment are hash-gated together.

    The leakage guarantee is BOUNDED BY LSH RECALL at the chosen band
    configuration (ADVICE r04 #1): a pair the bands never collide is
    never verified, and its documents can straddle the split. At the
    2×24 config used here, a NON-identical pair at exactly Jaccard
    0.97 collides with only ~73% probability (identical token sets —
    all of this corpus's ≥0.97 pairs — collide always, which is why
    the gate is exact here). Raising recall means more bands of fewer
    hashes; that dial was measured on this fixture and is brutal when
    background Jaccard is high (unigram token sets over a 31-word
    vocabulary put random-pair J near 0.8): 4×12 bands → 99.1% recall
    but 17 s, 16×3 → ~1-4e-17 recall but 24 s, vs 5 s at 2×24. A
    production split should instead raise SEPARATION — shingle_k ≥ 3
    makes background J collapse while true near-dups stay high, letting
    wide-band recall come cheap. The knob is the caller's contract;
    this query documents the bound instead of hiding it."""
    from .operators.components import collapse_clusters
    from .operators.dedup import minhash_lsh_pairs
    from .operators.sampling import train_test_split

    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(
        docs,
        "doc_id",
        "text",
        shingle_k=1,
        num_hashes=48,
        bands=2,
        jaccard_threshold=0.97,
    )
    collapsed = collapse_clusters(docs, "doc_id", pairs, canonical_pairs=True)
    return train_test_split(
        collapsed,
        "canonical",
        {"train": 0.8, "val": 0.1, "test": 0.1},
        bucket_fn=md5_bucket,
    ).select("doc", "canonical", "split")


@query(
    "mix_sources",
    oracle=f"""
    SELECT doc_id, source
    FROM documents
    WHERE {_B} < CASE WHEN source = 'src1' THEN 250
                      WHEN source = 'src2' THEN 500
                      ELSE 1000 END
    """,
)
def mix_sources_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted source mixing: keep 25% of src1, 50% of src2, all else —
    a deterministic hash-band filter, zero shuffles, nested keep-sets."""
    from .operators.sampling import mix_sources

    docs = load_table(spark, sf_dir, "documents")
    return mix_sources(
        docs, "doc_id", "source", {"src1": 0.25, "src2": 0.5}, bucket_fn=md5_bucket
    ).select("doc_id", "source")


@query(
    "temperature_mix",
    oracle=f"""
    WITH c AS (
      SELECT lang, CAST(count(*) AS BIGINT) AS n FROM documents GROUP BY 1
    ), s AS (
      SELECT lang, n, CAST(round(sqrt(n) * 1000000) AS BIGINT) AS sq FROM c
    ), t AS (SELECT CAST(sum(sq) AS BIGINT) AS tot FROM s),
    r AS (
      SELECT lang,
             CAST(least(1000, round(1000.0 * 250 * sq / (CAST(tot AS DOUBLE) * n)))
                  AS BIGINT) AS th
      FROM s CROSS JOIN t
    )
    SELECT d.doc_id, d.lang
    FROM documents d JOIN r ON r.lang = d.lang
    WHERE {md5_bucket_sql("d.doc_id")} < r.th
    """,
)
def temperature_mix_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mT5-style α=0.5 temperature mixing over the language column with
    a 250-row budget (operators/sampling.py temperature_mix): rare
    languages keep a larger fraction of their rows than their corpus
    share, common ones a smaller — the multilingual rebalancing rule —
    as a pure hash-band filter with ZERO corpus shuffles. Exact gate:
    √n is correctly-rounded IEEE in both engines, the normalizer is an
    integer sum, and the keep set is the md5 band both engines compute
    bit-identically."""
    from .operators.sampling import md5_bucket, temperature_mix

    docs = load_table(spark, sf_dir, "documents")
    return temperature_mix(
        docs, "doc_id", "lang", 250, bucket_fn=md5_bucket
    ).select("doc_id", "lang")


@query(
    "stratified_sample",
    oracle=f"""
    SELECT doc_id, lang FROM (
      SELECT doc_id, lang,
             ROW_NUMBER() OVER (PARTITION BY lang ORDER BY {_B}, doc_id) AS rn
      FROM documents
    ) WHERE rn <= 20
    """,
)
def stratified_sample_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly 20 docs per language, chosen by hash order — deterministic
    'random' sampling, one shuffle on the stratum key, WindowGroupLimit
    keeps per-task memory at n rows."""
    from .operators.sampling import stratified_sample

    docs = load_table(spark, sf_dir, "documents")
    return stratified_sample(docs, "doc_id", "lang", 20, bucket_fn=md5_bucket).select(
        "doc_id", "lang"
    )


@query(
    "pack_sequences",
    oracle="""
    SELECT doc_id, source,
           CAST(COALESCE(SUM(tok) OVER (
             PARTITION BY source ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
             AS pack_offset,
           CAST(COALESCE(SUM(tok) OVER (
             PARTITION BY source ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // 2048 AS BIGINT)
             AS pack_id
    FROM (
      SELECT doc_id, source,
             len(list_filter(string_split_regex(lower(text), '\\s+'),
                             x -> x <> '')) AS tok
      FROM documents
    )
    """,
)
def pack_sequences_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-then-chunk sequence packing at a 2048-token budget, sharded
    by source so the running-sum window parallelizes (one hash exchange
    on the shard key — sequences never cross shards)."""
    from .functions.text import word_tokens
    from .operators.sampling import pack_sequences

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", F.size(word_tokens(F.col("text"))).alias("tok")
    )
    return pack_sequences(
        docs, "doc_id", "tok", 2048, group_cols=("source",)
    ).select("doc_id", "source", "pack_offset", "pack_id")


# ===========================================================================
# Text analysis (LLM-pipeline extension)
# ===========================================================================


def _duck_tokens() -> str:
    return "list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '')"


def _duck_sw(lang: str) -> str:
    from .functions.text import STOPWORDS

    words = ", ".join(f"'{w}'" for w in STOPWORDS[lang])
    return f"len(list_filter({_duck_tokens()}, x -> list_contains([{words}], x)))"


@query(
    "lang_id",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id, lang,
             {_duck_sw('de')} AS s_de, {_duck_sw('en')} AS s_en,
             {_duck_sw('es')} AS s_es, {_duck_sw('fr')} AS s_fr
      FROM documents
    )
    SELECT doc_id, lang,
           CASE WHEN s_fr > greatest(s_de, s_en, s_es) THEN 'fr'
                WHEN s_es > greatest(s_de, s_en) THEN 'es'
                WHEN s_en > s_de THEN 'en'
                WHEN s_de > 0 THEN 'de'
                ELSE 'und' END AS predicted_lang
    FROM scored
    """,
)
def lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions.text import predict_lang, word_tokens

    docs = load_table(spark, sf_dir, "documents").withColumn(
        "_toks", word_tokens(F.col("text"))  # tokenize once, score 4 langs
    )
    return docs.select(
        "doc_id", "lang", predict_lang(F.col("text"), F.col("_toks")).alias("predicted_lang")
    )


@query(
    "quality_score",
    oracle=f"""
    WITH base AS (
      SELECT doc_id,
             length(text) AS n_chars,
             len({_duck_tokens()}) AS n_tokens,
             length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g'))
               AS n_punct,
             {_duck_sw('en')} AS n_sw,
             list_sum(list_transform({_duck_tokens()}, x -> length(x))) AS tok_chars
      FROM documents
    ), ratios AS (
      SELECT doc_id, n_chars, n_tokens,
             CASE WHEN n_chars = 0 THEN 0.0
                  ELSE n_punct * 1.0 / n_chars END AS punct_ratio,
             CASE WHEN n_tokens = 0 THEN 0.0
                  ELSE n_sw * 1.0 / n_tokens END AS sw_ratio,
             CASE WHEN n_tokens = 0 THEN 0.0
                  ELSE tok_chars * 1.0 / n_tokens END AS mean_word_len
      FROM base
    )
    SELECT doc_id,
           CAST(n_chars AS BIGINT) AS n_chars,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           round(punct_ratio, 4) AS punct_ratio,
           round(sw_ratio, 4) AS stopword_ratio,
           round(mean_word_len, 4) AS mean_word_len,
           round(least(1.0, greatest(0.0,
             0.5 + sw_ratio - punct_ratio * 2.0
                 + CASE WHEN mean_word_len >= 3.0 AND mean_word_len <= 10.0
                        THEN 0.25 ELSE -0.25 END)), 4) AS quality_score
    FROM ratios
    """,
)
def quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions.text import quality_score_cols, word_tokens

    docs = load_table(spark, sf_dir, "documents").withColumn(
        "_toks", word_tokens(F.col("text"))
    )
    cols = quality_score_cols(F.col("text"), F.col("_toks"))
    return docs.select("doc_id", *[c.alias(n) for n, c in cols.items()])


@query(
    "token_count",
    oracle="""
    SELECT doc_id,
           len(list_filter(string_split_regex(text, '\\s+'), x -> x <> ''))
             AS ws_tokens,
           len(regexp_extract_all(text, '[A-Za-z0-9_]+|[^A-Za-z0-9_\\s]'))
             AS bpeish_tokens
    FROM documents
    """,
)
def token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions.text import token_count_bpeish, whitespace_tokens

    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.size(whitespace_tokens(F.col("text"))).alias("ws_tokens"),
        token_count_bpeish(F.col("text")).alias("bpeish_tokens"),
    )


@query(
    "vocab_encode",
    oracle=f"""
    WITH d AS (
      SELECT doc_id AS doc, {_duck_tokens()} AS toks FROM documents
    ), toks AS (
      SELECT doc, unnest(toks) AS tok, generate_subscripts(toks, 1) AS pos
      FROM d
    ), counts AS (
      SELECT tok, count(*) AS n FROM toks GROUP BY tok
    ), vocab AS (
      SELECT tok,
             CAST(row_number() OVER (ORDER BY n DESC, tok) - 1 AS INT) AS id
      FROM counts ORDER BY n DESC, tok LIMIT 24
    ), enc AS (
      SELECT doc, pos, coalesce(v.id, -1) AS id
      FROM toks LEFT JOIN vocab v USING (tok)
    )
    SELECT doc, CAST(count(*) AS BIGINT) AS n_tokens,
           to_json(list(id ORDER BY pos)) AS ids_json
    FROM enc GROUP BY doc
    """,
)
def vocab_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer bridge: build a frequency-ranked vocabulary over the
    corpus (operators/text_vectorize.py build_vocab — top-24 so OOV is
    real) and map every document's token sequence to ids, OOV → -1,
    rendered as a JSON int array. The vocab cut is TakeOrdered + a
    bounded 24-row window; encoding is one broadcast join — the id
    assignment AND every encoded sequence are hash-gated."""
    from .operators.text_vectorize import build_vocab, encode_token_ids

    docs = load_table(spark, sf_dir, "documents")
    vocab = build_vocab(docs, "text", size=24)
    return encode_token_ids(docs, "doc_id", "text", vocab, vocab_size=24)


def _bpe_oracle(num_merges: int) -> str:
    """DuckDB replay of BPE training: K unrolled merge rounds, each a
    pair-count aggregate + argmax + a list_reduce fold that applies the
    merge greedily left-to-right (operators/bpe.py semantics)."""
    rounds = []
    for k in range(1, num_merges + 1):
        rounds.append(
            f"""
    , p{k} AS (
      SELECT syms[i] AS a, syms[i+1] AS b, CAST(sum(freq) AS BIGINT) AS cnt
      FROM w{k - 1}, unnest(generate_series(1, len(syms) - 1)) AS u(i)
      GROUP BY 1, 2
    ), t{k} AS (
      SELECT a, b, cnt FROM p{k} ORDER BY cnt DESC, a, b LIMIT 1
    ), w{k} AS (
      SELECT word, freq,
             CASE WHEN t.a IS NULL THEN syms ELSE
               list_reduce(
                 list_prepend(CAST([] AS VARCHAR[]),
                              list_transform(syms, s -> [s])),
                 (acc, x) -> CASE WHEN len(acc) > 0
                                   AND acc[len(acc)] = t.a AND x[1] = t.b
                             THEN list_append(acc[1:len(acc) - 1], t.a || t.b)
                             ELSE list_concat(acc, x) END)
             END AS syms
      FROM w{k - 1} LEFT JOIN t{k} t ON true
    )"""
        )
    merge_rows = "\n      UNION ALL\n      ".join(
        f"SELECT 'merge' AS kind, CAST({k - 1} AS BIGINT) AS id, "
        f"to_json([a, b, CAST(cnt AS VARCHAR)]) AS payload FROM t{k}"
        for k in range(1, num_merges + 1)
    )
    return f"""
    WITH d AS (
      SELECT doc_id AS doc, {_duck_tokens()} AS toks FROM documents
    ), toks AS (
      SELECT doc, unnest(toks) AS tok, generate_subscripts(toks, 1) AS pos
      FROM d
    ), w0 AS (
      SELECT tok AS word, CAST(count(*) AS BIGINT) AS freq,
             list_transform(range(1, length(tok) + 1),
                            i -> substr(tok, CAST(i AS INT), 1)) AS syms
      FROM toks GROUP BY tok
    ){''.join(rounds)}
    , pieces AS (
      SELECT t.doc, t.pos, w.syms
      FROM toks t JOIN w{num_merges} w ON w.word = t.tok
    ), docs_out AS (
      SELECT 'doc' AS kind, doc AS id,
             to_json(flatten(list(syms ORDER BY pos))) AS payload
      FROM pieces GROUP BY doc
    )
    SELECT kind, id, payload FROM ({merge_rows})
    UNION ALL
    SELECT kind, id, payload FROM docs_out
    """


@query("bpe_learn_encode", oracle=_bpe_oracle(8))
def bpe_learn_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer training + corpus encoding (operators/bpe.py): 8
    merges learned over the documents corpus as ONE lazy query (pair
    counts are vocab-bounded aggregates, the argmax plans as
    TakeOrderedAndProject, the merge rides a 1-row broadcast — no
    driver round-trip), then every document encoded through the final
    word table. Output is union-discriminated: kind='merge' rows carry
    (rank, [a, b, cnt]) and kind='doc' rows carry the full piece
    sequence — so the learned MODEL and every ENCODED sequence are
    hash-gated together against the K-round SQL replay."""
    from .operators.bpe import encode_bpe, learn_bpe

    docs = load_table(spark, sf_dir, "documents")
    merges, words = learn_bpe(docs, "text", num_merges=8)
    merge_rows = merges.select(
        F.lit("merge").alias("kind"),
        F.col("rank").alias("id"),
        F.to_json(
            F.array(F.col("a"), F.col("b"), F.col("cnt").cast("string"))
        ).alias("payload"),
    )
    doc_rows = encode_bpe(docs, "doc_id", "text", words).select(
        F.lit("doc").alias("kind"),
        F.col("doc").cast("long").alias("id"),
        F.col("pieces_json").alias("payload"),
    )
    return merge_rows.unionAll(doc_rows)


@query(
    "doc_fingerprint",
    oracle="""
    SELECT doc_id, md5(text) AS fingerprint, length(text) AS n_chars_actual
    FROM documents
    """,
)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.md5(F.col("text").cast("binary")).alias("fingerprint"),
        F.length("text").cast("long").alias("n_chars_actual"),
    )


@query(
    "bigram_perplexity",
    oracle=f"""
    WITH d AS (
      SELECT doc_id AS doc, {_duck_tokens()} AS toks FROM documents
    ), bi AS (
      SELECT doc, z[1] AS a, z[2] AS b
      FROM (SELECT doc, list_zip(toks, toks[2:]) AS zs FROM d),
           UNNEST(zs) AS t(z)
      WHERE z[2] IS NOT NULL
    ), doc_bi AS (
      SELECT doc, a, b, CAST(count(*) AS BIGINT) AS m FROM bi GROUP BY 1, 2, 3
    ), model AS (
      SELECT a, b, CAST(sum(m) AS BIGINT) AS cnt FROM doc_bi GROUP BY 1, 2
    ), uni AS (
      SELECT a, CAST(sum(m) AS BIGINT) AS cn FROM doc_bi GROUP BY 1
    ), vocab AS (
      SELECT CAST(count(*) AS BIGINT) AS v FROM (
        SELECT a AS tok FROM doc_bi UNION SELECT b FROM doc_bi
      )
    ), scored AS (
      SELECT doc,
             CAST(sum(m) AS BIGINT) AS n_bigrams,
             CAST(-sum(m * CAST(round(ln((cnt + 1) / CAST(cn + v AS DOUBLE))
                                      * 1000000) AS BIGINT)) AS BIGINT)
               AS nll_micro
      FROM doc_bi JOIN model USING (a, b) JOIN uni USING (a) CROSS JOIN vocab
      GROUP BY doc
    )
    SELECT doc, n_bigrams, nll_micro,
           round(exp(CAST(nll_micro AS DOUBLE) / n_bigrams / 1000000), 4)
             AS ppl
    FROM scored
    """,
)
def bigram_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style corpus quality scoring: train an add-one-smoothed
    bigram LM over the corpus and score every document's perplexity
    under it (operators/lm_score.py). The log-probabilities are
    micro-nat INTEGERS (same fixed-point policy as kmeans/pagerank), so
    the per-doc sum is order-independent and the oracle hash-gates the
    whole train+score pipeline exactly."""
    from .operators.lm_score import bigram_perplexity as _ppl

    docs = load_table(spark, sf_dir, "documents")
    return _ppl(docs, "doc_id", "text")


@query(
    "trigram_backoff_ppl",
    oracle=f"""
    WITH tr AS (
      SELECT doc_id AS doc, {_duck_tokens()} AS toks FROM documents
      WHERE doc_id % 2 = 0
    ), tr_tri AS (
      SELECT toks[i] AS w1, toks[i+1] AS w2, toks[i+2] AS w3,
             CAST(count(*) AS BIGINT) AS c3
      FROM tr, unnest(generate_series(1, len(toks) - 2)) AS u(i)
      GROUP BY 1, 2, 3
    ), tr_bi AS (
      SELECT toks[i] AS a, toks[i+1] AS b, CAST(count(*) AS BIGINT) AS c2
      FROM tr, unnest(generate_series(1, len(toks) - 1)) AS u(i)
      GROUP BY 1, 2
    ), tr_uni AS (
      SELECT tok, CAST(count(*) AS BIGINT) AS c1
      FROM (SELECT unnest(toks) AS tok FROM tr) GROUP BY 1
    ), tr_n AS (
      SELECT CAST(count(*) AS BIGINT) AS n
      FROM (SELECT unnest(toks) AS tok FROM tr)
    ), d AS (
      SELECT doc_id AS doc, {_duck_tokens()} AS toks FROM documents
    ), doc_tri AS (
      SELECT doc, toks[i] AS w1, toks[i+1] AS w2, toks[i+2] AS w3,
             CAST(count(*) AS BIGINT) AS m
      FROM d, unnest(generate_series(1, len(toks) - 2)) AS u(i)
      GROUP BY 1, 2, 3, 4
    ), j AS (
      SELECT dt.doc, dt.m,
             CAST(round(CASE
               WHEN t.c3 IS NOT NULL THEN ln(t.c3 / CAST(b12.c2 AS DOUBLE))
               WHEN b23.c2 IS NOT NULL
                 THEN ln(0.4 * (b23.c2 / CAST(u2.c1 AS DOUBLE)))
               ELSE ln(0.16 * (coalesce(u3.c1, 1) / CAST(tn.n AS DOUBLE)))
             END * 1000000) AS BIGINT) AS slog
      FROM doc_tri dt
      LEFT JOIN tr_tri t
        ON t.w1 = dt.w1 AND t.w2 = dt.w2 AND t.w3 = dt.w3
      LEFT JOIN tr_bi b12 ON b12.a = dt.w1 AND b12.b = dt.w2
      LEFT JOIN tr_bi b23 ON b23.a = dt.w2 AND b23.b = dt.w3
      LEFT JOIN tr_uni u2 ON u2.tok = dt.w2
      LEFT JOIN tr_uni u3 ON u3.tok = dt.w3
      CROSS JOIN tr_n tn
    ), scored AS (
      SELECT doc, CAST(sum(m) AS BIGINT) AS n_trigrams,
             CAST(-sum(m * slog) AS BIGINT) AS nll_micro
      FROM j GROUP BY doc
    )
    SELECT doc, n_trigrams, nll_micro,
           round(exp(CAST(nll_micro AS DOUBLE) / n_trigrams / 1000000), 4)
             AS ppl
    FROM scored
    """,
)
def trigram_backoff_ppl_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trigram LM with stupid backoff (operators/lm_score.py
    trigram_backoff_ppl): train on the even-id half of the corpus,
    score EVERY document — held-out docs hit the backoff chain
    (trigram → 0.4·bigram → 0.16·unigram → unseen floor) for real,
    which a self-scoring corpus never does. Micro-nat integer sums,
    fixed ln-argument parenthesization, hash-gated end to end — the
    n-gram-order step beyond ``bigram_perplexity`` toward
    CCNet-style LM filtering."""
    from .operators.lm_score import trigram_backoff_ppl

    docs = load_table(spark, sf_dir, "documents")
    return trigram_backoff_ppl(
        docs.where(F.col("doc_id") % 2 == 0), docs, "doc_id", "text"
    )


@query(
    "nb_lang_classify",
    oracle=f"""
    WITH d AS (
      SELECT doc_id AS doc, lang, {_duck_tokens()} AS toks FROM documents
    ), toks AS (
      SELECT doc, lang, unnest(toks) AS tok FROM d
    ), doc_tok AS (
      SELECT doc, tok, CAST(count(*) AS BIGINT) AS m FROM toks GROUP BY 1, 2
    ), tokcnt AS (
      SELECT lang AS label, tok, CAST(count(*) AS BIGINT) AS cnt
      FROM toks GROUP BY 1, 2
    ), ccls AS (
      SELECT label, CAST(sum(cnt) AS BIGINT) AS ctot FROM tokcnt GROUP BY 1
    ), vocab AS (SELECT DISTINCT tok FROM toks),
    vsize AS (SELECT CAST(count(*) AS BIGINT) AS v FROM vocab),
    dense AS (
      SELECT vo.tok, cc.label,
             CAST(round(ln((coalesce(tc.cnt, 0) + 1)
                           / CAST(cc.ctot + vs.v AS DOUBLE)) * 1000000)
                  AS BIGINT) AS lp
      FROM ccls cc CROSS JOIN vocab vo CROSS JOIN vsize vs
      LEFT JOIN tokcnt tc ON tc.label = cc.label AND tc.tok = vo.tok
    ), nd AS (
      SELECT lang AS label, CAST(count(*) AS BIGINT) AS nd FROM documents
      GROUP BY 1
    ), tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
    priors AS (
      SELECT label,
             CAST(round(ln(nd / CAST(n AS DOUBLE)) * 1000000) AS BIGINT)
               AS pr
      FROM nd CROSS JOIN tot
    ), scored AS (
      SELECT dt.doc, de.label,
             pr.pr + CAST(sum(dt.m * de.lp) AS BIGINT) AS score
      FROM doc_tok dt
      JOIN dense de ON de.tok = dt.tok
      JOIN priors pr ON pr.label = de.label
      GROUP BY dt.doc, de.label, pr.pr
    ), best AS (
      SELECT doc, label, score,
             ROW_NUMBER() OVER (PARTITION BY doc
                                ORDER BY score DESC, label) AS rn
      FROM scored
    )
    SELECT b.doc, dd.lang, b.label AS pred_label, b.score AS score_micro,
           CAST(CASE WHEN b.label = dd.lang THEN 1 ELSE 0 END AS BIGINT)
             AS hit
    FROM best b JOIN documents dd ON dd.doc_id = b.doc
    WHERE b.rn = 1
    """,
)
def nb_lang_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multinomial Naive Bayes language classification
    (operators/nb_classify.py): train add-one-smoothed NB on the
    corpus's own lang labels, classify every document, report the
    prediction + integer micro-nat score + hit flag. Training is two
    corpus aggregations; the dense (tok × label) model is
    vocab-bounded; scoring is one join + an integer argmax with a
    deterministic label tie-break — the whole train+classify pipeline
    hash-gates against the SQL replay. The trained twin of the
    heuristic ``lang_id`` filter."""
    from .operators.nb_classify import naive_bayes_classify, naive_bayes_train

    docs = load_table(spark, sf_dir, "documents")
    model, priors = naive_bayes_train(docs, "doc_id", "text", "lang")
    pred = naive_bayes_classify(docs, "doc_id", "text", model, priors)
    return pred.join(
        docs.select(F.col("doc_id").alias("doc"), "lang"), "doc"
    ).select(
        "doc",
        "lang",
        "pred_label",
        "score_micro",
        F.when(F.col("pred_label") == F.col("lang"), F.lit(1))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("hit"),
    )


@query(
    "weighted_sample",
    oracle="""
    WITH w AS (
      SELECT doc_id AS doc,
             greatest(CAST(len(list_filter(
               string_split_regex(lower(text), '\\s+'), x -> x <> ''))
               AS BIGINT), 1) AS weight
      FROM documents
    ), keyed AS (
      SELECT doc, weight,
             ln(((doc % 2147483647) * 2654435761 % 2147483647 + 1)
                / 2147483649.0) / weight AS sample_key
      FROM w
    )
    SELECT doc, weight, round(sample_key, 6) AS sample_key
    FROM (SELECT * FROM keyed ORDER BY sample_key DESC, doc LIMIT 500)
    """,
)
def weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted sampling without replacement (Efraimidis–
    Spirakis A-ES, operators/sampling.py weighted_sample_topk): token
    count as the weight, top-500 keys = the sample. Plans as
    TakeOrderedAndProject — no global sort; the hash-uniform is exact
    integer arithmetic both engines reproduce, so the sample SET is
    hash-gated, not just counted."""
    from .functions.text import word_tokens
    from .operators.sampling import weighted_sample_topk

    docs = load_table(spark, sf_dir, "documents")
    w = docs.select(
        "doc_id",
        F.greatest(
            F.size(word_tokens(F.col("text"))).cast("long"), F.lit(1).cast("long")
        ).alias("w"),
    )
    out = weighted_sample_topk(w, "doc_id", "w", 500)
    return out.select(
        "doc", "weight", F.round("sample_key", 6).alias("sample_key")
    )


@query(
    "weighted_sample_stratified",
    oracle="""
    WITH w AS (
      SELECT doc_id AS doc, lang,
             greatest(CAST(len(list_filter(
               string_split_regex(lower(text), '\\s+'), x -> x <> ''))
               AS BIGINT), 1) AS weight
      FROM documents
    ), keyed AS (
      SELECT doc, lang, weight,
             ln(((doc % 2147483647) * 2654435761 % 2147483647 + 1)
                / 2147483649.0) / weight AS sample_key
      FROM w
    ), ranked AS (
      SELECT doc, lang AS stratum, weight,
             round(sample_key, 6) AS sample_key,
             CAST(ROW_NUMBER() OVER (PARTITION BY lang
                                     ORDER BY sample_key DESC, doc)
                  AS INT) AS rn
      FROM keyed
    )
    SELECT doc, stratum, weight, sample_key, rn FROM ranked WHERE rn <= 20
    """,
)
def weighted_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-stratum A-ES weighted sampling (operators/sampling.py
    weighted_sample_per_stratum): 20 docs per language, weighted by
    token count, without replacement — the balanced-quota form of
    ``weighted_sample``. One shuffle on the stratum key, per-group cut
    as WindowGroupLimit; the same deterministic integer hash-uniform
    keys, so each stratum's sample SET is hash-gated."""
    from .functions.text import word_tokens
    from .operators.sampling import weighted_sample_per_stratum

    docs = load_table(spark, sf_dir, "documents")
    w = docs.select(
        "doc_id",
        "lang",
        F.greatest(
            F.size(word_tokens(F.col("text"))).cast("long"), F.lit(1).cast("long")
        ).alias("w"),
    )
    out = weighted_sample_per_stratum(w, "doc_id", "w", "lang", 20)
    return out.select(
        "doc",
        "stratum",
        "weight",
        F.round("sample_key", 6).alias("sample_key"),
        "rn",
    )


@query(
    "salted_join_revenue",
    oracle="""
    SELECT o.o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_lines,
           round(CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2)) *
                          (1 - CAST(l.l_discount AS DECIMAL(18,2))))
                      AS DOUBLE), 2) AS revenue
    FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    GROUP BY o.o_orderpriority
    """,
)
def salted_join_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-busting salted join (operators/skew.py): lineitem (the side a
    hot order key would skew) is spread over 8 sub-keys, orders is
    replicated to match, and the join key becomes (orderkey, salt). The
    oracle is the PLAIN join — salting must be row-invisible; only the
    partitioning changes. This is the static-plan skew discipline for
    the paths AQE's runtime skew split cannot reach (cogroup/stateful/
    streaming joins)."""
    from .operators.skew import salted_join

    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("o_orderkey"),
        "l_extendedprice",
        "l_discount",
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    joined = salted_join(li, orders, "o_orderkey", salts=8)
    return joined.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_lines"),
        _money_sum(
            _dec("l_extendedprice") * (F.lit(1) - _dec("l_discount"))
        ).alias("revenue"),
    )


@query(
    "repetition_stats",
    oracle="""
    WITH t AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\\s+'),
                         x -> x <> '') AS toks
      FROM documents
    ), tok AS (
      SELECT doc_id, unnest(toks) AS tok FROM t
    ), tokstats AS (
      SELECT doc_id,
             CAST(count(*) AS BIGINT) AS n_tokens,
             CAST(count(DISTINCT tok) AS BIGINT) AS distinct_tokens
      FROM tok GROUP BY doc_id
    ), g AS (
      SELECT doc_id,
             concat_ws(' ', toks[i], toks[i + 1], toks[i + 2]) AS gram
      FROM t, unnest(generate_series(1, len(toks) - 2)) AS u(i)
      WHERE len(toks) >= 3
    ), pg AS (
      SELECT doc_id, gram, count(*) AS c FROM g GROUP BY doc_id, gram
    ), gstats AS (
      SELECT doc_id,
             CAST(sum(c) AS BIGINT) AS n_grams,
             CAST(count(*) AS BIGINT) AS distinct_grams,
             CAST(max(c) AS BIGINT) AS top_c
      FROM pg GROUP BY doc_id
    )
    SELECT ts.doc_id, ts.n_tokens, ts.distinct_tokens,
           round(1 - ts.distinct_tokens / CAST(ts.n_tokens AS DOUBLE), 6)
             AS dup_token_frac,
           gs.n_grams, gs.distinct_grams,
           round(1 - gs.distinct_grams / CAST(gs.n_grams AS DOUBLE), 6)
             AS dup_gram_frac,
           round(gs.top_c / CAST(gs.n_grams AS DOUBLE), 6) AS top_gram_share
    FROM tokstats ts JOIN gstats gs ON gs.doc_id = ts.doc_id
    """,
)
def repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style intra-document repetition signals: duplicate-token
    fraction, duplicate-3-gram fraction, and the share of the single
    most repeated 3-gram. High values mark boilerplate/spam documents a
    curation pass drops. Shingling is posexplode+lead — O(n) per doc and
    one reused exchange (the array-HOF form re-inlines tokenization per
    position; see operators/dedup.py) — and both aggregates are partial
    (map-side) groupBys on (doc, token|gram), so the plan is two
    shuffle-light aggregations joined on doc_id, never a self-join.
    Docs with < 3 tokens have no trigrams and are excluded on both sides
    (inner join), same rule as ngram_contamination."""
    from .functions.text import word_tokens

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.posexplode(word_tokens(F.col("text"))).alias("pos", "tok")
    )
    tokstats = toks.groupBy("doc_id").agg(
        F.count("*").alias("n_tokens"),
        F.count_distinct("tok").alias("distinct_tokens"),
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    grams = (
        toks.select(
            "doc_id",
            "tok",
            F.lead("tok", 1).over(w).alias("_t1"),
            F.lead("tok", 2).over(w).alias("_t2"),
        )
        .where(F.col("_t2").isNotNull())
        .select("doc_id", F.concat_ws(" ", "tok", "_t1", "_t2").alias("gram"))
    )
    gstats = (
        grams.groupBy("doc_id", "gram")
        .agg(F.count("*").alias("c"))
        .groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_grams"),
            F.count("*").alias("distinct_grams"),
            F.max("c").alias("top_c"),
        )
    )
    dbl = lambda c: F.col(c).cast("double")  # noqa: E731
    return tokstats.join(gstats, "doc_id").select(
        "doc_id",
        "n_tokens",
        "distinct_tokens",
        F.round(F.lit(1) - dbl("distinct_tokens") / dbl("n_tokens"), 6).alias(
            "dup_token_frac"
        ),
        "n_grams",
        "distinct_grams",
        F.round(F.lit(1) - dbl("distinct_grams") / dbl("n_grams"), 6).alias(
            "dup_gram_frac"
        ),
        F.round(dbl("top_c") / dbl("n_grams"), 6).alias("top_gram_share"),
    )


@query(
    "chunk_documents",
    oracle="""
    WITH t AS (
      SELECT doc_id AS doc,
             list_filter(string_split_regex(lower(text), '\\s+'),
                         x -> x <> '') AS toks
      FROM documents
    ), c AS (
      SELECT doc, CAST(k AS BIGINT) AS chunk_idx,
             list_slice(toks, k * 48 + 1, k * 48 + 64) AS chunk
      FROM t,
           unnest(generate_series(0,
             CAST(floor((len(toks) - 1) / 48.0) AS BIGINT))) AS u(k)
      WHERE len(toks) >= 1
    )
    SELECT doc, chunk_idx,
           CAST(len(chunk) AS BIGINT) AS n_chunk_tokens,
           array_to_string(chunk, ' ') AS chunk_text
    FROM c
    """,
)
def chunk_documents_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window chunking (operators/sampling.py::chunk_documents):
    64-token windows every 48 tokens — the context-window prep for
    embedding/long-doc training. Relational two-generator plan with one
    shuffle; the array-slice HOF form would re-inline tokenization per
    chunk (O(n²) trap)."""
    from .operators.sampling import chunk_documents

    docs = load_table(spark, sf_dir, "documents")
    return chunk_documents(
        docs, "doc_id", "text", chunk_tokens=64, stride=48
    )


@query(
    "pii_redact",
    oracle="""
    WITH aug AS (
      SELECT doc_id,
             concat(text, ' contact user', CAST(doc_id AS VARCHAR),
                    '@example.com or 10.', CAST(doc_id % 256 AS VARCHAR),
                    '.0.1 ref ',
                    CAST(90000000 + doc_id AS VARCHAR)) AS text
      FROM documents
    )
    SELECT doc_id,
           CAST(len(regexp_extract_all(text,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS BIGINT)
             AS n_email,
           CAST(len(regexp_extract_all(text,
             '\\b([0-9]{1,3}\\.){3}[0-9]{1,3}\\b')) AS BIGINT) AS n_ipv4,
           CAST(len(regexp_extract_all(text, '\\b[0-9]{8,}\\b')) AS BIGINT)
             AS n_idnum,
           md5(regexp_replace(regexp_replace(regexp_replace(text,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
             '\\b([0-9]{1,3}\\.){3}[0-9]{1,3}\\b', '<IP>', 'g'),
             '\\b[0-9]{8,}\\b', '<ID>', 'g')) AS redacted_fp
    FROM aug
    """,
)
def pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub pass: count and redact emails, IPv4 literals, and long
    digit runs. The synthetic corpus contains no PII, so both sides
    append the SAME deterministic PII spans per doc before redacting —
    the gate then checks the regex semantics and replacement order
    produce byte-identical redacted text (compared by md5). Pure
    Catalyst regexp expressions over one scan; patterns restricted to
    the Java-regex ∩ RE2 subset (functions/text.py PII_*)."""
    from .functions.text import pii_redact_cols

    docs = load_table(spark, sf_dir, "documents")
    aug = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or 10."),
            (F.col("doc_id") % 256).cast("string"),
            F.lit(".0.1 ref "),
            (F.lit(90000000) + F.col("doc_id")).cast("string"),
        ).alias("text"),
    )
    cols = pii_redact_cols(F.col("text"))
    return aug.select(
        "doc_id",
        cols["n_email"].alias("n_email"),
        cols["n_ipv4"].alias("n_ipv4"),
        cols["n_idnum"].alias("n_idnum"),
        F.md5(cols["redacted"].cast("binary")).alias("redacted_fp"),
    )


@query(
    "content_hash_change",
    oracle="""
    WITH prev AS (
      SELECT o_orderkey, o_custkey,
             CASE WHEN o_orderkey % 7 = 0 THEN 'STALE'
                  ELSE o_orderstatus END AS o_orderstatus,
             o_orderpriority
      FROM orders
    )
    SELECT o.o_orderkey,
           md5(concat_ws(chr(31), CAST(o.o_custkey AS VARCHAR),
                         o.o_orderstatus, o.o_orderpriority)) AS features_hash
    FROM orders o JOIN prev p USING (o_orderkey)
    WHERE o.o_custkey <> p.o_custkey
       OR o.o_orderstatus <> p.o_orderstatus
       OR o.o_orderpriority <> p.o_orderpriority
    """,
)
def content_hash_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F7 feature-CHANGE DETECTION (reference definitions/
    game_features_hash.sqlx:9-29 + the hash-compare consumer in
    `plans/dag.py`): the engine compares xxhash64(to_json(struct(...)))
    fingerprints between the previous and current snapshot — the hash is
    engine-internal, compared only to itself — and emits the changed
    keys. Hash-gated directly since round 9 (r8 VERDICT #5): the gated
    output carries the PORTABLE md5 fingerprint next to each changed
    key, so the change row set AND a per-row value are oracle-checked,
    while the oracle detects the same changes by comparing the
    underlying columns (a collision in the 64-bit engine hash would
    surface as a missing row — the gate now proves non-collision on
    this data rather than assuming it). The previous snapshot is
    derived deterministically (every 7th order's status differs), so
    both engines see the same delta."""
    from .functions.hashing import content_fingerprint, portable_fingerprint

    orders = load_table(spark, sf_dir, "orders")
    feats = ["o_custkey", "o_orderstatus", "o_orderpriority"]
    prev = orders.select(
        "o_orderkey",
        F.col("o_custkey"),
        F.when(F.col("o_orderkey") % 7 == 0, F.lit("STALE"))
        .otherwise(F.col("o_orderstatus"))
        .alias("o_orderstatus"),
        F.col("o_orderpriority"),
    )
    cur_h = orders.select(
        "o_orderkey",
        content_fingerprint(*[F.col(c) for c in feats]).alias("_h"),
        portable_fingerprint(*[F.col(c) for c in feats]).alias("features_hash"),
    )
    prev_h = prev.select(
        "o_orderkey",
        content_fingerprint(*[F.col(c) for c in feats]).alias("_h_prev"),
    )
    return (
        cur_h.join(prev_h, "o_orderkey")
        .where(F.col("_h") != F.col("_h_prev"))
        .select("o_orderkey", "features_hash")
    )


@query(
    "content_hash_portable",
    oracle="""
    SELECT o_orderkey,
           md5(concat_ws(chr(31), CAST(o_custkey AS VARCHAR),
                         o_orderstatus, o_orderpriority)) AS features_hash
    FROM orders
    """,
)
def content_hash_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F7 change hash with an engine-portable value (functions/hashing.py
    ``portable_fingerprint``): md5 over a unit-separator-joined canonical
    rendering, hash-gated exactly against DuckDB computing the same
    expression — the twin that proves the fingerprint pipeline, while
    ``content_hash_change`` keeps the reference's cheaper
    xxhash64-of-JSON form for engine-internal use."""
    from .functions.hashing import portable_fingerprint

    orders = load_table(spark, sf_dir, "orders")
    return orders.select(
        "o_orderkey",
        portable_fingerprint(
            F.col("o_custkey"), F.col("o_orderstatus"), F.col("o_orderpriority")
        ).alias("features_hash"),
    )


# ===========================================================================
# Nested serving documents (A3/F5/F6 — game_profile) + point lookup (R1)
# ===========================================================================


@query(
    "nested_profile",
    oracle="""
    WITH ol AS (
      SELECT o.o_custkey, o.o_orderkey, count(l.l_orderkey) AS n_lines
      FROM orders o LEFT JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      GROUP BY o.o_custkey, o.o_orderkey
    ), prof AS (
      SELECT c.c_custkey, c.c_name,
             count(ol.o_orderkey) AS n_orders,
             coalesce(list_sort(list(ol.o_orderkey) FILTER (WHERE ol.o_orderkey IS NOT NULL)), []) AS order_keys,
             coalesce(list(struct_pack(o := ol.o_orderkey, n := ol.n_lines)
                           ORDER BY ol.o_orderkey)
                      FILTER (WHERE ol.o_orderkey IS NOT NULL),
                      []::STRUCT(o BIGINT, n BIGINT)[]) AS orders_detail
      FROM customer c LEFT JOIN ol ON ol.o_custkey = c.c_custkey
      GROUP BY c.c_custkey, c.c_name
    )
    SELECT c_custkey,
           to_json(struct_pack(
             c_custkey := c_custkey, c_name := c_name,
             n_orders := n_orders, order_keys := order_keys,
             orders_detail := orders_detail)) AS profile_json
    FROM prof
    """,
)
def nested_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """game_profile pattern (reference definitions/game_profile.sqlx:22-36,99-113):
    per-key nested document with ordered ARRAY_AGG(STRUCT) blocks, rendered
    as a canonical JSON string for engine-portable comparison."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    ol = (
        orders.join(lineitem, lineitem.l_orderkey == orders.o_orderkey, "left")
        .groupBy("o_custkey", "o_orderkey")
        .agg(F.count("l_orderkey").alias("n_lines"))
    )
    prof = (
        customer.join(ol, ol.o_custkey == customer.c_custkey, "left")
        .groupBy("c_custkey", "c_name")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.sort_array(
                F.collect_list(F.col("o_orderkey"))
            ).alias("order_keys"),
            F.array_sort(
                F.collect_list(
                    F.when(
                        F.col("o_orderkey").isNotNull(),
                        F.struct(
                            F.col("o_orderkey").alias("o"), F.col("n_lines").alias("n")
                        ),
                    )
                )
            ).alias("orders_detail"),
        )
    )
    return prof.select(
        "c_custkey",
        F.to_json(
            F.struct("c_custkey", "c_name", "n_orders", "order_keys", "orders_detail")
        ).alias("profile_json"),
    )


@query(
    "point_lookup",
    oracle="""
    SELECT c.c_custkey, c.c_name, c.c_acctbal,
           count(o.o_orderkey) AS n_orders,
           round(CAST(coalesce(sum(CAST(o.o_totalprice AS DECIMAL(18,2))), 0) AS DOUBLE), 2)
             AS total_spent
    FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
    WHERE c.c_custkey = 42
    GROUP BY c.c_custkey, c.c_name, c.c_acctbal
    """,
)
def point_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R1 point-document read (reference src/warehouse/readers/games.py:253-289):
    the filter sits directly on the scan so Catalyst pushes it into parquet
    (partition-pruned under the production bucketed layout in io.py)."""
    customer = load_table(spark, sf_dir, "customer").where(F.col("c_custkey") == 42)
    orders = load_table(spark, sf_dir, "orders")
    return (
        customer.join(orders, orders.o_custkey == customer.c_custkey, "left")
        .groupBy("c_custkey", "c_name", "c_acctbal")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.round(
                F.coalesce(F.sum(_dec("o_totalprice")), F.lit(0).cast("decimal(18,2)")).cast(
                    "double"
                ),
                2,
            ).alias("total_spent"),
        )
    )


# ===========================================================================
# Multimodal plumbing (LLM-pipeline extension; deterministic decode stub)
# ===========================================================================


@query(
    "multimodal_features",
    oracle="""
    WITH b AS (
      SELECT doc_id,
             length(text) AS L,
             length(text) % 13 + 4 AS w,
             length(text) % 7 + 3 AS h,
             list_transform(range(1, length(text) + 1),
                            i -> unicode(substr(text, CAST(i AS INT), 1))) AS bytes
      FROM documents
    ), c AS (
      SELECT doc_id, L, w, h, w * h * 3 AS n,
             list_sum(bytes) AS s_all, bytes
      FROM b
    ), s AS (
      SELECT doc_id, w, h, n,
             (n // L) * s_all
             + coalesce(list_sum(list_slice(bytes, 1, n % L)), 0) AS sp
      FROM c
    )
    SELECT doc_id AS asset_id,
           'image/x-portable-pixmap' AS format,
           CAST(w AS INT) AS width,
           CAST(h AS INT) AS height,
           CAST(n AS BIGINT) AS n_pixel_bytes,
           CAST(sp AS BIGINT) AS sum_pixel_bytes,
           round(sp * 1.0 / n, 4) AS mean_byte
    FROM s
    """,
)
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image features through the REAL decode path (multimodal.py
    decode_image): payloads are valid binary-PPM images synthesized from
    the text column, decoded by an actual PPM parser, stats computed from
    the actual pixel array. The oracle reproduces the decoded statistics
    analytically (pixels = text bytes cycled into w*h*3), so the decode
    path is hash-gated exactly — upgraded from rows-only (VERDICT r02
    item 7)."""
    from .multimodal import attach_ppm_payload, extract_decoded_features

    docs = load_table(spark, sf_dir, "documents")
    assets = attach_ppm_payload(docs, "doc_id", "text")
    return extract_decoded_features(assets).withColumn(
        "mean_byte",
        F.round(F.col("sum_pixel_bytes") / F.col("n_pixel_bytes"), 4),
    )


@query(
    "multimodal_png_features",
    oracle="""
    WITH b AS (
      SELECT doc_id,
             length(text) AS L,
             length(text) % 13 + 4 AS w,
             length(text) % 7 + 3 AS h,
             list_transform(range(1, length(text) + 1),
                            i -> unicode(substr(text, CAST(i AS INT), 1))) AS bytes
      FROM documents
    ), c AS (
      SELECT doc_id, L, w, h, w * h * 3 AS n,
             list_sum(bytes) AS s_all, bytes
      FROM b
    ), s AS (
      SELECT doc_id, w, h, n,
             (n // L) * s_all
             + coalesce(list_sum(list_slice(bytes, 1, n % L)), 0) AS sp
      FROM c
    )
    SELECT doc_id AS asset_id,
           'image/png' AS format,
           CAST(w AS INT) AS width,
           CAST(h AS INT) AS height,
           CAST(n AS BIGINT) AS n_pixel_bytes,
           CAST(sp AS BIGINT) AS sum_pixel_bytes,
           round(sp * 1.0 / n, 4) AS mean_byte
    FROM s
    """,
)
def multimodal_png_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PNG features through the REAL stdlib decode path (multimodal.py
    _decode_png): payloads are valid non-interlaced 8-bit RGB PNGs
    synthesized from the text column with per-row filter variation
    (None/Sub/Up/Average/Paeth in rotation), decoded via zlib inflate +
    exact filter reconstruction. The oracle is the same analytic
    pixel-sum derivation as multimodal_features — identical pixel
    array, different container — so any unfilter or inflate bug reds
    the hash. This closes the round-3 caveat that compressed image
    formats stayed stubbed: baseline truecolor PNG is now a real
    decode; only codec-library formats (JPEG/MP3) remain out of scope.
    """
    from .multimodal import attach_png_payload, extract_decoded_features

    docs = load_table(spark, sf_dir, "documents")
    assets = attach_png_payload(docs, "doc_id", "text")
    return extract_decoded_features(assets).withColumn(
        "mean_byte",
        F.round(F.col("sum_pixel_bytes") / F.col("n_pixel_bytes"), 4),
    )


@query(
    "multimodal_audio_features",
    oracle="""
    WITH b AS (
      SELECT doc_id,
             list_transform(range(1, length(text) + 1),
                            i -> CAST(unicode(substr(text, CAST(i AS INT), 1))
                                      AS BIGINT)) AS bytes
      FROM documents
    )
    SELECT doc_id AS asset_id,
           8000 AS sample_rate,
           1 AS channels,
           CAST(len(bytes) AS BIGINT) AS n_samples,
           CAST(list_sum(bytes) AS BIGINT) AS sum_samples,
           CAST(list_sum(list_transform(bytes, x -> x * x)) AS BIGINT)
             AS sum_squares,
           round(sqrt(list_sum(list_transform(bytes, x -> x * x))
                      * 1.0 / len(bytes)), 4) AS rms
    FROM b
    """,
)
def multimodal_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio features through the REAL decode path (multimodal.py
    decode_audio): payloads are valid 8-bit mono PCM WAVs whose samples
    are the text bytes, decoded by an actual RIFF/PCM parser. Exact
    integer moments come from the decoded sample array; RMS is computed
    in the plan for SQL-rounding parity. The oracle reproduces all of it
    analytically — audio joins image as an exactly-gated modality."""
    from .multimodal import attach_wav_payload, extract_audio_features

    docs = load_table(spark, sf_dir, "documents")
    assets = attach_wav_payload(docs, "doc_id", "text")
    return extract_audio_features(assets).withColumn(
        "rms",
        F.round(
            F.sqrt(F.col("sum_squares") / F.col("n_samples")), 4
        ),
    )


@query(
    "multimodal_resize",
    oracle="""
    WITH b AS (
      SELECT doc_id, length(text) AS L,
             length(text) % 13 + 4 AS w,
             length(text) % 7 + 3 AS h,
             text
      FROM documents
    ), grid AS (
      SELECT doc_id, text,
             ((((Y * h) // 5) * w + ((X * w) // 6)) * 3 + c) % L AS src_idx,
             (Y * 6 + X) * 3 + c AS out_pos
      FROM b,
           UNNEST(range(0, 5)) t1(Y),
           UNNEST(range(0, 6)) t2(X),
           UNNEST(range(0, 3)) t3(c)
    )
    SELECT doc_id AS asset_id,
           6 AS width, 5 AS height,
           md5(string_agg(substr(text, CAST(src_idx + 1 AS INT), 1),
                          '' ORDER BY out_pos)) AS resized_md5
    FROM grid GROUP BY doc_id
    """,
)
def multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image resize through the REAL codec path: decode PPM → nearest-
    neighbor resample (numpy) → re-encode → md5 of the resized pixel
    array. The oracle rebuilds the identical byte string analytically
    (pixels are ASCII text bytes at computable positions, so the SQL
    string md5 equals the binary md5) — gating the full
    decode/resample/encode round-trip exactly."""
    from .multimodal import attach_ppm_payload, resize_images

    docs = load_table(spark, sf_dir, "documents")
    assets = attach_ppm_payload(docs, "doc_id", "text")
    return resize_images(assets, out_w=6, out_h=5)


@query(
    "multimodal_video_frames",
    oracle="""
    WITH b AS (
      SELECT doc_id,
             length(text) AS L,
             length(text) % 13 + 4 AS w,
             length(text) % 7 + 3 AS h,
             length(text) % 4 + 2 AS nf,
             text
      FROM documents
    ), f AS (
      SELECT doc_id, w, h, nf, k,
             w * h * 3 AS n,
             substr(repeat(text, CAST((w * h * 3) // L + 2 AS INT)),
                    CAST(k + 1 AS INT), CAST(w * h * 3 AS INT)) AS fs
      FROM b, UNNEST(range(0, nf)) t(k)
    )
    SELECT doc_id AS asset_id,
           CAST(w AS INT) AS width,
           CAST(h AS INT) AS height,
           CAST(nf AS INT) AS n_frames,
           CAST(k AS INT) AS frame_index,
           CAST(list_sum(list_transform(range(1, n + 1),
                  i -> unicode(substr(fs, CAST(i AS INT), 1)))) AS BIGINT)
             AS frame_sum,
           md5(fs) AS frame_md5
    FROM f
    """,
)
def multimodal_video_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frames through a REAL container decode (multimodal.py
    decode_video): payloads are valid YUV4MPEG2 C444 videos synthesized
    from the text column (frame k = text bytes cycled from offset k),
    parsed by an actual Y4M header/FRAME-marker walk, with each decoded
    frame's exact byte sum and md5. The oracle rebuilds every frame's
    byte string analytically (a rotation of the cycled text, so
    substr(repeat(text,…), k+1, n) is the identical ASCII string and its
    md5/codepoint-sum match the binary ones). Video joins image and
    audio as an exactly-gated REAL-decode modality — only codec-library
    formats (H.264/VP9) remain stubbed."""
    from .multimodal import attach_y4m_payload, extract_video_frames

    docs = load_table(spark, sf_dir, "documents")
    assets = attach_y4m_payload(docs, "doc_id", "text")
    return extract_video_frames(assets)


@query(
    "multimodal_frame_sample",
    oracle="""
    SELECT doc_id AS asset_id,
           CAST(i AS INT) AS frame_index,
           CAST(i * 128 AS BIGINT) AS frame_offset_bytes,
           md5(substr(text, CAST(i * 128 + 1 AS INT), 128)) AS frame_md5
    FROM documents,
         UNNEST(range(0, (length(text) + 127) // 128)) AS t(i)
    """,
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1→N frame fan-out via mapInPandas. Exact hash gate (was
    rows-only): the fake payload is the utf-8 text bytes, so each
    128-byte frame's md5 equals DuckDB's md5 of the matching substr —
    gating the fan-out row multiplicity, offsets, and window content."""
    from .multimodal import attach_fake_payload, sample_frames

    docs = load_table(spark, sf_dir, "documents")
    assets = attach_fake_payload(docs, "doc_id", "text")
    return sample_frames(assets, every_n_bytes=128)


# ===========================================================================
# A7 — COUNTIF / ratio request-stats (reference src/api_client/client.py:266-279)
# F12 — REGEXP_EXTRACT over log text (client.py:277), JSON props extraction
# ===========================================================================


@query(
    "request_stats",
    oracle="""
    SELECT event_type,
           count(*) AS n,
           CAST(count_if(value > 10) AS BIGINT) AS n_high,
           round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
                 / count(*), 4) AS avg_value,
           round(count_if(value > 10) * 1.0 / count(*), 4) AS high_ratio
    FROM events
    GROUP BY event_type
    """,
)
def request_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    n_high = F.count(F.when(F.col("value") > 10, 1))
    return events.groupBy("event_type").agg(
        F.count("*").alias("n"),
        n_high.alias("n_high"),
        F.round(F.sum(_dec("value")).cast("double") / F.count("*"), 4).alias("avg_value"),
        F.round(n_high.cast("double") / F.count("*"), 4).alias("high_ratio"),
    )


@query(
    "regexp_json_extract",
    oracle="""
    SELECT event_id,
           CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS BIGINT) AS k_value,
           (CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS BIGINT) % 10 = 0)
             AS k_round
    FROM events
    """,
)
def regexp_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    k = F.regexp_extract("props", r'"k": ([0-9]+)', 1).cast("long")
    return events.select(
        "event_id", k.alias("k_value"), (k % 10 == 0).alias("k_round")
    )


# ===========================================================================
# As-of join — point-in-time feature attachment (operators/asof.py); the
# anti-leakage join every training-data pipeline needs. DuckDB's native
# ASOF JOIN is the oracle.
# ===========================================================================


@query(
    "asof_feature_join",
    oracle="""
    SELECT c.event_id, c.user_id, c.ts, c.value AS click_value,
           p.value AS last_purchase_value
    FROM (SELECT * FROM events WHERE event_type = 'click') c
    ASOF LEFT JOIN (
      SELECT user_id AS p_user, ts AS p_ts, value
      FROM events WHERE event_type = 'purchase'
    ) p ON c.user_id = p.p_user AND c.ts >= p.p_ts
    """,
)
def asof_feature_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each click gets the user's most recent purchase value at that
    instant (backward-inclusive, never the future). The union-window
    formulation costs ONE hash shuffle on user_id — no range-join pair
    blowup — and is gated against DuckDB's native ASOF JOIN."""
    from .operators.asof import asof_join

    events = load_table(spark, sf_dir, "events")
    clicks = events.where(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts", F.col("value").alias("click_value")
    )
    purchases = events.where(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.col("value").alias("last_purchase_value")
    )
    return asof_join(
        clicks,
        purchases,
        on="user_id",
        left_ts="ts",
        right_ts="ts",
        value_cols=["last_purchase_value"],
    )


@query(
    "asof_feature_join_segmented",
    oracle="""
    SELECT c.event_id, c.user_id, c.ts, c.value AS click_value,
           p.value AS last_purchase_value
    FROM (SELECT * FROM events WHERE event_type = 'click') c
    ASOF LEFT JOIN (
      SELECT user_id AS p_user, ts AS p_ts, value
      FROM events WHERE event_type = 'purchase'
    ) p ON c.user_id = p.p_user AND c.ts >= p.p_ts
    """,
)
def asof_feature_join_segmented(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The skew-resilient as-of variant (operators/asof.py::
    asof_join_segmented): heavy carry partitioned by (user, day-bucket),
    per-user state reduced to one row per bucket — a hot user's window
    work spreads across its time span instead of one task. Gated by the
    SAME DuckDB ASOF oracle as asof_feature_join: both plans, identical
    rows."""
    from .operators.asof import asof_join_segmented

    events = load_table(spark, sf_dir, "events")
    clicks = events.where(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts", F.col("value").alias("click_value")
    )
    purchases = events.where(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.col("value").alias("last_purchase_value")
    )
    return asof_join_segmented(
        clicks,
        purchases,
        on="user_id",
        left_ts="ts",
        right_ts="ts",
        value_cols=["last_purchase_value"],
    )


# ===========================================================================
# Time-range join — bucketized interval join (operators/range_join.py):
# "activity in the hour before each error", zero-activity rows kept.
# ===========================================================================


@query(
    "range_join_recent_activity",
    oracle="""
    WITH err AS (
      SELECT event_id, user_id, ts FROM events WHERE event_type = 'error'
    ), act AS (
      SELECT user_id, ts, value FROM events
      WHERE event_type IN ('purchase', 'click')
    ), hits AS (
      SELECT e.event_id, count(*) AS n_recent,
             sum(CAST(a.value AS DECIMAL(18,2))) AS v_recent
      FROM err e JOIN act a ON a.user_id = e.user_id
        AND a.ts >= e.ts - INTERVAL 1 HOUR AND a.ts < e.ts
      GROUP BY e.event_id
    )
    SELECT e.event_id, e.user_id, e.ts,
           CAST(coalesce(h.n_recent, 0) AS BIGINT) AS n_recent,
           round(CAST(coalesce(h.v_recent, CAST(0 AS DECIMAL(18,2)))
                      AS DOUBLE), 2) AS recent_value
    FROM err e LEFT JOIN hits h ON h.event_id = e.event_id
    """,
)
def range_join_recent_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per error event: count + value of the same user's purchase/click
    activity in the preceding hour. The bucketized range join shuffles
    once on (user, hour-bucket) with candidates bounded by the true match
    volume — the naive theta form degenerates to per-user cross products.
    Errors with no recent activity survive via the left join (count 0)."""
    from .operators.range_join import time_range_join

    events = load_table(spark, sf_dir, "events")
    err = events.where(F.col("event_type") == "error").select(
        "event_id", "user_id", "ts"
    )
    act = events.where(F.col("event_type").isin("purchase", "click")).select(
        "user_id", F.col("ts").alias("a_ts"), F.col("value").alias("a_value")
    )
    hits = (
        time_range_join(
            err,
            act,
            on="user_id",
            left_ts="ts",
            right_ts="a_ts",
            lower_micros=-3_600_000_000,
            upper_micros=0,
        )
        .groupBy("event_id")
        .agg(
            F.count("*").alias("_n"),
            F.sum(_dec("a_value")).alias("_v"),
        )
    )
    zero_dec = F.lit(0).cast("decimal(18,2)")
    return (
        err.join(hits.withColumnRenamed("event_id", "_eid"),
                 err.event_id == F.col("_eid"), "left_outer")
        .select(
            "event_id",
            "user_id",
            "ts",
            F.coalesce("_n", F.lit(0)).alias("n_recent"),
            F.round(F.coalesce("_v", zero_dec).cast("double"), 2).alias(
                "recent_value"
            ),
        )
    )


# ===========================================================================
# Sessionization — lag-gap + running sum (the classic event-log pattern;
# extends the reference's event-tracking machinery to true session analysis)
# ===========================================================================


@query(
    "sessionize",
    oracle="""
    WITH g AS (
      SELECT user_id, ts, event_id,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS new_sess
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), s AS (
      SELECT user_id, ts, event_id,
             CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                      ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS session_id
      FROM g
    )
    SELECT user_id, session_id,
           count(*) AS n_events,
           min(ts) AS session_start,
           max(ts) AS session_end
    FROM s GROUP BY user_id, session_id
    """,
)
def sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # microsecond gap, matching DuckDB's INTERVAL comparison exactly —
    # cast("long") would truncate sub-second precision
    ts_us = F.unix_micros(F.col("ts"))
    gap = ts_us - F.lag(ts_us).over(w)
    new_sess = F.when(gap.isNull() | (gap > 30 * 60 * 1_000_000), 1).otherwise(0)
    sess = events.withColumn(
        "session_id",
        F.sum(new_sess).over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return sess.groupBy("user_id", "session_id").agg(
        F.count("*").alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
    )


@query(
    "session_rollup_batch",
    oracle="""
    WITH g AS (
      SELECT user_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS new_sess
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ), s AS (
      SELECT user_id, ts,
             SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                                 ROWS UNBOUNDED PRECEDING) AS sid
      FROM g
    )
    SELECT user_id,
           count(*) AS n_events,
           min(ts) AS session_start,
           max(ts) AS session_end
    FROM s GROUP BY user_id, sid
    """,
)
def session_rollup_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming session rollup's EXACT batch twin (r8 VERDICT #6):
    the same ``session_window`` plan from streaming/windowed.py::
    session_rollup run on the bounded events table (watermark is a no-op
    in batch), oracle-gated by replaying session assignment in SQL with
    the lag-gap running-sum formulation. Boundary semantics measured,
    not assumed: ``session_window`` MERGES an event arriving exactly
    ``gap`` after the previous one (the gap comparison is inclusive —
    pinned by tests/test_round9_ops.py's exact-boundary fixture, which
    testdata's microsecond timestamps would never exercise), so the
    oracle's new-session predicate is strict ``>``, the same convention
    as ``sessionize``. With this gate the streaming operator's session
    algebra is hash-checked against an independent engine, not just
    against its own batch run (test_streaming_windowed.py pins
    stream ≡ batch)."""
    from .streaming.windowed import session_rollup

    events = load_table(spark, sf_dir, "events")
    return session_rollup(events.select("user_id", "ts"))


# ===========================================================================
# ROLLUP / PIVOT — multi-level aggregation + conditional-agg pivot
# ===========================================================================


@query(
    "rollup_returns",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           count(*) AS n,
           round(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE), 2)
             AS sum_qty
    FROM lineitem
    GROUP BY ROLLUP(l_returnflag, l_linestatus)
    """,
)
def rollup_returns(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = load_table(spark, sf_dir, "lineitem")
    return lineitem.rollup("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("n"),
        F.round(F.sum(_dec("l_quantity")).cast("double"), 2).alias("sum_qty"),
    )


@query(
    "pivot_status_counts",
    oracle="""
    SELECT o_orderpriority,
           CAST(count_if(o_orderstatus = 'O') AS BIGINT) AS status_o,
           CAST(count_if(o_orderstatus = 'F') AS BIGINT) AS status_f,
           CAST(count_if(o_orderstatus = 'P') AS BIGINT) AS status_p
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def pivot_status_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["O", "F", "P"])
        .agg(F.count(F.lit(1)))
        .select(
            "o_orderpriority",
            F.coalesce("O", F.lit(0)).alias("status_o"),
            F.coalesce("F", F.lit(0)).alias("status_f"),
            F.coalesce("P", F.lit(0)).alias("status_p"),
        )
    )


@query(
    "approx_distinct_users",
    oracle="""
    SELECT event_type,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users_exact,
           CAST(3 AS BIGINT) AS tol_pct,
           TRUE AS within_tol
    FROM events
    GROUP BY event_type
    """,
)
def approx_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_count_distinct (SURVEY §7.7), bounded-assert oracle-gated
    (r10 VERDICT #3 — the last rows-only gate): the sketch-based
    cardinality path for 100 TB fact tables where exact COUNT(DISTINCT)
    would shuffle every value. The HLL estimate itself cannot hash-match
    a SQL replay (engine-internal sketch), so the gate hash-checks what
    is deterministic: the exact side (COUNT(DISTINCT), replayed in
    DuckDB) plus the accuracy CONTRACT ``|est - exact| <= 3*rsd*exact``
    as a boolean per group (rsd=0.01 → 3-sigma bound 3%; HLL falls back
    to exact linear counting at small cardinalities, so tiny groups
    cannot flip it spuriously). Exact-gate twin: ``distinct_users_exact``
    (same grouping, oracle-hash-gated since r3). At 100 TB the exact
    column in this gate is the expensive side — production drops it and
    keeps the sketch; the gate's job is to pin the sketch's contract."""
    events = load_table(spark, sf_dir, "events")
    # The sketch and the exact count aggregate in SEPARATE subplans
    # joined on the group key (r15, guide §2.3 "aggregate before you
    # shuffle"): fused in one agg, Catalyst's distinct-rewrite runs the
    # partial HLL grouped by (event_type, user_id) — materializing and
    # shuffling a 2^14-register buffer (~1.6k longs) PER DISTINCT PAIR,
    # measured ~1 GB through the exchange at sf0.1. Split, the HLL
    # partial-aggregates map-side per event_type (a handful of 16 KB
    # buffers total) and the exact side shuffles narrow distinct pairs.
    # Results are bit-identical: HLL registers are an order-insensitive
    # max-fold, so the estimate is a pure function of the value set.
    exact = events.groupBy("event_type").agg(
        F.count_distinct("user_id").alias("n_users_exact")
    )
    approx = events.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd=0.01).alias("approx_users")
    )
    return (
        exact.join(F.broadcast(approx), "event_type")
        .select(
            "event_type",
            "n_users_exact",
            F.lit(3).cast("long").alias("tol_pct"),
            (
                F.abs(F.col("approx_users") - F.col("n_users_exact")) * 100
                <= F.lit(3) * F.col("n_users_exact")
            ).alias("within_tol"),
        )
    )


@query(
    "distinct_users_exact",
    oracle="""
    SELECT event_type,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events
    GROUP BY event_type
    """,
)
def distinct_users_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact twin of ``approx_distinct_users``: hash-gates the grouping,
    the distinct semantics, and the events adapter; the HLL query's
    accuracy contract (±1%) is asserted against this twin in
    tests/test_workload.py rather than oracle-hashed (a sketch cannot
    hash-match)."""
    events = load_table(spark, sf_dir, "events")
    return events.groupBy("event_type").agg(
        F.count_distinct("user_id").alias("n_users"),
    )


# ===========================================================================
# Exact percentiles + CUBE — analytic aggregation coverage
# ===========================================================================


@query(
    "value_percentiles",
    oracle="""
    SELECT event_type,
           quantile_cont(value, 0.5) AS p50,
           quantile_cont(value, 0.9) AS p90,
           quantile_cont(value, 0.99) AS p99
    FROM events GROUP BY event_type
    """,
)
def value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles — bit-identical to DuckDB
    quantile_cont. At 100 TB swap for percentile_approx (t-digest sketch,
    mergeable, single pass) — the exact form shuffles every value."""
    events = load_table(spark, sf_dir, "events")
    return events.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5)").alias("p50"),
        F.expr("percentile(value, 0.9)").alias("p90"),
        F.expr("percentile(value, 0.99)").alias("p99"),
    )


@query(
    "cube_order_stats",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           count(*) AS n,
           round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2)
             AS total
    FROM orders
    GROUP BY CUBE(o_orderstatus, o_orderpriority)
    """,
)
def cube_order_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return orders.cube("o_orderstatus", "o_orderpriority").agg(
        F.count("*").alias("n"),
        F.round(F.sum(_dec("o_totalprice")).cast("double"), 2).alias("total"),
    )


# ===========================================================================
# GROUPING SETS / time-range frames / ntile — the remaining analytic-SQL
# shapes (CUBE and ROLLUP are covered above)
# ===========================================================================


@query(
    "grouping_sets_stats",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           CAST(grouping(o_orderstatus) AS BIGINT) AS g_status,
           CAST(grouping(o_orderpriority) AS BIGINT) AS g_priority,
           count(*) AS n,
           round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2)
             AS total
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    """,
)
def grouping_sets_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (the general form CUBE/ROLLUP specialize):
    per-status totals, per-priority totals, and the grand total in one
    pass — one shuffle, each input row expanded to its member sets, with
    grouping() flags disambiguating NULL-as-all from NULL-as-value."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.groupingSets(
        [["o_orderstatus"], ["o_orderpriority"], []],
        "o_orderstatus",
        "o_orderpriority",
    ).agg(
        F.grouping("o_orderstatus").cast("long").alias("g_status"),
        F.grouping("o_orderpriority").cast("long").alias("g_priority"),
        F.count("*").alias("n"),
        F.round(F.sum(_dec("o_totalprice")).cast("double"), 2).alias("total"),
    )


@query(
    "trailing_window_sum",
    oracle="""
    SELECT event_id, user_id, ts,
           round(CAST(sum(CAST(value AS DECIMAL(18,2))) OVER (
             PARTITION BY user_id ORDER BY ts
             RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW
           ) AS DOUBLE), 2) AS trailing_1h
    FROM events
    WHERE event_type = 'purchase'
    """,
)
def trailing_window_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-RANGE window frame (not row-count): each purchase carries the
    user's trailing-1-hour purchase total. Range frames are peer-
    inclusive at equal timestamps, so the result is deterministic without
    a tiebreak. One shuffle on user_id; the frame scan is linear (sliding
    aggregation), never quadratic."""
    ev = load_table(spark, sf_dir, "events").where(
        F.col("event_type") == "purchase"
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"))
        .rangeBetween(-3_600_000_000, 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        "ts",
        F.round(F.sum(_dec("value")).over(w).cast("double"), 2).alias(
            "trailing_1h"
        ),
    )


@query(
    "ntile_value_buckets",
    oracle="""
    SELECT event_id, event_type,
           CAST(ntile(4) OVER w AS BIGINT) AS quartile,
           round(percent_rank() OVER w, 6) AS pr
    FROM events
    WINDOW w AS (PARTITION BY event_type ORDER BY value, event_id)
    """,
)
def ntile_value_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth bucketing (ntile) + relative rank per event type; the
    (value, event_id) ordering carries a PK tiebreak so bucket edges are
    engine-independent."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    return ev.select(
        "event_id",
        "event_type",
        F.ntile(4).over(w).cast("long").alias("quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pr"),
    )


# ===========================================================================
# TPC-H classics — the canonical OLAP shapes (pricing summary, shipping
# priority, local-supplier volume), decimal-exact vs the oracle
# ===========================================================================


@query(
    "tpch_q1",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           round(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_qty,
           round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_base_price,
           round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                          * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE), 2) AS sum_disc_price,
           round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                          * (1 - CAST(l_discount AS DECIMAL(18,2)))
                          * (1 + CAST(l_tax AS DECIMAL(18,2)))) AS DOUBLE), 2) AS sum_charge,
           round(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*), 4) AS avg_qty,
           round(CAST(sum(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) / count(*), 4) AS avg_disc,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") <= F.to_timestamp(F.lit("1998-09-02 00:00:00"))
    )
    disc = F.lit(1) - _dec("l_discount")
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        _money_sum(_dec("l_quantity")).alias("sum_qty"),
        _money_sum(_dec("l_extendedprice")).alias("sum_base_price"),
        _money_sum(_dec("l_extendedprice") * disc).alias("sum_disc_price"),
        _money_sum(_dec("l_extendedprice") * disc * (F.lit(1) + _dec("l_tax"))).alias(
            "sum_charge"
        ),
        F.round(F.sum(_dec("l_quantity")).cast("double") / F.count("*"), 4).alias("avg_qty"),
        F.round(F.sum(_dec("l_discount")).cast("double") / F.count("*"), 4).alias("avg_disc"),
        F.count("*").alias("count_order"),
    )


@query(
    "tpch_q3",
    oracle="""
    SELECT l.l_orderkey,
           round(CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2))
                          * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE), 2) AS revenue,
           o.o_orderdate, o.o_orderpriority
    FROM customer c
    JOIN orders o ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1998-03-15'
      AND l.l_shipdate > TIMESTAMP '1995-03-15'
    GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
    ORDER BY revenue DESC, o_orderdate, l_orderkey
    LIMIT 10
    """,
)
def tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    o = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderdate") < F.to_timestamp(F.lit("1998-03-15 00:00:00"))
    )
    li = load_table(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") > F.to_timestamp(F.lit("1995-03-15 00:00:00"))
    )
    return (
        c.join(o, o.o_custkey == c.c_custkey)
        .join(li, li.l_orderkey == o.o_orderkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            _money_sum(_dec("l_extendedprice") * (F.lit(1) - _dec("l_discount"))).alias(
                "revenue"
            )
        )
        .orderBy(F.col("revenue").desc(), "o_orderdate", "l_orderkey")
        .limit(10)
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
    )


@query(
    "tpch_q5",
    oracle="""
    SELECT n.n_name,
           round(CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2))
                          * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE), 2) AS revenue
    FROM customer c
    JOIN orders o ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey AND s.s_nationkey = c.c_nationkey
    JOIN nation n ON n.n_nationkey = c.c_nationkey
    JOIN region r ON r.r_regionkey = n.n_regionkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate < TIMESTAMP '1997-01-01'
    GROUP BY n.n_name
    """,
)
def tpch_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.to_timestamp(F.lit("1996-01-01 00:00:00")))
        & (F.col("o_orderdate") < F.to_timestamp(F.lit("1997-01-01 00:00:00")))
    )
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    return (
        c.join(o, o.o_custkey == c.c_custkey)
        .join(li, li.l_orderkey == o.o_orderkey)
        .join(s, (s.s_suppkey == li.l_suppkey) & (s.s_nationkey == c.c_nationkey))
        .join(F.broadcast(n), n.n_nationkey == c.c_nationkey)
        .join(F.broadcast(r), r.r_regionkey == n.n_regionkey)
        .groupBy("n_name")
        .agg(
            _money_sum(_dec("l_extendedprice") * (F.lit(1) - _dec("l_discount"))).alias(
                "revenue"
            )
        )
    )


@query(
    "tpch_q4",
    oracle="""
    SELECT o.o_orderpriority, count(*) AS order_count
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate < TIMESTAMP '1996-04-01'
      AND EXISTS (
        SELECT 1 FROM lineitem l
        WHERE l.l_orderkey = o.o_orderkey AND l.l_shipdate > o.o_orderdate
      )
    GROUP BY o.o_orderpriority
    """,
)
def tpch_q4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q4 order-priority checking, adapted to the testdata's columns (no
    commit/receipt dates → the EXISTS predicate is 'shipped after order
    date'). The correlated EXISTS plans as a LEFT SEMI join on l_orderkey
    with the date filter pushed below it — the quarter filter prunes
    orders before the shuffle."""
    o = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.to_timestamp(F.lit("1996-01-01 00:00:00")))
        & (F.col("o_orderdate") < F.to_timestamp(F.lit("1996-04-01 00:00:00")))
    )
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    return (
        o.join(
            li,
            (li.l_orderkey == o.o_orderkey) & (li.l_shipdate > o.o_orderdate),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
    )


@query(
    "tpch_q6",
    oracle="""
    SELECT round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                         * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE), 2) AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate < TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def tpch_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q6 forecasting-revenue change: pure scan→filter→agg — every
    predicate must reach the parquet scan (no join, no window). The
    canonical pushdown probe."""
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.to_timestamp(F.lit("1996-01-01 00:00:00")))
        & (F.col("l_shipdate") < F.to_timestamp(F.lit("1997-01-01 00:00:00")))
        & (F.col("l_discount").between(0.05, 0.07))
        & (F.col("l_quantity") < 24)
    )
    return li.agg(
        _money_sum(_dec("l_extendedprice") * _dec("l_discount")).alias("revenue")
    )


@query(
    "tpch_q18",
    oracle="""
    SELECT c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate, o.o_totalprice,
           round(CAST(sum(CAST(l.l_quantity AS DECIMAL(18,2))) AS DOUBLE), 2) AS total_qty
    FROM customer c
    JOIN orders o ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderkey IN (
      SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
      HAVING sum(CAST(l_quantity AS DECIMAL(18,2))) > 150
    )
    GROUP BY c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate, o.o_totalprice
    ORDER BY o.o_totalprice DESC, o.o_orderkey
    LIMIT 100
    """,
)
def tpch_q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q18 large-volume customer: HAVING-filtered aggregate reused as a
    semi-join scope (one lineitem aggregation feeds both the IN-filter
    and the final sum), customer dim joined after the heavy side shrinks."""
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(_dec("l_quantity")).alias("_qty"))
        .where(F.col("_qty") > 150)
    )
    return (
        o.join(big.select("l_orderkey", "_qty"), o.o_orderkey == F.col("l_orderkey"), "inner")
        .join(c, c.c_custkey == o.o_custkey)
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            "o_orderdate",
            "o_totalprice",
            F.round(F.col("_qty").cast("double"), 2).alias("total_qty"),
        )
        .orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        .limit(100)
    )


# ===========================================================================
# Text → vector bridge: hashing-trick vectors feeding the ANN operators
# ===========================================================================


@query(
    "doc_vector_knn",
    oracle="""
    WITH toks AS (
      SELECT doc_id AS doc, tok
      FROM documents,
           UNNEST(list_filter(string_split_regex(lower(text), '\\s+'),
                              x -> x <> '')) AS t(tok)
    ), bucketed AS (
      SELECT doc,
             list_reduce(list_prepend(CAST(0 AS BIGINT),
               list_transform(range(1, length(tok) + 1),
                 i -> CAST(unicode(substr(tok, CAST(i AS INT), 1)) AS BIGINT))),
               (acc, x) -> (acc * 31 + x) % 2147483647) % 64 AS bucket
      FROM toks
    ), counts AS (
      SELECT doc, bucket, CAST(count(*) AS BIGINT) AS n
      FROM bucketed GROUP BY doc, bucket
    ), dots AS (
      SELECT q.doc AS query_id, c.doc AS nbr_id,
             sum(q.n * c.n) AS dot
      FROM counts q JOIN counts c ON c.bucket = q.bucket AND c.doc <> q.doc
      WHERE q.doc < 10
      GROUP BY 1, 2
    ), norms AS (
      SELECT doc, sum(n * n) AS n2 FROM counts GROUP BY doc
    ), scored AS (
      SELECT d.query_id, d.nbr_id,
             round(d.dot / sqrt(CAST(nq.n2 * nc.n2 AS DOUBLE)), 6) AS cosine_sim
      FROM dots d
      JOIN norms nq ON nq.doc = d.query_id
      JOIN norms nc ON nc.doc = d.nbr_id
    ), ranked AS (
      SELECT query_id, nbr_id, cosine_sim,
             CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY cosine_sim DESC, nbr_id)
                  AS BIGINT) AS rank
      FROM scored
    )
    SELECT query_id, nbr_id, cosine_sim, rank FROM ranked WHERE rank <= 5
    """,
)
def doc_vector_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-free text similarity: feature-hash documents into 64-bucket
    count vectors (operators/text_vectorize.py) and run the exact cosine
    top-k. The math runs on the SPARSE form (hashed_count_sparse, now
    the pre-aggregated two-stage pipeline — VERDICT r04 "Next round"
    #5): the query-side counts broadcast into a bucket-equi-join and
    the dot is a JVM hash aggregate — O(nnz) multiply-adds instead of
    O(dim) lambda evaluations per pair on densified arrays, the shape
    that survives dim ≫ 64. (Two alternatives were measured and
    rejected in round 5 under interleaved min-of-3: a dense 64-wide
    codegen dot over a broadcast cross join, 1.9× slower — the densify
    aggregate and 128-long-wide pair rows cost more than the dots
    shuffle they replace — and a fully array-side per-doc fold
    pipeline, 2× slower from interpreted-HOF accumulator copies.) The
    inner join naturally drops zero-dot pairs, exactly as the oracle's
    ``dots`` CTE does; every query has ≥5 positive-dot neighbors so the
    top-5 is unaffected. Exact hash gate: the portable rolling-hash
    bucket is reproduced by the oracle, counts stay integers, and the
    cosine is one div + sqrt over exact integer dot/norms
    (bit-identical across engines), rounded to 6dp like
    knn_bruteforce."""
    from .operators.text_vectorize import hashed_count_sparse

    docs = load_table(spark, sf_dir, "documents")
    # persisted: feeds the query side, the neighbor side and the norms —
    # without it the tokenize+hash pipeline would execute three times
    # Per-doc norms ride the counts rows as a window sum (ONE shuffle on
    # doc), instead of a separate norms aggregate joined back after the
    # dots shuffle. This removes BOTH post-shuffle norm joins — the
    # corpus-sized one whose forced broadcast was an O(corpus) hazard
    # (dropped in r6) and whose AQE fallback cost ~0.8 s locally
    # (VERDICT r06 "What's wrong" #2): each side's n2 is constant per
    # doc, so the dots aggregate carries it with first() for free.
    counts = hashed_count_sparse(
        docs, "doc_id", "text", dim=64, portable=True
    ).withColumn(
        "n2", F.sum(F.col("n") * F.col("n")).over(Window.partitionBy("doc"))
    ).persist()
    q = counts.where(F.col("doc") < 10).select(
        F.col("doc").alias("query_id"),
        "bucket",
        F.col("n").alias("qn"),
        F.col("n2").alias("q_n2"),
    )
    dots = (
        F.broadcast(q)
        .join(
            counts.select(
                F.col("doc").alias("nbr_id"),
                "bucket",
                "n",
                F.col("n2").alias("n_n2"),
            ),
            "bucket",
        )
        .where(F.col("query_id") != F.col("nbr_id"))
        .groupBy("query_id", "nbr_id")
        .agg(
            F.sum(F.col("qn") * F.col("n")).alias("dot"),
            F.first("q_n2").alias("q_n2"),
            F.first("n_n2").alias("n_n2"),
        )
    )
    scored = dots.withColumn(
        "cosine_sim",
        F.round(
            F.col("dot")
            / F.sqrt((F.col("q_n2") * F.col("n_n2")).cast("double")),
            6,
        ),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("nbr_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 5)
        .select("query_id", "nbr_id", "cosine_sim", "rank")
    )


# ===========================================================================
# Iterative algorithms: clustering + graph ranking (LLM-pipeline extension)
# ===========================================================================


# The k-means SQL replay (k=4, iters=2, scale=1000, dim=64) is shared by
# the kmeans_embeddings gate and the semantic_dedup gate (which consumes
# the final assignment as its clustering stage).
_KMEANS_CTES = """q AS (
      SELECT vec_id AS id,
             list_transform(embedding, x -> CAST(round(x * 1000) AS BIGINT))
               AS qv
      FROM embeddings
    ), c0 AS (
      SELECT id AS cluster, qv AS cv FROM q ORDER BY id LIMIT 4
    ), d1 AS (
      SELECT q.id, c0.cluster,
             CAST(list_sum(list_transform(list_zip(q.qv, c0.cv),
                  p -> (p[1] - p[2]) * (p[1] - p[2]))) AS BIGINT) AS dist
      FROM q CROSS JOIN c0
    ), a1 AS (
      SELECT id, cluster FROM (
        SELECT id, cluster,
               ROW_NUMBER() OVER (PARTITION BY id ORDER BY dist, cluster) AS rn
        FROM d1) WHERE rn = 1
    ), c1 AS (
      SELECT cluster, list(cv_d ORDER BY dim) AS cv FROM (
        SELECT a1.cluster, u.dim,
               CAST(floor(sum(q.qv[u.dim]) * 1.0 / count(*)) AS BIGINT) AS cv_d
        FROM a1 JOIN q USING (id),
             unnest(generate_series(1, 64)) AS u(dim)
        GROUP BY a1.cluster, u.dim)
      GROUP BY cluster
    ), d2 AS (
      SELECT q.id, c1.cluster,
             CAST(list_sum(list_transform(list_zip(q.qv, c1.cv),
                  p -> (p[1] - p[2]) * (p[1] - p[2]))) AS BIGINT) AS dist
      FROM q CROSS JOIN c1
    ), a2 AS (
      SELECT id, cluster FROM (
        SELECT id, cluster,
               ROW_NUMBER() OVER (PARTITION BY id ORDER BY dist, cluster) AS rn
        FROM d2) WHERE rn = 1
    ), c2 AS (
      SELECT cluster, list(cv_d ORDER BY dim) AS cv FROM (
        SELECT a2.cluster, u.dim,
               CAST(floor(sum(q.qv[u.dim]) * 1.0 / count(*)) AS BIGINT) AS cv_d
        FROM a2 JOIN q USING (id),
             unnest(generate_series(1, 64)) AS u(dim)
        GROUP BY a2.cluster, u.dim)
      GROUP BY cluster
    ), d3 AS (
      SELECT q.id, c2.cluster,
             CAST(list_sum(list_transform(list_zip(q.qv, c2.cv),
                  p -> (p[1] - p[2]) * (p[1] - p[2]))) AS BIGINT) AS dist
      FROM q CROSS JOIN c2
    )"""


@query(
    "kmeans_embeddings",
    oracle=f"""
    WITH {_KMEANS_CTES}
    SELECT id, cluster, dist FROM (
      SELECT id, cluster, dist,
             ROW_NUMBER() OVER (PARTITION BY id ORDER BY dist, cluster) AS rn
      FROM d3) WHERE rn = 1
    """,
)
def kmeans_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantized Lloyd k-means (operators/clustering.py): k=4, two
    centroid updates, integer distances — the semantic-dedup /
    corpus-bucketing primitive. Assignment is a shuffle-free broadcast
    argmin; the oracle replays the identical integer recurrence in SQL,
    so the gate is a bit-exact hash match (impossible with float
    accumulation, whose reduction order differs across engines)."""
    from .operators.clustering import kmeans_quantized

    emb = load_table(spark, sf_dir, "embeddings")
    return kmeans_quantized(emb, "vec_id", "embedding", k=4, iters=2, scale=1000)


@query(
    "semantic_dedup",
    oracle=f"""
    WITH {_KMEANS_CTES}
    , final AS (
      SELECT id, cluster FROM (
        SELECT id, cluster,
               ROW_NUMBER() OVER (PARTITION BY id ORDER BY dist, cluster) AS rn
        FROM d3) WHERE rn = 1
    ), lab AS (
      SELECT e.vec_id AS id, f.cluster, e.embedding
      FROM embeddings e JOIN final f ON f.id = e.vec_id
    ), prs AS (
      SELECT r.id AS id
      FROM lab l JOIN lab r ON l.cluster = r.cluster AND l.id < r.id
      WHERE {_DUCK_COS.format(a='l.embedding', b='r.embedding')} >= 0.35
    )
    SELECT lab.id, lab.cluster,
           CAST(CASE WHEN p.id IS NULL THEN 1 ELSE 0 END AS BIGINT) AS kept
    FROM lab LEFT JOIN (SELECT DISTINCT id FROM prs) p ON p.id = lab.id
    """,
)
def semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (operators/clustering.py semantic_dedup): k-means the
    embedding space (k=4, two exact integer Lloyd rounds), then prune
    near-duplicates ONLY within clusters — cosine ≥ 0.35 against a
    lower-id cluster-mate marks a row pruned (keep-first rule). The
    oracle replays the identical k-means recurrence (shared
    _KMEANS_CTES), re-derives the within-cluster pair set exactly, and
    hash-gates (id, cluster, kept) — clustering AND pruning together.
    At corpus scale the pair set is per-cluster quadratic only; k grows
    with the corpus so clusters stay bounded and the join never forms
    the global cross-product."""
    from .operators.clustering import semantic_dedup as _sd

    emb = load_table(spark, sf_dir, "embeddings")
    return _sd(
        emb,
        "vec_id",
        "embedding",
        k=4,
        iters=2,
        scale=1000,
        threshold=0.35,
        # dim deliberately NOT passed (r15, guide §4/§1): an explicit
        # dim unrolls dot/norm into a 64-term expression tree that
        # blows past codegen/JIT size limits (the dot_product caveat),
        # measured 5.3 s vs 2.3 s warm for the fold form at sf0.1.
        # Both sum left-associated, so kept/cluster are bit-identical.
    )


@query(
    "pagerank_bipartite",
    oracle="""
    WITH pe AS (
      SELECT DISTINCT l_partkey AS p, l_suppkey AS s FROM lineitem
    ), e AS (
      SELECT 'p' || CAST(p AS VARCHAR) AS src, 's' || CAST(s AS VARCHAR) AS dst
      FROM pe
      UNION ALL
      SELECT 's' || CAST(s AS VARCHAR), 'p' || CAST(p AS VARCHAR) FROM pe
    ), nodes AS (
      SELECT DISTINCT src AS node FROM e
    ), deg AS (
      SELECT src, CAST(count(*) AS BIGINT) AS deg FROM e GROUP BY src
    ), r0 AS (
      SELECT node, CAST(1000000 AS BIGINT) AS rank FROM nodes
    ), m1 AS (
      SELECT e.dst AS node, CAST(sum(r0.rank // deg.deg) AS BIGINT) AS mass
      FROM e JOIN r0 ON r0.node = e.src JOIN deg ON deg.src = e.src
      GROUP BY e.dst
    ), r1 AS (
      SELECT n.node,
             CAST(150000 + ((coalesce(m1.mass, 0) * 85) // 100) AS BIGINT)
               AS rank
      FROM nodes n LEFT JOIN m1 ON m1.node = n.node
    ), m2 AS (
      SELECT e.dst AS node, CAST(sum(r1.rank // deg.deg) AS BIGINT) AS mass
      FROM e JOIN r1 ON r1.node = e.src JOIN deg ON deg.src = e.src
      GROUP BY e.dst
    ), r2 AS (
      SELECT n.node,
             CAST(150000 + ((coalesce(m2.mass, 0) * 85) // 100) AS BIGINT)
               AS rank
      FROM nodes n LEFT JOIN m2 ON m2.node = n.node
    ), m3 AS (
      SELECT e.dst AS node, CAST(sum(r2.rank // deg.deg) AS BIGINT) AS mass
      FROM e JOIN r2 ON r2.node = e.src JOIN deg ON deg.src = e.src
      GROUP BY e.dst
    ), r3 AS (
      SELECT n.node,
             CAST(150000 + ((coalesce(m3.mass, 0) * 85) // 100) AS BIGINT)
               AS rank
      FROM nodes n LEFT JOIN m3 ON m3.node = n.node
    )
    SELECT node, rank FROM r3 ORDER BY rank DESC, node LIMIT 25
    """,
)
def pagerank_bipartite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer-scaled PageRank (operators/pagerank.py) over the
    part<->supplier bipartite graph from lineitem, 3 rounds, top 25.
    The iterative-join counterpart to connected components; exact
    fixed-point arithmetic makes a 3-round recurrence hash-gateable."""
    from .operators.pagerank import pagerank_integer

    li = load_table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    # Node ids stay LONG through every join and shuffle of the iteration
    # (parity encodes the side: even = part, odd = supplier); the oracle's
    # "p…"/"s…" strings are rendered only on the 25 output rows. Long keys
    # hash/compare/serialize several times cheaper than strings across
    # 3 rounds × |edges| — the representation a 100-TB graph would use.
    # localCheckpoint: the distinct pair list feeds BOTH union branches
    # AND the degree aggregate inside pagerank_integer — pinned, those
    # are cheap re-scans; unpinned, the lineitem scan + distinct shuffle
    # would run once per consumer (the bulk of this query's wall time).
    # The distinct also runs at full session width here, not at the
    # iteration-narrowed width the loop uses.
    pe = (
        li.distinct()
        .select(
            (F.col("l_partkey") * 2).alias("p"),
            (F.col("l_suppkey") * 2 + 1).alias("s"),
        )
        .localCheckpoint(eager=True)
    )
    edges = pe.select(F.col("p").alias("src"), F.col("s").alias("dst")).unionAll(
        pe.select(F.col("s").alias("src"), F.col("p").alias("dst"))
    )
    # assume_distinct: pe is DISTINCT and the two orientations are
    # disjoint by parity ("even→odd" vs "odd→even"), so the union is
    # already duplicate-free — skips a full edge-list shuffle. The edge
    # count hint (2× lineitem rows ≥ 2× distinct pairs) is a parquet
    # metadata-only count, so width sizing costs no real job.
    ranks = pagerank_integer(
        edges,
        "src",
        "dst",
        rounds=3,
        scale=1_000_000,
        assume_distinct=True,
        n_edges_hint=2 * li.count(),
    )
    # re-render the oracle's string ids BEFORE the top-k: ties at the
    # rank boundary break on the STRING order ('p10' < 'p2'), so the
    # sort must see the rendered form to match the oracle's LIMIT set
    named = ranks.select(
        F.when(
            F.col("node") % 2 == 0,
            F.concat(F.lit("p"), F.expr("CAST(node DIV 2 AS STRING)")),
        )
        .otherwise(
            F.concat(F.lit("s"), F.expr("CAST((node - 1) DIV 2 AS STRING)"))
        )
        .alias("node"),
        "rank",
    )
    return named.orderBy(F.col("rank").desc(), F.col("node").asc()).limit(25)


# ===========================================================================
# Text retrieval: BM25 scoring + corpus n-gram statistics
# ===========================================================================

_BM25_TERMS = ("join", "merge", "spark", "vector")


@query(
    "bm25_search",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest({_duck_tokens()}) AS tok FROM documents
    ), dl AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens
      FROM toks GROUP BY doc_id
    ), stats AS (
      SELECT CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(n_tokens) AS BIGINT) AS tot
      FROM dl
    ), tf AS (
      SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
      FROM toks WHERE tok IN ('join', 'merge', 'spark', 'vector')
      GROUP BY doc_id, tok
    ), dfc AS (
      SELECT tok, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
      FROM tf GROUP BY tok
    ), contrib AS (
      SELECT tf.doc_id, tf.tok,
             ln((s.n_docs - dfc.df + 0.5) / (dfc.df + 0.5) + 1.0)
             * (tf.tf * 2.2)
             / (tf.tf + 1.2 * (0.25 + 0.75 * dl.n_tokens
                               / (CAST(s.tot AS DOUBLE) / s.n_docs))) AS c
      FROM tf
      JOIN dfc USING (tok)
      JOIN dl USING (doc_id)
      CROSS JOIN stats s
    ), scored AS (
      SELECT doc_id,
             round(coalesce(max(CASE WHEN tok = 'join' THEN c END), 0)
                 + coalesce(max(CASE WHEN tok = 'merge' THEN c END), 0)
                 + coalesce(max(CASE WHEN tok = 'spark' THEN c END), 0)
                 + coalesce(max(CASE WHEN tok = 'vector' THEN c END), 0),
               4) AS bm25
      FROM contrib GROUP BY doc_id
    )
    SELECT doc_id, bm25 FROM scored ORDER BY bm25 DESC, doc_id LIMIT 20
    """,
)
def bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 retrieval scoring (k1=1.2, b=0.75, Lucene idf) for a fixed
    term set, top-20 docs. One tokenize pass feeds doc lengths AND term
    frequencies; df/N/avgdl are tiny aggregates joined broadcast-style.
    The four per-term contributions are summed in a FIXED left-to-right
    order on both engines (per-term conditional aggs, no SUM over an
    unordered group) so double addition cannot reorder; ln/div are
    deterministic IEEE ops. Scale: two shuffles on doc_id + one on the
    4-row term table; never materializes a doc x term matrix."""
    return _bm25_scored(spark, sf_dir).orderBy(
        F.col("bm25").desc(), F.col("doc_id").asc()
    ).limit(20)


def _bm25_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, bm25) for every doc matching any fixed term — the scored
    relation behind ``bm25_search``, shared with ``hybrid_rrf_search``."""
    docs = load_table(spark, sf_dir, "documents")
    return _bm25_over(docs, "doc_id", "text")


def _bm25_over(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(``id_col``, bm25) over an arbitrary (id, text) corpus — the BM25
    scorer parameterized over its unit of retrieval, so the same scored
    relation serves whole documents (``bm25_search``) and chunks
    (``retrieval_pipeline``). k1=1.2, b=0.75, Lucene idf; per-term
    contributions summed in a FIXED left-to-right order (mirrored in
    every oracle) so double addition cannot reorder."""
    from .functions.text import word_tokens

    toks = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(word_tokens(F.col(text_col))).alias("tok"),
    )
    dl = toks.groupBy("doc_id").agg(F.count("*").alias("n_tokens"))
    stats = dl.agg(
        F.count("*").alias("n_docs"), F.sum("n_tokens").alias("tot")
    )
    tf = (
        toks.where(F.col("tok").isin(*_BM25_TERMS))
        .groupBy("doc_id", "tok")
        .agg(F.count("*").alias("tf"))
    )
    dfc = tf.groupBy("tok").agg(F.count_distinct("doc_id").alias("df"))
    contrib = (
        tf.join(F.broadcast(dfc), "tok")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "c",
            F.log(
                (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
            )
            * (F.col("tf") * 2.2)
            / (
                F.col("tf")
                + 1.2
                * (
                    0.25
                    + 0.75
                    * F.col("n_tokens")
                    / (F.col("tot").cast("double") / F.col("n_docs"))
                )
            ),
        )
    )
    term_sum = None
    for t in _BM25_TERMS:  # fixed association order, mirrored in the oracle
        piece = F.coalesce(F.max(F.when(F.col("tok") == t, F.col("c"))), F.lit(0.0))
        term_sum = piece if term_sum is None else term_sum + piece
    return (
        contrib.groupBy("doc_id")
        .agg(F.round(term_sum, 4).alias("bm25"))
        .withColumnRenamed("doc_id", id_col)
    )


@query(
    "inverted_index",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id AS doc, unnest({_duck_tokens()}) AS tok FROM documents
    ), tf AS (
      SELECT tok, doc, CAST(count(*) AS BIGINT) AS tf FROM toks GROUP BY 1, 2
    )
    SELECT tok, CAST(count(*) AS BIGINT) AS df, CAST(sum(tf) AS BIGINT) AS cf,
           to_json(list(struct_pack(doc := doc, tf := tf) ORDER BY doc))
             AS postings_json
    FROM tf GROUP BY tok
    """,
)
def inverted_index_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted index build (operators/inverted_index.py): the IR-side
    precompute-and-serve pattern — one (tok, doc) aggregate makes the
    relational postings table (bucketed-by-term at scale: term lookups
    prune, term-ANDs co-locate), one per-term aggregate renders df/cf +
    the doc-sorted posting list. Every term's full posting list is
    hash-gated."""
    from .operators.inverted_index import index_summary, inverted_postings

    docs = load_table(spark, sf_dir, "documents")
    return index_summary(inverted_postings(docs, "doc_id", "text"))


@query(
    "inverted_index_incremental",
    oracle=f"""
    WITH live AS (
      SELECT doc_id, text FROM documents WHERE doc_id % 16 <> 1
    ), toks AS (
      SELECT doc_id AS doc, unnest({_duck_tokens()}) AS tok FROM live
    ), tf AS (
      SELECT tok, doc, CAST(count(*) AS BIGINT) AS tf FROM toks GROUP BY 1, 2
    )
    SELECT tok, CAST(count(*) AS BIGINT) AS df, CAST(sum(tf) AS BIGINT) AS cf,
           to_json(list(struct_pack(doc := doc, tf := tf) ORDER BY doc))
             AS postings_json
    FROM tf GROUP BY tok
    """,
)
def inverted_index_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental inverted-index maintenance
    (operators/inverted_index.py::update_postings — the IR twin of
    cc_incremental_update/delete): a stored postings table absorbs
    RE-INGESTED documents (every doc_id % 16 == 0 was first indexed
    from a stale 20-char prefix and now arrives with full text — its
    old postings must be fully replaced, not appended to) and
    DELETIONS (doc_id % 16 == 1 tombstoned) via one broadcast anti-join
    over the index (map-side, no shuffle of posting rows) plus a
    delta-sized tokenize aggregate. The oracle is the full rebuild on
    the post-update corpus — it never sees the stale text, so any
    stale posting the replacement fails to remove, or any live posting
    the tombstone over-removes, hash-mismatches. The stored build from
    the stale corpus is fixture setup (production reads its postings
    table); the update path touches delta docs + the index only."""
    from .operators.inverted_index import (
        index_summary,
        inverted_postings,
        update_postings,
    )

    docs = load_table(spark, sf_dir, "documents")
    stale = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 16 == 0, F.substring("text", 1, 20)
        ).otherwise(F.col("text")).alias("text"),
    )
    base = inverted_postings(stale, "doc_id", "text")
    merged = update_postings(
        base,
        docs.where(F.col("doc_id") % 16 == 0),
        "doc_id",
        "text",
        deleted_ids=docs.where(F.col("doc_id") % 16 == 1).select("doc_id"),
    )
    return index_summary(merged)


@query(
    "inverted_index_compaction",
    oracle=f"""
    WITH live AS (
      SELECT doc_id,
             CASE WHEN doc_id % 16 = 2 THEN text || ' v2' ELSE text END AS text
      FROM documents
      WHERE doc_id % 48 <> 0
        AND doc_id % 16 <> 3
        AND (doc_id % 16 <> 1 OR doc_id % 32 = 1)
    ), toks AS (
      SELECT doc_id AS doc, unnest({_duck_tokens()}) AS tok FROM live
    ), tf AS (
      SELECT tok, doc, CAST(count(*) AS BIGINT) AS tf FROM toks GROUP BY 1, 2
    ), summary AS MATERIALIZED (
      SELECT tok, CAST(count(*) AS BIGINT) AS df, CAST(sum(tf) AS BIGINT) AS cf,
             to_json(list(struct_pack(doc := doc, tf := tf) ORDER BY doc))
               AS postings_json
      FROM tf GROUP BY tok
    )
    SELECT 'generational' AS phase, tok, df, cf, postings_json FROM summary
    UNION ALL
    SELECT 'compacted' AS phase, tok, df, cf, postings_json FROM summary
    """,
)
def inverted_index_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log-structured postings maintenance end-to-end (log_store.py,
    r12 VERDICT #3 — the delta-sized-WRITE answer to the snapshot
    appliers' index-sized rewrite floor): a stored postings BASE absorbs
    two epochs as parquet GENERATIONS — epoch 1 re-ingests every
    doc_id % 16 == 0 (first indexed from a stale 20-char prefix) and
    tombstones doc_id % 16 == 1; epoch 2 re-ingests doc_id % 16 == 2
    with REVISED text (' v2' appended), RE-CREATES half the epoch-1
    deletions (doc_id % 32 == 1 — later generation wins over the older
    tombstone), and deletes doc_id % 48 == 0 (deletion wins over
    epoch 1's re-ingest — the cross-generation conflict matrix). The
    gate hash-checks the GENERATIONAL read path (base + 2 generations
    merged: newest-touch-per-doc wins via a delta-sized max-gen
    aggregate, base leaves through ONE broadcast anti — plan-pinned in
    tests/test_log_store.py) AND the post-COMPACTION read (generations
    folded into base by the staged atomic swap) against one full-rebuild
    oracle on the final corpus — so a stale posting surviving a
    replacement, a tombstone out-living a re-create, or compaction
    dropping/duplicating anything all hash-mismatch in whichever phase
    row carries it. Epoch write volume is delta-sized (base files
    bit-untouched, pinned by test); crash windows heal per the module's
    matrix, including idempotent replay of folded generations."""
    import os

    from .log_store import (
        append_log_delta,
        compact_log_store,
        init_log_store,
        read_log_store,
    )
    from .operators.inverted_index import index_summary, inverted_postings

    docs = load_table(spark, sf_dir, "documents")
    root = os.path.join(
        "/tmp", "spark_graft_logstore", os.path.basename(os.path.normpath(sf_dir))
    )
    stale = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 16 == 0, F.substring("text", 1, 20)
        ).otherwise(F.col("text")).alias("text"),
    )
    init_log_store(inverted_postings(stale, "doc_id", "text"), root, "postings")
    append_log_delta(
        root,
        "postings",
        inverted_postings(docs.where(F.col("doc_id") % 16 == 0), "doc_id", "text"),
        "doc",
        tombstones=docs.where(F.col("doc_id") % 16 == 1).select("doc_id"),
    )
    e2_docs = docs.where(F.col("doc_id") % 16 == 2).withColumn(
        "text", F.concat(F.col("text"), F.lit(" v2"))
    ).unionByName(docs.where(F.col("doc_id") % 32 == 1))
    append_log_delta(
        root,
        "postings",
        inverted_postings(e2_docs, "doc_id", "text"),
        "doc",
        tombstones=docs.where(
            (F.col("doc_id") % 16 == 3) | (F.col("doc_id") % 48 == 0)
        ).select("doc_id"),
    )
    # compaction below swaps the very files the generational plan scans
    # — materialize that phase first. Pin the RAW merged postings (small
    # relation), not the rendered summary: the collect_list JSON
    # aggregate then runs once per phase inside the returned plan
    # instead of eagerly at build time (measured ~2x on the gate).
    gen_postings = read_log_store(
        spark, root, "postings", "doc"
    ).localCheckpoint(eager=True)
    compact_log_store(spark, root, "postings", "doc")
    gen = index_summary(gen_postings).withColumn("phase", F.lit("generational"))
    comp = index_summary(
        read_log_store(spark, root, "postings", "doc")
    ).withColumn("phase", F.lit("compacted"))
    cols = ["phase", "tok", "df", "cf", "postings_json"]
    return gen.select(*cols).unionByName(comp.select(*cols))


_PROFILE_COLS = ["doc_id", "text", "lang", "source", "n_chars"]


@query(
    "profile_documents",
    oracle="\nUNION ALL\n".join(
        f"""
    SELECT '{c}' AS column, CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(*) - count({c}) AS BIGINT) AS n_null,
           CAST(count(DISTINCT {c}) AS BIGINT) AS n_distinct,
           CAST(min({c}) AS VARCHAR) AS min_v,
           CAST(max({c}) AS VARCHAR) AS max_v
    FROM documents
    """
        for c in _PROFILE_COLS
    ),
)
def profile_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-pass column profiler (operators/profile.py): null counts,
    exact distinct cardinality and string-rendered min/max for every
    documents column, computed in ONE corpus scan (all aggregates ride
    one map-side-combined aggregate; the wide row unpivots via stack).
    The data-quality companion to the pre-write conformance checks
    (schemas.py) — hash-gated per column."""
    from .operators.profile import profile_columns

    docs = load_table(spark, sf_dir, "documents")
    return profile_columns(docs, _PROFILE_COLS)


@query(
    "top_ngrams",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, lang, {_duck_tokens()} AS toks FROM documents
    ), g AS (
      SELECT lang, concat_ws(' ', toks[i], toks[i + 1]) AS gram
      FROM t, unnest(generate_series(1, len(toks) - 1)) AS u(i)
      WHERE len(toks) >= 2
    ), counted AS (
      SELECT lang, gram, CAST(count(*) AS BIGINT) AS n
      FROM g GROUP BY lang, gram
    )
    SELECT lang, gram, n, rank FROM (
      SELECT lang, gram, n,
             ROW_NUMBER() OVER (PARTITION BY lang
                                ORDER BY n DESC, gram) AS rank
      FROM counted) WHERE rank <= 10
    """,
)
def top_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus bigram statistics: top-10 bigrams per language — the
    vocabulary/boilerplate profiling pass of a curation pipeline.
    Shingles via posexplode+lead (the one-exchange pattern shared with
    repetition_stats), then a partial-aggregating (lang, gram) count and
    a per-lang top-k window over the already-aggregated counts."""
    from .functions.text import word_tokens

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "lang", "doc_id", F.posexplode(word_tokens(F.col("text"))).alias("pos", "tok")
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    grams = (
        toks.select("lang", "doc_id", "tok", F.lead("tok", 1).over(w).alias("_t1"))
        .where(F.col("_t1").isNotNull())
        .select("lang", F.concat_ws(" ", "tok", "_t1").alias("gram"))
    )
    counted = grams.groupBy("lang", "gram").agg(F.count("*").alias("n"))
    rw = Window.partitionBy("lang").orderBy(F.col("n").desc(), F.col("gram").asc())
    return (
        counted.withColumn("rank", F.row_number().over(rw))
        .where(F.col("rank") <= 10)
        .select("lang", "gram", "n", "rank")
    )


@query(
    "knn_lsh_exact",
    oracle=f"""
    WITH q AS (SELECT * FROM embeddings WHERE vec_id < 10),
    pairs AS (
      SELECT q.vec_id AS query_id, c.vec_id AS nbr_id,
             {_DUCK_COS.format(a='q.embedding', b='c.embedding')} AS cos
      FROM q JOIN embeddings c ON c.vec_id <> q.vec_id
    ), ranked AS (
      SELECT query_id, nbr_id, cos,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cos DESC, nbr_id) AS rank
      FROM pairs
    )
    SELECT query_id, nbr_id, round(cos, 6) AS cosine_sim, rank
    FROM ranked WHERE rank <= 10
    """,
)
def knn_lsh_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane LSH with ``bits_per_table=0``: every vector lands in
    the single signature bucket, so the candidate join is exhaustive and
    the whole LSH code path (signature UDF, bucket join, dedup, re-rank)
    is hash-gated against the brute-force SQL — the ``knn_ivf_exact``
    trick applied to the second ANN tier. The production bits>0 variant
    stays rows-only because which neighbors it misses is
    signature-dependent by design."""
    from .operators.similarity import lsh_topk

    emb = load_table(spark, sf_dir, "embeddings")
    return lsh_topk(
        emb.where(F.col("vec_id") < 10),
        emb,
        "vec_id",
        "embedding",
        k=10,
        num_tables=1,
        bits_per_table=0,
    )


# ===========================================================================
# Round 6 — corpus-scale machinery: DSIR selection, sketches, bloom-pruned
# joins, layout keys, curation verdicts (LLM-pipeline extensions; no
# reference counterpart — same family as lm_score.py / dedup.py)
# ===========================================================================


def _dsir_fold_sql(expr: str, n: int) -> str:
    from .operators.importance import md5_fold_sql

    return md5_fold_sql(expr, n)


@query(
    "dsir_importance",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id AS doc, tok
      FROM documents,
           UNNEST(list_filter(string_split_regex(lower(text), '\\s+'),
                              x -> x <> '')) AS t(tok)
    ), cnt AS (
      SELECT doc, {_dsir_fold_sql('tok', 256)} AS bkt,
             CAST(count(*) AS BIGINT) AS m
      FROM toks GROUP BY 1, 2
    ), flags AS (
      SELECT doc_id AS doc, lang = 'en' AS tgt FROM documents
    ), c2 AS (
      SELECT cnt.doc, bkt, m, tgt FROM cnt JOIN flags USING (doc)
    ),
    tb AS (SELECT bkt, CAST(sum(m) AS BIGINT) AS n FROM c2 WHERE tgt GROUP BY 1),
    tt AS (SELECT CAST(coalesce(sum(m), 0) AS BIGINT) AS tot FROM c2 WHERE tgt),
    rb AS (SELECT bkt, CAST(sum(m) AS BIGINT) AS n FROM c2 WHERE NOT tgt GROUP BY 1),
    rt AS (SELECT CAST(coalesce(sum(m), 0) AS BIGINT) AS tot FROM c2 WHERE NOT tgt),
    spine AS (SELECT CAST(range AS BIGINT) AS bkt FROM range(256)),
    lt AS (
      SELECT s.bkt,
             CAST(round(ln(CAST(coalesce(n, 0) + 1 AS DOUBLE)
                           / CAST(tot + 256 AS DOUBLE)) * 1000000) AS BIGINT) AS l
      FROM spine s LEFT JOIN tb ON s.bkt = tb.bkt CROSS JOIN tt
    ),
    lr AS (
      SELECT s.bkt,
             CAST(round(ln(CAST(coalesce(n, 0) + 1 AS DOUBLE)
                           / CAST(tot + 256 AS DOUBLE)) * 1000000) AS BIGINT) AS l
      FROM spine s LEFT JOIN rb ON s.bkt = rb.bkt CROSS JOIN rt
    )
    SELECT c2.doc, CAST(sum(m) AS BIGINT) AS n_tokens,
           CAST(sum(m * (lt.l - lr.l)) AS BIGINT) AS weight_micro
    FROM c2 JOIN lt ON c2.bkt = lt.bkt JOIN lr ON c2.bkt = lr.bkt
    WHERE NOT tgt
    GROUP BY 1
    ORDER BY weight_micro DESC, doc ASC
    LIMIT 100
    """,
)
def dsir_importance_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR data selection (Xie et al. 2023): score every non-English
    document by how English-like its hashed-unigram distribution is —
    log p_target/p_raw under two add-one-smoothed 256-bucket models —
    and keep the top 100. Integer micro-nat arithmetic makes the whole
    selection hash-gateable; the models are bucket-bounded (256 rows)
    so both score joins broadcast, and the top-k plans as
    TakeOrderedAndProject."""
    from .operators.importance import dsir_select

    # single-file fixture -> widen to real input parallelism before the
    # tokenize+hash map side (same idiom as clustering.py:204)
    docs = load_table(spark, sf_dir, "documents").repartition("doc_id")
    return dsir_select(
        docs, "doc_id", "text", F.col("lang") == "en",
        num_buckets=256, top_k=100,
    )


@query(
    "cms_heavy_hitters",
    oracle=f"""
    WITH depths AS (SELECT * FROM (VALUES (0), (1), (2), (3)) AS t(d)),
    grid AS (
      SELECT d, {_dsir_fold_sql("concat(CAST(d AS VARCHAR), ':', CAST(user_id AS VARCHAR))", 64)} AS bkt,
             CAST(count(*) AS BIGINT) AS cnt
      FROM events CROSS JOIN depths
      GROUP BY 1, 2
    ), cand AS (SELECT DISTINCT user_id FROM events),
    probes AS (
      SELECT user_id, d,
             {_dsir_fold_sql("concat(CAST(d AS VARCHAR), ':', CAST(user_id AS VARCHAR))", 64)} AS bkt
      FROM cand CROSS JOIN depths
    ), est AS (
      SELECT user_id, min(coalesce(cnt, 0)) AS est
      FROM probes LEFT JOIN grid USING (d, bkt)
      GROUP BY 1
    ), exact AS (
      SELECT user_id, CAST(count(*) AS BIGINT) AS exact_cnt
      FROM events GROUP BY 1
    )
    SELECT est.user_id, est, exact_cnt
    FROM est JOIN exact USING (user_id)
    WHERE est >= 30
    """,
)
def cms_heavy_hitters_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min heavy hitters over event users: build a 4×64 sketch
    (shuffle bounded at the GRID size per task by map-side combine,
    regardless of key cardinality), estimate every candidate's
    frequency as the min over its 4 counters, keep est ≥ 30, and attach
    the exact count so the gate proves the CMS overestimate property
    row by row (est ≥ exact always; equality when uncollided)."""
    from .operators.sketches import cms_estimate, cms_sketch

    ev = load_table(spark, sf_dir, "events").repartition("event_id")
    sketch = cms_sketch(ev, "user_id", depth=4, width=64)
    cand = ev.select("user_id").distinct()
    est = cms_estimate(cand, sketch, "user_id", depth=4, width=64).select(
        F.col("key").alias("user_id"), "est"
    )
    exact = ev.groupBy("user_id").agg(F.count("*").alias("exact_cnt"))
    return est.where(F.col("est") >= 30).join(exact, "user_id")


@query(
    "bloom_pruned_join",
    oracle="""
    SELECT o_orderkey, o_custkey, c_name, c_acctbal
    FROM orders JOIN customer ON o_custkey = c_custkey
    WHERE c_mktsegment = 'BUILDING' AND c_acctbal > 9000
    """,
)
def bloom_pruned_join_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orders ⋈ high-balance BUILDING customers with the orders side
    Bloom-pruned BEFORE the join shuffle: the build side's keys pack
    into a 4096-bit broadcast bitmap (512 bytes at ANY scale), the
    probe test is a pure scan filter, and the exact join drops false
    positives — so the result is bit-identical to the plain join the
    oracle runs, while only the surviving fraction of a 100 TB orders
    table would pay the shuffle. tests/test_operators.py proves the
    prune actually removes rows and loses none."""
    from .operators.bloom_join import bloom_pruned_join

    orders = load_table(spark, sf_dir, "orders")
    cust = (
        load_table(spark, sf_dir, "customer")
        .where((F.col("c_mktsegment") == "BUILDING") & (F.col("c_acctbal") > 9000))
        .select("c_custkey", "c_name", "c_acctbal")
    )
    # the fixture is ONE parquet file -> one input split; production
    # probe tables arrive as thousands of splits. The repartition stands
    # in for that input parallelism so the scan-side bloom test runs
    # wide (it is NOT part of the operator: bloom_prune adds no shuffle).
    probe = orders.select(
        "o_orderkey", F.col("o_custkey").alias("c_custkey")
    ).repartition("c_custkey")
    return bloom_pruned_join(
        probe, cust, "c_custkey", num_bits=4096, num_hashes=3
    ).select(
        "o_orderkey",
        F.col("c_custkey").alias("o_custkey"),
        "c_name",
        "c_acctbal",
    )


@query(
    "gopher_quality_rules",
    oracle=f"""
    WITH base AS (
      SELECT doc_id,
             len({_duck_tokens()}) AS n_tokens,
             list_sum(list_transform({_duck_tokens()}, x -> length(x))) AS tok_chars,
             len(list_filter({_duck_tokens()},
                             x -> regexp_matches(x, '[a-z]'))) AS n_alpha,
             {_duck_sw('en')} AS n_sw
      FROM documents
    )
    SELECT doc_id,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           n_tokens BETWEEN 5 AND 1000 AS r_wordcount,
           (n_tokens > 0 AND tok_chars * 1.0 / n_tokens BETWEEN 2 AND 12)
             AS r_mean_word_len,
           (n_tokens > 0 AND n_alpha * 1.0 / n_tokens >= 0.8) AS r_alpha,
           n_sw >= 2 AS r_stopwords,
           (n_tokens BETWEEN 5 AND 1000
            AND n_tokens > 0 AND tok_chars * 1.0 / n_tokens BETWEEN 2 AND 12
            AND n_alpha * 1.0 / n_tokens >= 0.8
            AND n_sw >= 2) AS keep
    FROM base
    """,
)
def gopher_quality_rules_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style rule-based curation verdict (Rae et al. 2021 §A1.1):
    per-document booleans for word count, mean word length, alphabetic
    ratio and stopword presence, plus the conjunctive keep decision —
    the filter step a pretraining pipeline applies before dedup. Pure
    Catalyst expressions over the token array; zero shuffles (scan →
    project)."""
    from .functions.text import stopword_count, word_tokens

    docs = load_table(spark, sf_dir, "documents")
    toks = word_tokens(F.col("text"))
    base = docs.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.aggregate(
            F.transform(toks, lambda x: F.length(x)),
            F.lit(0),
            lambda a, b: a + b,
        ).alias("tok_chars"),
        F.size(F.filter(toks, lambda x: x.rlike("[a-z]"))).alias("n_alpha"),
        stopword_count(toks, "en").alias("n_sw"),
    )
    nt = F.col("n_tokens")
    r_wc = nt.between(5, 1000)
    r_mwl = (nt > 0) & (F.col("tok_chars") * 1.0 / nt).between(2, 12)
    r_alpha = (nt > 0) & (F.col("n_alpha") * 1.0 / nt >= 0.8)
    r_sw = F.col("n_sw") >= 2
    return base.select(
        "doc_id",
        nt.cast("long").alias("n_tokens"),
        r_wc.alias("r_wordcount"),
        r_mwl.alias("r_mean_word_len"),
        r_alpha.alias("r_alpha"),
        r_sw.alias("r_stopwords"),
        (r_wc & r_mwl & r_alpha & r_sw).alias("keep"),
    )


@query(
    "corpus_kl_shift",
    oracle="""
    WITH toks AS (
      SELECT source, tok
      FROM documents,
           UNNEST(list_filter(string_split_regex(lower(text), '\\s+'),
                              x -> x <> '')) AS t(tok)
      WHERE source IN ('src1', 'src2')
    ), vocab AS (SELECT DISTINCT tok FROM toks),
    v AS (SELECT CAST(count(*) AS BIGINT) AS vsz FROM vocab),
    c1 AS (SELECT tok, CAST(count(*) AS BIGINT) AS n FROM toks WHERE source = 'src1' GROUP BY 1),
    c2 AS (SELECT tok, CAST(count(*) AS BIGINT) AS n FROM toks WHERE source = 'src2' GROUP BY 1),
    t1 AS (SELECT CAST(coalesce(sum(n), 0) AS BIGINT) AS tot FROM c1),
    t2 AS (SELECT CAST(coalesce(sum(n), 0) AS BIGINT) AS tot FROM c2),
    scored AS (
      SELECT vocab.tok,
             CAST(coalesce(c1.n, 0) AS BIGINT) AS n_src1,
             CAST(coalesce(c2.n, 0) AS BIGINT) AS n_src2,
             coalesce(c1.n, 0)
               * (CAST(round(ln(CAST(coalesce(c1.n, 0) + 1 AS DOUBLE)
                                / CAST(t1.tot + v.vsz AS DOUBLE)) * 1000000) AS BIGINT)
                  - CAST(round(ln(CAST(coalesce(c2.n, 0) + 1 AS DOUBLE)
                                  / CAST(t2.tot + v.vsz AS DOUBLE)) * 1000000) AS BIGINT))
               AS contrib_micro
      FROM vocab
      LEFT JOIN c1 ON vocab.tok = c1.tok
      LEFT JOIN c2 ON vocab.tok = c2.tok
      CROSS JOIN t1 CROSS JOIN t2 CROSS JOIN v
    )
    SELECT tok, n_src1, n_src2, CAST(contrib_micro AS BIGINT) AS contrib_micro
    FROM scored
    ORDER BY contrib_micro DESC, tok ASC
    LIMIT 30
    """,
)
def corpus_kl_shift_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus drift report: per-token KL(src1‖src2) contributions over
    add-one-smoothed unigram models, top 30 — the distribution-shift
    diagnostic run before mixing a new crawl into a pretraining blend.
    Contributions are integer micro-nat products (n·(l1−l2)), so the
    report is hash-gated; models are vocabulary-bounded aggregates and
    the token explode is map-side."""
    from .functions.text import word_tokens

    docs = load_table(spark, sf_dir, "documents")
    toks = (
        docs.where(F.col("source").isin("src1", "src2"))
        .select("source", F.explode(word_tokens(F.col("text"))).alias("tok"))
    )
    c1 = (
        toks.where(F.col("source") == "src1")
        .groupBy("tok").agg(F.count("*").alias("_n1"))
    )
    c2 = (
        toks.where(F.col("source") == "src2")
        .groupBy("tok").agg(F.count("*").alias("_n2"))
    )
    vocab = toks.select("tok").distinct()
    v = vocab.agg(F.count("*").alias("_vsz"))
    t1 = c1.agg(F.coalesce(F.sum("_n1"), F.lit(0)).alias("_t1"))
    t2 = c2.agg(F.coalesce(F.sum("_n2"), F.lit(0)).alias("_t2"))

    def _l(n, tot):
        return F.round(
            F.log((n + 1).cast("double") / (tot + F.col("_vsz")).cast("double"))
            * 1_000_000
        ).cast("long")

    scored = (
        vocab.join(c1, "tok", "left")
        .join(c2, "tok", "left")
        .crossJoin(F.broadcast(t1))
        .crossJoin(F.broadcast(t2))
        .crossJoin(F.broadcast(v))
        .select(
            "tok",
            F.coalesce(F.col("_n1"), F.lit(0)).alias("n_src1"),
            F.coalesce(F.col("_n2"), F.lit(0)).alias("n_src2"),
            (
                F.coalesce(F.col("_n1"), F.lit(0))
                * (
                    _l(F.coalesce(F.col("_n1"), F.lit(0)), F.col("_t1"))
                    - _l(F.coalesce(F.col("_n2"), F.lit(0)), F.col("_t2"))
                )
            ).alias("contrib_micro"),
        )
    )
    return scored.orderBy(
        F.col("contrib_micro").desc(), F.col("tok").asc()
    ).limit(30)


def _zorder_oracle() -> str:
    from .operators.zorder import zvalue_sql

    z = zvalue_sql(
        "(user_id & 65535)",
        "(CAST(floor(epoch(ts) / 3600) AS BIGINT) & 65535)",
        bits=16,
    )
    return f"""
    WITH coded AS (
      SELECT event_id,
             CAST(user_id & 65535 AS BIGINT) AS zx,
             CAST(CAST(floor(epoch(ts) / 3600) AS BIGINT) & 65535 AS BIGINT) AS zy,
             CAST({z} AS BIGINT) AS zval
      FROM events
    )
    SELECT event_id, zx, zy, zval, CAST(zval >> 20 AS BIGINT) AS zbucket
    FROM coded
    """


@query("zorder_layout", oracle=_zorder_oracle())
def zorder_layout_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton-code layout keys for two-dimensional data skipping: the
    events table gets a 32-bit z-value interleaving (user_id, hour) so
    a range-partitioned write carries zone maps tight on BOTH columns —
    a reader filtering on either prunes files (the Delta/Iceberg
    ZORDER BY trick as plain Catalyst bit math, generalizing the
    reference's single-column RANGE_BUCKET layout,
    /root/reference/definitions: partition key pattern F14). zbucket
    (top 12 bits) is the coarse file assignment the writer's
    repartitionByRange would produce. Unrolled bit expression —
    whole-stage codegen, no shuffle, no Python."""
    from .operators.zorder import zvalue

    ev = load_table(spark, sf_dir, "events")
    zx = F.col("user_id").bitwiseAND(F.lit(65535).cast("long"))
    zy = (
        (F.col("ts").cast("long") / 3600)
        .cast("long")
        .bitwiseAND(F.lit(65535).cast("long"))
    )
    coded = ev.select(
        "event_id",
        zx.cast("long").alias("zx"),
        zy.cast("long").alias("zy"),
        zvalue(zx, zy, bits=16).alias("zval"),
    )
    return coded.select(
        "event_id", "zx", "zy", "zval",
        F.shiftright(F.col("zval"), 20).alias("zbucket"),
    )


@query(
    "dedup_keep_best",
    oracle="""
    WITH f AS (
      SELECT doc_id, source, md5(text) AS fp,
             CASE WHEN source = 'src1' THEN 1
                  WHEN source = 'src2' THEN 2 ELSE 3 END AS pri
      FROM documents
    ), sized AS (
      SELECT fp, CAST(count(*) AS BIGINT) AS n_copies FROM f GROUP BY 1
    ), ranked AS (
      SELECT doc_id, source, fp,
             ROW_NUMBER() OVER (PARTITION BY fp ORDER BY pri, doc_id) AS rn
      FROM f
    )
    SELECT doc_id, source, ranked.fp, n_copies
    FROM ranked JOIN sized ON ranked.fp = sized.fp
    WHERE rn = 1
    """,
)
def dedup_keep_best_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup with a SOURCE-PRIORITY survivorship policy: for each
    content fingerprint keep the copy from the most-trusted source
    (src1 > src2 > rest, doc_id tie-break) and record the copy count —
    the 'prefer curated over crawled' rule every multi-source corpus
    merge applies. Same one-shuffle W1 shape as dedup_exact (the
    8-byte fingerprint is the shuffle key), with the policy as the
    window order."""
    docs = load_table(spark, sf_dir, "documents")
    f = docs.select(
        "doc_id",
        "source",
        F.md5(F.col("text")).alias("fp"),
        F.when(F.col("source") == "src1", 1)
        .when(F.col("source") == "src2", 2)
        .otherwise(3)
        .alias("pri"),
    )
    sized = f.groupBy("fp").agg(F.count("*").alias("n_copies"))
    w = Window.partitionBy("fp").orderBy(F.col("pri").asc(), F.col("doc_id").asc())
    kept = (
        f.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("doc_id", "source", "fp")
    )
    return kept.join(sized, "fp").select("doc_id", "source", "fp", "n_copies")


@query(
    "token_budget_report",
    oracle=f"""
    WITH d AS (
      SELECT len({_duck_tokens()}) AS n FROM documents
    ), b AS (
      SELECT CAST(n // 4 AS BIGINT) AS bucket,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(n) AS BIGINT) AS bucket_tokens
      FROM d GROUP BY 1
    )
    SELECT bucket, n_docs, bucket_tokens,
           CAST(SUM(bucket_tokens) OVER (ORDER BY bucket) AS BIGINT)
             AS cum_tokens,
           round(CAST(SUM(bucket_tokens) OVER (ORDER BY bucket) AS DOUBLE)
                 / CAST(SUM(bucket_tokens) OVER () AS DOUBLE), 6) AS cum_share
    FROM b
    """,
)
def token_budget_report_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-length histogram + cumulative token budget: how many
    documents and tokens fall in each length band and what share of
    the total budget the bands up to L cover — the planning query
    behind context-length and packing decisions. One corpus aggregate;
    the windowed cumulative runs over the BAND table (bounded by
    max_len/4 rows, not data-sized), so the single-partition window is
    safe at any scale."""
    from .functions.text import word_tokens

    docs = load_table(spark, sf_dir, "documents")
    d = docs.select(F.size(word_tokens(F.col("text"))).alias("n"))
    b = d.groupBy((F.col("n") / 4).cast("long").alias("bucket")).agg(
        F.count("*").alias("n_docs"),
        F.sum("n").alias("bucket_tokens"),
    )
    w_cum = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w_all = Window.partitionBy()
    return b.select(
        "bucket",
        "n_docs",
        "bucket_tokens",
        F.sum("bucket_tokens").over(w_cum).alias("cum_tokens"),
        F.round(
            F.sum("bucket_tokens").over(w_cum).cast("double")
            / F.sum("bucket_tokens").over(w_all).cast("double"),
            6,
        ).alias("cum_share"),
    )


@query(
    "funnel_steps",
    oracle="""
    WITH s1 AS (
      SELECT user_id, min(ts) AS t1 FROM events
      WHERE event_type = 'signup' GROUP BY 1
    ), s2 AS (
      SELECT e.user_id, min(e.ts) AS t2
      FROM events e JOIN s1 USING (user_id)
      WHERE e.event_type = 'view' AND e.ts > s1.t1 GROUP BY 1
    ), s3 AS (
      SELECT e.user_id, min(e.ts) AS t3
      FROM events e JOIN s2 USING (user_id)
      WHERE e.event_type = 'click' AND e.ts > s2.t2 GROUP BY 1
    ), s4 AS (
      SELECT e.user_id, min(e.ts) AS t4
      FROM events e JOIN s3 USING (user_id)
      WHERE e.event_type = 'purchase' AND e.ts > s3.t3 GROUP BY 1
    )
    SELECT u.user_id AS user,
           CAST(CASE WHEN t4 IS NOT NULL THEN 4
                     WHEN t3 IS NOT NULL THEN 3
                     WHEN t2 IS NOT NULL THEN 2
                     WHEN t1 IS NOT NULL THEN 1
                     ELSE 0 END AS BIGINT) AS steps_completed,
           t1 AS t_first,
           t4 AS t_converted
    FROM (SELECT DISTINCT user_id FROM events) u
    LEFT JOIN s1 USING (user_id)
    LEFT JOIN s2 USING (user_id)
    LEFT JOIN s3 USING (user_id)
    LEFT JOIN s4 USING (user_id)
    """,
)
def funnel_steps_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """signup→view→click→purchase funnel progress per user in ONE
    shuffle (operators/funnel.py): the classic K-self-join formulation
    the ORACLE runs becomes a per-user array-sorted Catalyst fold —
    identical answer, 1 shuffle instead of 4 over a 100 TB event log."""
    from .operators.funnel import funnel_steps

    ev = load_table(spark, sf_dir, "events")
    return funnel_steps(
        ev, "user_id", "ts", "event_type",
        ["signup", "view", "click", "purchase"],
    )


@query(
    "label_centroids",
    oracle="""
    WITH comp AS (
      SELECT label,
             CAST(generate_subscripts(embedding, 1) AS BIGINT) AS idx,
             CAST(unnest(embedding) AS DECIMAL(28,10)) AS x
      FROM embeddings
    )
    SELECT CAST(label AS BIGINT) AS label, idx,
           round(CAST(sum(x) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6)
             AS centroid
    FROM comp GROUP BY 1, 2
    """,
)
def label_centroids_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroids (mean pooling) with an EXACT gate:
    component sums go through DECIMAL(28,10) — order-independent,
    partial-agg safe — then one double division + round(6). Output is
    (label, idx, centroid) rows, not arrays, so the driver's
    canonicalizer never sees a list cell. Plan: posexplode (map-side) +
    one groupBy on (label, idx) — cardinality labels × dim, never
    data-sized."""
    emb = load_table(spark, sf_dir, "embeddings")
    exploded = emb.select(
        "label", F.posexplode(F.col("embedding")).alias("pos", "x")
    )
    return (
        exploded.groupBy(
            F.col("label").cast("long").alias("label"),
            (F.col("pos") + 1).cast("long").alias("idx"),
        )
        .agg(
            F.sum(F.col("x").cast("decimal(28,10)")).alias("_s"),
            F.count("*").alias("_n"),
        )
        .select(
            "label",
            "idx",
            F.round(
                F.col("_s").cast("double") / F.col("_n").cast("double"), 6
            ).alias("centroid"),
        )
    )



def _manifest_fp_sql() -> str:
    """Portable row fingerprint of the orders business columns (the
    DuckDB twin of portable_fingerprint over the same tuple)."""
    cols = "o_orderkey, o_custkey, o_orderstatus, o_totalprice"
    rendered = ", ".join(
        f"CAST({c} AS VARCHAR)" for c in cols.split(", ")
    )
    return f"md5(concat_ws(chr(31), {rendered}))"


def _manifest_oracle() -> str:
    from .functions.hashing import md5_fold_wide_sql
    from .operators.importance import md5_fold_sql

    fp = _manifest_fp_sql()
    return f"""
    WITH rows_fp AS (
      SELECT {md5_fold_sql('o_orderkey', 32)} AS bucket,
             {md5_fold_wide_sql(fp, 1000000007)} AS h,
             o_orderkey
      FROM orders
    )
    SELECT bucket,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(h) AS BIGINT) AS checksum,
           min(o_orderkey) AS min_key,
           max(o_orderkey) AS max_key
    FROM rows_fp GROUP BY bucket
    """


@query("table_checksum_manifest", oracle=_manifest_oracle())
def table_checksum_manifest_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-engine table checksum manifest — the migration-validation
    op: 32 hash-buckets, each with row count, key range, and an
    ORDER-INDEPENDENT content checksum (sum of per-row md5-derived
    residues mod 1e9+7 — partial-agg safe, no collect_list, constant
    memory per bucket; at n rows/bucket the sum stays < 9.2e18 up to
    ~9e9 rows/bucket, so size num_buckets to the table). Two engines
    loading the same table produce the same 32 rows — this is how a
    Spark writer and a non-Spark auditor agree a 100 TB copy is intact
    without comparing rows. Reference parity: the conformance/
    PK-validation family (schemas.py pre-write checks) extended to
    whole-table content."""
    from .functions.hashing import md5_fold_wide, portable_fingerprint
    from .operators.importance import md5_fold

    orders = load_table(spark, sf_dir, "orders")
    fp = portable_fingerprint(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    rows_fp = orders.select(
        md5_fold(F.col("o_orderkey"), 32).alias("bucket"),
        md5_fold_wide(fp, 1_000_000_007).alias("h"),
        "o_orderkey",
    )
    return rows_fp.groupBy("bucket").agg(
        F.count("*").alias("n_rows"),
        F.sum("h").alias("checksum"),
        F.min("o_orderkey").alias("min_key"),
        F.max("o_orderkey").alias("max_key"),
    )


@query(
    "join_skew_report",
    oracle="""
    WITH k AS (
      SELECT l_orderkey AS key, CAST(count(*) AS BIGINT) AS n
      FROM lineitem GROUP BY 1
    ), tot AS (
      SELECT CAST(sum(n) AS BIGINT) AS t, CAST(count(*) AS BIGINT) AS nk
      FROM k
    ), ranked AS (
      SELECT key, n,
             ROW_NUMBER() OVER (ORDER BY n DESC, key ASC) AS rank
      FROM k
    )
    SELECT rank, key, n,
           CAST(round(n * 1000000.0 / t) AS BIGINT) AS share_ppm,
           round(n * 1.0 / (t * 1.0 / nk), 4) AS x_mean
    FROM ranked CROSS JOIN tot
    WHERE rank <= 20
    """,
)
def join_skew_report_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-key diagnostic for a prospective join/groupBy key: the top 20
    keys by frequency with parts-per-million share and multiple-of-mean
    ratio — the report that tells an operator whether lineitem.
    l_orderkey needs salting (operators/skew.py) or AQE skew splitting
    before a 100 TB join. One aggregate over the key, a 20-row
    TakeOrdered, two scalar broadcasts; never data-sized."""
    li = load_table(spark, sf_dir, "lineitem")
    k = li.groupBy(F.col("l_orderkey").alias("key")).agg(
        F.count("*").alias("n")
    )
    tot = k.agg(
        F.sum("n").alias("_t"), F.count("*").alias("_nk")
    )
    # top-20 FIRST via TakeOrderedAndProject (per-partition heaps — no
    # global single-partition window over the key table), then rank the
    # 20 survivors; the window touches 20 rows, never the data.
    top = k.orderBy(F.col("n").desc(), F.col("key").asc()).limit(20)
    w = Window.orderBy(F.col("n").desc(), F.col("key").asc())
    ranked = top.withColumn("rank", F.row_number().over(w))
    return ranked.crossJoin(F.broadcast(tot)).select(
        "rank",
        "key",
        "n",
        F.round(F.col("n") * 1000000.0 / F.col("_t"))
        .cast("long")
        .alias("share_ppm"),
        F.round(
            F.col("n") * 1.0 / (F.col("_t") * 1.0 / F.col("_nk")), 4
        ).alias("x_mean"),
    )


@query(
    "cdc_upsert",
    oracle="""
    WITH chg AS (
      SELECT (user_id * 12 + event_id % 12) % 1800 AS custkey,
             ts, event_id,
             CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
             'cdc-' || CAST((user_id * 12 + event_id % 12) % 1800
                            AS VARCHAR) AS name,
             value AS bal,
             upper(event_type) AS seg
      FROM events
    ), last AS (
      SELECT * FROM (
        SELECT custkey, op, name, bal, seg,
               ROW_NUMBER() OVER (PARTITION BY custkey
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM chg) WHERE rn = 1
    )
    SELECT COALESCE(b.c_custkey, l.custkey) AS custkey,
           CASE WHEN l.custkey IS NULL THEN b.c_name ELSE l.name END
             AS name,
           CASE WHEN l.custkey IS NULL THEN b.c_acctbal ELSE l.bal END
             AS bal,
           CASE WHEN l.custkey IS NULL THEN b.c_mktsegment ELSE l.seg END
             AS seg,
           CASE WHEN l.custkey IS NULL THEN 'kept'
                WHEN b.c_custkey IS NULL THEN 'inserted'
                ELSE 'updated' END AS change
    FROM customer b FULL OUTER JOIN last l ON b.c_custkey = l.custkey
    WHERE l.op IS NULL OR l.op = 'U'
    """,
)
def cdc_upsert_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC change-log replay onto a base snapshot — the Delta/Iceberg
    ``MERGE WHEN MATCHED UPDATE / DELETE WHEN NOT MATCHED INSERT``
    pattern on plain DataFrames (operators/merge.py::apply_changelog),
    extending the reference's S6 insert-if-absent + S7 delete-insert
    loader (loader.py:57-176) to a full upsert+delete log. The events
    stream plays the role of a Debezium feed: full-row images keyed
    into customer's key space (keys >= 1500 exercise the INSERT path,
    'error' events the DELETE path), last-writer-wins on
    (ts, event_id). One shuffle for the per-key LWW window; the
    full-outer join reuses the same hash partitioning."""
    from .operators.merge import apply_changelog

    ev = load_table(spark, sf_dir, "events")
    cust = load_table(spark, sf_dir, "customer")
    key = (F.col("user_id") * 12 + F.col("event_id") % 12) % 1800
    chg = ev.select(
        key.alias("custkey"),
        "ts",
        "event_id",
        F.when(F.col("event_type") == "error", "D")
        .otherwise("U")
        .alias("op"),
        F.concat(F.lit("cdc-"), key.cast("string")).alias("name"),
        F.col("value").alias("bal"),
        F.upper("event_type").alias("seg"),
    )
    base = cust.select(
        F.col("c_custkey").alias("custkey"),
        F.col("c_name").alias("name"),
        F.col("c_acctbal").alias("bal"),
        F.col("c_mktsegment").alias("seg"),
    )
    return apply_changelog(
        base,
        chg,
        keys=["custkey"],
        seq_cols=["ts", "event_id"],
        tag_col="change",
    )


@query(
    "cdc_log_state",
    oracle="""
    WITH chg AS (
      SELECT (user_id * 12 + event_id % 12) % 1800 AS custkey,
             ts, event_id,
             CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
             'cdc-' || CAST((user_id * 12 + event_id % 12) % 1800
                            AS VARCHAR) AS name,
             value AS bal,
             upper(event_type) AS seg
      FROM events
    ), last AS (
      SELECT * FROM (
        SELECT custkey, op, name, bal, seg,
               ROW_NUMBER() OVER (PARTITION BY custkey
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM chg) WHERE rn = 1
    ), state AS MATERIALIZED (
      SELECT COALESCE(b.c_custkey, l.custkey) AS custkey,
             CASE WHEN l.custkey IS NULL THEN b.c_name ELSE l.name END
               AS name,
             CASE WHEN l.custkey IS NULL THEN b.c_acctbal ELSE l.bal END
               AS bal,
             CASE WHEN l.custkey IS NULL THEN b.c_mktsegment ELSE l.seg END
               AS seg
      FROM customer b FULL OUTER JOIN last l ON b.c_custkey = l.custkey
      WHERE l.op IS NULL OR l.op = 'U'
    )
    SELECT 'generational' AS phase, custkey, name, bal, seg FROM state
    UNION ALL
    SELECT 'compacted' AS phase, custkey, name, bal, seg FROM state
    """,
)
def cdc_log_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LOGGED CDC state store end-to-end (streaming/cdc.py::
    apply_cdc_log_batch over log_store.py, r13 VERDICT #2 — a
    delta-sized write instead of a snapshot rewrite per epoch): the
    cdc_upsert changelog (events keyed into customer's key space,
    'error' rows as deletes, LWW on (ts, event_id)) is split into
    THREE epochs by thirds of its timestamp span and applied to a
    stored customer snapshot as parquet GENERATIONS — each epoch lands
    only its per-key LWW survivors ('U' images as rows, 'D' keys as
    tombstones), never reading or rewriting the snapshot. Because the
    epochs partition the log in seq order, newest-generation-wins over
    per-epoch LWW survivors IS global LWW, so the oracle is the full
    single-pass changelog replay (exactly cdc_upsert's oracle, which
    makes it split-arithmetic-independent), hash-checked against BOTH
    read paths: the GENERATIONAL merge (base + 3 generations,
    broadcast-anti exit for base rows) and the post-COMPACTION base
    (staged atomic fold). Cross-epoch re-create-after-delete and
    same-epoch multi-image LWW conflicts occur throughout the key
    space (1800 keys x ~events/key images). Epoch replay idempotence
    and crash healing are pinned by tests/test_streaming_cdc.py; the
    reference's loader stops at insert-if-absent / delete+insert
    (`/root/reference/src/data_processor/loader.py:57-176`) — this is
    that loader's steady-state CDC upgrade with bounded per-epoch IO."""
    from .log_store import init_log_store
    from .streaming.cdc import apply_cdc_log_batch

    root = _fresh_logstore_root(sf_dir)

    def build():
        _fresh_logstore_root(sf_dir, "cdc_state", "cdc_state_compacted")
        ev = load_table(spark, sf_dir, "events")
        cust = load_table(spark, sf_dir, "customer")
        key = (F.col("user_id") * 12 + F.col("event_id") % 12) % 1800
        chg = ev.select(
            key.alias("custkey"),
            "ts",
            "event_id",
            F.when(F.col("event_type") == "error", "D")
            .otherwise("U")
            .alias("op"),
            F.concat(F.lit("cdc-"), key.cast("string")).alias("name"),
            F.col("value").alias("bal"),
            F.upper("event_type").alias("seg"),
        )
        base = cust.select(
            F.col("c_custkey").alias("custkey"),
            F.col("c_name").alias("name"),
            F.col("c_acctbal").alias("bal"),
            F.col("c_mktsegment").alias("seg"),
        )
        init_log_store(base, root, "cdc_state")
        # epoch boundaries: thirds of the log's ts span, computed once
        # on the driver — any seq-ordered split yields the same final
        # state (the oracle doesn't depend on it), ties stay within one
        # epoch.
        #
        # ONE events pass for all three epochs (r15, guide §2.6): the
        # changelog pins once (chg selects every events row, so its ts
        # span IS the events span — identical bounds), the per-epoch
        # LWW survivors come from a single (custkey, epoch) window over
        # the pin, and each apply receives its epoch's already-deduped
        # survivor slice — apply_cdc_log_batch's internal LWW keeps the
        # single image per key unchanged (LWW of LWW-survivors), so
        # every generation is bit-identical to the three-scan form
        # while the three corpus scans and three corpus-sized window
        # shuffles collapse into one of each.
        chg = chg.localCheckpoint(eager=True)
        t1, t2 = _epoch_bounds(chg)
        ep = (
            F.when(F.col("ts") <= F.lit(t1), 0)
            .when(F.col("ts") <= F.lit(t2), 1)
            .otherwise(2)
        )
        w_lww = Window.partitionBy("custkey", "_ep").orderBy(
            F.col("ts").desc(), F.col("event_id").desc()
        )
        survivors = (
            chg.withColumn("_ep", ep)
            .withColumn("_rn", F.row_number().over(w_lww))
            .where(F.col("_rn") == 1)
            .drop("_rn")
            .localCheckpoint(eager=True)
        )
        for e in (0, 1, 2):
            apply_cdc_log_batch(
                survivors.where(F.col("_ep") == e).drop("_ep"),
                root,
                "cdc_state",
                keys=["custkey"],
                seq_cols=["ts", "event_id"],
                auto_compact=False,
            )
        _compacted_copy(spark, root, "cdc_state", ["custkey"])

    # rebuilt on EVERY invocation (r15: no cross-run intermediates —
    # see cc_log_maintenance's note); the epoch-apply write path is
    # timed work each run
    build()
    return _phase_union(
        spark,
        root,
        "cdc_state",
        ["custkey"],
        ["custkey", "name", "bal", "seg"],
    )


def _loader_chg(ev):
    """The shared change feed of the S6/S7 logged-loader gates: events
    keyed into customer's key space (keys >= 1500 exercise the INSERT
    path), restricted to user_id % 5 == 0 so most base keys stay
    UNTOUCHED (the merge's base-anti path carries real weight)."""
    key = (F.col("user_id") * 12 + F.col("event_id") % 12) % 1800
    return ev.where(F.col("user_id") % 5 == 0).select(
        key.alias("k"),
        "ts",
        "event_id",
        F.concat(F.lit("dim-"), key.cast("string")).alias("name"),
        F.col("value").alias("bal"),
        F.upper("event_type").alias("seg"),
    )


def _epoch_bounds(ev):
    """Thirds of the ts span, computed once on the driver — the gates'
    oracles are split-arithmetic-independent, so any seq-ordered split
    yields the same final state; ties stay within one epoch."""
    lo, hi = ev.agg(F.min("ts"), F.max("ts")).first()
    return lo + (hi - lo) / 3, lo + 2 * (hi - lo) / 3


def _fresh_logstore_root(sf_dir: str, *names: str) -> str:
    import os
    import shutil

    root = os.path.join(
        "/tmp", "spark_graft_logstore", os.path.basename(os.path.normpath(sf_dir))
    )
    for n in names:
        shutil.rmtree(os.path.join(root, n), ignore_errors=True)
    return root


def _compacted_copy(spark, root: str, name: str, keys) -> None:
    """Build-time half of the two-phase contract: materialize
    ``<name>_compacted`` as a FOLDED filesystem copy of the store (the
    original keeps its generations for the generational phase — the
    cc_log_maintenance lazy-copy trick, run at build time so both
    phase reads stay lazy at query time). r16 (r15 VERDICT #2): the
    copytree+compact two-step collapsed into ONE staged write
    (log_store.fold_store_copy — the filesystem copy duplicated the
    corpus-sized base only for the compaction to re-read the copy);
    folded content bit-identical, one staged swap fewer."""
    from .log_store import fold_store_copy

    fold_store_copy(spark, root, name, keys)


def _phase_union(spark, root: str, name: str, keys, cols):
    """Read-time half: the generational merge and the post-compaction
    base, unioned under a phase discriminator — both LAZY, evaluated
    once at the consumer's action."""
    from .log_store import read_log_store

    gen = read_log_store(spark, root, name, keys)
    comp = read_log_store(spark, root, f"{name}_compacted", keys)
    return (
        gen.withColumn("phase", F.lit("generational"))
        .select("phase", *cols)
        .unionByName(
            comp.withColumn("phase", F.lit("compacted")).select("phase", *cols)
        )
    )


@query(
    "loader_log_dim",
    oracle="""
    WITH chg AS (
      SELECT (user_id * 12 + event_id % 12) % 1800 AS k, ts, event_id,
             'dim-' || CAST((user_id * 12 + event_id % 12) % 1800
                            AS VARCHAR) AS name,
             CAST(value AS DOUBLE) AS bal,
             upper(event_type) AS seg
      FROM events WHERE user_id % 5 = 0
    ), first_img AS (
      SELECT k, name, bal, seg FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY k
                                     ORDER BY ts ASC, event_id ASC) AS rn
        FROM chg) WHERE rn = 1
    ), state AS (
      SELECT c_custkey AS k, c_name AS name,
             CAST(c_acctbal AS DOUBLE) AS bal, c_mktsegment AS seg
      FROM customer
      UNION ALL
      SELECT f.k, f.name, f.bal, f.seg FROM first_img f
      WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = f.k)
    )
    SELECT 'generational' AS phase, k, name, bal, seg FROM state
    UNION ALL
    SELECT 'compacted' AS phase, k, name, bal, seg FROM state
    """,
)
def loader_log_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6's LOGGED loader end-to-end (io.merge_insert_missing_logged,
    r14 VERDICT #1 — the reference's dimension-MERGE write strategy,
    `/root/reference/src/data_processor/loader.py:57-104`, freed of its
    per-batch table-sized rewrite): a stored customer dimension absorbs
    THREE seq-ordered epochs of insert-if-absent batches as parquet
    GENERATIONS — each epoch collapses to its FIRST image per key
    (insert-if-absent's natural streaming semantic, which makes the
    final state split-arithmetic-independent: a key's earliest epoch's
    first image IS its global first image), anti-joins the store's key
    projection map-side (broadcast semi + anti, no corpus shuffle), and
    appends ONLY the survivors — existing keys are never updated and
    never rewritten. Hash-checked against the pure-SQL first-image
    replay on BOTH read paths: the generational merge and the
    post-compaction base."""
    from .io import merge_insert_missing_logged
    from .log_store import init_log_store

    root = _fresh_logstore_root(sf_dir)

    def build():
        _fresh_logstore_root(sf_dir, "loader_dim", "loader_dim_compacted")
        ev = load_table(spark, sf_dir, "events")
        cust = load_table(spark, sf_dir, "customer")
        chg = _loader_chg(ev)
        base = cust.select(
            F.col("c_custkey").alias("k"),
            F.col("c_name").alias("name"),
            F.col("c_acctbal").cast("double").alias("bal"),
            F.col("c_mktsegment").alias("seg"),
        )
        init_log_store(base, root, "loader_dim")
        # ONE events pass for all three epochs (r15, guide §2.6): the
        # change feed pins once, the epoch boundaries come from ITS ts
        # span (a ts-boundary split like the events-span thirds, and
        # the gate's final state is split-arithmetic-independent — a
        # key's earliest epoch's first image IS its global first image,
        # which is what the oracle replays), and the per-epoch first
        # images come from a single (k, epoch) window over the pin —
        # three corpus scans + three window shuffles collapse into one
        # of each, with each merge consuming a slice of the
        # delta-bounded pinned result.
        chg = chg.localCheckpoint(eager=True)
        t1, t2 = _epoch_bounds(chg)
        ep = (
            F.when(F.col("ts") <= F.lit(t1), 0)
            .when(F.col("ts") <= F.lit(t2), 1)
            .otherwise(2)
        )
        w = Window.partitionBy("k", "_ep").orderBy(
            F.col("ts").asc(), F.col("event_id").asc()
        )
        first_all = (
            chg.withColumn("_ep", ep)
            .withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .select(
                "_ep", "k", "name",
                F.col("bal").cast("double").alias("bal"), "seg",
            )
            .localCheckpoint(eager=True)
        )
        for e in (0, 1, 2):
            merge_insert_missing_logged(
                spark,
                first_all.where(F.col("_ep") == e).drop("_ep"),
                root,
                "loader_dim",
                ["k"],
                auto_compact=False,
            )
        _compacted_copy(spark, root, "loader_dim", ["k"])

    build()  # rebuilt per invocation (r15: no cross-run intermediates)
    return _phase_union(
        spark, root, "loader_dim", ["k"], ["k", "name", "bal", "seg"]
    )


@query(
    "loader_log_bridge",
    oracle="""
    WITH ev AS (
      SELECT (user_id * 12 + event_id % 12) % 1800 AS k,
             event_id AS item, CAST(value AS DOUBLE) AS qty
      FROM events WHERE user_id % 5 = 0
    ), state AS (
      SELECT o.o_custkey AS k, o.o_orderkey AS item,
             CAST(o.o_totalprice AS DOUBLE) AS qty
      FROM orders o
      WHERE NOT EXISTS (SELECT 1 FROM ev WHERE ev.k = o.o_custkey)
      UNION ALL
      SELECT k, item, qty FROM ev
    )
    SELECT 'generational' AS phase, k, item, qty FROM state
    UNION ALL
    SELECT 'compacted' AS phase, k, item, qty FROM state
    """,
)
def loader_log_bridge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S7's LOGGED loader end-to-end (io.delete_insert_logged, r14
    VERDICT #1 — the reference's bridge/detail refresh,
    `/root/reference/src/data_processor/loader.py:106-176`, freed of
    its per-batch table-sized rewrite): a stored orders-derived bridge
    absorbs THREE seq-ordered refresh epochs as bare generation
    appends — each epoch re-materializes the FULL current row set of
    every key it touches (exactly the reference's refresh shape: delete
    the refreshed game_ids' rows, insert their new detail rows), and
    the store's replace-by-key merge IS delete+insert, so no
    tombstones, no stored reads, no rewrites. Because each epoch
    carries a touched key's cumulative rows, the final state is
    split-arithmetic-independent — every touched key ends with ALL its
    change rows — so the oracle is pure SQL over the full feed,
    hash-checked on BOTH read paths (generational merge and
    post-compaction base)."""
    from .io import delete_insert_logged
    from .log_store import init_log_store

    root = _fresh_logstore_root(sf_dir)

    def build():
        _fresh_logstore_root(sf_dir, "loader_brg", "loader_brg_compacted")
        ev = load_table(spark, sf_dir, "events")
        orders = load_table(spark, sf_dir, "orders")
        chg = _loader_chg(ev).select(
            "k",
            "ts",
            F.col("event_id").alias("item"),
            F.col("bal").cast("double").alias("qty"),
        )
        base = orders.select(
            F.col("o_custkey").alias("k"),
            F.col("o_orderkey").alias("item"),
            F.col("o_totalprice").cast("double").alias("qty"),
        )
        init_log_store(base, root, "loader_brg")
        # ONE events pass for all three epochs (r15, guide §2.6): the
        # change feed pins once and the epoch boundaries come from ITS
        # ts span (a ts-boundary split like the events-span thirds;
        # the gate's final state is split-arithmetic-independent —
        # every touched key ends with ALL its change rows, which is
        # what the oracle replays). Each epoch's touched-key probe and
        # cumulative replacement read the pin instead of re-scanning
        # and re-deriving the feed from parquet (six corpus scans
        # collapse into one).
        chg = chg.localCheckpoint(eager=True)
        t1, t2 = _epoch_bounds(chg)
        for prev, upto in [(None, t1), (t1, t2), (t2, None)]:
            in_epoch = F.lit(True)
            if prev is not None:
                in_epoch = F.col("ts") > F.lit(prev)
            if upto is not None:
                in_epoch = in_epoch & (F.col("ts") <= F.lit(upto))
            touched = chg.where(in_epoch).select("k").distinct()
            upper = F.lit(True) if upto is None else F.col("ts") <= F.lit(upto)
            replacement = (
                chg.where(upper)
                .join(F.broadcast(touched), "k", "left_semi")
                .select("k", "item", "qty")
            )
            delete_insert_logged(
                spark, replacement, root, "loader_brg", ["k"], auto_compact=False
            )
        _compacted_copy(spark, root, "loader_brg", ["k"])

    build()  # rebuilt per invocation (r15: no cross-run intermediates)
    return _phase_union(spark, root, "loader_brg", ["k"], ["k", "item", "qty"])


@query(
    "mv_log_refresh",
    oracle="""
    WITH state AS (
      SELECT o_custkey AS k,
             round(CAST(sum(o_totalprice) AS DOUBLE), 2) AS total,
             count(*) AS n
      FROM orders GROUP BY o_custkey
    )
    SELECT 'generational' AS phase, k, total, n FROM state
    UNION ALL
    SELECT 'compacted' AS phase, k, total, n FROM state
    """,
)
def mv_log_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LOGGED additive-MV maintainer end-to-end
    (io.refresh_additive_mv_logged — the delta-sized-IO answer to the
    snapshot MV wrapper's full rewrite, completing the family the
    loader gates started this round): a per-customer revenue MV
    (SUM(o_totalprice) DECIMAL-exact + COUNT) absorbs THREE seq-ordered
    refresh epochs (orders split by o_orderdate thirds) — each epoch
    merges its delta aggregates with the stored partials of the
    TOUCHED keys only (broadcast-semi point-read, map-side) and lands
    the merged partials as one replace-by-key generation. Decimal
    addition is associative, so the final state is split-arithmetic-
    independent and the oracle is the plain full aggregate,
    hash-checked on BOTH read paths (generational merge and
    post-compaction base). Extends the reference's I1 incremental
    pattern (high-watermark MERGE, streaming/incremental.py) to
    pre-aggregated state with bounded per-epoch IO."""
    from .io import refresh_additive_mv_logged

    root = _fresh_logstore_root(sf_dir)

    def build():
        _fresh_logstore_root(sf_dir, "mv_state", "mv_state_compacted")
        orders = load_table(spark, sf_dir, "orders")
        lo, hi = orders.agg(
            F.min("o_orderdate"), F.max("o_orderdate")
        ).first()
        t1 = lo + (hi - lo) / 3
        t2 = lo + 2 * (hi - lo) / 3

        # ONE orders pass for all three epoch deltas (r15, guide §2.6):
        # grouping by (k, epoch) and slicing the pinned result is
        # algebraically the per-epoch-slice groupBy(k) — decimal sums
        # are exact either way — so the three corpus scans + three
        # aggregate shuffles collapse into one of each, and each
        # refresh's touched-key probe + merged-partials write consume
        # the delta-bounded pin instead of re-aggregating orders.
        ep = (
            F.when(F.col("o_orderdate") <= F.lit(t1), 0)
            .when(F.col("o_orderdate") <= F.lit(t2), 1)
            .otherwise(2)
        )
        all_agg = (
            orders.groupBy(F.col("o_custkey").alias("k"), ep.alias("_ep"))
            .agg(
                F.sum(_dec("o_totalprice")).alias("total"),
                F.count(F.lit(1)).alias("n"),
            )
            .localCheckpoint(eager=True)
        )
        for e in (0, 1, 2):
            refresh_additive_mv_logged(
                spark,
                all_agg.where(F.col("_ep") == e).drop("_ep"),
                root, "mv_state", ["k"], ["total"],
                count_cols=["n"], auto_compact=False,
            )
        _compacted_copy(spark, root, "mv_state", ["k"])

    build()  # rebuilt per invocation (r15: no cross-run intermediates)
    return _phase_union(
        spark,
        root,
        "mv_state",
        ["k"],
        [
            F.col("k"),
            F.round(F.col("total").cast("double"), 2).alias("total"),
            F.col("n"),
        ],
    )


@query(
    "gapfill_interpolate",
    oracle="""
    WITH e AS (
      SELECT user_id, ts, event_id, value FROM events WHERE user_id < 40
    ), span AS (
      SELECT date_trunc('hour', min(ts)) AS h0,
             date_trunc('hour', max(ts)) AS h1
      FROM events
    ), users AS (
      SELECT DISTINCT user_id FROM e
    ), grid AS (
      SELECT user_id, unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h
      FROM users CROSS JOIN span
    ), known AS (
      SELECT user_id, h, value AS v FROM (
        SELECT user_id, date_trunc('hour', ts) AS h, value,
               ROW_NUMBER() OVER (PARTITION BY user_id, date_trunc('hour', ts)
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM e) WHERE rn = 1
    ), g AS (
      SELECT grid.user_id, grid.h, known.v,
             last_value(known.v IGNORE NULLS) OVER (
               PARTITION BY grid.user_id ORDER BY grid.h
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
             last_value(CASE WHEN known.v IS NOT NULL THEN grid.h END
                        IGNORE NULLS) OVER (
               PARTITION BY grid.user_id ORDER BY grid.h
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ph,
             first_value(known.v IGNORE NULLS) OVER (
               PARTITION BY grid.user_id ORDER BY grid.h
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
             first_value(CASE WHEN known.v IS NOT NULL THEN grid.h END
                         IGNORE NULLS) OVER (
               PARTITION BY grid.user_id ORDER BY grid.h
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nh
      FROM grid LEFT JOIN known
        ON grid.user_id = known.user_id AND grid.h = known.h
    )
    SELECT user_id, h,
           CASE WHEN v IS NOT NULL THEN 'actual'
                WHEN pv IS NULL THEN 'bfill'
                WHEN nv IS NULL THEN 'ffill'
                ELSE 'interp' END AS fill_kind,
           CASE WHEN v IS NOT NULL THEN v
                WHEN pv IS NULL THEN nv
                WHEN nv IS NULL THEN pv
                ELSE pv + (nv - pv) *
                     (CAST(date_diff('hour', ph, h) AS DOUBLE)
                      / CAST(date_diff('hour', ph, nh) AS DOUBLE))
           END AS val
    FROM g
    """,
)
def gapfill_interpolate_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable gap-fill: resample each entity's event stream onto a
    bounded hourly grid (TimescaleDB ``time_bucket_gapfill`` +
    ``interpolate``/``locf`` semantics) — per grid hour emit the actual
    last-writer value, a linear interpolation between the neighboring
    knowns, or a forward/backward fill at the edges. Extends the
    reference's hourly rollup family (hourly_event_rollup, SURVEY
    §2 A-patterns) from 'aggregate what exists' to 'materialize what's
    missing'. Plan shape: one agg for the LWW hour values, a
    per-entity grid explode (grid size is span-bounded, independent of
    event count), a co-partitioned left join, and ONE sort per entity
    reused by all four ignore-nulls frame walks — no self-joins, no
    data-sized windows beyond the entity's own grid."""
    ev = (
        load_table(spark, sf_dir, "events")
        .where(F.col("user_id") < 40)
        .select("user_id", "ts", "event_id", "value")
    )
    span = load_table(spark, sf_dir, "events").agg(
        F.date_trunc("hour", F.min("ts")).alias("h0"),
        F.date_trunc("hour", F.max("ts")).alias("h1"),
    )
    users = ev.select("user_id").distinct()
    grid = users.crossJoin(F.broadcast(span)).select(
        "user_id",
        F.explode(
            F.sequence("h0", "h1", F.expr("interval 1 hour"))
        ).alias("h"),
    )
    w_hour = Window.partitionBy(
        "user_id", F.date_trunc("hour", F.col("ts"))
    ).orderBy(F.col("ts").desc(), F.col("event_id").desc())
    known = (
        ev.withColumn("rn", F.row_number().over(w_hour))
        .where(F.col("rn") == 1)
        .select(
            "user_id",
            F.date_trunc("hour", F.col("ts")).alias("h"),
            F.col("value").alias("v"),
        )
    )
    g = grid.join(known, on=["user_id", "h"], how="left")
    wp = (
        Window.partitionBy("user_id")
        .orderBy("h")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wn = (
        Window.partitionBy("user_id")
        .orderBy("h")
        .rowsBetween(0, Window.unboundedFollowing)
    )
    known_h = F.when(F.col("v").isNotNull(), F.col("h"))
    g = g.select(
        "user_id",
        "h",
        "v",
        F.last("v", ignorenulls=True).over(wp).alias("pv"),
        F.last(known_h, ignorenulls=True).over(wp).alias("ph"),
        F.first("v", ignorenulls=True).over(wn).alias("nv"),
        F.first(known_h, ignorenulls=True).over(wn).alias("nh"),
    )
    hours = lambda a, b: (
        (F.col(b).cast("long") - F.col(a).cast("long")) / 3600
    ).cast("long")
    # no rounding: both engines run the SAME IEEE double ops in the
    # same association, so the interpolated bits match exactly; rounding
    # would INTRODUCE divergence (the fixture values are exact binary
    # decimals, and x.xxxx5 ties split half-up vs half-even).
    interp = F.col("pv") + (F.col("nv") - F.col("pv")) * (
        hours("ph", "h").cast("double") / hours("ph", "nh").cast("double")
    )
    return g.select(
        "user_id",
        "h",
        F.when(F.col("v").isNotNull(), "actual")
        .when(F.col("pv").isNull(), "bfill")
        .when(F.col("nv").isNull(), "ffill")
        .otherwise("interp")
        .alias("fill_kind"),
        F.when(F.col("v").isNotNull(), F.col("v"))
        .when(F.col("pv").isNull(), F.col("nv"))
        .when(F.col("nv").isNull(), F.col("pv"))
        .otherwise(interp)
        .alias("val"),
    )


@query(
    "equidepth_histogram",
    oracle="""
    WITH edges AS (
      SELECT quantile_cont(o_totalprice, 0.1) AS e1,
             quantile_cont(o_totalprice, 0.2) AS e2,
             quantile_cont(o_totalprice, 0.3) AS e3,
             quantile_cont(o_totalprice, 0.4) AS e4,
             quantile_cont(o_totalprice, 0.5) AS e5,
             quantile_cont(o_totalprice, 0.6) AS e6,
             quantile_cont(o_totalprice, 0.7) AS e7,
             quantile_cont(o_totalprice, 0.8) AS e8,
             quantile_cont(o_totalprice, 0.9) AS e9
      FROM orders
    ), binned AS (
      SELECT o_totalprice AS v,
             CAST(1 + CAST(o_totalprice > e1 AS INT)
                    + CAST(o_totalprice > e2 AS INT)
                    + CAST(o_totalprice > e3 AS INT)
                    + CAST(o_totalprice > e4 AS INT)
                    + CAST(o_totalprice > e5 AS INT)
                    + CAST(o_totalprice > e6 AS INT)
                    + CAST(o_totalprice > e7 AS INT)
                    + CAST(o_totalprice > e8 AS INT)
                    + CAST(o_totalprice > e9 AS INT) AS BIGINT) AS bin
      FROM orders CROSS JOIN edges
    )
    SELECT bin,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(DISTINCT v) AS BIGINT) AS ndv,
           min(v) AS lo,
           max(v) AS hi
    FROM binned GROUP BY bin
    """,
)
def equidepth_histogram_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Optimizer-grade column statistics: an exact 10-bucket EQUI-DEPTH
    histogram (per-bin row count, NDV, value range) over
    orders.o_totalprice — the ANALYZE-stats shape CBOs and data
    profilers collect. Deliberately NOT the ntile formulation: ntile
    needs a GLOBAL sort of the column. Here the nine bin edges come
    from one exact-percentile aggregate (bit-identical to DuckDB
    quantile_cont, proven by value_percentiles), broadcast as a single
    row, and bin assignment is nine unrolled scan-side comparisons —
    whole-stage codegen, then ONE hash aggregate on the 10-value bin
    key. At 100 TB swap the edge pass for percentile_approx and the
    plan is two scans, zero sorts."""
    orders = load_table(spark, sf_dir, "orders")
    # ONE array-form percentile — a single value-counts buffer serves
    # all nine cut points. Nine separate percentile() expressions each
    # build their own NDV-sized map (measured 9x slower at sf0.1).
    qlist = ",".join(str(q / 10) for q in range(1, 10))
    edges = orders.agg(
        F.expr(f"percentile(o_totalprice, array({qlist}))").alias("es")
    ).select(
        *[F.col("es").getItem(q - 1).alias(f"e{q}") for q in range(1, 10)]
    )
    bin_col = F.lit(1)
    for q in range(1, 10):
        bin_col = bin_col + (
            F.col("o_totalprice") > F.col(f"e{q}")
        ).cast("int")
    binned = (
        orders.select(F.col("o_totalprice").alias("v"), "o_totalprice")
        .crossJoin(F.broadcast(edges))
        .select("v", bin_col.cast("long").alias("bin"))
    )
    return binned.groupBy("bin").agg(
        F.count("*").alias("n_rows"),
        F.count_distinct("v").alias("ndv"),
        F.min("v").alias("lo"),
        F.max("v").alias("hi"),
    )


@query(
    "entity_resolution",
    oracle="""
    WITH RECURSIVE p AS (
      SELECT p_partkey AS k, p_name AS n,
             string_split(p_name, ' ')[1] AS blk
      FROM part
    ), names AS (
      SELECT blk, n, min(k) AS node FROM p GROUP BY 1, 2
    ), e0 AS (
      SELECT a.node AS a, b.node AS b
      FROM names a JOIN names b
        ON a.blk = b.blk AND a.node < b.node
       AND levenshtein(a.n, b.n) <= 4
    ), edges AS (
      SELECT a, b FROM e0 UNION SELECT b, a FROM e0
    ), walk(node, label) AS (
      SELECT a, a FROM edges
      UNION
      SELECT e.b, w.label FROM walk w JOIN edges e ON e.a = w.node
    ), comp AS (
      SELECT node, min(label) AS canonical FROM walk GROUP BY node
    ), nc AS (
      SELECT names.blk, names.n,
             coalesce(c.canonical, names.node) AS cluster
      FROM names LEFT JOIN comp c ON c.node = names.node
    ), parts AS (
      SELECT p.k, nc.cluster
      FROM p JOIN nc ON p.blk = nc.blk AND p.n = nc.n
    ), canon AS (
      SELECT node AS cluster, n AS canonical_name FROM names
    ), sized AS (
      SELECT cluster, CAST(count(*) AS BIGINT) AS cluster_size
      FROM parts GROUP BY 1
    )
    SELECT parts.k AS p_partkey, parts.cluster AS cluster_id,
           canonical_name, cluster_size,
           parts.k = parts.cluster AS is_canonical
    FROM parts JOIN canon USING (cluster) JOIN sized USING (cluster)
    """,
)
def entity_resolution_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end entity resolution: blocked fuzzy matching (the
    fuzzy_match_parts family) promoted from best-pair to CLUSTERS —
    name-level match edges (Levenshtein <= 4 within the first-token
    block) feed hash-min connected components, then a survivorship rule
    assigns every part its cluster's canonical record (global min part
    key) and canonical name. The record-linkage composition every
    master-data pipeline runs: match -> cluster -> golden record.

    Scale shape: ALL quadratic work (the edit-distance self-join) runs
    on DISTINCT names — vocabulary-bounded, never row-bounded; the
    component graph's nodes are name representatives (min part key per
    name), so CC state is vocabulary-sized too; parts join back by
    exact name equi-join. Same distinct-name trick the fuzzy_match
    gate measured at 30x vs the naive row-pair join."""
    from .operators.components import connected_components

    p = load_table(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("k"),
        F.col("p_name").alias("n"),
        F.split(F.col("p_name"), " ").getItem(0).alias("blk"),
    )
    names = p.groupBy("blk", "n").agg(F.min("k").alias("node"))
    ne = (
        names.alias("a")
        .join(names.alias("b"), "blk")
        .where(
            (F.col("a.node") < F.col("b.node"))
            & (F.levenshtein(F.col("a.n"), F.col("b.n")) <= 4)
        )
        .select(F.col("a.node").alias("a"), F.col("b.node").alias("b"))
    )
    comp = connected_components(ne, "a", "b", canonical_edges=True)
    nc = (
        names.join(comp, names["node"] == comp["node"], "left")
        .select(
            "blk",
            "n",
            F.coalesce(comp["canonical"], names["node"]).alias("cluster"),
        )
    )
    parts = p.join(nc, ["blk", "n"]).select("k", "cluster")
    canon = names.select(
        F.col("node").alias("cluster"), F.col("n").alias("canonical_name")
    )
    sized = parts.groupBy("cluster").agg(
        F.count("*").alias("cluster_size")
    )
    return (
        parts.join(canon, "cluster")
        .join(sized, "cluster")
        .select(
            F.col("k").alias("p_partkey"),
            F.col("cluster").alias("cluster_id"),
            "canonical_name",
            "cluster_size",
            (F.col("k") == F.col("cluster")).alias("is_canonical"),
        )
    )


@query(
    "sliding_window_distinct",
    oracle="""
    WITH act AS (
      SELECT DISTINCT user_id, date_trunc('day', ts) AS day FROM events
    ), span AS (
      SELECT min(day) AS d0, max(day) AS d1 FROM act
    ), cal AS (
      SELECT unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS wday
      FROM span
    ), n7 AS (
      SELECT c.wday, CAST(count(DISTINCT a.user_id) AS BIGINT) AS n_users_7d
      FROM cal c JOIN act a
        ON a.day BETWEEN c.wday - INTERVAL 6 DAY AND c.wday
      GROUP BY 1
    ), n1 AS (
      SELECT day AS wday, CAST(count(*) AS BIGINT) AS n_users_1d
      FROM act GROUP BY 1
    )
    SELECT cal.wday AS window_end,
           COALESCE(n7.n_users_7d, 0) AS n_users_7d,
           COALESCE(n1.n_users_1d, 0) AS n_users_1d
    FROM cal LEFT JOIN n7 ON cal.wday = n7.wday
             LEFT JOIN n1 ON cal.wday = n1.wday
    """,
)
def sliding_window_distinct_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 7-day DISTINCT-user counts per calendar day — the
    rolling-MAU/WAU shape. Spark window functions cannot do
    COUNT(DISTINCT) over a frame at all, and the naive formulation (the
    oracle: calendar x activity range join + distinct per window) does
    7x duplicated distinct work INSIDE a shuffle whose width is
    windows x users. The scalable rewrite: distinct (user, day) pairs
    once, then each pair votes into the <= 7 window-ends it can affect
    via a bounded explode, then ONE distinct + count — expansion factor
    is exactly the window length, the dedup happens map-side-combinable
    on (user, window_end), and no per-window state ever materializes.
    Gated hash-equal against the naive range-join oracle."""
    ev = load_table(spark, sf_dir, "events")
    act = ev.select(
        "user_id", F.date_trunc("day", F.col("ts")).alias("day")
    ).distinct()
    span = act.agg(
        F.min("day").alias("d0"), F.max("day").alias("d1")
    )
    cal = span.select(
        F.explode(
            F.sequence("d0", "d1", F.expr("interval 1 day"))
        ).alias("window_end")
    )
    votes = (
        act.crossJoin(F.broadcast(span.select("d1")))
        .select(
            "user_id",
            F.explode(
                F.sequence(F.lit(0), F.lit(6))
            ).alias("i"),
            "day",
            "d1",
        )
        .select(
            "user_id",
            F.expr("timestampadd(DAY, i, day)").alias("window_end"),
            "d1",
        )
        .where(F.col("window_end") <= F.col("d1"))
        .select("user_id", "window_end")
        .distinct()
    )
    n7 = votes.groupBy("window_end").agg(
        F.count("*").alias("n_users_7d")
    )
    n1 = act.groupBy(F.col("day").alias("window_end")).agg(
        F.count("*").alias("n_users_1d")
    )
    return (
        cal.join(n7, "window_end", "left")
        .join(n1, "window_end", "left")
        .select(
            "window_end",
            F.coalesce("n_users_7d", F.lit(0)).alias("n_users_7d"),
            F.coalesce("n_users_1d", F.lit(0)).alias("n_users_1d"),
        )
    )


@query(
    "winsorize_robust",
    oracle="""
    WITH s AS (
      SELECT quantile_cont(o_totalprice, 0.01) AS p01,
             quantile_cont(o_totalprice, 0.25) AS p25,
             quantile_cont(o_totalprice, 0.50) AS p50,
             quantile_cont(o_totalprice, 0.75) AS p75,
             quantile_cont(o_totalprice, 0.99) AS p99
      FROM orders
    )
    SELECT o_orderkey,
           o_totalprice AS v,
           least(greatest(o_totalprice, p01), p99) AS clipped,
           (least(greatest(o_totalprice, p01), p99) - p50) / (p75 - p25)
             AS robust_z,
           (o_totalprice < p01 OR o_totalprice > p99) AS is_clipped
    FROM orders CROSS JOIN s
    """,
)
def winsorize_robust_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature normalization for training pipelines: winsorize a value
    column at the 1st/99th percentiles and robust z-score it against
    median/IQR — the outlier-insensitive scaling step (scikit-learn
    RobustScaler semantics) that runs before a value feeds a model.
    All five cut points ride ONE array-percentile aggregate (single
    value-counts buffer), broadcast as a scalar row; the clip is pure
    min/max comparisons and the z arithmetic is identical-association
    IEEE on both engines, so the full row set hash-gates with no
    rounding anywhere. One aggregate + one scan; swap the edge pass to
    percentile_approx at 100 TB like equidepth_histogram."""
    orders = load_table(spark, sf_dir, "orders")
    s = orders.agg(
        F.expr(
            "percentile(o_totalprice, array(0.01,0.25,0.5,0.75,0.99))"
        ).alias("ps")
    ).select(
        F.col("ps").getItem(0).alias("p01"),
        F.col("ps").getItem(1).alias("p25"),
        F.col("ps").getItem(2).alias("p50"),
        F.col("ps").getItem(3).alias("p75"),
        F.col("ps").getItem(4).alias("p99"),
    )
    clipped = F.least(
        F.greatest(F.col("o_totalprice"), F.col("p01")), F.col("p99")
    )
    return (
        orders.select("o_orderkey", "o_totalprice")
        .crossJoin(F.broadcast(s))
        .select(
            "o_orderkey",
            F.col("o_totalprice").alias("v"),
            clipped.alias("clipped"),
            ((clipped - F.col("p50")) / (F.col("p75") - F.col("p25"))).alias(
                "robust_z"
            ),
            (
                (F.col("o_totalprice") < F.col("p01"))
                | (F.col("o_totalprice") > F.col("p99"))
            ).alias("is_clipped"),
        )
    )


@query(
    "mv_incremental_refresh",
    oracle="""
    SELECT c.c_mktsegment AS seg,
           date_trunc('month', o.o_orderdate) AS month,
           CAST(count(*) AS BIGINT) AS n_orders,
           round(CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,2)))
                      AS DOUBLE), 2) AS revenue
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY 1, 2
    """,
)
def mv_incremental_refresh_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view maintenance: the stored MV (monthly
    revenue per market segment) absorbs a new batch of orders WITHOUT
    re-scanning the base table — delta rows aggregate to the MV grain
    and merge into prior state by exact decimal addition
    (operators/merge.py::refresh_additive_mv). The oracle is the FULL
    RECOMPUTE over all orders: the defining correctness statement of
    incremental view maintenance, hash-gated. Here the 'stored' prior
    state is built from the pre-cutoff partition (in production it IS
    the MV table — the build is fixture setup, not refresh cost); the
    refresh path touches delta rows + MV-sized state only. The
    BigQuery-MV / dbt-incremental pattern the reference's I1
    high-watermark tables approximate with delta ROWS, completed for
    pre-aggregated state."""
    from .operators.merge import refresh_additive_mv

    cutoff = F.lit("2000-01-01").cast("timestamp")
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    orders = load_table(spark, sf_dir, "orders")

    def mv_agg(df: DataFrame) -> DataFrame:
        return (
            df.join(F.broadcast(cust), df["o_custkey"] == cust["c_custkey"])
            .groupBy(
                F.col("c_mktsegment").alias("seg"),
                F.date_trunc("month", F.col("o_orderdate")).alias("month"),
            )
            .agg(
                F.count("*").alias("n_orders"),
                F.sum(_dec("o_totalprice")).alias("rev_exact"),
            )
        )

    prior_mv = mv_agg(orders.where(F.col("o_orderdate") < cutoff))
    delta_agg = mv_agg(orders.where(F.col("o_orderdate") >= cutoff))
    merged = refresh_additive_mv(
        prior_mv, delta_agg, keys=["seg", "month"],
        sum_cols=["n_orders", "rev_exact"],
    )
    return merged.select(
        "seg",
        "month",
        F.col("n_orders").cast("long").alias("n_orders"),
        F.round(F.col("rev_exact").cast("double"), 2).alias("revenue"),
    )




def _dense_daily_series(
    ev: DataFrame, key_col: str, scoped: DataFrame, *, out_col: str
) -> DataFrame:
    """(key, out_col): per-key CALENDAR-DENSE daily count series as a
    sorted (day, y) array — the shared scaffold of the smoothing
    family (holt_trend_forecast, holt_winters_seasonal). ``scoped`` is
    the (possibly filtered) event frame whose keys get series; the
    calendar span always comes from ALL of ``ev`` so every series has
    the same length. Missing days densify to y = 0; counts cast to
    DOUBLE exactly."""
    act = scoped.groupBy(
        key_col, F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(F.count("*").alias("y"))
    span = ev.agg(
        F.date_trunc("day", F.min("ts")).alias("d0"),
        F.date_trunc("day", F.max("ts")).alias("d1"),
    )
    cal = span.select(
        F.explode(F.sequence("d0", "d1", F.expr("interval 1 day"))).alias(
            "day"
        )
    )
    keys = act.select(key_col).distinct()
    daily = (
        keys.crossJoin(F.broadcast(cal))
        .join(act, [key_col, "day"], "left")
        .select(
            key_col,
            "day",
            F.coalesce(F.col("y"), F.lit(0)).cast("double").alias("y"),
        )
    )
    return daily.groupBy(key_col).agg(
        F.array_sort(F.collect_list(F.struct("day", "y"))).alias(out_col)
    )


@query(
    "holt_trend_forecast",
    oracle="""
    WITH RECURSIVE act AS (
      SELECT user_id, date_trunc('day', ts) AS day,
             CAST(count(*) AS BIGINT) AS y
      FROM events WHERE user_id < 30 GROUP BY 1, 2
    ), span AS (
      SELECT min(day) AS d0, max(day) AS d1
      FROM (SELECT date_trunc('day', ts) AS day FROM events)
    ), cal AS (
      SELECT unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS day
      FROM span
    ), users AS (
      SELECT DISTINCT user_id FROM act
    ), daily AS (
      SELECT u.user_id,
             ROW_NUMBER() OVER (PARTITION BY u.user_id
                                ORDER BY c.day) AS rn,
             CAST(COALESCE(a.y, 0) AS DOUBLE) AS y
      FROM users u CROSS JOIN cal c
      LEFT JOIN act a ON a.user_id = u.user_id AND a.day = c.day
    ), n AS (
      SELECT CAST(max(rn) AS BIGINT) AS last_rn FROM daily
    ), hw AS (
      SELECT user_id, rn, y AS l, CAST(0.0 AS DOUBLE) AS b
      FROM daily WHERE rn = 1
      UNION ALL
      SELECT d.user_id, d.rn,
             0.5 * d.y + 0.5 * (h.l + h.b),
             0.5 * ((0.5 * d.y + 0.5 * (h.l + h.b)) - h.l) + 0.5 * h.b
      FROM hw h JOIN daily d
        ON d.user_id = h.user_id AND d.rn = h.rn + 1
    )
    SELECT h.user_id, h.l AS level, h.b AS trend,
           h.l + 7 * h.b AS forecast_7d
    FROM hw h CROSS JOIN n WHERE h.rn = n.last_rn
    """,
)
def holt_trend_forecast_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-entity time-series forecasting: Holt's linear-trend double
    exponential smoothing (alpha = beta = 0.5) over each user's dense
    daily event counts, emitting final level/trend and a 7-day-ahead
    forecast — the demand-planning aggregate a warehouse serves next to
    its rollups. The recurrence is inherently sequential in TIME but
    the series is CALENDAR-bounded (span days, independent of event
    count), so each entity folds its own array: one groupBy to daily
    counts, one calendar densification, then a Catalyst
    ``aggregate()`` fold over the sorted (day, y) array — no
    per-step shuffles, no Python, state is two doubles per entity.
    Both engines run the recurrence with identical association
    (the oracle replays it as a recursive CTE), so the trajectory is
    bit-equal with no rounding."""
    ev = load_table(spark, sf_dir, "events")
    series = _dense_daily_series(
        ev, "user_id", ev.where(F.col("user_id") < 30), out_col="s"
    )
    # fold: acc = (l, b, i); first element seeds l = y, b = 0
    fold = F.aggregate(
        "s",
        F.struct(
            F.lit(0.0).alias("l"), F.lit(0.0).alias("b"),
            F.lit(0).alias("i"),
        ),
        lambda acc, x: F.when(
            acc["i"] == 0,
            F.struct(
                x["y"].alias("l"), F.lit(0.0).alias("b"),
                F.lit(1).alias("i"),
            ),
        ).otherwise(
            F.struct(
                (F.lit(0.5) * x["y"] + F.lit(0.5) * (acc["l"] + acc["b"]))
                .alias("l"),
                (
                    F.lit(0.5)
                    * (
                        (
                            F.lit(0.5) * x["y"]
                            + F.lit(0.5) * (acc["l"] + acc["b"])
                        )
                        - acc["l"]
                    )
                    + F.lit(0.5) * acc["b"]
                ).alias("b"),
                (acc["i"] + 1).alias("i"),
            )
        ),
    )
    return series.select(
        "user_id",
        fold["l"].alias("level"),
        fold["b"].alias("trend"),
        (fold["l"] + F.lit(7) * fold["b"]).alias("forecast_7d"),
    )


def _wordpiece_oracle(rounds: int, n_multi: int) -> str:
    """DuckDB replay of WordPiece vocab learning + greedy longest-match
    encoding: the piece vocabulary CTEs, then ``rounds`` unrolled greedy
    steps, each four piece-lookup joins + a longest-first CASE
    (operators/wordpiece.py semantics)."""
    steps = []
    for k in range(1, rounds + 1):
        joins = "\n        ".join(
            f"LEFT JOIN vocab v{length} ON length(v{length}.piece) = {length} "
            f"AND s.pos + {length} <= length(s.word) "
            f"AND v{length}.piece = substr(s.word, s.pos + 1, {length})"
            for length in (4, 3, 2, 1)
        )
        steps.append(
            f"""
    , s{k} AS (
      SELECT word, freq,
             CASE WHEN pos >= length(word) THEN pos
                  ELSE pos + plen END AS pos,
             CASE WHEN pos >= length(word) THEN toks
                  ELSE list_append(toks, pc) END AS toks
      FROM (
        SELECT s.word, s.freq, s.pos, s.toks,
               COALESCE(v4.piece, v3.piece, v2.piece, v1.piece) AS pc,
               CASE WHEN v4.piece IS NOT NULL THEN 4
                    WHEN v3.piece IS NOT NULL THEN 3
                    WHEN v2.piece IS NOT NULL THEN 2
                    ELSE 1 END AS plen
        FROM s{k - 1} s
        {joins}
      )
    )"""
        )
    return f"""
    WITH toks AS (
      SELECT unnest({_duck_tokens()}) AS tok FROM documents
    ), w AS (
      SELECT tok AS word, CAST(count(*) AS BIGINT) AS freq
      FROM toks GROUP BY 1
    ), subs AS (
      SELECT substr(word, CAST(s AS INT), CAST(l AS INT)) AS piece,
             CAST(sum(freq) AS BIGINT) AS cnt
      FROM w,
           unnest(generate_series(1, length(word))) AS a(s),
           unnest(generate_series(1, 4)) AS b(l)
      WHERE s + l - 1 <= length(word)
      GROUP BY 1
    ), vocab AS (
      SELECT piece, cnt FROM subs WHERE length(piece) = 1
      UNION ALL
      SELECT piece, cnt FROM (
        SELECT piece, cnt FROM subs WHERE length(piece) > 1
        ORDER BY cnt DESC, piece LIMIT {n_multi})
    ), s0 AS (
      SELECT word, freq, 0 AS pos, CAST([] AS VARCHAR[]) AS toks FROM w
    ){''.join(steps)}
    SELECT 'piece' AS kind, piece AS id,
           to_json([CAST(cnt AS VARCHAR)]) AS payload
    FROM vocab
    UNION ALL
    SELECT 'word' AS kind, word AS id, to_json(toks) AS payload
    FROM s{rounds}
    """


@query("wordpiece_encode", oracle=_wordpiece_oracle(8, 12))
def wordpiece_encode_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WordPiece-style tokenizer: learn a piece vocabulary (every
    character + the top-12 frequency-weighted multi-char substrings,
    so real words split into a mix of learned pieces and char
    fallbacks) and encode every distinct corpus word by greedy
    longest-match-first segmentation — the serving-side algorithm of
    WordPiece/SentencePiece vocabularies, completing the tokenizer
    family next to BPE merge-learning (bpe_learn_encode) and id
    encoding (vocab_encode). Union-discriminated output hash-gates the
    LEARNED VOCAB and EVERY word's segmentation against an
    8-unrolled-round SQL replay. All iteration runs on the
    distinct-word relation (vocabulary-bounded); each round is four
    parameter-bounded broadcast lookups."""
    from .functions.text import word_tokens
    from .operators.wordpiece import build_piece_vocab, wordpiece_encode

    docs = load_table(spark, sf_dir, "documents")
    words = (
        docs.select(F.explode(word_tokens(F.col("text"))).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("freq"))
    )
    # pinned: both union branches below descend from the vocab (pieces_out
    # directly, words_out through every encode round's lookups) and union
    # branches are not CSE'd — without the pin the vocab aggregation runs
    # twice (VERDICT r06 "What's wrong" #4). The vocab is
    # parameter-bounded (|charset| + n_multi rows), so the pin is free.
    vocab = build_piece_vocab(words, n_multi=12).localCheckpoint()
    enc = wordpiece_encode(words, vocab, rounds=8)
    pieces_out = vocab.select(
        F.lit("piece").alias("kind"),
        F.col("piece").alias("id"),
        F.to_json(F.array(F.col("cnt").cast("string"))).alias("payload"),
    )
    words_out = enc.select(
        F.lit("word").alias("kind"),
        F.col("word").alias("id"),
        F.to_json(F.col("toks")).alias("payload"),
    )
    return pieces_out.unionByName(words_out)


@query(
    "ann_recall_eval",
    oracle=f"""
    WITH q AS (
      SELECT * FROM embeddings WHERE vec_id < 50
    ), cent AS (
      SELECT vec_id AS cell, embedding AS cvec
      FROM embeddings ORDER BY vec_id LIMIT 16
    ), qcell AS (
      SELECT vec_id, embedding, cell FROM (
        SELECT q.vec_id, q.embedding, cent.cell,
               ROW_NUMBER() OVER (
                 PARTITION BY q.vec_id
                 ORDER BY {_DUCK_COS.format(a='q.embedding', b='cent.cvec')}
                   DESC, cent.cell ASC) AS rn
        FROM q CROSS JOIN cent) WHERE rn = 1
    ), ccell AS (
      SELECT vec_id, embedding, cell FROM (
        SELECT e.vec_id, e.embedding, cent.cell,
               ROW_NUMBER() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY {_DUCK_COS.format(a='e.embedding', b='cent.cvec')}
                   DESC, cent.cell ASC) AS rn
        FROM embeddings e CROSS JOIN cent) WHERE rn = 1
    ), approx AS (
      SELECT query_id, nbr_id FROM (
        SELECT qc.vec_id AS query_id, cc.vec_id AS nbr_id,
               ROW_NUMBER() OVER (
                 PARTITION BY qc.vec_id
                 ORDER BY
                   {_DUCK_COS.format(a='qc.embedding', b='cc.embedding')}
                     DESC, cc.vec_id ASC) AS rank
        FROM qcell qc JOIN ccell cc
          ON qc.cell = cc.cell AND qc.vec_id <> cc.vec_id
      ) WHERE rank <= 10
    ), exact AS (
      SELECT query_id, nbr_id FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS nbr_id,
               ROW_NUMBER() OVER (
                 PARTITION BY q.vec_id
                 ORDER BY
                   {_DUCK_COS.format(a='q.embedding', b='c.embedding')}
                     DESC, c.vec_id ASC) AS rank
        FROM q JOIN embeddings c ON c.vec_id <> q.vec_id
      ) WHERE rank <= 10
    ), hits AS (
      SELECT a.query_id, CAST(count(*) AS BIGINT) AS n_hits
      FROM approx a JOIN exact e
        ON a.query_id = e.query_id AND a.nbr_id = e.nbr_id
      GROUP BY 1
    ), per AS (
      SELECT eq.query_id,
             CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
             round(COALESCE(h.n_hits, 0) / 10.0, 4) AS recall_at_10
      FROM (SELECT DISTINCT query_id FROM exact) eq
      LEFT JOIN hits h ON h.query_id = eq.query_id
    )
    SELECT query_id, n_hits, recall_at_10 FROM per
    UNION ALL
    SELECT CAST(-1 AS BIGINT) AS query_id,
           CAST(sum(n_hits) AS BIGINT) AS n_hits,
           round(sum(n_hits) / (10.0 * count(*)), 4) AS recall_at_10
    FROM per
    """,
)
def ann_recall_eval_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN index QUALITY as a first-class, hash-gated query: recall@10
    of IVF with nprobe=1 (the cheap single-cell probe) against exact
    brute-force top-10, per query plus a corpus summary row
    (query_id = -1). Gateable because this IVF index is fully
    deterministic cross-engine: training-free lowest-id centroids,
    bit-identical left-fold cosine (functions/vector.py docstring), and
    explicit (sim DESC, id ASC) tie-breaks — so the oracle replays the
    ENTIRE index (centroids, both cell assignments, probe, re-rank) in
    SQL, closing the evidence gap that keeps hash-based ANN variants
    rows-only. This is the 'measure your index before trusting it'
    operator every vector-search deployment runs when tuning nprobe.
    Cost shape: assignment is a broadcast argmin over 16 cells; the
    probe join is (cell)-bucketed; exact side is the already-gated
    brute-force plan over 50 queries."""
    from .operators.similarity import brute_force_topk, ivf_topk

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") < 50)
    approx = ivf_topk(
        q, emb, "vec_id", "embedding", k=10, num_cells=16, nprobe=1
    ).select("query_id", "nbr_id")
    exact = brute_force_topk(q, emb, "vec_id", "embedding", k=10).select(
        "query_id", "nbr_id"
    )
    hits = approx.join(exact, ["query_id", "nbr_id"]).groupBy(
        "query_id"
    ).agg(F.count("*").alias("n_hits"))
    # the per-query spine is the QUERY SET itself, not a distinct over the
    # exact top-10 (every query has >= 10 neighbors, so they are equal
    # sets — but deriving the spine from `exact` would execute the
    # brute-force side a second time, since it already feeds `hits` and
    # joins are not CSE'd)
    spine = q.select(F.col("vec_id").alias("query_id"))
    per = (
        spine
        .join(hits, "query_id", "left")
        .select(
            "query_id",
            F.coalesce("n_hits", F.lit(0)).alias("n_hits"),
            F.round(F.coalesce("n_hits", F.lit(0)) / 10.0, 4).alias(
                "recall_at_10"
            ),
        )
        # pinned: the summary branch below aggregates `per`, and union
        # branches are not CSE'd — without the pin the exact brute-force
        # side (the dominant stage) would execute twice (VERDICT r06
        # "What's wrong" #1). `per` is one row per query (50 here,
        # bounded by the query set at any corpus scale), so the
        # checkpoint materializes a trivially small frame.
        .localCheckpoint()
    )
    summary = per.agg(
        F.lit(-1).cast("long").alias("query_id"),
        F.sum("n_hits").alias("n_hits"),
        F.round(F.sum("n_hits") / (10.0 * F.count("*")), 4).alias(
            "recall_at_10"
        ),
    )
    return per.unionByName(summary)


@query(
    "retention_cohorts",
    oracle="""
    WITH firsts AS (
      SELECT user_id, date_trunc('week', min(ts)) AS cohort_week
      FROM events GROUP BY 1
    ), sized AS (
      SELECT cohort_week, CAST(count(*) AS BIGINT) AS cohort_size
      FROM firsts GROUP BY 1
    ), active AS (
      SELECT DISTINCT e.user_id, f.cohort_week,
             CAST(date_diff('day', f.cohort_week,
                            date_trunc('week', e.ts)) / 7 AS BIGINT)
               AS week_offset
      FROM events e JOIN firsts f ON f.user_id = e.user_id
    ), cells AS (
      SELECT cohort_week, week_offset,
             CAST(count(*) AS BIGINT) AS n_active
      FROM active GROUP BY 1, 2
    )
    SELECT c.cohort_week, c.week_offset, c.n_active, s.cohort_size,
           c.n_active * 1.0 / s.cohort_size AS retention
    FROM cells c JOIN sized s ON s.cohort_week = c.cohort_week
    """,
)
def retention_cohorts_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix — the product-analytics staple: users
    grouped by first-activity week, each later week's distinct-active
    share of the cohort. Two shuffles (first-touch per user, then the
    (cohort, offset) distinct+count); offsets computed on week-truncated
    timestamps so the integer division is exact; the retention ratio is
    an unrounded exact-int division (identical IEEE both engines — no
    rounding, no ties)."""
    ev = load_table(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week")
    )
    sized = firsts.groupBy("cohort_week").agg(
        F.count("*").alias("cohort_size")
    )
    active = (
        ev.join(firsts, "user_id")
        .select(
            "user_id",
            "cohort_week",
            (
                (
                    F.date_trunc("week", F.col("ts")).cast("long")
                    - F.col("cohort_week").cast("long")
                )
                / 604800
            )
            .cast("long")
            .alias("week_offset"),
        )
        .distinct()
    )
    cells = active.groupBy("cohort_week", "week_offset").agg(
        F.count("*").alias("n_active")
    )
    return cells.join(sized, "cohort_week").select(
        "cohort_week",
        "week_offset",
        "n_active",
        "cohort_size",
        (F.col("n_active") * 1.0 / F.col("cohort_size")).alias("retention"),
    )


@query(
    "ab_test_eval",
    oracle="""
    WITH assign AS (
      SELECT DISTINCT user_id, user_id % 2 AS variant FROM events
    ), conv AS (
      SELECT DISTINCT user_id FROM events
      WHERE event_type = 'purchase' AND value > 150
    ), arms AS (
      SELECT a.variant,
             CAST(count(*) AS BIGINT) AS n_users,
             CAST(count(c.user_id) AS BIGINT) AS n_converted
      FROM assign a LEFT JOIN conv c ON c.user_id = a.user_id
      GROUP BY 1
    ), wide AS (
      SELECT
        max(CASE WHEN variant = 0 THEN n_users END) AS n_a,
        max(CASE WHEN variant = 0 THEN n_converted END) AS c_a,
        max(CASE WHEN variant = 1 THEN n_users END) AS n_b,
        max(CASE WHEN variant = 1 THEN n_converted END) AS c_b
      FROM arms
    )
    SELECT n_a, c_a, n_b, c_b,
           c_a * 1.0 / n_a AS rate_a,
           c_b * 1.0 / n_b AS rate_b,
           (c_b * 1.0 / n_b) - (c_a * 1.0 / n_a) AS lift,
           ((c_b * 1.0 / n_b) - (c_a * 1.0 / n_a))
             / NULLIF(sqrt(((c_a + c_b) * 1.0 / (n_a + n_b))
                    * (1.0 - (c_a + c_b) * 1.0 / (n_a + n_b))
                    * (1.0 / n_a + 1.0 / n_b)), 0.0) AS z_score
    FROM wide
    """,
)
def ab_test_eval_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Experimentation readout: two-proportion z-test on conversion
    (did the user ever purchase) between hash-assigned variants —
    counts exact, rates/lift/pooled-variance z computed in
    identical-association IEEE doubles from those exact integers (no
    rounding anywhere, so the gate is bit-exact). Two distinct
    aggregates plus a 2-row pivot; nothing data-sized past the user
    dedup."""
    ev = load_table(spark, sf_dir, "events")
    assign = ev.select(
        "user_id", (F.col("user_id") % 2).alias("variant")
    ).distinct()
    # conversion = a LARGE purchase; a metric everyone hits makes the
    # pooled variance zero and the z-score undefined (guarded below)
    conv = (
        ev.where(
            (F.col("event_type") == "purchase") & (F.col("value") > 150)
        )
        .select("user_id")
        .distinct()
        .withColumn("_c", F.lit(1))
    )
    arms = (
        assign.join(conv, "user_id", "left")
        .groupBy("variant")
        .agg(
            F.count("*").alias("n_users"),
            F.count("_c").alias("n_converted"),
        )
    )
    wide = arms.agg(
        F.max(F.when(F.col("variant") == 0, F.col("n_users"))).alias("n_a"),
        F.max(
            F.when(F.col("variant") == 0, F.col("n_converted"))
        ).alias("c_a"),
        F.max(F.when(F.col("variant") == 1, F.col("n_users"))).alias("n_b"),
        F.max(
            F.when(F.col("variant") == 1, F.col("n_converted"))
        ).alias("c_b"),
    )
    rate_a = F.col("c_a") * 1.0 / F.col("n_a")
    rate_b = F.col("c_b") * 1.0 / F.col("n_b")
    pooled = (F.col("c_a") + F.col("c_b")) * 1.0 / (
        F.col("n_a") + F.col("n_b")
    )
    return wide.select(
        "n_a",
        "c_a",
        "n_b",
        "c_b",
        rate_a.alias("rate_a"),
        rate_b.alias("rate_b"),
        (rate_b - rate_a).alias("lift"),
        F.try_divide(
            rate_b - rate_a,
            F.sqrt(
                pooled
                * (F.lit(1.0) - pooled)
                * (1.0 / F.col("n_a") + 1.0 / F.col("n_b"))
            ),
        ).alias("z_score"),
    )


def _corr_oracle() -> str:
    """Pairwise Pearson correlations from exact DECIMAL moment sums —
    generated per column pair so both engines share one formula shape."""
    cols = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
    pairs = [
        (a, b) for i, a in enumerate(cols) for b in cols[i + 1 :]
    ]
    moment_cols = []
    for c in cols:
        moment_cols.append(
            f"CAST(sum(CAST({c} AS DECIMAL(28,10))) AS DOUBLE) AS s_{c}"
        )
        moment_cols.append(
            f"CAST(sum(CAST({c} AS DECIMAL(28,10))"
            f" * CAST({c} AS DECIMAL(28,10))) AS DOUBLE) AS ss_{c}"
        )
    for a, b in pairs:
        moment_cols.append(
            f"CAST(sum(CAST({a} AS DECIMAL(28,10))"
            f" * CAST({b} AS DECIMAL(28,10))) AS DOUBLE) AS sp_{a}_{b}"
        )
    selects = []
    for a, b in pairs:
        corr = (
            f"(n * sp_{a}_{b} - s_{a} * s_{b}) / "
            f"(sqrt(n * ss_{a} - s_{a} * s_{a})"
            f" * sqrt(n * ss_{b} - s_{b} * s_{b}))"
        )
        selects.append(
            f"SELECT '{a}' AS col_a, '{b}' AS col_b, "
            f"round({corr}, 6) AS corr FROM m"
        )
    return f"""
    WITH m AS (
      SELECT CAST(count(*) AS DOUBLE) AS n,
             {', '.join(moment_cols)}
      FROM lineitem
    )
    {' UNION ALL '.join(selects)}
    """


@query("corr_matrix", oracle=_corr_oracle())
def corr_matrix_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlation matrix over lineitem's numeric
    columns — the profiling/feature-selection aggregate. All moment
    sums (Sx, Sxx, Sxy) accumulate in DECIMAL(28,10) — exact and
    order-independent, where double sums would drift with partial-agg
    order — then each correlation is one identical-association double
    formula over the exact moments, rounded once at output. ONE scan,
    one 1-row aggregate, 6 projections; column count bounds the state,
    not row count."""
    cols = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
    pairs = [(a, b) for i, a in enumerate(cols) for b in cols[i + 1 :]]
    li = load_table(spark, sf_dir, "lineitem")

    def dec(c):
        return F.col(c).cast("decimal(28,10)")

    aggs = [F.count("*").cast("double").alias("n")]
    for c in cols:
        aggs.append(F.sum(dec(c)).cast("double").alias(f"s_{c}"))
        aggs.append(
            F.sum(dec(c) * dec(c)).cast("double").alias(f"ss_{c}")
        )
    for a, b in pairs:
        aggs.append(
            F.sum(dec(a) * dec(b)).cast("double").alias(f"sp_{a}_{b}")
        )
    m = li.agg(*aggs)
    # ONE wide row then stack-unpivot: a 6-branch union would re-run
    # the lineitem aggregate per branch (union branches are not CSE'd)
    corr_cols = []
    for i, (a, b) in enumerate(pairs):
        corr = (
            F.col("n") * F.col(f"sp_{a}_{b}")
            - F.col(f"s_{a}") * F.col(f"s_{b}")
        ) / (
            F.sqrt(
                F.col("n") * F.col(f"ss_{a}")
                - F.col(f"s_{a}") * F.col(f"s_{a}")
            )
            * F.sqrt(
                F.col("n") * F.col(f"ss_{b}")
                - F.col(f"s_{b}") * F.col(f"s_{b}")
            )
        )
        corr_cols.append(F.round(corr, 6).alias(f"c_{i}"))
    wide = m.select(*corr_cols)
    stack_args = ", ".join(
        f"'{a}', '{b}', c_{i}" for i, (a, b) in enumerate(pairs)
    )
    return wide.select(
        F.expr(
            f"stack({len(pairs)}, {stack_args}) AS (col_a, col_b, corr)"
        )
    )


# ===========================================================================
# Round 7 — portable HLL cardinality, mergeable quantile sketch,
# hybrid RRF retrieval, PMI collocations, TF-IDF keywords
# ===========================================================================


def _hll_oracle(m: int = 16) -> str:
    from .operators.sketches import HLL_RHO_CAP  # noqa: F401 — doc anchor
    from .operators.sketches import hll_alpha, hll_register_sql, hll_rho_sql

    alpha = repr(hll_alpha(m))
    reg = hll_register_sql("user_id", m)
    rho = hll_rho_sql("user_id")
    return f"""
    WITH daily AS (
      SELECT event_type, date_trunc('day', ts) AS day,
             {reg} AS register, MAX({rho}) AS rho
      FROM events GROUP BY 1, 2, 3
    ), merged AS (
      SELECT event_type, register, MAX(rho) AS rho
      FROM daily GROUP BY 1, 2
    ), spine AS (
      SELECT et.event_type, g.register
      FROM (SELECT DISTINCT event_type FROM events) et
      CROSS JOIN (SELECT unnest(generate_series(0, {m - 1})) AS register) g
    ), full_grid AS (
      SELECT s.event_type, s.register, COALESCE(mg.rho, 0) AS rho
      FROM spine s LEFT JOIN merged mg
        ON mg.event_type = s.event_type AND mg.register = s.register
    ), agg AS (
      SELECT event_type,
             to_json(list(rho ORDER BY register)) AS registers_json,
             CAST(count(*) FILTER (rho = 0) AS BIGINT) AS n_zero,
             SUM(1.0 / CAST(CAST(1 AS BIGINT) << rho AS DOUBLE)) AS s
      FROM full_grid GROUP BY 1
    )
    SELECT event_type, registers_json, n_zero,
           round(CASE
                   WHEN n_zero > 0 AND ({alpha} * {m} * {m} / s) <= 2.5 * {m}
                   THEN {m} * ln({m} / CAST(n_zero AS DOUBLE))
                   ELSE {alpha} * {m} * {m} / s END, 4) AS approx_distinct
    FROM agg
    """


@query("approx_distinct_hll", oracle=_hll_oracle(16))
def approx_distinct_hll_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HASH-GATED approximate COUNT(DISTINCT): a portable HyperLogLog
    whose md5-derived register grid the DuckDB oracle replays bit-for-bit
    (operators/sketches.py — the cms_heavy_hitters treatment applied to
    cardinality, closing the rows-only caveat on the
    ``approx_distinct_users`` sketch, which keeps demonstrating Spark's
    native approx_count_distinct API). The plan IS the production shape:
    per-(event_type, day) grids built in one map-side-combined shuffle
    (<= groups x m rows cross the network per task), MAX-merged to
    event_type — the mergeability a persisted daily-sketch table relies
    on — then estimated. The estimate sum is exact-dyadic (order-
    independent, see module notes); the ln small-range branch is dead on
    this data (all registers hit) and pytest pins the estimate within
    the 1.04/sqrt(m) error bound of the exact twin."""
    from .operators.sketches import hll_estimate, hll_merge, hll_register_grid

    ev = load_table(spark, sf_dir, "events").withColumn(
        "day", F.date_trunc("day", F.col("ts"))
    )
    daily = hll_register_grid(
        ev, "user_id", m=16, group_cols=["event_type", "day"]
    )
    merged = hll_merge(daily, group_cols=["event_type"])
    return hll_estimate(merged, m=16, group_cols=["event_type"]).select(
        "event_type",
        "registers_json",
        "n_zero",
        F.col("approx_distinct").alias("approx_distinct"),
    )


_QSK_WIDTH = 5.0  # events.value spans ~[0, 500] -> ~100 bins


@query(
    "quantile_sketch_merge",
    oracle=f"""
    WITH part_a AS (
      SELECT event_type, CAST(floor(value / {_QSK_WIDTH}) AS BIGINT) AS bin,
             CAST(count(*) AS BIGINT) AS n
      FROM events WHERE value IS NOT NULL AND event_id % 2 = 0
      GROUP BY 1, 2
    ), part_b AS (
      SELECT event_type, CAST(floor(value / {_QSK_WIDTH}) AS BIGINT) AS bin,
             CAST(count(*) AS BIGINT) AS n
      FROM events WHERE value IS NOT NULL AND event_id % 2 = 1
      GROUP BY 1, 2
    )
    SELECT event_type, bin, CAST(SUM(n) AS BIGINT) AS n
    FROM (SELECT * FROM part_a UNION ALL SELECT * FROM part_b)
    GROUP BY 1, 2
    """,
)
def quantile_sketch_merge_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable histogram sketch (operators/sketches.py): two partial
    sketches built over disjoint halves of the stream are SUM-merged
    into the corpus sketch — the additivity that lets a daily sketch
    table absorb new partitions without re-scanning history (the
    optimizer-stats analog of the minhash_sketch -> dedup incremental
    pattern). The gate hash-compares the ENTIRE merged grid; pytest
    additionally pins merge(a, b) == direct single-pass build
    (associativity evidence). Each partial build is one map-side-
    combined aggregate bounded by |groups| x |touched bins| per task."""
    from .operators.sketches import histogram_sketch, merge_histogram_sketches

    ev = load_table(spark, sf_dir, "events")
    part_a = histogram_sketch(
        ev.where(F.col("event_id") % 2 == 0),
        "value",
        width=_QSK_WIDTH,
        group_cols=["event_type"],
    )
    part_b = histogram_sketch(
        ev.where(F.col("event_id") % 2 == 1),
        "value",
        width=_QSK_WIDTH,
        group_cols=["event_type"],
    )
    return merge_histogram_sketches(
        part_a, part_b, group_cols=["event_type"]
    )


@query(
    "quantile_sketch_query",
    oracle=f"""
    WITH sk AS (
      SELECT event_type, CAST(floor(value / {_QSK_WIDTH}) AS BIGINT) AS bin,
             CAST(count(*) AS BIGINT) AS n
      FROM events WHERE value IS NOT NULL
      GROUP BY 1, 2
    ), cum AS (
      SELECT event_type, bin, n,
             SUM(n) OVER (PARTITION BY event_type ORDER BY bin
                          ROWS UNBOUNDED PRECEDING) AS cum,
             SUM(n) OVER (PARTITION BY event_type) AS total
      FROM sk
    ), hits AS (
      SELECT event_type, q, bin, n, cum, total,
             ROW_NUMBER() OVER (PARTITION BY event_type, q ORDER BY bin)
               AS _rn
      FROM cum CROSS JOIN (SELECT unnest([CAST(0.5 AS DOUBLE), CAST(0.9 AS DOUBLE),
                                   CAST(0.99 AS DOUBLE)]) AS q) qs
      WHERE CAST(cum AS DOUBLE) >= q * CAST(total AS DOUBLE)
    )
    SELECT event_type, q,
           bin * {_QSK_WIDTH} + {_QSK_WIDTH}
             * (q * CAST(total AS DOUBLE) - CAST(cum - n AS DOUBLE)) / CAST(n AS DOUBLE) AS est
    FROM hits WHERE _rn = 1
    """,
)
def quantile_sketch_query_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile QUERY over the histogram sketch: cumulative walk in bin
    order + linear interpolation inside the located bin, per group and
    per requested quantile — sketch-sized work (the window runs over
    ~100 bins per group, never the raw rows). Exactness: counts are
    integers and the interpolation is one fixed-association IEEE
    expression mirrored in the oracle, so the APPROXIMATE quantile path
    is hash-gated end-to-end; pytest bounds it within one bin width of
    the exact percentile (value_percentiles)."""
    from .operators.sketches import histogram_quantiles, histogram_sketch

    ev = load_table(spark, sf_dir, "events")
    sk = histogram_sketch(
        ev, "value", width=_QSK_WIDTH, group_cols=["event_type"]
    )
    return histogram_quantiles(
        sk, [0.5, 0.9, 0.99], width=_QSK_WIDTH, group_cols=["event_type"]
    )


_PMI_MIN_PAIR = 5  # collocation support floor
_PMI_TOP = 30


@query(
    "pmi_collocations",
    oracle=f"""
    WITH arrs AS (
      SELECT {_duck_tokens()} AS arr FROM documents
    ), pairs AS (
      SELECT arr[i] AS a, arr[i + 1] AS b
      FROM arrs, unnest(generate_series(1, len(arr) - 1)) AS t(i)
      UNION ALL
      SELECT arr[i] AS a, arr[i + 2] AS b
      FROM arrs, unnest(generate_series(1, len(arr) - 2)) AS t(i)
    ), pc AS (
      SELECT a, b, CAST(count(*) AS BIGINT) AS n_pair
      FROM pairs GROUP BY 1, 2
    ), uni AS (
      SELECT tok, CAST(count(*) AS BIGINT) AS n_tok
      FROM arrs, unnest(arr) AS u(tok) GROUP BY 1
    ), tot AS (
      SELECT CAST(sum(n_tok) AS BIGINT) AS t_toks FROM uni
    ), ptot AS (
      SELECT CAST(sum(n_pair) AS BIGINT) AS t_pairs FROM pc
    )
    SELECT a, b, n_pair,
           CAST(round(ln(CAST(n_pair AS DOUBLE) * CAST(t_toks AS DOUBLE)
                         * CAST(t_toks AS DOUBLE) / CAST(t_pairs AS DOUBLE)
                         / CAST(ua.n_tok AS DOUBLE)
                         / CAST(ub.n_tok AS DOUBLE)) * 1000000) AS BIGINT)
             AS pmi_micro
    FROM pc
    JOIN uni ua ON ua.tok = a
    JOIN uni ub ON ub.tok = b
    CROSS JOIN tot CROSS JOIN ptot
    WHERE n_pair >= {_PMI_MIN_PAIR}
    ORDER BY pmi_micro DESC, a, b LIMIT {_PMI_TOP}
    """,
)
def pmi_collocations_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining: top PMI token pairs within a 2-token forward
    window — the classic corpus-analysis pass (Church & Hanks 1990) a
    pretraining pipeline runs to find multiword expressions worth
    protecting from tokenizer splits. Pair generation is a single
    map-side array self-zip (both offsets rendered in ONE projection —
    no self-join on positions, no second scan); the only token-volume
    shuffle is the pair count, whose key space is bounded by vocab^2
    observed pairs. Unigram models and the two scalar totals are
    vocab-bounded/1-row -> broadcast by construction. PMI uses the
    integer micro-nat convention (operators/importance.py): one ln()
    over an exactly-computed double ratio (fixed left-to-right
    association, mirrored in the oracle), rounded to 1e-6 nats —
    hash-gateable, order-independent. Top-k plans
    TakeOrderedAndProject."""
    from .functions.text import word_tokens

    docs = load_table(spark, sf_dir, "documents")
    arrs = docs.select(word_tokens(F.col("text")).alias("arr"))
    # both window offsets in ONE transform chain: slice arr to drop the
    # last d elements, pair each token with its d-step successor (0-based
    # bracket indexing in Spark SQL)
    pair_expr = F.expr(
        """
        concat(
          transform(slice(arr, 1, greatest(size(arr) - 1, 0)),
                    (x, i) -> struct(x AS a, arr[i + 1] AS b)),
          transform(slice(arr, 1, greatest(size(arr) - 2, 0)),
                    (x, i) -> struct(x AS a, arr[i + 2] AS b))
        )
        """
    )
    pc = (
        arrs.select(F.explode(pair_expr).alias("p"))
        .select("p.a", "p.b")
        .groupBy("a", "b")
        .agg(F.count("*").alias("n_pair"))
    )
    uni = (
        arrs.select(F.explode(F.col("arr")).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("n_tok"))
    )
    tot = uni.agg(F.sum("n_tok").alias("t_toks"))
    ptot = pc.agg(F.sum("n_pair").alias("t_pairs"))
    ratio = (
        F.col("n_pair").cast("double")
        * F.col("t_toks").cast("double")
        * F.col("t_toks").cast("double")
        / F.col("t_pairs").cast("double")
        / F.col("ua_n").cast("double")
        / F.col("ub_n").cast("double")
    )
    return (
        pc.where(F.col("n_pair") >= _PMI_MIN_PAIR)
        .join(
            F.broadcast(uni.select(F.col("tok").alias("a"), F.col("n_tok").alias("ua_n"))),
            "a",
        )
        .join(
            F.broadcast(uni.select(F.col("tok").alias("b"), F.col("n_tok").alias("ub_n"))),
            "b",
        )
        .crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(ptot))
        .select(
            "a",
            "b",
            "n_pair",
            F.round(F.log(ratio) * 1_000_000)
            .cast("long")
            .alias("pmi_micro"),
        )
        .orderBy(F.col("pmi_micro").desc(), "a", "b")
        .limit(_PMI_TOP)
    )


@query(
    "tfidf_keywords",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, tok
      FROM documents, unnest({_duck_tokens()}) AS t(tok)
    ), tf AS (
      SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
      FROM toks GROUP BY 1, 2
    ), dfc AS (
      SELECT tok, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1
    ), nd AS (
      SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs FROM toks
    ), scored AS (
      SELECT doc_id, tok, tf,
             tf * CAST(round(ln(CAST(n_docs AS DOUBLE) / CAST(df AS DOUBLE))
                             * 1000000) AS BIGINT) AS score_micro
      FROM tf JOIN dfc USING (tok) CROSS JOIN nd
    )
    SELECT doc_id, tok, tf, score_micro, rank FROM (
      SELECT *, CAST(ROW_NUMBER() OVER (
        PARTITION BY doc_id ORDER BY score_micro DESC, tok) AS BIGINT) AS rank
      FROM scored
    ) WHERE rank <= 3
    """,
)
def tfidf_keywords_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document keyword extraction: top-3 tokens by tf-idf — the
    cheap summarization/routing signal pipelines attach to every doc
    before clustering or mixing. Integer-exact ranking: idf is a
    micro-nat BIGINT (one ln per vocab term over an exact ratio), the
    score is tf x idf_micro — an integer product, order-independent and
    hash-gated with deterministic (score DESC, tok) tie-breaks. One
    token-volume shuffle (the tf count); df/n_docs are vocab-bounded /
    scalar and broadcast."""
    from .functions.text import word_tokens

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(word_tokens(F.col("text"))).alias("tok")
    )
    tf = toks.groupBy("doc_id", "tok").agg(F.count("*").alias("tf"))
    dfc = tf.groupBy("tok").agg(F.count("*").alias("df"))
    nd = toks.agg(F.count_distinct("doc_id").alias("n_docs"))
    scored = (
        tf.join(F.broadcast(dfc), "tok")
        .crossJoin(F.broadcast(nd))
        .select(
            "doc_id",
            "tok",
            "tf",
            (
                F.col("tf")
                * F.round(
                    F.log(
                        F.col("n_docs").cast("double")
                        / F.col("df").cast("double")
                    )
                    * 1_000_000
                ).cast("long")
            ).alias("score_micro"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("score_micro").desc(), F.col("tok").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= 3)
        .select("doc_id", "tok", "tf", "score_micro", "rank")
    )


@query(
    "hybrid_rrf_search",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest({_duck_tokens()}) AS tok FROM documents
    ), dl AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens
      FROM toks GROUP BY doc_id
    ), stats AS (
      SELECT CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(n_tokens) AS BIGINT) AS tot
      FROM dl
    ), tf AS (
      SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
      FROM toks WHERE tok IN ('join', 'merge', 'spark', 'vector')
      GROUP BY doc_id, tok
    ), dfc AS (
      SELECT tok, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
      FROM tf GROUP BY tok
    ), contrib AS (
      SELECT tf.doc_id, tf.tok,
             ln((s.n_docs - dfc.df + 0.5) / (dfc.df + 0.5) + 1.0)
             * (tf.tf * 2.2)
             / (tf.tf + 1.2 * (0.25 + 0.75 * dl.n_tokens
                               / (CAST(s.tot AS DOUBLE) / s.n_docs))) AS c
      FROM tf
      JOIN dfc USING (tok)
      JOIN dl USING (doc_id)
      CROSS JOIN stats s
    ), bm25s AS (
      SELECT doc_id,
             round(coalesce(max(CASE WHEN tok = 'join' THEN c END), 0)
                 + coalesce(max(CASE WHEN tok = 'merge' THEN c END), 0)
                 + coalesce(max(CASE WHEN tok = 'spark' THEN c END), 0)
                 + coalesce(max(CASE WHEN tok = 'vector' THEN c END), 0),
               4) AS bm25
      FROM contrib GROUP BY doc_id
    ), lex AS (
      SELECT doc_id, lex_rank FROM (
        SELECT doc_id, CAST(ROW_NUMBER() OVER (
          ORDER BY bm25 DESC, doc_id) AS BIGINT) AS lex_rank
        FROM bm25s WHERE doc_id <> 0
      ) WHERE lex_rank <= 20
    ), vtoks AS (
      SELECT doc_id AS doc, tok
      FROM documents,
           UNNEST(list_filter(string_split_regex(lower(text), '\\s+'),
                              x -> x <> '')) AS t(tok)
    ), bucketed AS (
      SELECT doc,
             list_reduce(list_prepend(CAST(0 AS BIGINT),
               list_transform(range(1, length(tok) + 1),
                 i -> CAST(unicode(substr(tok, CAST(i AS INT), 1)) AS BIGINT))),
               (acc, x) -> (acc * 31 + x) % 2147483647) % 64 AS bucket
      FROM vtoks
    ), counts AS (
      SELECT doc, bucket, CAST(count(*) AS BIGINT) AS n
      FROM bucketed GROUP BY doc, bucket
    ), dots AS (
      SELECT c.doc AS nbr_id, sum(q.n * c.n) AS dot
      FROM counts q JOIN counts c ON c.bucket = q.bucket AND c.doc <> 0
      WHERE q.doc = 0
      GROUP BY 1
    ), norms AS (
      SELECT doc, sum(n * n) AS n2 FROM counts GROUP BY doc
    ), vec AS (
      SELECT nbr_id AS doc_id, vec_rank FROM (
        SELECT d.nbr_id,
               CAST(ROW_NUMBER() OVER (ORDER BY
                 round(d.dot / sqrt(CAST(nq.n2 * nc.n2 AS DOUBLE)), 6) DESC,
                 d.nbr_id) AS BIGINT) AS vec_rank
        FROM dots d
        JOIN norms nq ON nq.doc = 0
        JOIN norms nc ON nc.doc = d.nbr_id
      ) WHERE vec_rank <= 20
    )
    SELECT COALESCE(l.doc_id, v.doc_id) AS doc_id,
           l.lex_rank AS lex_rank, v.vec_rank AS vec_rank,
           (COALESCE(1000000000 // (60 + l.lex_rank), 0)
            + COALESCE(1000000000 // (60 + v.vec_rank), 0)) AS rrf_micro
    FROM lex l FULL OUTER JOIN vec v ON v.doc_id = l.doc_id
    ORDER BY rrf_micro DESC, doc_id LIMIT 10
    """,
)
def hybrid_rrf_search_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval via reciprocal-rank fusion (Cormack et al. 2009,
    k=60) — the standard serving pattern that combines a lexical BM25
    list with a vector-similarity list so each channel covers the
    other's misses. Composes the two already-gated retrieval stacks:
    ``_bm25_scored`` (fixed term set, query doc excluded before ranking)
    and the hashed-count cosine ranking of ``doc_vector_knn`` with doc 0
    as the query, top-20 each. Fusion is EXACT INTEGER arithmetic —
    contribution = 10^9 div (60 + rank), summed as BIGINT — so the
    fused ordering is hash-gateable with no float-association hazard.
    Scale shape: both lists are top-k (TakeOrdered) relations of
    bounded size; the fusion is a full-outer join of two <= k-row
    frames — driver-trivial at any corpus size; all heavy lifting is
    in the two channel plans, each independently scale-audited."""
    from .operators.text_vectorize import hashed_count_sparse

    docs = load_table(spark, sf_dir, "documents")
    lex = (
        _bm25_scored(spark, sf_dir)
        .where(F.col("doc_id") != 0)
        .orderBy(F.col("bm25").desc(), F.col("doc_id").asc())
        .limit(20)
        .select(
            "doc_id",
            F.row_number()
            .over(Window.orderBy(F.col("bm25").desc(), F.col("doc_id").asc()))
            .cast("long")
            .alias("lex_rank"),
        )
    )
    counts = hashed_count_sparse(
        docs, "doc_id", "text", dim=64, portable=True
    ).withColumn(
        "n2", F.sum(F.col("n") * F.col("n")).over(Window.partitionBy("doc"))
    )
    q = counts.where(F.col("doc") == 0).select(
        "bucket", F.col("n").alias("qn"), F.col("n2").alias("q_n2")
    )
    dots = (
        F.broadcast(q)
        .join(
            counts.where(F.col("doc") != 0).select(
                F.col("doc").alias("nbr_id"),
                "bucket",
                "n",
                F.col("n2").alias("n_n2"),
            ),
            "bucket",
        )
        .groupBy("nbr_id")
        .agg(
            F.sum(F.col("qn") * F.col("n")).alias("dot"),
            F.first("q_n2").alias("q_n2"),
            F.first("n_n2").alias("n_n2"),
        )
    )
    vec = (
        dots.withColumn(
            "sim",
            F.round(
                F.col("dot")
                / F.sqrt((F.col("q_n2") * F.col("n_n2")).cast("double")),
                6,
            ),
        )
        .orderBy(F.col("sim").desc(), F.col("nbr_id").asc())
        .limit(20)
        .select(
            F.col("nbr_id").alias("doc_id"),
            F.row_number()
            .over(Window.orderBy(F.col("sim").desc(), F.col("nbr_id").asc()))
            .cast("long")
            .alias("vec_rank"),
        )
    )
    fused = lex.join(vec, "doc_id", "full_outer").select(
        "doc_id",
        "lex_rank",
        "vec_rank",
        (
            F.coalesce(
                F.expr("CAST(1000000000 AS BIGINT) div (60 + lex_rank)"),
                F.lit(0).cast("long"),
            )
            + F.coalesce(
                F.expr("CAST(1000000000 AS BIGINT) div (60 + vec_rank)"),
                F.lit(0).cast("long"),
            )
        ).alias("rrf_micro"),
    )
    return fused.orderBy(F.col("rrf_micro").desc(), F.col("doc_id").asc()).limit(10)


@query(
    "retrieval_pipeline",
    oracle="""
    WITH t AS (
      SELECT doc_id AS doc,
             list_filter(string_split_regex(lower(text), '\\s+'),
                         x -> x <> '') AS toks
      FROM documents
    ), c AS (
      SELECT doc, doc * 1048576 + CAST(k AS BIGINT) AS ckey,
             list_slice(toks, k * 48 + 1, k * 48 + 64) AS chunk
      FROM t,
           unnest(generate_series(0,
             CAST(floor((len(toks) - 1) / 48.0) AS BIGINT))) AS u(k)
      WHERE len(toks) >= 1
    ), ctoks AS (
      SELECT ckey, unnest(chunk) AS tok FROM c
    ), dl AS (
      SELECT ckey, CAST(count(*) AS BIGINT) AS n_tokens
      FROM ctoks GROUP BY ckey
    ), stats AS (
      SELECT CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(n_tokens) AS BIGINT) AS tot
      FROM dl
    ), tf AS (
      SELECT ckey, tok, CAST(count(*) AS BIGINT) AS tf
      FROM ctoks WHERE tok IN ('join', 'merge', 'spark', 'vector')
      GROUP BY ckey, tok
    ), dfc AS (
      SELECT tok, CAST(count(DISTINCT ckey) AS BIGINT) AS df
      FROM tf GROUP BY tok
    ), contrib AS (
      SELECT tf.ckey, tf.tok,
             ln((s.n_docs - dfc.df + 0.5) / (dfc.df + 0.5) + 1.0)
             * (tf.tf * 2.2)
             / (tf.tf + 1.2 * (0.25 + 0.75 * dl.n_tokens
                               / (CAST(s.tot AS DOUBLE) / s.n_docs))) AS cb
      FROM tf
      JOIN dfc USING (tok)
      JOIN dl USING (ckey)
      CROSS JOIN stats s
    ), chunk_bm25 AS (
      SELECT ckey,
             round(coalesce(max(CASE WHEN tok = 'join' THEN cb END), 0)
                 + coalesce(max(CASE WHEN tok = 'merge' THEN cb END), 0)
                 + coalesce(max(CASE WHEN tok = 'spark' THEN cb END), 0)
                 + coalesce(max(CASE WHEN tok = 'vector' THEN cb END), 0),
               4) AS bm25
      FROM contrib GROUP BY ckey
    ), doc_best AS (
      SELECT ckey // 1048576 AS doc_id, max(bm25) AS best
      FROM chunk_bm25 WHERE ckey // 1048576 <> 0 GROUP BY 1
    ), lex AS (
      SELECT doc_id, lex_rank FROM (
        SELECT doc_id, CAST(ROW_NUMBER() OVER (
          ORDER BY best DESC, doc_id) AS BIGINT) AS lex_rank
        FROM doc_best
      ) WHERE lex_rank <= 20
    ), bucketed AS (
      SELECT ckey,
             list_reduce(list_prepend(CAST(0 AS BIGINT),
               list_transform(range(1, length(tok) + 1),
                 i -> CAST(unicode(substr(tok, CAST(i AS INT), 1)) AS BIGINT))),
               (acc, x) -> (acc * 31 + x) % 2147483647) % 64 AS bucket
      FROM ctoks
    ), counts AS (
      SELECT ckey, bucket, CAST(count(*) AS BIGINT) AS n
      FROM bucketed GROUP BY ckey, bucket
    ), norms AS (
      SELECT ckey, sum(n * n) AS n2 FROM counts GROUP BY ckey
    ), dots AS (
      SELECT cc.ckey AS nbr, sum(q.n * cc.n) AS dot
      FROM counts q JOIN counts cc
        ON cc.bucket = q.bucket AND cc.ckey // 1048576 <> 0
      WHERE q.ckey = 0
      GROUP BY 1
    ), sims AS (
      SELECT d.nbr // 1048576 AS doc_id,
             max(round(d.dot / sqrt(CAST(nq.n2 * nc.n2 AS DOUBLE)), 6))
               AS best_sim
      FROM dots d
      JOIN norms nq ON nq.ckey = 0
      JOIN norms nc ON nc.ckey = d.nbr
      GROUP BY 1
    ), vec AS (
      SELECT doc_id, vec_rank FROM (
        SELECT doc_id, CAST(ROW_NUMBER() OVER (
          ORDER BY best_sim DESC, doc_id) AS BIGINT) AS vec_rank
        FROM sims
      ) WHERE vec_rank <= 20
    )
    SELECT COALESCE(l.doc_id, v.doc_id) AS doc_id,
           l.lex_rank AS lex_rank, v.vec_rank AS vec_rank,
           (COALESCE(1000000000 // (60 + l.lex_rank), 0)
            + COALESCE(1000000000 // (60 + v.vec_rank), 0)) AS rrf_micro
    FROM lex l FULL OUTER JOIN vec v ON v.doc_id = l.doc_id
    ORDER BY rrf_micro DESC, doc_id LIMIT 10
    """,
)
def retrieval_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end retrieval pipeline (r10 VERDICT #6): chunk →
    vectorize → BM25-index + vector channel → RRF fusion, composed from
    the individually-gated stages into the realistic chunk-then-index
    interaction no single gate covers. Documents are split into 64/48
    sliding windows (operators/sampling.py::chunk_documents); BOTH
    channels index CHUNKS — the unit a serving stack actually retrieves
    — and a per-doc MAX collapses chunk scores to document scores
    before ranking (best-passage retrieval):

    - lexical: BM25 over the chunk corpus (chunk-grain tf/dl/avgdl/df —
      genuinely different statistics from ``bm25_search``'s doc grain),
      query = the fixed term set, doc 0 excluded; top-20 by best chunk;
    - vector: portable hashed-count cosine (dim 64) of every chunk
      against the QUERY CHUNK (doc 0, chunk 0 — a bounded window, as a
      real query encoder sees); integer dot/norms make the per-chunk
      similarity float-association-free; top-20 docs by best chunk;
    - fusion: reciprocal-rank fusion in exact integer micro-units
      (10^9 div (60 + rank)), full-outer over the two <= 20-row lists,
      top-10.

    Both channels are replayed end-to-end in the oracle, chunking
    included. Scale shape: chunking is two generators + one shuffle;
    each channel is the already-audited top-k plan at chunk grain plus
    one (doc)-keyed max-aggregate; fusion joins two k-row frames. The
    chunk key packs (doc, idx) into one long (doc << 20 | idx) so every
    chunk-grain shuffle keys on an 8-byte long, not a struct; a
    runtime guard raises if any chunk_idx reaches 2^20 (~50M tokens at
    stride 48), so a pathological document cannot silently collide
    into the next doc's keyspace (ADVICE r11)."""
    from .functions.text import word_tokens
    from .operators.sampling import chunk_documents
    from .operators.text_vectorize import hashed_count_sparse

    docs = load_table(spark, sf_dir, "documents")
    chunks = chunk_documents(
        docs, "doc_id", "text", chunk_tokens=64, stride=48
    ).select(
        F.when(
            F.col("chunk_idx") < F.lit(1 << 20),
            F.col("doc") * F.lit(1 << 20) + F.col("chunk_idx"),
        )
        .otherwise(
            F.raise_error(
                F.concat(
                    F.lit("chunk_idx overflows the 20-bit chunk-key pack: "),
                    F.col("chunk_idx").cast("string"),
                )
            ).cast("long")
        )
        .alias("ckey"),
        "chunk_text",
    )
    # pinned: the chunk relation feeds BOTH channels; union-free but
    # two independent consumers would re-run tokenize+chunk twice.
    chunks = chunks.localCheckpoint(eager=True)

    chunk_bm25 = _bm25_over(chunks, "ckey", "chunk_text")
    doc_best = (
        chunk_bm25.where(F.expr("ckey div 1048576") != 0)
        .groupBy(F.expr("ckey div 1048576").alias("doc_id"))
        .agg(F.max("bm25").alias("best"))
    )
    w_lex = Window.orderBy(F.col("best").desc(), F.col("doc_id").asc())
    lex = (
        doc_best.orderBy(F.col("best").desc(), F.col("doc_id").asc())
        .limit(20)
        .select(
            "doc_id",
            F.row_number().over(w_lex).cast("long").alias("lex_rank"),
        )
    )

    counts = hashed_count_sparse(
        chunks, "ckey", "chunk_text", dim=64, portable=True
    ).withColumn(
        "n2", F.sum(F.col("n") * F.col("n")).over(Window.partitionBy("doc"))
    )
    q = counts.where(F.col("doc") == 0).select(
        "bucket", F.col("n").alias("qn"), F.col("n2").alias("q_n2")
    )
    sims = (
        F.broadcast(q)
        .join(
            counts.where(F.expr("doc div 1048576") != 0).select(
                F.col("doc").alias("nbr"),
                "bucket",
                "n",
                F.col("n2").alias("n_n2"),
            ),
            "bucket",
        )
        .groupBy("nbr")
        .agg(
            F.sum(F.col("qn") * F.col("n")).alias("dot"),
            F.first("q_n2").alias("q_n2"),
            F.first("n_n2").alias("n_n2"),
        )
        .groupBy(F.expr("nbr div 1048576").alias("doc_id"))
        .agg(
            F.max(
                F.round(
                    F.col("dot")
                    / F.sqrt((F.col("q_n2") * F.col("n_n2")).cast("double")),
                    6,
                )
            ).alias("best_sim")
        )
    )
    w_vec = Window.orderBy(F.col("best_sim").desc(), F.col("doc_id").asc())
    vec = (
        sims.orderBy(F.col("best_sim").desc(), F.col("doc_id").asc())
        .limit(20)
        .select(
            "doc_id",
            F.row_number().over(w_vec).cast("long").alias("vec_rank"),
        )
    )
    fused = lex.join(vec, "doc_id", "full_outer").select(
        "doc_id",
        "lex_rank",
        "vec_rank",
        (
            F.coalesce(
                F.expr("CAST(1000000000 AS BIGINT) div (60 + lex_rank)"),
                F.lit(0).cast("long"),
            )
            + F.coalesce(
                F.expr("CAST(1000000000 AS BIGINT) div (60 + vec_rank)"),
                F.lit(0).cast("long"),
            )
        ).alias("rrf_micro"),
    )
    return fused.orderBy(
        F.col("rrf_micro").desc(), F.col("doc_id").asc()
    ).limit(10)


def _hll_grid_sql(src_where: str) -> str:
    """DuckDB fragment: full m-register HLL grid (register, rho — zeros
    restored) of events.user_id under ``src_where``."""
    from .operators.sketches import hll_register_sql, hll_rho_sql

    reg = hll_register_sql("user_id", 16)
    rho = hll_rho_sql("user_id")
    return f"""(
      SELECT g.register, COALESCE(t.rho, 0) AS rho
      FROM (SELECT unnest(generate_series(0, 15)) AS register) g
      LEFT JOIN (
        SELECT {reg} AS register, MAX({rho}) AS rho
        FROM events WHERE {src_where} GROUP BY 1
      ) t ON t.register = g.register
    )"""


# Full estimator incl. the linear-counting small-range branch — must
# mirror hll_estimate's CASE exactly (at small fixtures V > 0 and the
# branch FIRES; an oracle with only the raw harmonic form diverges).
_HLL_EST_SQL = """round(CASE
      WHEN count(*) FILTER (rho = 0) > 0
           AND 0.673 * 16 * 16
               / SUM(1.0 / CAST(CAST(1 AS BIGINT) << rho AS DOUBLE))
             <= 2.5 * 16
      THEN 16 * ln(16 / CAST(count(*) FILTER (rho = 0) AS DOUBLE))
      ELSE 0.673 * 16 * 16
           / SUM(1.0 / CAST(CAST(1 AS BIGINT) << rho AS DOUBLE)) END, 4)"""


@query(
    "hll_set_ops",
    oracle=f"""
    WITH ga AS (SELECT * FROM {_hll_grid_sql("event_type = 'click'")}),
    gb AS (SELECT * FROM {_hll_grid_sql("event_type = 'purchase'")}),
    gu AS (
      SELECT register, MAX(rho) AS rho
      FROM (SELECT * FROM ga UNION ALL SELECT * FROM gb) GROUP BY 1
    ), est AS (
      SELECT (SELECT {_HLL_EST_SQL} FROM ga) AS est_a,
             (SELECT {_HLL_EST_SQL} FROM gb) AS est_b,
             (SELECT {_HLL_EST_SQL} FROM gu) AS est_union
    )
    SELECT est_a, est_b, est_union,
           est_a + est_b - est_union AS est_intersect
    FROM est
    """,
)
def hll_set_ops_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch ALGEBRA on the portable HLL: distinct 'click' users,
    distinct 'purchase' users, their UNION (register MAX-merge — exact
    over the sketches, no rescan) and their INTERSECTION by
    inclusion-exclusion — the standard theta/HLL set-operation pattern
    for audience-overlap questions at cardinalities where exact
    COUNT(DISTINCT) across segments is a multi-TB shuffle. Every
    register and every estimate is replayed in the oracle; the
    inclusion-exclusion subtraction is exact-dyadic-sum arithmetic over
    gated estimates, so the whole algebra is hash-gated. (Intersection
    error compounds through subtraction — the known accuracy caveat of
    the method; the estimates themselves carry the 1.04/sqrt(m) bound
    pinned in tests.)"""
    from .operators.sketches import hll_estimate, hll_merge, hll_register_grid

    ev = load_table(spark, sf_dir, "events")
    grids = {}
    for label, pred in (
        ("a", F.col("event_type") == "click"),
        ("b", F.col("event_type") == "purchase"),
    ):
        # pinned: each side's grid feeds its own estimate AND the union
        # merge, and those branches are not CSE'd — without the pin each
        # events scan + md5 fold would run twice. A grid is m=16 rows,
        # so the pin is free (this is exactly how a sketch TABLE would
        # be consumed in production: built once, persisted, re-queried).
        grids[label] = hll_register_grid(
            ev.where(pred), "user_id", m=16
        ).localCheckpoint()
    union_grid = hll_merge(grids["a"].unionByName(grids["b"]))

    def est(grid, name):
        return hll_estimate(grid, m=16).select(
            F.col("approx_distinct").alias(name)
        )

    return (
        est(grids["a"], "est_a")
        .crossJoin(est(grids["b"], "est_b"))
        .crossJoin(est(union_grid, "est_union"))
        .select(
            "est_a",
            "est_b",
            "est_union",
            (F.col("est_a") + F.col("est_b") - F.col("est_union")).alias(
                "est_intersect"
            ),
        )
    )


@query(
    "ols_trend",
    oracle="""
    WITH t0 AS (
      SELECT min(date_trunc('day', ts)) AS d0 FROM events
    ), d AS (
      SELECT event_type,
             CAST(date_diff('day', t0.d0, date_trunc('day', ts)) AS BIGINT)
               AS x,
             CAST(count(*) AS BIGINT) AS y
      FROM events CROSS JOIN t0
      GROUP BY 1, 2
    ), m AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS sx,
             CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(x * x) AS BIGINT) AS sxx,
             CAST(sum(x * y) AS BIGINT) AS sxy,
             CAST(sum(y * y) AS BIGINT) AS syy
      FROM d GROUP BY 1
    )
    SELECT event_type, n,
           CAST(n * sxy - sx * sy AS DOUBLE)
             / CAST(n * sxx - sx * sx AS DOUBLE) AS slope,
           (CAST(sy AS DOUBLE)
            - CAST(n * sxy - sx * sy AS DOUBLE)
              / CAST(n * sxx - sx * sx AS DOUBLE) * CAST(sx AS DOUBLE))
             / CAST(n AS DOUBLE) AS intercept,
           CAST(n * sxy - sx * sy AS DOUBLE)
             * CAST(n * sxy - sx * sy AS DOUBLE)
             / (CAST(n * sxx - sx * sx AS DOUBLE)
                * CAST(n * syy - sy * sy AS DOUBLE)) AS r2
    FROM m
    """,
)
def ols_trend_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped closed-form linear regression (the BigQuery ML.LINEAR_REG
    / ``REGR_SLOPE`` family): per event_type, fit daily event count
    against day index and report slope / intercept / R². All five
    moment sums are INTEGER (day indexes and counts are exact BIGINTs),
    so the normal-equation numerators and denominators are exact before
    the single double division — bit-stable cross-engine with no
    decimal machinery needed, unlike corr_matrix whose inputs are
    already doubles. Plan: one shuffle to the daily grain, one
    vocabulary-sized moment aggregate; the global min-day scalar rides
    a 1-row broadcast. At 100 TB the daily grain is the only
    token-volume shuffle and the moments partial-aggregate map-side."""
    ev = load_table(spark, sf_dir, "events")
    t0 = ev.agg(F.min(F.date_trunc("day", F.col("ts"))).alias("d0"))
    d = (
        ev.crossJoin(F.broadcast(t0))
        .groupBy(
            "event_type",
            F.datediff(F.date_trunc("day", F.col("ts")), F.col("d0"))
            .cast("long")
            .alias("x"),
        )
        .agg(F.count("*").alias("y"))
    )
    m = d.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    den = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    slope = num / den
    return m.select(
        "event_type",
        "n",
        slope.alias("slope"),
        (
            (F.col("sy").cast("double") - slope * F.col("sx").cast("double"))
            / F.col("n").cast("double")
        ).alias("intercept"),
        (
            num * num
            / (
                den
                * (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast(
                    "double"
                )
            )
        ).alias("r2"),
    )


@query(
    "event_transition_matrix",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type,
             LAG(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS prev
      FROM events
    ), c AS (
      SELECT prev, event_type AS next, CAST(count(*) AS BIGINT) AS n
      FROM seq WHERE prev IS NOT NULL
      GROUP BY 1, 2
    )
    SELECT prev, next, n,
           CAST(n AS DOUBLE)
             / CAST(SUM(n) OVER (PARTITION BY prev) AS DOUBLE) AS p
    FROM c
    """,
)
def event_transition_matrix_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences — the user-journey primitive behind churn prediction and
    next-action models. One shuffle on user_id for the LAG ordering
    (ts, event_id total order), one vocabulary-sized aggregate
    (|event_types|^2 cells), then row-normalized probabilities over the
    CELL table (window over ≤ |types|^2 rows, never data-sized). The
    probability is one exact-integer double division — unrounded,
    bit-stable cross-engine."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type", F.lag("event_type").over(w).alias("prev")
    ).where(F.col("prev").isNotNull())
    c = seq.groupBy("prev", F.col("event_type").alias("next")).agg(
        F.count("*").alias("n")
    )
    wp = Window.partitionBy("prev")
    return c.select(
        "prev",
        "next",
        "n",
        (F.col("n").cast("double") / F.sum("n").over(wp).cast("double")).alias(
            "p"
        ),
    )


@query(
    "top_user_paths",
    oracle="""
    WITH ranked AS (
      SELECT user_id, event_type,
             ROW_NUMBER() OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS rn
      FROM events
    ), paths AS (
      SELECT user_id,
             string_agg(event_type, '>' ORDER BY rn) AS path
      FROM ranked WHERE rn <= 3 GROUP BY user_id
    )
    SELECT path, CAST(count(*) AS BIGINT) AS n_users
    FROM paths GROUP BY 1
    ORDER BY n_users DESC, path LIMIT 20
    """,
)
def top_user_paths_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top onboarding paths: each user's first three events joined into
    a '>' path, counted and ranked — the journey-exploration twin of
    funnel_steps (which checks ONE fixed ordering; this discovers the
    orderings that actually occur). The rank-3 cut plans
    WindowGroupLimit (per-partition top-3, no full per-user sort
    materialization); path assembly is an ordered in-group string_agg;
    the final top-20 is TakeOrderedAndProject."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ranked = ev.select(
        "user_id", "event_type", F.row_number().over(w).alias("rn")
    ).where(F.col("rn") <= 3)
    paths = ranked.groupBy("user_id").agg(
        F.concat_ws(
            ">",
            F.transform(
                F.array_sort(F.collect_list(F.struct("rn", "event_type"))),
                lambda s: s["event_type"],
            ),
        ).alias("path")
    )
    return (
        paths.groupBy("path")
        .agg(F.count("*").alias("n_users"))
        .orderBy(F.col("n_users").desc(), F.col("path").asc())
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Round 7 (cont.): AQP sampled aggregates + label-propagation communities.
# ---------------------------------------------------------------------------

from .operators.sketches import _hex_long, _hex_long_sql  # noqa: E402
from .operators.label_prop import (  # noqa: E402
    basket_sets,
    canonical_pairs_from_baskets,
    cooccurrence_edges,
    label_propagation_from_baskets,
    lpa_oracle_sql,
)

_AQP_KEY_SQL = (
    "CAST(l_orderkey AS VARCHAR) || '#' || CAST(l_linenumber AS VARCHAR)"
)


@query(
    "aqp_sampled_agg",
    oracle=f"""
    WITH s AS (
      SELECT l_returnflag,
             CAST(l_extendedprice AS DECIMAL(18,2))
               * (1 - CAST(l_discount AS DECIMAL(18,2))) AS x
      FROM lineitem
      WHERE {_hex_long_sql(f"md5(CAST({_AQP_KEY_SQL} AS VARCHAR))", 1, 4)}
            < 8192
    ), s2 AS (
      SELECT l_returnflag, x, CAST(x * 10000 AS BIGINT) AS xi FROM s
    ), g AS (
      SELECT l_returnflag,
             CAST(count(*) AS BIGINT) AS n_sample,
             sum(x) AS s_exact,
             sum(CAST(xi * xi AS DECIMAL(28,0))) AS ss_exact
      FROM s2 GROUP BY 1
    )
    SELECT l_returnflag, n_sample,
           n_sample * 8 AS est_rows,
           round(CAST(s_exact AS DOUBLE) * CAST(8 AS DOUBLE), 2)
             AS est_revenue,
           round(CAST(1.96 AS DOUBLE)
                 * sqrt(CAST(56 AS DOUBLE)
                        * (CAST(ss_exact AS DOUBLE)
                           / CAST(100000000 AS DOUBLE))), 2)
             AS ci95_revenue
    FROM g
    """,
)
def aqp_sampled_agg_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate query processing: a deterministic p = 1/8 Bernoulli
    sample (first 16 md5 bits of the lineitem PK, uniform, thresholded
    at 8192 — the same portable hex decode the HLL sketches replay in
    the oracle) feeding a Horvitz-Thompson estimate of per-returnflag
    row count and discounted revenue, with a 95% CI half-width from
    the unbiased HT variance estimator Var = (1-p)/p^2 * sum(x_i^2).
    p is EXACTLY dyadic, so the scale factor (8) and variance factor
    ((1-p)/p^2 = 56) are exact integers — an ascii-fold mod 100 was
    measured non-uniform (effective p 0.1025, a 2.5% systematic bias);
    thresholding a uniform 16-bit value by a power of two makes the
    inclusion probability exact and the estimator unbiased.

    The reference pays for full scans on every dashboard refresh (its
    table-layout notes in
    `/root/reference/definitions/game_similarity_search.sqlx` measure
    per-query scan bytes to shave cost); a sampled estimator with an
    honest CI is the warehouse-native answer when a 1% error band is
    acceptable at 1/10 the scan. Exactness discipline: x is the
    decimal disc-price (order-independent sums); for x^2 the scale-4
    decimal is lifted to ten-thousandths as a BIGINT (xi <= 1.05e9, so
    xi^2 <= 1.1e18 — comfortably inside int64 per row in both
    engines), squared exactly in int64, and summed in DECIMAL(38,0)
    (sum would overflow int64 at sf >= ~0.1); the only doubles are the
    final /1e8 rescale, scale and sqrt — identical IEEE ops in
    identical association, rounded at 2dp.

    Scale: the sample predicate is evaluated scan-side BEFORE the
    aggregate's shuffle, so 7/8 of the data never leaves the scan
    stage; the aggregate partial-aggregates map-side to a 3-row group
    key. At 100 TB this is the difference between a 100 TB and a
    12.5 TB query with a quantified error bar."""
    li = load_table(spark, sf_dir, "lineitem")
    key = F.concat_ws(
        "#", F.col("l_orderkey").cast("string"),
        F.col("l_linenumber").cast("string"),
    )
    x = F.col("l_extendedprice").cast("decimal(18,2)") * (
        F.lit(1) - F.col("l_discount").cast("decimal(18,2)")
    )
    xi = (x * F.lit(10000)).cast("long")
    g = (
        li.where(_hex_long(F.md5(key), 1, 4) < 8192)
        .select(
            "l_returnflag",
            x.alias("x"),
            (xi * xi).cast("decimal(28,0)").alias("xx"),
        )
        .groupBy("l_returnflag")
        .agg(
            F.count("*").alias("n_sample"),
            F.sum("x").alias("s_exact"),
            F.sum("xx").alias("ss_exact"),
        )
    )
    return g.select(
        "l_returnflag",
        "n_sample",
        (F.col("n_sample") * F.lit(8)).alias("est_rows"),
        F.round(F.col("s_exact").cast("double") * F.lit(8.0), 2).alias(
            "est_revenue"
        ),
        F.round(
            F.lit(1.96)
            * F.sqrt(
                F.lit(56.0)
                * (F.col("ss_exact").cast("double") / F.lit(100000000.0))
            ),
            2,
        ).alias("ci95_revenue"),
    )


_LPA_EDGES_SQL = """
      WITH items AS (
        SELECT DISTINCT l_orderkey AS g, l_partkey AS p FROM lineitem
      )
      SELECT DISTINCT a.p AS src, b.p AS dst
      FROM items a JOIN items b ON a.g = b.g AND a.p <> b.p
    """


@query(
    "label_propagation",
    oracle=lpa_oracle_sql(_LPA_EDGES_SQL, iters=3)
    + """
    SELECT label AS community,
           CAST(count(*) AS BIGINT) AS n_nodes,
           MIN(v) AS min_member, MAX(v) AS max_member
    FROM l3 GROUP BY 1
    """,
)
def label_propagation_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection over the part co-purchase graph: 3 rounds
    of deterministic synchronous label propagation (most-frequent
    neighbour label, self gets one vote, ties to the smallest label —
    see operators/label_prop.py), then community sizes + member
    ranges. Fixed K + deterministic ties make the whole iterative
    algorithm a pure function of the edge set, so the DuckDB oracle
    replays all 3 rounds as chained CTEs and the gate is a full hash
    match — an iterative-graph-algorithm analog of the replayed-sketch
    pattern (cms_heavy_hitters / approx_distinct_hll).

    Distinct from components_star_chains: CC answers reachability;
    LPA's vote dynamics split a connected graph into densely-linked
    neighbourhoods (communities), the grouping a user of the
    reference's precomputed game_neighbors pairs
    (`/root/reference/definitions/game_similarity_search.sqlx`) needs
    next. Scale: edges are basket-bounded (<= 11 lines/order so <= 110
    directed pairs/order, equi-joined on the order key — never a
    cartesian); each round is one edge-vs-labels equi-join plus one
    map-side-combinable vote aggregate; labels stay |V|-sized and are
    lineage-pinned per round."""
    li = load_table(spark, sf_dir, "lineitem")
    labels = label_propagation_from_baskets(
        basket_sets(li, "l_orderkey", "l_partkey"), iters=3
    )
    return labels.groupBy(F.col("label").alias("community")).agg(
        F.count("*").alias("n_nodes"),
        F.min("v").alias("min_member"),
        F.max("v").alias("max_member"),
    )


# ---------------------------------------------------------------------------
# Round 7 (cont.): graph structure metrics — bounded k-core peeling and a
# degree-oriented triangle census over the part co-purchase graph.
# ---------------------------------------------------------------------------

from .operators.graph import (  # noqa: E402
    closed_wedges,
    kcore,
    kcore_oracle_sql,
    orient_edges,
    triangle_count,
)


@query(
    "kcore_parts",
    oracle=kcore_oracle_sql(_LPA_EDGES_SQL, k=64, rounds=3),
)
def kcore_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense-core extraction: 3 bounded peeling rounds of the 64-core
    over the part co-purchase graph (operators/graph.py kcore),
    returning every surviving part with its residual degree. The peel
    is a pure function of (edges, k, rounds), so the DuckDB oracle
    replays every round as a CTE chain (kcore_oracle_sql) and the gate
    is a full hash match — same replayed-iteration discipline as
    label_propagation and components_star_chains.

    Complements LPA: communities partition the graph; the k-core
    isolates its densest backbone (the parts that co-sell with >= 64
    distinct partners even after fringe parts are peeled away) — the
    subgraph a recommender or negative-sampling stage would mine first.
    Scale: each round is one map-side-combinable degree aggregate plus
    two |E|-vs-|V| semi-joins, the residual edge set only shrinks, and
    rounds is a constant — bounded stage count, no convergence loop
    hiding unbounded scheduling (the GraphX failure mode at 100 TB)."""
    li = load_table(spark, sf_dir, "lineitem")
    edges = cooccurrence_edges(li, "l_orderkey", "l_partkey")
    return kcore(edges, k=64, rounds=3, assume_symmetric=True)


_TRI_EDGES_SQL = """
      SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
      WHERE a.l_partkey % 3 = 0 AND b.l_partkey % 3 = 0
    """


@query(
    "triangle_census",
    oracle=f"""
    WITH e0 AS ({_TRI_EDGES_SQL}),
    deg AS (SELECT src AS v, count(*) AS d FROM e0 GROUP BY src),
    o AS (
      SELECT e.src, e.dst FROM e0 e
      JOIN deg ds ON ds.v = e.src
      JOIN deg dd ON dd.v = e.dst
      WHERE ds.d < dd.d OR (ds.d = dd.d AND e.src < e.dst)
    ),
    w AS (
      SELECT a.dst AS v, b.dst AS w
      FROM o a JOIN o b ON a.src = b.src AND a.dst < b.dst
    ),
    c AS (SELECT src AS v, dst AS w FROM e0 WHERE src < dst),
    tri AS (SELECT CAST(count(*) AS BIGINT) AS n_triangles FROM w JOIN c USING (v, w)),
    agg AS (
      SELECT
        (SELECT CAST(count(*) AS BIGINT) FROM deg) AS n_nodes,
        (SELECT CAST(count(*) AS BIGINT) FROM o) AS n_edges,
        (SELECT CAST(COALESCE(sum(cnt * (cnt - 1) // 2), 0) AS BIGINT)
           FROM (SELECT count(*) AS cnt FROM o GROUP BY src)) AS n_wedges,
        (SELECT n_triangles FROM tri) AS n_triangles
    )
    SELECT n_nodes, n_edges, n_wedges, n_triangles,
           CAST(3000 * n_triangles // NULLIF(n_wedges, 0) AS BIGINT)
             AS closure_permille
    FROM agg
    """,
)
def triangle_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global triangle census of a part co-purchase subgraph (every
    third part, to keep the wedge set linear-ish at bench scale):
    node/edge/wedge/triangle counts plus the global clustering
    coefficient in exact integer permille (3000*T DIV wedges — the
    transitivity ratio 3T/W scaled to integers so the gate never
    touches engine-dependent float division).

    Uses the degree-ordered orientation (operators/graph.py
    orient_edges): every undirected edge once, pointing low-(deg, id)
    to high, so per-node out-degree is O(sqrt(m)) and the wedge
    self-join is bounded by sum outdeg^2 instead of sum deg^2 — the
    hub-safe triangle strategy at 100 TB (a raw neighbour self-join is
    quadratic in hub degree; hubs here are best-selling parts). All
    four scalar branches re-derive from the SAME symmetric-distinct
    edge exchange, which materializes once per plan via ReusedExchange
    — audited in tests, not assumed."""
    li = load_table(spark, sf_dir, "lineitem").where(F.col("l_partkey") % 3 == 0)
    edges = cooccurrence_edges(li, "l_orderkey", "l_partkey")
    o = orient_edges(edges, assume_symmetric=True)
    nodes = edges.agg(F.countDistinct("src").alias("n_nodes"))
    n_edges = o.agg(F.count("*").alias("n_edges"))
    wedges = (
        o.groupBy("src")
        .agg(F.count("*").alias("cnt"))
        .agg(
            F.coalesce(F.sum(F.expr("cnt * (cnt - 1) div 2")), F.lit(0))
            .cast("long")
            .alias("n_wedges")
        )
    )
    tri = triangle_count(edges, assume_symmetric=True)
    return (
        nodes.crossJoin(n_edges)
        .crossJoin(wedges)
        .crossJoin(tri)
        .select(
            "n_nodes",
            "n_edges",
            "n_wedges",
            "n_triangles",
            F.expr("cast(3000 * n_triangles div nullif(n_wedges, 0) as long)")
            .alias("closure_permille"),
        )
    )


# ---------------------------------------------------------------------------
# Round 7 (cont.): distributed prefix-scan analytics — sweep-line interval
# concurrency, Pareto frontier, sorted-neighborhood dedup blocking — plus
# MAD robust outlier detection. The first three all ride the two-pass
# bucketed scan in operators/prefix.py: NO single-partition windows over
# data-sized streams anywhere (the shape a 100 TB event table forbids);
# each DuckDB oracle uses the plain global-window (or naive quadratic)
# form, so the gates hash-verify the distributed rewrite itself.
# ---------------------------------------------------------------------------

from .operators.prefix import (  # noqa: E402
    global_row_number,
    running_min_before,
    running_sum,
    running_sums,
)
from .operators.sweepline import interval_concurrency  # noqa: E402


@query(
    "peak_concurrency",
    oracle="""
    WITH b AS (
      SELECT ts AS t, CAST(1 AS BIGINT) AS delta, event_id AS id FROM events
      UNION ALL
      SELECT ts + INTERVAL 30 MINUTE, CAST(-1 AS BIGINT), event_id FROM events
    ),
    scan AS (
      SELECT t, delta,
             SUM(delta) OVER (ORDER BY t, delta, id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS concurrency
      FROM b
    )
    SELECT date_trunc('day', t) AS day,
           CAST(MAX(concurrency) AS BIGINT) AS peak_concurrent,
           CAST(COUNT(*) AS BIGINT) AS n_started
    FROM scan WHERE delta = 1 GROUP BY 1
    """,
)
def peak_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak session concurrency per day: every event opens a half-open
    30-minute activity interval [ts, ts+30min); the sweep-line running
    sum of +1/-1 boundaries (operators/sweepline.py) counts open
    intervals at every instant, and the daily max is the capacity
    figure. The oracle is the textbook single-window form; the Spark
    side is the two-pass hour-bucketed prefix scan
    (operators/prefix.py running_sum) — per-bucket windows plus an
    exclusive prefix over |buckets| totals — so the gate hash-verifies
    that the distributed scan is bit-identical to the global window.
    Half-open semantics: -1 sorts before +1 at equal t, so
    back-to-back intervals never double-count.

    Scale: boundaries are generated map-side (2-struct explode), the
    only data-sized shuffle is the hour-bucket window sort, and the
    bucket-offset table (one row per hour) broadcasts. A bare
    Window.orderBy(ts) — one task for all 100 TB — never appears."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "ts",
        (F.col("ts") + F.expr("INTERVAL 30 MINUTES")).alias("te"),
    )
    conc = interval_concurrency(ev, "ts", "te", "event_id")
    return (
        conc.where(F.col("delta") == 1)
        .groupBy(F.date_trunc("day", F.col("t")).alias("day"))
        .agg(
            F.max("concurrency").alias("peak_concurrent"),
            F.count("*").alias("n_started"),
        )
    )


@query(
    "pareto_frontier",
    oracle="""
    WITH pairs AS (
      SELECT p_retailprice AS price, CAST(p_size AS BIGINT) AS size,
             CAST(count(*) AS BIGINT) AS n_parts
      FROM part GROUP BY 1, 2)
    SELECT round(price, 2) AS price, size, n_parts FROM pairs a
    WHERE NOT EXISTS (
      SELECT 1 FROM pairs b
      WHERE b.price <= a.price AND b.size <= a.size
        AND (b.price < a.price OR b.size < a.size))
    """,
)
def pareto_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D Pareto frontier (skyline) of parts minimizing (retail price,
    size): the non-dominated (price, size) combinations a buyer would
    ever rationally pick. The oracle is the NAIVE quadratic NOT EXISTS
    dominance test over distinct pairs; the Spark side is the O(n log n)
    scan rewrite — order by (price, size), keep a pair iff the
    EXCLUSIVE running min of size over all preceding pairs is higher —
    run as the bucketed two-pass prefix-min (operators/prefix.py
    running_min_before, price-band buckets), so the gate hash-proves
    the linear-scan skyline equals the quadratic definition.

    Scale: dominance reduces to distinct (price, size) pairs first
    (bounded by the attribute domain, not row count); the scan is
    per-band windows plus a |bands|-row exclusive prefix. The naive
    pairwise form the oracle uses would be a 10^10-pair cross join at
    100 TB — structurally unplannable here."""
    p = load_table(spark, sf_dir, "part")
    pairs = p.groupBy(
        F.col("p_retailprice").alias("price"),
        F.col("p_size").cast("long").alias("size"),
    ).agg(F.count("*").alias("n_parts"))
    scan = running_min_before(
        pairs,
        "size",
        (F.col("price") / 100).cast("long"),
        ["price", "size"],
        out_col="mb",
    )
    return scan.where(
        F.col("mb").isNull() | (F.col("size") < F.col("mb"))
    ).select(F.round(F.col("price"), 2).alias("price"), "size", "n_parts")


@query(
    "sorted_neighborhood_pairs",
    oracle="""
    WITH r AS (
      SELECT p_partkey AS k, p_name AS n,
             ROW_NUMBER() OVER (ORDER BY p_name, p_partkey) AS rn
      FROM part)
    SELECT a.n AS name_a, b.n AS name_b,
           CAST(b.rn - a.rn AS BIGINT) AS gap,
           CAST(levenshtein(a.n, b.n) AS BIGINT) AS dist
    FROM r a JOIN r b ON b.rn - a.rn BETWEEN 1 AND 3
    WHERE levenshtein(a.n, b.n) <= 4
    """,
)
def sorted_neighborhood_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood dedup blocking (Hernandez-Stolfo): rank all
    part names in one global lexicographic order, compare each record
    only to its 3 successors, keep pairs within Levenshtein distance 4
    — the classic windowed alternative to token blocking
    (fuzzy_match_parts) that catches near-duplicates token blocking
    splits (typos in the first token). The oracle ranks with a global
    ROW_NUMBER and joins on rank distance; the Spark side builds the
    SAME rank with the two-pass bucketed row numbering
    (operators/prefix.py global_row_number, first-letter buckets) and
    turns the rank-band join into an EQUI-join by exploding each row
    into its 3 probe ranks — no range join, no single-partition window.

    Scale: per-bucket row_number + a |buckets|-row offset table; the
    probe explode is a constant 3x; the rank join is hash-partitioned
    on rank. Window width and edit threshold are the operator's recall
    knobs, as in the ER literature."""
    p = load_table(spark, sf_dir, "part")
    names = p.select(F.col("p_partkey").alias("k"), F.col("p_name").alias("n"))
    rn = global_row_number(
        names, F.substring("n", 1, 1), ["n", "k"], out_col="rn"
    )
    probe = rn.select(
        F.col("n").alias("name_a"),
        F.explode(F.sequence(F.lit(1), F.lit(3))).alias("gap"),
        F.col("rn"),
    ).withColumn("rj", F.col("rn") + F.col("gap"))
    right = rn.select(F.col("n").alias("name_b"), F.col("rn").alias("rj"))
    return (
        probe.join(right, "rj")
        .select(
            "name_a",
            "name_b",
            F.col("gap").cast("long").alias("gap"),
            F.levenshtein("name_a", "name_b").cast("long").alias("dist"),
        )
        .where(F.col("dist") <= 4)
    )


@query(
    "robust_outliers",
    oracle="""
    WITH base AS (
      SELECT event_type, event_id, value,
             ROW_NUMBER() OVER (
               PARTITION BY event_type ORDER BY value, event_id) AS rn,
             COUNT(*) OVER (PARTITION BY event_type) AS n
      FROM events),
    med AS (SELECT event_type, value AS med FROM base WHERE rn = (n + 1) // 2),
    dev AS (SELECT b.event_type, b.event_id, b.n, m.med,
                   abs(b.value - m.med) AS dev
            FROM base b JOIN med m USING (event_type)),
    dev2 AS (SELECT *, ROW_NUMBER() OVER (
               PARTITION BY event_type ORDER BY dev, event_id) AS rn2
             FROM dev),
    mad AS (SELECT event_type, dev AS mad FROM dev2 WHERE rn2 = (n + 1) // 2)
    SELECT d.event_type, CAST(count(*) AS BIGINT) AS n_events,
           MIN(d.med) AS med_value, MIN(m.mad) AS mad_value,
           CAST(count_if(d.dev > 3.0 * m.mad) AS BIGINT) AS n_outliers
    FROM dev d JOIN mad m USING (event_type)
    GROUP BY 1
    """,
)
def robust_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-type outlier detection: median + MAD (median absolute
    deviation) per event_type, flagging values more than 3 MADs from
    the median — the estimator that survives the very outliers it
    hunts, unlike mean/stddev z-scores (50% breakdown point vs 0%).
    Exactness across engines comes from SELECTION, not arithmetic: the
    median is the lower median — the value at ROW_NUMBER (n+1) DIV 2
    in (value, event_id) order — so both engines pick the same stored
    double; dev = abs(x - med) and the 3*mad comparison are identical
    single IEEE ops in identical association (safe unrounded, per the
    module conventions).

    Scale: two row_number windows partitioned by event_type (bounded
    fan-in, map-side combinable counts) and two broadcast joins of the
    |types|-row med/mad tables; nothing data-sized crosses a single
    partition. Skewed types ride AQE; the window keys are the same
    partitioning both passes, so the second sort reuses the layout."""
    ev = load_table(spark, sf_dir, "events")
    wt = Window.partitionBy("event_type")
    # base feeds two branches (med + dev) and dev feeds two more
    # (mad + the final aggregate): pin both lazily so the events scan
    # and the per-type sorts run once per pass, not once per consumer
    # (the decision_stump convention).
    base = (
        ev.select("event_type", "event_id", "value")
        .withColumn(
            "rn", F.row_number().over(wt.orderBy("value", "event_id"))
        )
        .withColumn("n", F.count("*").over(wt))
        .localCheckpoint(eager=False)
    )
    med = base.where(F.col("rn") == F.expr("(n + 1) div 2")).select(
        "event_type", F.col("value").alias("med")
    )
    dev = (
        base.join(F.broadcast(med), "event_type")
        .withColumn("dev", F.abs(F.col("value") - F.col("med")))
        .localCheckpoint(eager=False)
    )
    dev2 = dev.withColumn(
        "rn2", F.row_number().over(wt.orderBy("dev", "event_id"))
    )
    mad = dev2.where(F.col("rn2") == F.expr("(n + 1) div 2")).select(
        "event_type", F.col("dev").alias("mad")
    )
    return (
        dev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.min("med").alias("med_value"),
            F.min("mad").alias("mad_value"),
            F.sum(
                F.when(F.col("dev") > F.lit(3.0) * F.col("mad"), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_outliers"),
        )
    )


# ---------------------------------------------------------------------------
# Round 7 (cont.): grouped quantile features, association-rule mining, and
# per-edge triangle support (k-truss cohesion).
# ---------------------------------------------------------------------------


@query(
    "quantile_normalize",
    oracle="""
    WITH r AS (
      SELECT event_type, event_id, value,
             ROW_NUMBER() OVER (
               PARTITION BY event_type ORDER BY value, event_id) AS rn,
             COUNT(*) OVER (PARTITION BY event_type) AS n
      FROM events)
    SELECT event_type, event_id, value,
           CAST(CASE WHEN n > 1 THEN (rn - 1) * 10000 // (n - 1)
                     ELSE 0 END AS BIGINT) AS pr_permyriad
    FROM r
    """,
)
def quantile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group quantile normalization: each event's value mapped to
    its within-type empirical percentile in exact integer permyriad
    ((rank-1)*10000 DIV (n-1)) — the rank-based feature scaling a
    training pipeline applies before mixing heterogeneous signals, in
    pure integer arithmetic so the gate needs no float tolerance.

    The oracle uses the textbook PARTITION BY window; the Spark side
    builds the same rank with the GROUPED two-pass row numbering
    (operators/prefix.py global_row_number, partition_cols +
    floor(value) bands): every stage parallelizes over type x band, so
    one dominant event_type — the guaranteed skew shape when types are
    few and data is 100 TB — never lands on a single task the way the
    oracle's own window would."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type", "event_id", "value"
    )
    rn = global_row_number(
        ev,
        F.floor("value"),
        ["value", "event_id"],
        partition_cols=["event_type"],
        out_col="rn",
    )
    cnt = ev.groupBy("event_type").agg(F.count("*").alias("n"))
    return rn.join(F.broadcast(cnt), "event_type").select(
        "event_type",
        "event_id",
        "value",
        F.expr("case when n > 1 then (rn - 1) * 10000 div (n - 1) else 0 end")
        .cast("long")
        .alias("pr_permyriad"),
    )


@query(
    "association_rules",
    oracle="""
    WITH items AS (
      SELECT DISTINCT l_orderkey AS g, l_partkey AS p FROM lineitem),
    pairs AS (
      SELECT a.p AS src, b.p AS dst, CAST(count(*) AS BIGINT) AS s_ab
      FROM items a JOIN items b ON a.g = b.g AND a.p < b.p
      GROUP BY 1, 2),
    s AS (SELECT p, CAST(count(*) AS BIGINT) AS s FROM items GROUP BY 1),
    n AS (SELECT CAST(count(DISTINCT g) AS BIGINT) AS nb FROM items),
    rules AS (SELECT src AS a, dst AS b, s_ab FROM pairs
              UNION ALL SELECT dst, src, s_ab FROM pairs)
    SELECT r.a, r.b, r.s_ab,
           CAST(1000 * r.s_ab // sa.s AS BIGINT) AS conf_permille,
           CAST(1000 AS DOUBLE) * r.s_ab * n.nb / (sa.s * sb.s) AS lift_x1000
    FROM rules r CROSS JOIN n
    JOIN s sa ON sa.p = r.a
    JOIN s sb ON sb.p = r.b
    WHERE r.s_ab >= 3
    ORDER BY r.s_ab DESC, r.a, r.b LIMIT 100
    """,
)
def association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association rules over order baskets: the top 100
    directed part pairs a=>b by co-occurrence support (>= 3 baskets),
    with confidence in exact integer permille (1000*s_ab DIV s_a) and
    lift scaled x1000 as one double expression evaluated in identical
    association on both engines (integer-exact inputs, single IEEE
    multiply/divide chain — safe unrounded per the module contract).

    Pair supports come from the same bounded basket explode as
    cooccurrence_edges — canonical (a < b) pairs generated map-side
    from collect_set baskets, never an items self-join — then counted
    with a map-side-combinable aggregate; item supports and the basket
    total are one groupBy each; the final top-100 is a
    TakeOrderedAndProject. At 100 TB the only data-sized shuffles are
    the basket build and the pair count, both keyed and partial-
    aggregated; lift's cross join is a broadcast of ONE row."""
    li = load_table(spark, sf_dir, "lineitem")
    # ONE basket shuffle feeds everything: pair supports (the shared
    # canonical-pair stream — same builder cooccurrence_edges dedups
    # into a graph), item supports (explode, map-side), and the basket
    # total all consume the SAME basket_sets frame, so the collect_set
    # exchange materializes once via ReusedExchange (plan-audited: one
    # partial_collect_set; the basket total may plan its own skinny
    # 1-column scan, which Catalyst prefers over reusing the wide
    # exchange) instead of re-shuffling lineitem per statistic.
    baskets_all = basket_sets(li, "l_orderkey", "l_partkey")
    pairs = (
        canonical_pairs_from_baskets(baskets_all)
        .groupBy("src", "dst")
        .agg(F.count("*").alias("s_ab"))
    )
    s = (
        baskets_all.select(F.explode("ps").alias("p"))
        .groupBy("p")
        .agg(F.count("*").alias("s"))
    )
    nb = baskets_all.agg(F.count("*").alias("nb"))
    rules = pairs.select(
        F.col("src").alias("a"), F.col("dst").alias("b"), "s_ab"
    ).unionByName(
        pairs.select(F.col("dst").alias("a"), F.col("src").alias("b"), "s_ab")
    )
    sa = s.select(F.col("p").alias("a"), F.col("s").alias("s_a"))
    sb = s.select(F.col("p").alias("b"), F.col("s").alias("s_b"))
    return (
        rules.where(F.col("s_ab") >= 3)
        .join(sa, "a")
        .join(sb, "b")
        .crossJoin(F.broadcast(nb))
        .select(
            "a",
            "b",
            "s_ab",
            F.expr("1000 * s_ab div s_a").cast("long").alias("conf_permille"),
            (
                F.lit(1000.0)
                * F.col("s_ab")
                * F.col("nb")
                / (F.col("s_a") * F.col("s_b"))
            ).alias("lift_x1000"),
        )
        .orderBy(F.desc("s_ab"), "a", "b")
        .limit(100)
    )


@query(
    "edge_support_topk",
    oracle="""
    WITH e0 AS (
      SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
      WHERE a.l_partkey % 3 = 0 AND b.l_partkey % 3 = 0),
    deg AS (SELECT src AS v, count(*) AS d FROM e0 GROUP BY src),
    o AS (
      SELECT e.src, e.dst FROM e0 e
      JOIN deg ds ON ds.v = e.src
      JOIN deg dd ON dd.v = e.dst
      WHERE ds.d < dd.d OR (ds.d = dd.d AND e.src < e.dst)),
    w AS (
      SELECT a.dst AS v, b.dst AS w
      FROM o a JOIN o b ON a.src = b.src AND a.dst < b.dst),
    c AS (SELECT src AS v, dst AS w FROM e0 WHERE src < dst)
    SELECT v, w, CAST(count(*) AS BIGINT) AS support
    FROM w JOIN c USING (v, w) GROUP BY 1, 2
    ORDER BY support DESC, v, w LIMIT 30
    """,
)
def edge_support_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-edge triangle support (the k-truss cohesion metric): for
    every co-purchase edge, how many triangles contain it; top 30 by
    support. Edges with high support sit inside densely-knit product
    neighbourhoods — the truss-decomposition primitive that filters
    coincidental co-purchases out of the graph the way k-core filters
    weak NODES (kcore_parts) and the census summarizes globally
    (triangle_census).

    Same hub-safe machinery as the census: degree-ordered orientation
    caps wedge fan-out at O(sqrt(m)) per vertex, wedges close against
    the canonical half-edge set via one equi-join, and the per-edge
    counts partial-aggregate before the final TakeOrdered(30)."""
    li = load_table(spark, sf_dir, "lineitem").where(
        F.col("l_partkey") % 3 == 0
    )
    edges = cooccurrence_edges(li, "l_orderkey", "l_partkey")
    return (
        closed_wedges(edges)
        .groupBy("v", "w")
        .agg(F.count("*").alias("support"))
        .orderBy(F.desc("support"), "v", "w")
        .limit(30)
    )


# ---------------------------------------------------------------------------
# Round 7 (cont.): unigram-LM subword segmentation (tokenizer family #3).
# ---------------------------------------------------------------------------

from .operators.unigram import (  # noqa: E402
    unigram_costs,
    unigram_oracle_sql,
    unigram_segment,
)

_UNIGRAM_WORDS_SQL = """
  SELECT word, CAST(count(*) AS BIGINT) AS c FROM (
    SELECT UNNEST(list_filter(string_split_regex(lower(text), '\\s+'),
                              x -> x <> '')) AS word FROM documents) GROUP BY 1
"""
_UNIGRAM_COMPOUNDS_SQL = """
  SELECT word FROM (
    SELECT toks[i] || toks[i + 1] AS word
    FROM (SELECT list_filter(string_split_regex(lower(text), '\\s+'),
                             x -> x <> '') AS toks FROM documents) t,
         unnest(generate_series(1, len(toks) - 1)) AS u(i)) GROUP BY 1
"""


@query(
    "unigram_segment_compounds",
    oracle=unigram_oracle_sql(_UNIGRAM_WORDS_SQL, _UNIGRAM_COMPOUNDS_SQL)
    + """
    , compn AS (
      SELECT toks[i] || toks[i + 1] AS word,
             CAST(count(*) AS BIGINT) AS n_occurrences
      FROM (SELECT list_filter(string_split_regex(lower(text), '\\s+'),
                               x -> x <> '') AS toks FROM documents) t,
           unnest(generate_series(1, len(toks) - 1)) AS u(i)
      GROUP BY 1)
    SELECT c.word, c.n_occurrences, s.min_cost_micro, s.n_best_paths
    FROM compn c JOIN seg s USING (word)
    ORDER BY c.n_occurrences DESC, c.word LIMIT 200
    """,
)
def unigram_segment_compounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM (SentencePiece-style) Viterbi segmentation
    (operators/unigram.py): learn a <=4-char piece frequency model from
    single-word occurrences, then exactly segment UNSEEN compound
    strings (adjacent-word concatenations, up to 16 chars) over their
    full segmentation lattice — top 200 compounds by frequency with
    the optimal path cost in micro-nats and the count of co-optimal
    paths. Completes the tokenizer family: BPE learns merges, WordPiece
    matches greedily, unigram searches the lattice exactly.

    The gate hashes (min_cost, n_best_paths) — both pure BIGINT
    min-plus results over micro-nat integer costs (lm_score.py's
    rounded-ln convention), so the whole Viterbi is engine-exact; the
    oracle replays the DP as a 16-level materialized CTE chain. The
    Spark DP runs map-side as ONE Catalyst higher-order aggregate over
    each word's collected edge list (<= 64 edges): no per-position
    joins, no UDF, and the only shuffles are token counts and the
    vocabulary-bounded span-to-cost equi-join."""
    docs = load_table(spark, sf_dir, "documents")
    # tokens stay an ARRAY: word counts explode it, compounds zip each
    # token with its successor map-side (transform over positions) —
    # no positional self-join ever materializes.
    arrs = docs.select(
        F.filter(F.split(F.lower("text"), r"\s+"), lambda x: x != "").alias(
            "toks"
        )
    )
    words = (
        arrs.select(F.explode("toks").alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("c"))
    )
    comp = (
        arrs.where(F.size("toks") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(1, size(toks) - 1), i ->"
                    " concat(element_at(toks, i), element_at(toks, i + 1)))"
                )
            ).alias("word")
        )
        .groupBy("word")
        .agg(F.count("*").alias("n_occurrences"))
    )
    costs = unigram_costs(words)
    seg = unigram_segment(comp.select("word"), costs)
    return (
        comp.join(seg, "word")
        .select("word", "n_occurrences", "min_cost_micro", "n_best_paths")
        .orderBy(F.desc("n_occurrences"), "word")
        .limit(200)
    )


# ---------------------------------------------------------------------------
# Round 7 (cont.): Merkle table commitment (integrity family #2).
# ---------------------------------------------------------------------------

from .operators.merkle import merkle_tree, merkle_tree_oracle_sql  # noqa: E402
from .functions.hashing import md5_fold_wide_sql  # noqa: E402
from .operators.importance import md5_fold_sql  # noqa: E402


@query(
    "merkle_table_root",
    oracle=merkle_tree_oracle_sql(
        f"""
      SELECT bucket, CAST(sum(h) AS BIGINT) AS checksum,
             CAST(count(*) AS BIGINT) AS n_rows
      FROM (
        SELECT {md5_fold_sql('o_orderkey', 32)} AS bucket,
               {md5_fold_wide_sql(_manifest_fp_sql(), 1000000007)} AS h
        FROM orders
      ) GROUP BY 1
    """,
        32,
    )
    + "\n    SELECT level, idx, h FROM tree",
)
def merkle_table_root(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merkle commitment over the orders table: the 32-bucket portable
    checksum manifest (same leaf math as table_checksum_manifest —
    additive md5 residues mod 1e9+7, order-independent, partial-agg
    safe) folded into a binary hash tree (operators/merkle.py). Output
    is every (level, idx, hash) — 63 rows, root at level 5 — so two
    copies of a 100 TB table compare with ONE row and localize a
    divergence by walking 5 levels instead of re-scanning either side.
    Empty bucket slots hash as (idx:0:0): the tree is a pure function
    of content, not occupancy.

    Scale: the only data-sized stage is the leaf sum (map-side
    combine to 32 rows); the tree itself is five grouped aggregates
    over <= 32 rows. The oracle replays leaves and every level as a
    CTE chain (string_agg ORDER BY idx == sorted-collect concat)."""
    from .functions.hashing import md5_fold_wide, portable_fingerprint
    from .operators.importance import md5_fold

    # single-split fixture: the per-row md5 leaf fold fuses into the
    # one scan task (measured 2.4 s serial CPU); production tables
    # scan as thousands of splits, so the cores-proportional
    # repartition of the 4-column projection stands in for that input
    # parallelism (bloom_pruned_join precedent)
    orders = (
        load_table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
        .repartition(spark.sparkContext.defaultParallelism, "o_orderkey")
    )
    fp = portable_fingerprint(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    leaves = (
        orders.select(
            md5_fold(F.col("o_orderkey"), 32).alias("bucket"),
            md5_fold_wide(fp, 1_000_000_007).alias("h"),
        )
        .groupBy("bucket")
        .agg(F.sum("h").alias("checksum"), F.count("*").alias("n_rows"))
    )
    return merkle_tree(leaves, 32)


# ---------------------------------------------------------------------------
# Round 7 (cont.): Holt-Winters additive seasonal forecasting.
# ---------------------------------------------------------------------------


def _hw_seasonal_oracle() -> str:
    # the seasonal-list update written as an explicit 7-element list
    # (DuckDB's list_transform lambda has no index parameter); l' is
    # textually duplicated, as in the holt oracle — same value, and
    # duplication keeps the recurrence a single recursive CTE.
    s_update = " , ".join(
        f"""CASE WHEN {j} = ((d.rn - 1) % 7) + 1
        THEN 0.5 * (d.y - (0.5 * (d.y - h.s[((d.rn - 1) % 7) + 1])
             + 0.5 * (h.l + h.b))) + 0.5 * h.s[{j}]
        ELSE h.s[{j}] END"""
        for j in range(1, 8)
    )
    return f"""
    WITH RECURSIVE act AS (
      SELECT event_type, date_trunc('day', ts) AS day,
             CAST(count(*) AS BIGINT) AS y
      FROM events GROUP BY 1, 2
    ), span AS (
      SELECT min(day) AS d0, max(day) AS d1
      FROM (SELECT date_trunc('day', ts) AS day FROM events)
    ), cal AS (
      SELECT unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS day FROM span
    ), types AS (SELECT DISTINCT event_type FROM act),
    daily AS (
      SELECT t.event_type,
             ROW_NUMBER() OVER (PARTITION BY t.event_type
                                ORDER BY c.day) AS rn,
             CAST(COALESCE(a.y, 0) AS DOUBLE) AS y
      FROM types t CROSS JOIN cal c
      LEFT JOIN act a ON a.event_type = t.event_type AND a.day = c.day
    ), n AS (SELECT CAST(max(rn) AS BIGINT) AS last_rn FROM daily),
    hw AS (
      SELECT event_type, rn, y AS l, CAST(0.0 AS DOUBLE) AS b,
             [CAST(0.0 AS DOUBLE), 0.0, 0.0, 0.0, 0.0, 0.0, 0.0] AS s
      FROM daily WHERE rn = 1
      UNION ALL
      SELECT d.event_type, d.rn,
             0.5 * (d.y - h.s[((d.rn - 1) % 7) + 1]) + 0.5 * (h.l + h.b),
             0.5 * ((0.5 * (d.y - h.s[((d.rn - 1) % 7) + 1])
                    + 0.5 * (h.l + h.b)) - h.l) + 0.5 * h.b,
             [{s_update}]
      FROM hw h JOIN daily d
        ON d.event_type = h.event_type AND d.rn = h.rn + 1
    )
    SELECT h.event_type, h.l AS level, h.b AS trend,
           h.l + h.b + h.s[(CAST(h.rn AS BIGINT) % 7) + 1] AS forecast_1d,
           h.l + 7 * h.b + h.s[((CAST(h.rn AS BIGINT) + 6) % 7) + 1]
             AS forecast_7d
    FROM hw h CROSS JOIN n WHERE h.rn = n.last_rn
    """


@query("holt_winters_seasonal", oracle=_hw_seasonal_oracle())
def holt_winters_seasonal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt-Winters ADDITIVE seasonal forecasting (alpha = beta = gamma
    = 0.5, period 7) over each event type's dense daily counts: final
    level/trend plus 1-day and 7-day-ahead forecasts with the weekly
    seasonal term — the seasonal extension of holt_trend_forecast,
    completing the smoothing family (level -> +trend -> +seasonality).
    State per series is (level, trend, s[7]); the first observation
    seeds the level, seasidx for step t is (t-1) mod 7, and every
    update is the same dyadic-coefficient IEEE expression evaluated in
    identical association on both engines — the whole trajectory is
    bit-equal with no rounding (the holt discipline, extended to a
    LIST-valued recurrence: the oracle carries s as a DuckDB list
    through a recursive CTE; Spark carries it through one Catalyst
    aggregate fold with an indexed transform).

    Scale: series length is CALENDAR-bounded (span days, independent
    of event volume), so the sequential recurrence folds a bounded
    array per series; the heavy lifting — daily counts — is one
    map-side-combinable aggregate, and the densification cross join is
    |types| x |days|."""
    ev = load_table(spark, sf_dir, "events")
    series = _dense_daily_series(ev, "event_type", ev, out_col="sr")
    # l' (LP) is textually duplicated into b' and the seasonal update —
    # SQL lambdas cannot let-bind; every copy is the same double.
    p = "(acc.i % 7)"
    sp = f"element_at(acc.s, {p} + 1)"
    lp = f"(0.5D * (x.y - {sp}) + 0.5D * (acc.l + acc.b))"
    bp = f"(0.5D * ({lp} - acc.l) + 0.5D * acc.b)"
    snew = (
        f"transform(acc.s, (v, j) -> "
        f"IF(j = {p}, 0.5D * (x.y - {lp}) + 0.5D * v, v))"
    )
    fold = F.expr(
        f"""aggregate(
          sr,
          struct(0.0D AS l, 0.0D AS b,
                 array(0.0D, 0.0D, 0.0D, 0.0D, 0.0D, 0.0D, 0.0D) AS s,
                 0 AS i),
          (acc, x) -> IF(acc.i = 0,
            struct(x.y AS l, 0.0D AS b, acc.s AS s, 1 AS i),
            struct({lp} AS l, {bp} AS b, {snew} AS s, acc.i + 1 AS i)))"""
    )
    return series.withColumn("_f", fold).select(
        "event_type",
        F.expr("_f.l").alias("level"),
        F.expr("_f.b").alias("trend"),
        F.expr("_f.l + _f.b + element_at(_f.s, (_f.i % 7) + 1)").alias(
            "forecast_1d"
        ),
        F.expr(
            "_f.l + 7 * _f.b + element_at(_f.s, ((_f.i + 6) % 7) + 1)"
        ).alias("forecast_7d"),
    )


_CUST_FP_SQL = (
    "md5(concat_ws(chr(31), CAST(c_custkey AS VARCHAR),"
    " CAST(c_name AS VARCHAR), CAST(c_acctbal AS VARCHAR)))"
)


@query(
    "merkle_incremental_update",
    oracle=merkle_tree_oracle_sql(
        f"""
      SELECT bucket, CAST(sum(h) AS BIGINT) AS checksum,
             CAST(count(*) AS BIGINT) AS n_rows
      FROM (
        SELECT {md5_fold_sql('c_custkey', 32)} AS bucket,
               {md5_fold_wide_sql(_CUST_FP_SQL, 1000000007)} AS h,
               c_mktsegment
        FROM customer
      )
      WHERE bucket <> 7 OR c_mktsegment <> 'BUILDING'
      GROUP BY 1
    """,
        32,
    )
    + "\n    SELECT level, idx, h FROM tree",
)
def merkle_incremental_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental Merkle maintenance (operators/merkle.py
    merkle_update): commit to the customer table, then simulate
    re-ingesting ONE partition — bucket 7 drops its BUILDING-segment
    rows — by recomputing that single leaf and md5-folding its
    log2(32) = 5 ancestor path, splicing the other 57 tree nodes from
    the existing commitment untouched. The oracle is a FULL rebuild
    over the modified row multiset, so the hash gate proves
    path-update == rebuild across engines — the associativity-style
    equivalence that lets a 100 TB table re-commit after a partition
    swap with one bucket scan and five tiny hashes instead of a full
    re-read (the table-maintenance analog of quantile_sketch_merge's
    merge == direct proof).

    Scale: the update path is O(log n) 1-row frames, each joining one
    broadcast sibling out of the pinned base tree; the only data-sized
    work is the two leaf passes (base commitment + the changed
    bucket's recount)."""
    from .operators.iterative import iteration_shuffle_width
    from .operators.merkle import merkle_update

    cust = load_table(spark, sf_dir, "customer")
    from .functions.hashing import md5_fold_wide, portable_fingerprint
    from .operators.importance import md5_fold

    fp = portable_fingerprint("c_custkey", "c_name", "c_acctbal")
    rows = cust.select(
        md5_fold(F.col("c_custkey"), 32).alias("bucket"),
        md5_fold_wide(fp, 1_000_000_007).alias("h"),
        "c_mktsegment",
    )
    leaves = rows.groupBy("bucket").agg(
        F.sum("h").alias("checksum"), F.count("*").alias("n_rows")
    )
    # everything past the leaf aggregate is <= 63-row metadata: run the
    # tree/update stages at the iteration floor width — 32-wide
    # exchanges over 1-row frames are pure scheduling overhead
    # (operators/iterative.py, the VERDICT r03 lesson). The base
    # commitment is pinned eagerly inside the narrowed scope:
    # merkle_update consults it once per path level (sibling lookups)
    # plus the untouched-node anti-join — seven lazy-plan copies would
    # otherwise re-run the leaf pass each time.
    with iteration_shuffle_width(spark, 64):
        base = merkle_tree(leaves, 32).localCheckpoint(eager=True)
        new_leaf = rows.where(
            (F.col("bucket") == 7) & (F.col("c_mktsegment") != "BUILDING")
        ).agg(F.sum("h").alias("checksum"), F.count("*").alias("n_rows"))
        out = merkle_update(base, new_leaf, 7, 32).localCheckpoint(
            eager=True
        )
    return out


# ---------------------------------------------------------------------------
# Round 7 (cont., session 3): sequential-statistics analytics over exact
# integer arithmetic — CUSUM drift detection, autocorrelation diagnostics,
# largest-remainder budget allocation, multi-source BFS reach, and a
# corpus shard manifest. Every gate is a full hash match: recursions are
# rewritten to closed scan identities (CUSUM), ratios are cross-multiplied
# into exact integers before ONE final double division (ACF), and the
# iterative walk (BFS) replays as unrolled materialized CTEs.
# ---------------------------------------------------------------------------

from .operators.bfs import bfs_hops, bfs_oracle_sql  # noqa: E402


@query(
    "cusum_drift",
    oracle="""
    WITH daily AS (
      SELECT r_name, date_trunc('day', o_orderdate) AS day,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)) * 100) AS HUGEINT) AS x
      FROM orders
      JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      GROUP BY 1, 2),
    tot AS (
      SELECT r_name, CAST(count(*) AS HUGEINT) AS n, SUM(x) AS s
      FROM daily GROUP BY 1),
    dev AS (
      SELECT daily.r_name, day, n, (n * x - s) AS d
      FROM daily JOIN tot USING (r_name)),
    p AS (
      SELECT r_name, day, n,
             SUM(d) OVER (PARTITION BY r_name ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS psum
      FROM dev),
    s AS (
      SELECT r_name, day, n,
             psum - LEAST(CAST(0 AS HUGEINT),
               MIN(psum) OVER (PARTITION BY r_name ORDER BY day
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS cusum
      FROM p),
    ranked AS (
      SELECT r_name, day, n, cusum,
             ROW_NUMBER() OVER (PARTITION BY r_name
               ORDER BY cusum DESC, day) AS rn
      FROM s)
    SELECT r_name, day AS peak_day, CAST(n AS BIGINT) AS n_days,
           ROUND(CAST(cusum AS DOUBLE) / (100.0 * CAST(n AS DOUBLE)), 2)
             AS peak_cusum_usd
    FROM ranked WHERE rn = 1
    """,
)
def cusum_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM upward-drift detection on each region's daily revenue
    series: the classic sequential changepoint statistic
    s_i = max(0, s_{i-1} + (x_i - mean)) locates WHEN a series started
    running above its long-run level (the monitoring twin of
    holt_trend_forecast's "what next" — the staleness/refresh
    monitoring family the reference runs operationally,
    `/root/reference/src/modules/response_refresher.py:21-80`).

    Two exactness rewrites make it hash-gateable: (1) the mean is
    cleared from the denominator by scaling every deviation to
    d_i = n*x_i - S (integer cents x day-count — no rational mean);
    (2) the clamp-at-zero recursion is replaced by the closed scan
    identity s_i = P_i - min(0, min_{j<=i} P_j) over prefix sums P, so
    both engines compute pure windows — no per-row recursion anywhere.
    The one final division renders the peak back in dollars/day.

    Scale: the data-sized stages are the orders->customer join and the
    (region, day) aggregate; the series itself is dimension x calendar
    bounded (|regions| x |days|), so the per-region window scan can
    never become data-sized — the boundedness argument, not machinery,
    is what makes a partitioned Window safe here (contrast the
    unbounded streams behind operators/prefix.py)."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    daily = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", F.date_trunc("day", "o_orderdate").alias("day"))
        .agg(
            (F.sum(_dec("o_totalprice")) * 100)
            .cast("decimal(20,0)")
            .alias("x")
        )
    )
    # `daily` feeds BOTH the totals aggregate and the dev projection —
    # pin it so the orders join + daily aggregate run once, not per branch
    daily = daily.localCheckpoint(eager=False)
    tot = daily.groupBy("r_name").agg(
        F.count("*").cast("decimal(10,0)").alias("n"),
        F.sum("x").cast("decimal(20,0)").alias("s"),
    )
    dev = daily.join(F.broadcast(tot), "r_name").select(
        "r_name",
        "day",
        "n",
        (F.col("n") * F.col("x") - F.col("s"))
        .cast("decimal(38,0)")
        .alias("d"),
    )
    w = (
        Window.partitionBy("r_name")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    scan = dev.withColumn("psum", F.sum("d").over(w)).withColumn(
        "cusum",
        F.col("psum")
        - F.least(
            F.lit(0).cast("decimal(38,0)"), F.min(F.col("psum")).over(w)
        ),
    )
    rnw = Window.partitionBy("r_name").orderBy(
        F.col("cusum").desc(), F.col("day")
    )
    return (
        scan.withColumn("rn", F.row_number().over(rnw))
        .where(F.col("rn") == 1)
        .select(
            "r_name",
            F.col("day").alias("peak_day"),
            F.col("n").cast("long").alias("n_days"),
            F.round(
                F.col("cusum").cast("double")
                / (F.lit(100.0) * F.col("n").cast("double")),
                2,
            ).alias("peak_cusum_usd"),
        )
    )


@query(
    "acf_lags",
    oracle="""
    WITH daily0 AS (
      SELECT date_trunc('day', o_orderdate) AS day,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)) * 100) AS HUGEINT) AS x0
      FROM orders GROUP BY 1),
    daily AS (
      SELECT day, x0 - (SELECT MIN(x0) FROM daily0) AS x FROM daily0),
    srs AS (SELECT x, ROW_NUMBER() OVER (ORDER BY day) AS rn FROM daily),
    g AS (
      SELECT CAST(count(*) AS HUGEINT) AS n, SUM(x) AS s, SUM(x * x) AS sxx
      FROM srs),
    lags AS (SELECT CAST(k AS HUGEINT) AS lag FROM range(1, 8) t(k)),
    p AS (
      SELECT lag, CAST(count(*) AS BIGINT) AS n_pairs,
             SUM(a.x * b.x) AS sxy, SUM(a.x) AS h, SUM(b.x) AS t
      FROM srs a
      JOIN lags ON true
      JOIN srs b ON b.rn = a.rn + lag
      GROUP BY 1)
    SELECT CAST(lag AS BIGINT) AS lag, n_pairs,
           ROUND(
             CAST(n*n*sxy - n*s*(h + t) + (n - lag)*s*s AS DOUBLE)
             / CAST(n*n*sxx - n*s*s AS DOUBLE), 6) AS acf
    FROM p, g
    """,
)
def acf_lags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation function of global daily revenue at lags 1-7 —
    the standard seasonality diagnostic (a weekly cycle shows as an
    acf peak at lag 7) that tells a forecast consumer WHICH period to
    hand holt_winters_seasonal.

    Exactness design: acf_k divides two mean-centered sums whose mean
    is rational, so both sides are cross-multiplied by n^2 into pure
    integers — num = n^2*Sxy(k) - n*S*(H_k+T_k) + (n-k)*S^2,
    den = n^2*Sxx - n*S^2 — accumulated as DECIMAL(38,0) cents
    (HUGEINT in the oracle), with ONE deterministic double division +
    round at the end. The series is first shifted by its MINIMUM —
    ACF's centered moments are exactly shift-invariant, in integer
    arithmetic too, so the outputs are identical while the cross
    products scale with the series RANGE squared instead of the
    absolute level squared: headroom grows from daily revenue
    ~2.7e13 cents to range ~2.7e13 cents before the n^3-weighted
    products approach the 1e38 decimal ceiling. Lag pairing is by
    series index (row number over observed days), the standard
    business-day convention for gapped calendars.

    Scale: the only data-sized stage is the daily aggregate; the
    series is calendar-bounded (~2.4k rows at any data scale), so the
    index window and the 7-way lag self-join are metadata-sized. The
    lag table broadcasts; the pair join is an equi-join on a computed
    index key."""
    o = load_table(spark, sf_dir, "orders")
    daily0 = o.groupBy(
        F.date_trunc("day", "o_orderdate").alias("day")
    ).agg(
        (F.sum(_dec("o_totalprice")) * 100).cast("decimal(20,0)").alias("x0")
    ).localCheckpoint(eager=False)  # consumed by the min AND the shift
    mn = daily0.agg(F.min("x0").alias("mn"))
    daily = daily0.crossJoin(F.broadcast(mn)).select(
        "day", (F.col("x0") - F.col("mn")).cast("decimal(20,0)").alias("x")
    )
    srs = daily.select(
        "x", F.row_number().over(Window.orderBy("day")).alias("rn")
    ).localCheckpoint(eager=False)  # consumed by a, b, AND the globals
    g = srs.agg(
        F.count("*").cast("decimal(10,0)").alias("n"),
        F.sum("x").cast("decimal(20,0)").alias("s"),
        F.sum(F.col("x") * F.col("x")).cast("decimal(38,0)").alias("sxx"),
    )
    lags = spark.range(1, 8).select(F.col("id").alias("lag"))
    a = srs.select(F.col("rn").alias("rn_a"), F.col("x").alias("x_a"))
    b = srs.select(F.col("rn").alias("rn_b"), F.col("x").alias("x_b"))
    pairs = (
        a.crossJoin(F.broadcast(lags))
        .join(b, F.col("rn_a") + F.col("lag") == F.col("rn_b"))
        .groupBy("lag")
        .agg(
            F.count("*").alias("n_pairs"),
            F.sum(F.col("x_a") * F.col("x_b"))
            .cast("decimal(38,0)")
            .alias("sxy"),
            F.sum("x_a").cast("decimal(20,0)").alias("h"),
            F.sum("x_b").cast("decimal(20,0)").alias("t"),
        )
    )
    nn = F.col("n") * F.col("n")
    num = (
        nn * F.col("sxy")
        - F.col("n") * F.col("s") * (F.col("h") + F.col("t"))
        + (F.col("n") - F.col("lag")) * F.col("s") * F.col("s")
    )
    den = nn * F.col("sxx") - F.col("n") * F.col("s") * F.col("s")
    return pairs.crossJoin(F.broadcast(g)).select(
        F.col("lag").cast("long").alias("lag"),
        "n_pairs",
        F.round(num.cast("double") / den.cast("double"), 6).alias("acf"),
    )


@query(
    "budget_allocation",
    oracle="""
    WITH rev AS (
      SELECT n_name,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)) * 100) AS HUGEINT) AS r
      FROM orders
      JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
      GROUP BY 1),
    t AS (SELECT SUM(r) AS total FROM rev),
    b AS (
      SELECT n_name,
             CAST((1000000 * r) // total AS BIGINT) AS base_units,
             (1000000 * r) % total AS rem
      FROM rev, t),
    u AS (
      SELECT n_name, base_units,
             CAST(1000000 - SUM(base_units) OVER () AS BIGINT) AS leftover,
             ROW_NUMBER() OVER (ORDER BY rem DESC, n_name) AS rn
      FROM b)
    SELECT n_name, base_units,
           CAST(CASE WHEN rn <= leftover THEN 1 ELSE 0 END AS BIGINT) AS extra,
           base_units
             + CAST(CASE WHEN rn <= leftover THEN 1 ELSE 0 END AS BIGINT)
             AS units
    FROM u
    """,
)
def budget_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Largest-remainder (Hamilton) apportionment: split a fixed
    1,000,000-unit budget across nations proportional to exact revenue
    cents — floor every proportional share, then hand the leftover
    units to the largest fractional remainders (name tiebreak). The
    proration every finance/ads warehouse runs when fractional shares
    must land as integers that sum EXACTLY to the budget.

    Exactness: shares stay rational only transiently — base = floor
    (B*r/total) via integral division and the remainder via modulus,
    both on DECIMAL(38,0)/HUGEINT (B*r peaks ~1e19, past int64 —
    overflow is the trap the wide types close). No floating point
    anywhere, so the gate is a full hash match.

    Scale: one data-sized aggregate to 25 nation rows; everything
    after (total, ranks, leftover) is dimension-bounded metadata, so
    the unpartitioned windows are safe by cardinality, and the
    nation-revenue relation broadcasts into the final projection."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    rev = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            (F.sum(_dec("o_totalprice")) * 100)
            .cast("decimal(20,0)")
            .alias("r")
        )
    )
    rev = rev.localCheckpoint(eager=False)  # consumed by t AND b
    t = rev.agg(F.sum("r").cast("decimal(20,0)").alias("total"))
    b = rev.crossJoin(F.broadcast(t)).select(
        "n_name",
        F.expr(
            "CAST((CAST(1000000 AS DECIMAL(7,0)) * r) div total AS BIGINT)"
        ).alias("base_units"),
        F.expr(
            "CAST(CAST(1000000 AS DECIMAL(7,0)) * r AS DECIMAL(38,0))"
            " - CAST((CAST(1000000 AS DECIMAL(7,0)) * r) div total AS BIGINT)"
            " * total"
        ).alias("rem"),
    )
    u = b.select(
        "n_name",
        "base_units",
        (F.lit(1000000) - F.sum("base_units").over(
            Window.rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        )).alias("leftover"),
        F.row_number()
        .over(Window.orderBy(F.col("rem").desc(), F.col("n_name")))
        .alias("rn"),
    )
    extra = F.when(F.col("rn") <= F.col("leftover"), 1).otherwise(0)
    return u.select(
        "n_name",
        "base_units",
        extra.cast("long").alias("extra"),
        (F.col("base_units") + extra).cast("long").alias("units"),
    )


_BFS_SEEDS_SQL = "SELECT DISTINCT src AS v FROM e WHERE src % 999 = 0"


@query(
    "bfs_reach",
    oracle=bfs_oracle_sql(_TRI_EDGES_SQL, _BFS_SEEDS_SQL, rounds=3)
    + """
    , nodes AS MATERIALIZED (SELECT DISTINCT src AS v FROM e),
    allv AS (
      SELECT v, hop FROM vis3
      UNION ALL
      SELECT v, CAST(-1 AS BIGINT) AS hop FROM nodes
      WHERE NOT EXISTS (SELECT 1 FROM vis3 p WHERE p.v = nodes.v))
    SELECT hop, CAST(count(*) AS BIGINT) AS n_nodes,
           MIN(v) AS min_part, MAX(v) AS max_part
    FROM allv GROUP BY 1
    """,
)
def bfs_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source BFS reach profile over the part co-purchase
    subgraph (every third part, the triangle_census graph): hop
    distance from the seed set {nodes divisible by 999} for 3
    level-synchronous rounds, summarized as nodes-per-hop with member
    ranges; still-unreached subgraph nodes report hop -1. Answers the
    blast-radius / influence-horizon question the reference's one-hop
    game_neighbors table (`/root/reference/definitions/
    game_similarity_search.sqlx`) cannot: how much of the catalog is
    within k recommendation steps of a seed list.

    Fixed rounds + min-hop-by-construction make the walk a pure
    function of the edge set, so the DuckDB oracle replays all three
    frontier expansions as unrolled MATERIALIZED CTEs
    (operators/bfs.py bfs_oracle_sql) and the gate hash-verifies
    every hop label — the kcore/label_propagation replay pattern.

    Scale: each round is one edge-vs-frontier equi-join + distinct +
    anti-join, all shuffle-bounded by frontier adjacency; the visited
    set stays |V|-sized and is lineage-pinned per round; the edge
    relation is built once and checkpoint-pinned (a lazy plan would
    replay the basket build in every round's join)."""
    li = load_table(spark, sf_dir, "lineitem").where(
        F.col("l_partkey") % 3 == 0
    )
    edges = cooccurrence_edges(li, "l_orderkey", "l_partkey").localCheckpoint(
        eager=False
    )
    seeds = (
        edges.where(F.col("src") % 999 == 0)
        .select(F.col("src").alias("v"))
        .distinct()
    )
    vis = bfs_hops(edges, seeds, rounds=3)
    nodes = edges.select(F.col("src").alias("v")).distinct()
    allv = vis.unionByName(
        nodes.join(vis.select("v"), "v", "left_anti").select(
            "v", F.lit(-1).cast("long").alias("hop")
        )
    )
    return allv.groupBy("hop").agg(
        F.count("*").alias("n_nodes"),
        F.min("v").alias("min_part"),
        F.max("v").alias("max_part"),
    )


@query(
    "shard_manifest",
    oracle="""
    WITH scan AS (
      SELECT doc_id, n_chars,
             SUM(n_chars) OVER (ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      FROM documents)
    SELECT CAST((cum - n_chars) // 16000 AS BIGINT) AS shard,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
    FROM scan GROUP BY 1
    """,
)
def shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-corpus shard manifest: assign documents (in doc_id
    order) to contiguous ~16k-char shards by exclusive-prefix fill —
    shard = floor(bytes_before_doc / target) — and report each
    shard's doc count, size, and id range. This is the sharding step
    every large-scale training pipeline runs between curation and the
    data loader: deterministic, order-preserving, size-balanced file
    assignment (the writer-side sibling of pack_sequences, which
    packs WITHIN a sequence budget).

    The oracle uses the textbook global running sum; the Spark side is
    the two-pass bucketed prefix scan (operators/prefix.py
    running_sum, id-band buckets) — per-bucket windows plus a
    broadcast exclusive offset per band — so the gate hash-proves the
    distributed scan against the single-window definition; a bare
    Window.orderBy(doc_id) over a 100 TB corpus (one task) never
    appears."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    scan = running_sum(
        docs,
        "n_chars",
        (F.col("doc_id") / 100).cast("long"),
        ["doc_id"],
        out_col="cum",
    )
    return (
        scan.select(
            F.expr("CAST((cum - n_chars) div 16000 AS BIGINT)").alias(
                "shard"
            ),
            "doc_id",
            "n_chars",
        )
        .groupBy("shard")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
        )
    )


# ---------------------------------------------------------------------------
# Round 7 (cont., session 3b): Kaplan-Meier time-to-event survival via
# micro-nat folds, last-touch marketing attribution (the as-of
# union-window form with a deterministic tiebreak), and trailing-window
# OLS regression slopes.
# ---------------------------------------------------------------------------


@query(
    "survival_first_purchase",
    oracle="""
    WITH u AS (
      SELECT user_id,
             date_diff('day', MIN(ts),
               COALESCE(MIN(CASE WHEN event_type = 'purchase' THEN ts END),
                        MAX(ts))) AS dur,
             CASE WHEN MIN(CASE WHEN event_type = 'purchase' THEN ts END)
                    IS NOT NULL THEN 1 ELSE 0 END AS observed
      FROM events GROUP BY user_id),
    h AS (
      SELECT dur, CAST(count(*) AS BIGINT) AS n_all,
             CAST(SUM(observed) AS BIGINT) AS d_event
      FROM u GROUP BY dur),
    risk AS (
      SELECT dur, d_event,
             CAST(SUM(n_all) OVER (ORDER BY dur DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS n_risk
      FROM h),
    ev AS (
      SELECT dur, n_risk, d_event,
             CAST(ROUND(LN(CAST(n_risk - d_event AS DOUBLE)
                           / CAST(n_risk AS DOUBLE)) * 1000000) AS BIGINT)
               AS factor_micro
      FROM risk WHERE d_event > 0 AND n_risk > d_event),
    km AS (
      SELECT dur, n_risk, d_event,
             CAST(SUM(factor_micro) OVER (ORDER BY dur
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS log_surv_micro
      FROM ev)
    SELECT dur, n_risk, d_event, log_surv_micro,
           ROUND(EXP(CAST(log_surv_micro AS DOUBLE) / 1000000.0), 4) AS surv
    FROM km
    """,
)
def survival_first_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier time-to-conversion curve: duration = days from a
    user's first event to their FIRST purchase; users who never
    purchase are right-censored at their last observed activity. At
    each conversion duration t the estimator multiplies (1 - d_t/n_t)
    over the shrinking risk set (censored users leave the risk set
    after their censor time, the standard KM convention) —
    the retention statistic behind every cohort-lifetime dashboard
    (reference analog: the user-collection lifecycle feed,
    `/root/reference/definitions/user_collection_predictions.sqlx`).

    Gateability: the product of rationals is folded per-factor into
    integer micro-nats — round(ln((n-d)/n)*1e6) — and SUMMED (the
    dsir/trigram micro-nat convention), so the curve's exact anchor
    column log_surv_micro is pure integer; the displayed survival is
    one exp + 4dp round at the end. Rows where the risk set would be
    fully consumed (n == d, only possible at the final duration) are
    excluded — ln(0) has no finite fold.

    Scale: one data-sized per-user min/max aggregate; everything after
    runs on the duration histogram, bounded by study length in days
    (~30 rows at ANY data scale), so the unpartitioned windows are safe
    by cardinality."""
    ev = load_table(spark, sf_dir, "events")
    u = (
        ev.groupBy("user_id")
        .agg(
            F.min("ts").alias("first_ts"),
            F.max("ts").alias("last_ts"),
            F.min(
                F.when(F.col("event_type") == "purchase", F.col("ts"))
            ).alias("first_buy"),
        )
        .select(
            F.datediff(
                F.coalesce("first_buy", "last_ts"), F.col("first_ts")
            ).alias("dur"),
            F.when(F.col("first_buy").isNotNull(), 1)
            .otherwise(0)
            .alias("observed"),
        )
    )
    h = u.groupBy("dur").agg(
        F.count("*").alias("n_all"),
        F.sum("observed").cast("long").alias("d_event"),
    )
    w_desc = Window.orderBy(F.col("dur").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    risk = h.select(
        "dur",
        "d_event",
        F.sum("n_all").over(w_desc).cast("long").alias("n_risk"),
    )
    evt = risk.where(
        (F.col("d_event") > 0) & (F.col("n_risk") > F.col("d_event"))
    ).select(
        "dur",
        "n_risk",
        "d_event",
        F.round(
            F.log(
                (F.col("n_risk") - F.col("d_event")).cast("double")
                / F.col("n_risk").cast("double")
            )
            * 1000000
        )
        .cast("long")
        .alias("factor_micro"),
    )
    w_asc = Window.orderBy("dur").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return evt.select(
        "dur",
        "n_risk",
        "d_event",
        F.sum("factor_micro").over(w_asc).cast("long").alias(
            "log_surv_micro"
        ),
    ).withColumn(
        "surv",
        F.round(
            F.exp(F.col("log_surv_micro").cast("double") / 1000000.0), 4
        ),
    )


@query(
    "attribution_last_touch",
    oracle="""
    WITH p AS (
      SELECT event_id, user_id, ts, value FROM events
      WHERE event_type = 'purchase'),
    a AS (
      SELECT p.event_id, p.value,
        COALESCE((
          SELECT t.event_type FROM events t
          WHERE t.user_id = p.user_id
            AND t.event_type IN ('view', 'click', 'signup')
            AND t.ts <= p.ts
            AND t.ts >= p.ts - INTERVAL 3 DAY
          ORDER BY t.ts DESC, t.event_id DESC LIMIT 1), 'direct') AS channel
      FROM p)
    SELECT channel, CAST(count(*) AS BIGINT) AS n_purchases,
           ROUND(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2)
             AS attributed_value
    FROM a GROUP BY 1
    """,
)
def attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch marketing attribution: every purchase's value is
    credited to the user's most recent preceding touch event (view /
    click / signup) within a 3-day lookback, else to 'direct' — the
    standard conversion-credit query of event-stream warehouses.

    The oracle is the naive correlated top-1 subquery per purchase;
    the Spark side is the as-of union-window form (the
    operators/asof.py plan shape, inlined for the per-row tiebreak):
    tag touches side=0 / purchases side=1, ONE window per user ordered
    by (ts, side, event_id), and carry the last non-null touch struct
    forward — so the gate hash-proves the single-shuffle rewrite
    against the quadratic definition. Ordering guarantees exact
    parity: at equal ts a touch sorts before the purchase (inclusive
    match, as the oracle's t.ts <= p.ts), and among equal-ts touches
    the highest event_id wins on both sides.

    Scale: one hash shuffle on user_id — same cost as an equi-join; no
    range join, no per-purchase probe. A naive events x events
    time-band join at 100 TB materializes O(touches x purchases) per
    user before the per-row argmax; this form never does."""
    ev = load_table(spark, sf_dir, "events").where(
        F.col("event_type").isin("view", "click", "signup", "purchase")
    )
    tagged = ev.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        "value",
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias(
            "side"
        ),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "side", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    touch = F.when(
        F.col("side") == 0,
        F.struct(
            F.col("ts").alias("t_ts"), F.col("event_type").alias("t_type")
        ),
    )
    carried = tagged.withColumn(
        "lt", F.last(touch, ignorenulls=True).over(w)
    ).where(F.col("side") == 1)
    channel = F.when(
        F.col("lt").isNotNull()
        & (F.col("lt.t_ts") >= F.col("ts") - F.expr("INTERVAL 3 DAYS")),
        F.col("lt.t_type"),
    ).otherwise("direct")
    return carried.groupBy(channel.alias("channel")).agg(
        F.count("*").alias("n_purchases"),
        _money_sum(_dec("value")).alias("attributed_value"),
    )


@query(
    "rolling_regression",
    oracle="""
    WITH daily AS (
      SELECT date_trunc('day', o_orderdate) AS day,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)) * 100) AS BIGINT) AS y
      FROM orders GROUP BY 1),
    srs AS (
      SELECT day, CAST(y AS HUGEINT) AS y,
             CAST(ROW_NUMBER() OVER (ORDER BY day) AS HUGEINT) AS x
      FROM daily),
    win AS (
      SELECT day,
             CAST(count(*) OVER w AS HUGEINT) AS n_win,
             SUM(x) OVER w AS sx,
             SUM(y) OVER w AS sy,
             SUM(x * y) OVER w AS sxy,
             SUM(x * x) OVER w AS sxx
      FROM srs
      WINDOW w AS (ORDER BY day
        ROWS BETWEEN 27 PRECEDING AND CURRENT ROW))
    SELECT day, CAST(n_win AS BIGINT) AS n_win,
           ROUND(CAST(n_win * sxy - sx * sy AS DOUBLE)
                 / CAST(n_win * sxx - sx * sx AS DOUBLE) / 100.0, 4)
             AS slope_usd_per_day
    FROM win WHERE n_win = 28
    """,
)
def rolling_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 28-day OLS revenue slope per day — the rolling "is it
    accelerating" trend line, the windowed sibling of ols_trend's
    closed-form per-group fit. Every window statistic (n, Σx, Σy, Σxy,
    Σx²) is an integer window sum over (day index, revenue cents), so
    the slope is one exact cross-multiplied quotient per day —
    (nΣxy − ΣxΣy)/(nΣx² − (Σx)²) — with a single double division +
    4dp round; warm-up rows (< 28 observations) are excluded, which
    also keeps the denominator provably nonzero.

    Scale: the data-sized stage is the daily aggregate; the series is
    calendar-bounded (~2.4k rows at any data scale), so the trailing
    frame windows are metadata-sized — the acf_lags boundedness
    argument."""
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.date_trunc("day", "o_orderdate").alias("day")
    ).agg(
        F.sum(_dec("o_totalprice") * 100).cast("decimal(20,0)").alias("y")
    )
    # DECIMAL(38,0) accumulators (HUGEINT in the oracle): plain BIGINT
    # sums would wrap silently in Spark (ANSI off) while DuckDB raises,
    # once daily cents reach the 100 TB regime — the acf_lags/hits rule
    srs = daily.select(
        "day",
        "y",
        F.row_number()
        .over(Window.orderBy("day"))
        .cast("decimal(10,0)")
        .alias("x"),
    )
    w = Window.orderBy("day").rowsBetween(-27, Window.currentRow)
    win = srs.select(
        "day",
        F.count("*").over(w).cast("decimal(10,0)").alias("n_win"),
        F.sum("x").over(w).cast("decimal(20,0)").alias("sx"),
        F.sum("y").over(w).cast("decimal(28,0)").alias("sy"),
        F.sum(F.col("x") * F.col("y")).over(w).cast("decimal(38,0)").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).over(w).cast("decimal(20,0)").alias("sxx"),
    )
    num = F.col("n_win") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.col("n_win") * F.col("sxx") - F.col("sx") * F.col("sx")
    return win.where(F.col("n_win") == 28).select(
        "day",
        F.col("n_win").cast("long").alias("n_win"),
        F.round(
            num.cast("double") / den.cast("double") / 100.0, 4
        ).alias("slope_usd_per_day"),
    )


# ---------------------------------------------------------------------------
# Round 7 (cont., session 3c): event burst debouncing and integer HITS
# hub/authority centrality.
# ---------------------------------------------------------------------------


@query(
    "event_debounce",
    oracle="""
    WITH g AS (
      SELECT event_type, value,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR ts - lag(ts) OVER w >= INTERVAL 6 HOUR
                  THEN 1 ELSE 0 END AS kept
      FROM events
      WINDOW w AS (PARTITION BY user_id, event_type ORDER BY ts, event_id))
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(SUM(kept) AS BIGINT) AS n_kept,
           ROUND(CAST(SUM(CASE WHEN kept = 1
                    THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE), 2)
             AS kept_value
    FROM g GROUP BY 1
    """,
)
def event_debounce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burst debouncing — the event-stream cleanup that collapses rapid
    repeats: within each (user, event type) stream, an event is KEPT
    iff it starts a new burst (no predecessor, or >= 6 h since the
    previous event); followers inside the burst chain are dropped.
    Chain semantics (gap measured to the previous RAW event) make the
    kept flag a pure LAG expression — the burst-boundary trick behind
    `sessionize`, reused as a filter instead of a grouping — so no
    recursion against "last kept" is ever needed.

    Everything is exact: timestamp interval comparison, integer kept
    counts, DECIMAL value sums. One shuffle on (user, event_type);
    per-stream windows are bounded by a user's own activity, the same
    partitioning every sessionizer at 100 TB uses."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy(
        "ts", "event_id"
    )
    prev = F.lag("ts").over(w)
    kept = F.when(
        prev.isNull()
        | (F.col("ts") - prev >= F.expr("INTERVAL 6 HOURS")),
        1,
    ).otherwise(0)
    return (
        ev.withColumn("kept", kept)
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum("kept").cast("long").alias("n_kept"),
            F.round(
                F.sum(
                    F.when(F.col("kept") == 1, _dec("value"))
                ).cast("double"),
                2,
            ).alias("kept_value"),
        )
    )


@query(
    "hits_scores",
    oracle="""
    WITH e AS MATERIALIZED (
      SELECT DISTINCT o_custkey AS c, l_partkey AS p
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
    h1 AS MATERIALIZED (
      SELECT c, CAST(count(*) AS HUGEINT) AS s FROM e GROUP BY c),
    a1 AS MATERIALIZED (
      SELECT p, SUM(h1.s) AS s FROM e JOIN h1 USING (c) GROUP BY p),
    h2 AS MATERIALIZED (
      SELECT c, SUM(a1.s) AS s FROM e JOIN a1 USING (p) GROUP BY c),
    a2 AS MATERIALIZED (
      SELECT p, SUM(h2.s) AS s FROM e JOIN h2 USING (c) GROUP BY p),
    h3 AS MATERIALIZED (
      SELECT c, SUM(a2.s) AS s FROM e JOIN a2 USING (p) GROUP BY c),
    a3 AS MATERIALIZED (
      SELECT p, SUM(h3.s) AS s FROM e JOIN h3 USING (c) GROUP BY p),
    ranked AS (
      SELECT 'authority' AS role, p AS node_id, s,
             ROW_NUMBER() OVER (ORDER BY s DESC, p) AS rn
      FROM a3
      UNION ALL
      SELECT 'hub' AS role, c AS node_id, s,
             ROW_NUMBER() OVER (ORDER BY s DESC, c) AS rn
      FROM h3)
    SELECT role, node_id, CAST(s AS BIGINT) AS score,
           CAST(rn AS BIGINT) AS rn
    FROM ranked WHERE rn <= 10
    """,
)
def hits_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hub/authority centrality on the bipartite customer->part
    purchase graph, 3 un-normalized power iterations: hub(c) sums the
    authority of the parts c buys, authority(p) sums the hub score of
    p's buyers. Dropping the per-round normalization (a constant
    factor that cancels in the RANKING) keeps every score an exact
    integer — the same determinism move as the integer PageRank
    (operators/pagerank.py) — so the top-10 hubs and authorities are
    hash-gated with all six half-iterations replayed as materialized
    CTEs. Complements pagerank_bipartite: PageRank measures random-walk
    visitation, HITS the mutual hub<->authority reinforcement.

    Scale: scores live on |C|- and |P|-sized relations, never on
    edges; each half-iteration is one edge-vs-scores equi-join + one
    map-side-combinable sum, with the score frame lineage-pinned per
    round. Sums ride DECIMAL(38,0) (HUGEINT in the oracle) because
    un-normalized scores grow like degree^rounds; the final top-10
    values are BIGINT-safe at any plausible degree."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    e = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .select(F.col("o_custkey").alias("c"), F.col("l_partkey").alias("p"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    # pre-partition the edge list ONCE per join key (r15, guide §2.4):
    # each half-iteration equi-joins e on c (or p) and aggregates on
    # the OTHER key, so an unpartitioned e re-shuffles the full edge
    # list five times per query while the score frames are |C|/|P|-
    # sized. Hash-clustering one PERSISTED copy per key makes every
    # round's join reuse that layout (exchange on the small score side
    # only) — 5 edge exchanges → 2, the pagerank out_edges precedent.
    # persist(), NOT localCheckpoint: a checkpointed scan surfaces as
    # UnknownPartitioning and the joins would re-shuffle it anyway
    # (plan-verified), while InMemoryRelation keeps the repartition's
    # HashPartitioning visible to the planner. Decimal sums are exact,
    # so the changed partial-aggregation grouping cannot move a bit.
    width = spark.sparkContext.defaultParallelism
    e_by_c = e.repartition(width, "c").persist()
    e_by_p = e.repartition(width, "p").persist()
    hub = (
        e_by_c.groupBy("c")
        .agg(F.count("*").cast("decimal(38,0)").alias("s"))
        .localCheckpoint(eager=False)
    )
    for _ in range(2):
        auth = (
            e_by_c.join(hub, "c")
            .groupBy("p")
            .agg(F.sum("s").cast("decimal(38,0)").alias("s"))
            .localCheckpoint(eager=False)
        )
        hub = (
            e_by_p.join(auth, "p")
            .groupBy("c")
            .agg(F.sum("s").cast("decimal(38,0)").alias("s"))
            .localCheckpoint(eager=False)
        )
    auth = (
        e_by_c.join(hub, "c")
        .groupBy("p")
        .agg(F.sum("s").cast("decimal(38,0)").alias("s"))
    )
    # top-10 per side via sort-limit (plans TakeOrderedAndProject —
    # per-partition heaps, no full sort of the |P|/|C| relations), then
    # rank only the <= 20 survivors
    top_a = (
        auth.select(
            F.lit("authority").alias("role"), F.col("p").alias("node_id"), "s"
        )
        .orderBy(F.col("s").desc(), F.col("node_id"))
        .limit(10)
    )
    top_h = (
        hub.select(
            F.lit("hub").alias("role"), F.col("c").alias("node_id"), "s"
        )
        .orderBy(F.col("s").desc(), F.col("node_id"))
        .limit(10)
    )
    rnw = Window.partitionBy("role").orderBy(
        F.col("s").desc(), F.col("node_id")
    )
    return (
        top_a.unionByName(top_h)
        .withColumn("rn", F.row_number().over(rnw))
        .select(
            "role",
            "node_id",
            F.col("s").cast("long").alias("score"),
            F.col("rn").cast("long").alias("rn"),
        )
    )


# ---------------------------------------------------------------------------
# Round 7 (cont., session 3d): embedding feature engineering — signed
# random projection (JL sketch) and mutual-information feature ranking,
# both integer-exact via quantization + micro-nat folds.
# ---------------------------------------------------------------------------

_PROJ_DIMS = 8
_EMB_DIMS = 64


@query(
    "random_projection",
    oracle=f"""
    WITH sgn AS (
      SELECT t1.d, t2.i,
             CASE WHEN {md5_fold_sql("CAST(t1.d AS VARCHAR) || '_' || CAST(t2.i AS VARCHAR)", 2)} = 0
                  THEN 1 ELSE -1 END AS s
      FROM range({_PROJ_DIMS}) t1(d), range({_EMB_DIMS}) t2(i)),
    q AS (
      SELECT vec_id, CAST(t.i AS BIGINT) AS i,
             CAST(round(CAST(embedding[t.i + 1] AS DOUBLE) * 1000000) AS BIGINT) AS qv
      FROM embeddings, range({_EMB_DIMS}) t(i)
      WHERE embedding IS NOT NULL AND len(embedding) = {_EMB_DIMS})
    SELECT vec_id, CAST(d AS BIGINT) AS dim,
           CAST(SUM(qv * s) AS BIGINT) AS proj
    FROM q JOIN sgn USING (i) GROUP BY 1, 2
    """,
)
def random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signed random projection (Johnson-Lindenstrauss sketch): every
    64-dim embedding compressed to 8 signed sums, the dimensionality
    reduction that feeds LSH bucketing and cheap pre-filters in ANN
    pipelines (the sketch-building sibling of knn_lsh's hyperplanes —
    those hash to BITS, this keeps magnitudes).

    Deterministic end to end: the ±1 matrix is md5-derived from
    (out_dim, in_dim) — the importance.py md5_fold convention both
    engines compute bit-identically — and the vector is first
    quantized to integer micro-units (round(x * 1e6), the knn_quantized
    convention), so every projection is an exact integer sum in ANY
    accumulation order. Float sums would hash-mismatch between
    engines; quantize-then-sum is what makes a distributed float
    reduction gateable at all.

    Scale: the sign matrix is 8 x 64 rows — broadcast by construction;
    the explode is map-side; the only shuffle is the (vec, dim)
    aggregate, which partial-aggregates. Output stays in long format
    (vec_id, dim, proj) — no pivot, no array columns in graded
    output."""
    from .operators.importance import md5_fold

    emb = load_table(spark, sf_dir, "embeddings").where(
        F.col("embedding").isNotNull()
        & (F.size("embedding") == _EMB_DIMS)
    )
    signs = (
        spark.range(_PROJ_DIMS)
        .select(F.col("id").alias("d"))
        .crossJoin(spark.range(_EMB_DIMS).select(F.col("id").alias("i")))
        .select(
            "d",
            "i",
            F.when(
                md5_fold(
                    F.concat_ws(
                        "_", F.col("d").cast("string"), F.col("i").cast("string")
                    ),
                    2,
                )
                == 0,
                1,
            )
            .otherwise(-1)
            .alias("s"),
        )
    )
    q = emb.select(
        "vec_id", F.posexplode("embedding").alias("i", "x")
    ).select(
        "vec_id",
        F.col("i").cast("long").alias("i"),
        F.round(F.col("x").cast("double") * 1000000)
        .cast("long")
        .alias("qv"),
    )
    return (
        q.join(F.broadcast(signs), "i")
        .groupBy("vec_id", F.col("d").cast("long").alias("dim"))
        .agg(F.sum(F.col("qv") * F.col("s")).cast("long").alias("proj"))
    )


@query(
    "feature_mi_ranking",
    oracle=f"""
    WITH cells AS (
      SELECT CAST(t.i AS BIGINT) AS i,
             CASE WHEN CAST(embedding[t.i + 1] AS DOUBLE) > 0
                  THEN 1 ELSE 0 END AS b,
             label,
             CAST(count(*) AS BIGINT) AS n_bl
      FROM embeddings, range({_EMB_DIMS}) t(i)
      WHERE embedding IS NOT NULL AND len(embedding) = {_EMB_DIMS}
      GROUP BY 1, 2, 3),
    nb AS (SELECT i, b, CAST(SUM(n_bl) AS BIGINT) AS n_b
           FROM cells GROUP BY 1, 2),
    nl AS (SELECT label, CAST(SUM(n_bl) AS BIGINT) AS n_l
           FROM cells WHERE i = 0 GROUP BY 1),
    tot AS (SELECT CAST(SUM(n_bl) AS BIGINT) AS n FROM cells WHERE i = 0),
    terms AS (
      SELECT cells.i,
             n_bl * CAST(ROUND(LN(CAST(n_bl AS DOUBLE) * CAST(n AS DOUBLE)
                    / (CAST(n_b AS DOUBLE) * CAST(n_l AS DOUBLE)))
                    * 1000000) AS BIGINT) AS term
      FROM cells
      JOIN nb USING (i, b)
      JOIN nl USING (label)
      CROSS JOIN tot),
    mi AS (
      SELECT i AS dim, CAST(SUM(term) AS BIGINT) AS mi_scaled_micro
      FROM terms GROUP BY 1)
    SELECT dim, mi_scaled_micro,
           CAST(ROW_NUMBER() OVER (ORDER BY mi_scaled_micro DESC, dim)
                AS BIGINT) AS rank
    FROM mi
    """,
)
def feature_mi_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual-information feature ranking: every embedding dimension
    scored by I(sign bit; class label) — which coordinates carry label
    signal — the filter-method feature selection every classifier
    pipeline runs before training (the supervised sibling of
    profile_documents' unsupervised column stats).

    Exactness: MI's probabilities are all rationals over ONE corpus
    count, so the estimator is computed as N-scaled micro-nats —
    Σ_cells n_bl * round(ln(n_bl*N / (n_b*n_l)) * 1e6) — an integer
    per cell (one ln over an exact rational, the dsir/survival
    convention), summed exactly. Empty cells contribute nothing on
    both sides by construction (GROUP BY only materializes observed
    cells). The sign-bit test (x > 0) is a float comparison both
    engines evaluate identically on the same parquet value. Both
    sides filter to well-formed vectors (non-null, exactly 64 dims) —
    the contract is explicit, not assumed, so a malformed row shifts
    neither the marginals nor N.

    Scale: the explode is map-side and the cell aggregate
    partial-combines to at most 64 x 2 x |labels| rows; marginals and
    the total are metadata-sized broadcasts; the rank window runs over
    64 rows."""
    emb = load_table(spark, sf_dir, "embeddings").where(
        F.col("embedding").isNotNull()
        & (F.size("embedding") == _EMB_DIMS)
    )
    cells = (
        emb.select(
            "label", F.posexplode("embedding").alias("i", "x")
        )
        .select(
            F.col("i").cast("long").alias("i"),
            F.when(F.col("x").cast("double") > 0, 1).otherwise(0).alias("b"),
            "label",
        )
        .groupBy("i", "b", "label")
        .agg(F.count("*").alias("n_bl"))
        .localCheckpoint(eager=False)  # feeds cells, nb, and nl
    )
    nb = cells.groupBy("i", "b").agg(F.sum("n_bl").alias("n_b"))
    nl = (
        cells.where(F.col("i") == 0)
        .groupBy("label")
        .agg(F.sum("n_bl").alias("n_l"))
    )
    # N from the pinned cell frame — a second full embeddings scan for
    # a row count is pure waste at corpus scale
    tot = cells.where(F.col("i") == 0).agg(F.sum("n_bl").alias("n"))
    terms = (
        cells.join(F.broadcast(nb), ["i", "b"])
        .join(F.broadcast(nl), "label")
        .crossJoin(F.broadcast(tot))
        .select(
            "i",
            (
                F.col("n_bl")
                * F.round(
                    F.log(
                        F.col("n_bl").cast("double")
                        * F.col("n").cast("double")
                        / (
                            F.col("n_b").cast("double")
                            * F.col("n_l").cast("double")
                        )
                    )
                    * 1000000
                ).cast("long")
            ).alias("term"),
        )
    )
    mi = terms.groupBy(F.col("i").alias("dim")).agg(
        F.sum("term").cast("long").alias("mi_scaled_micro")
    )
    return mi.withColumn(
        "rank",
        F.row_number()
        .over(Window.orderBy(F.col("mi_scaled_micro").desc(), F.col("dim")))
        .cast("long"),
    )


# ---------------------------------------------------------------------------
# Round 7 (final session): distributed two-sample statistics (KS, Mann-
# Whitney), exact set-similarity join via prefix filtering, out-of-fold
# target encoding, a single-split decision stump, and Lorenz/Gini revenue
# concentration — each a textbook single-window / all-pairs definition in
# the oracle, replayed by a shuffle-bounded distributed rewrite.
# ---------------------------------------------------------------------------

from .operators.stats_tests import two_sample_cum_counts  # noqa: E402

_TWO_SAMPLE_SQL = """
    s AS (
      SELECT value,
             CASE WHEN event_type = '{a}' THEN 1 ELSE 0 END AS ia,
             CASE WHEN event_type = '{b}' THEN 1 ELSE 0 END AS ib
      FROM events
      WHERE event_type IN ('{a}', '{b}') AND value IS NOT NULL),
    g AS (SELECT value, SUM(ia) AS ca0, SUM(ib) AS cb0 FROM s GROUP BY 1),
    r AS (SELECT value, ca0, cb0,
                 SUM(ca0) OVER (ORDER BY value) AS ca,
                 SUM(cb0) OVER (ORDER BY value) AS cb
          FROM g)
"""


def _two_sample_cum(
    spark: SparkSession, sf_dir: str, a: str, b: str
) -> DataFrame:
    """Shared Spark spine for the two-sample gates: per distinct event
    value, at-value and cumulative counts of samples A and B (pinned
    with a lazy localCheckpoint — every downstream aggregate reuses the
    one grouped scan instead of re-running it)."""
    ev = load_table(spark, sf_dir, "events").where(
        F.col("event_type").isin(a, b) & F.col("value").isNotNull()
    )
    tag = ev.select(
        "value",
        (F.col("event_type") == a).cast("long").alias("ia"),
        (F.col("event_type") == b).cast("long").alias("ib"),
    )
    return two_sample_cum_counts(
        tag, "value", F.col("ia"), F.col("ib"), F.floor("value")
    ).localCheckpoint(eager=False)


@query(
    "ks_two_sample",
    oracle="""
    WITH """ + _TWO_SAMPLE_SQL.format(a="click", b="view") + """,
    n AS (SELECT CAST(MAX(ca) AS BIGINT) AS n_a,
                 CAST(MAX(cb) AS BIGINT) AS n_b FROM r),
    d AS (SELECT value, abs(ca * n_b - cb * n_a) AS dn FROM r CROSS JOIN n),
    m AS (SELECT MAX(dn) AS dm FROM d)
    SELECT n.n_a, n.n_b, CAST(m.dm AS BIGINT) AS d_num,
           CAST(n.n_a * n.n_b AS BIGINT) AS d_den,
           CAST(CAST(10000 AS HUGEINT) * m.dm
                // (CAST(n.n_a AS HUGEINT) * n.n_b) AS BIGINT) AS d_permyriad,
           (SELECT MIN(value) FROM d WHERE dn = m.dm) AS at_value
    FROM n CROSS JOIN m
    """,
)
def ks_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov statistic between the 'click' and
    'view' value distributions, EXACT: D = max |ECDF_a - ECDF_b| is
    held as the integer fraction d_num/d_den with d_num =
    max |ca*n_b - cb*n_a| (no float CDFs, so the gate needs no
    tolerance), plus the argmax value (smallest value attaining the
    max, a deterministic tie-break) and a permyriad rendering.

    The oracle computes both ECDFs with the textbook bare ORDER BY
    window; the Spark side is operators/stats_tests.py's bucketed
    two-pass cumulative-count spine (operators/prefix.py) — per-bucket
    windows plus a broadcast |buckets|-row exclusive prefix — so the
    hash gate proves the distributed scan IS the textbook statistic.
    One grouped scan feeds every aggregate via a lazy localCheckpoint;
    the max/argmax joins are 1-row broadcasts.

    Scale: the only data-sized shuffle groups events to distinct
    values (map-side combinable); everything after runs on the
    |distinct values| relation. d_num products are BIGINT here; the
    100-TB form lifts them to DECIMAL(38,0) (counts beyond ~3e9 rows
    per side overflow int64 products)."""
    from .operators.stats_tests import ks_statistic

    cum = _two_sample_cum(spark, sf_dir, "click", "view")
    return ks_statistic(cum, "value", at_name="at_value")


_MWU_Z = (
    "CAST(ROUND(1000000 * ((u2_a / 2.0 - CAST(n_a AS DOUBLE) * n_b / 2.0) / "
    "sqrt((CAST(n_a AS DOUBLE) * n_b / 12.0) * ((n_a + n_b + 1) - "
    "CAST(tie_term AS DOUBLE) / (CAST(n_a + n_b AS DOUBLE) * (n_a + n_b - 1)))"
    "))) AS BIGINT) AS z_x1e6"
)


@query(
    "mannwhitney_u",
    oracle="""
    WITH """ + _TWO_SAMPLE_SQL.format(a="purchase", b="error") + """,
    a AS (SELECT CAST(MAX(ca) AS BIGINT) AS n_a,
                 CAST(MAX(cb) AS BIGINT) AS n_b,
                 CAST(SUM(ca0 * (2 * (cb - cb0) + cb0)) AS BIGINT) AS u2_a,
                 CAST(SUM((ca0 + cb0) * (ca0 + cb0) * (ca0 + cb0)
                          - (ca0 + cb0)) AS BIGINT) AS tie_term
          FROM r)
    SELECT n_a, n_b, u2_a,
           CAST(2 * n_a * n_b - u2_a AS BIGINT) AS u2_b,
           tie_term,
    """ + _MWU_Z + """
    FROM a
    """,
)
def mannwhitney_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U rank-sum test between 'purchase' and 'error'
    event values, with average-rank tie handling — the nonparametric
    "did the distribution shift?" check an experimentation pipeline
    runs when values are skewed and a t-test's normality assumption is
    indefensible. Exactness: U is kept as the INTEGER 2U (the x2
    scaling folds the half-credit tie terms into whole numbers):
    2U_a = SUM over distinct values of ca0*(2*(cb - cb0) + cb0), i.e.
    each A-observation counts 2 per B below it and 1 per tied B.
    tie_term = SUM(t^3 - t) over pooled tie groups feeds the variance
    correction; the normal-approximation z-score is ONE shared
    expression string (micro-scaled, identical association) evaluated
    by both engines on identical integers, so even its double
    arithmetic is bit-reproducible.

    Headroom (the KS convention, stated not assumed): tie_term's SUM
    stays inside int64 while max_tie_group^2 * pooled_rows < ~9.2e18
    (sum(t^3) <= max_t^2 * N — the BOUND IS ON THE SUM, not the
    per-term cube: e.g. 1M-row tie groups cap N at ~9.2e6, and a
    single group past ~2.1M rows overflows alone), and u2_a while
    n_a*n_b < ~4.6e18; past either bound the 100-TB form lifts the
    accumulation to DECIMAL(38,0) — at this gate's scales both bounds
    are satisfied by orders of magnitude.

    Same distributed spine as ks_two_sample (bucketed two-pass
    cumulative counts, operators/stats_tests.py): the oracle's bare
    ORDER BY window never appears on the Spark side, and everything
    past the one grouped shuffle is a map-side-combinable aggregate
    over the distinct-value relation."""
    cum = _two_sample_cum(spark, sf_dir, "purchase", "error")
    a = cum.agg(
        F.max("ca").cast("long").alias("n_a"),
        F.max("cb").cast("long").alias("n_b"),
        F.sum(
            F.col("ca0")
            * (2 * (F.col("cb") - F.col("cb0")) + F.col("cb0"))
        )
        .cast("long")
        .alias("u2_a"),
        F.sum(
            (F.col("ca0") + F.col("cb0"))
            * (F.col("ca0") + F.col("cb0"))
            * (F.col("ca0") + F.col("cb0"))
            - (F.col("ca0") + F.col("cb0"))
        )
        .cast("long")
        .alias("tie_term"),
    )
    return a.selectExpr(
        "n_a",
        "n_b",
        "u2_a",
        "CAST(2 * n_a * n_b - u2_a AS BIGINT) AS u2_b",
        "tie_term",
        _MWU_Z,
    )


@query(
    "set_similarity_join",
    oracle="""
    WITH arr AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\\s+'),
                         x -> x <> '') AS l
      FROM documents),
    sh AS (
      SELECT doc_id, unnest(list_distinct(list_transform(range(len(l) - 2),
             i -> l[i+1] || ' ' || l[i+2] || ' ' || l[i+3]))) AS sh
      FROM arr WHERE len(l) >= 3),
    sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS s FROM sh GROUP BY 1),
    p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                 CAST(count(*) AS BIGINT) AS inter
          FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
          GROUP BY 1, 2)
    SELECT doc_a, doc_b, sa.s AS sz_a, sb.s AS sz_b, inter,
           CAST(sa.s + sb.s - inter AS BIGINT) AS uni,
           CAST(1000 * inter // (sa.s + sb.s - inter) AS BIGINT)
             AS jac_permille
    FROM p
    JOIN sz sa ON sa.doc_id = p.doc_a
    JOIN sz sb ON sb.doc_id = p.doc_b
    WHERE 1500 * inter >= 500 * (sa.s + sb.s)
    """,
)
def set_similarity_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT all-pairs Jaccard >= 0.5 over 3-word shingle sets via
    prefix filtering (operators/ppjoin.py, PPJoin-style): shingles are
    globally ranked rare-first, each document keeps only its
    |s| - ceil(|s|/2) + 1 rarest shingles, and only pairs sharing one
    of THOSE become candidates — provably zero false negatives, which
    is exactly what the hash gate checks against the oracle's
    definitional share-a-shingle join (the candidate space collapses
    ~100x: 11 k prefix candidates vs 1.1 M shingle-sharing pairs at
    bench scale). All thresholds are integer permille arithmetic
    (J >= 1/2 <=> 1500*inter >= 500*(sz_a+sz_b)) — no float
    comparisons near ties.

    Complements the MinHash/SimHash family (operators/dedup.py): those
    trade recall for a fixed banding cost; this is the exact-recall
    join a curation pipeline runs when missing a duplicate pair is not
    acceptable (eval-set leakage scans).

    Scale: the rare-first rank is the bucketed two-pass row number
    (operators/prefix.py — no single-task window); prefix trim is a
    per-document window (bounded by document size); candidate and
    verification joins are equi-joins on shingle / doc id, AQE handles
    hot-shingle skew. The quadratic pair space is never materialized."""
    from .operators.ppjoin import jaccard_similarity_join

    docs = load_table(spark, sf_dir, "documents")
    # array-native shingling: one map-side projection (split → sliding
    # 3-windows → distinct → explode), no per-doc window shuffle — same
    # (doc, shingle) relation as operators/contamination._string_shingles
    toks = F.filter(
        F.split(F.lower(F.col("text")), r"\s+"), lambda x: x != ""
    )
    sh = (
        docs.select(F.col("doc_id").alias("doc"), toks.alias("_l"))
        .where(F.size("_l") >= 3)
        .select(
            "doc",
            F.explode(
                F.array_distinct(
                    F.transform(
                        F.sequence(F.lit(0), F.size("_l") - 3),
                        lambda i: F.concat_ws(
                            " ",
                            F.element_at("_l", i + 1),
                            F.element_at("_l", i + 2),
                            F.element_at("_l", i + 3),
                        ),
                    )
                )
            ).alias("sh"),
        )
    )
    res = jaccard_similarity_join(sh, "doc", "sh", tau_permille=500)
    return res.select(
        F.col("id_a").alias("doc_a"),
        F.col("id_b").alias("doc_b"),
        "sz_a",
        "sz_b",
        "inter",
        "uni",
        "jac_permille",
    )


_ENC_R6 = (
    "ROUND(CASE WHEN n_tot - n_f > 0 "
    "THEN CAST(s_tot - s_f AS DOUBLE) / (n_tot - n_f) "
    "ELSE CAST(s_all AS DOUBLE) / n_all END, 6) AS enc_r6"
)


def _target_encode_oracle() -> str:
    from .operators.sampling import md5_bucket_sql

    fold = f"({md5_bucket_sql('o_orderkey')}) % 5"
    return f"""
    WITH o2 AS (
      SELECT CAST(o_totalprice AS DECIMAL(18,2)) AS price,
             {fold} AS fold,
             o_orderpriority, o_orderstatus
      FROM orders),
    base AS (
      SELECT 'priority' AS feature, o_orderpriority AS level, price, fold
      FROM o2
      UNION ALL
      SELECT 'status', o_orderstatus, price, fold FROM o2),
    per AS (SELECT feature, level, fold,
                   CAST(count(*) AS BIGINT) AS n_f, SUM(price) AS s_f
            FROM base GROUP BY 1, 2, 3),
    tot AS (SELECT feature, level, CAST(SUM(n_f) AS BIGINT) AS n_tot,
                   SUM(s_f) AS s_tot
            FROM per GROUP BY 1, 2),
    gl AS (SELECT feature, CAST(SUM(n_f) AS BIGINT) AS n_all,
                  SUM(s_f) AS s_all
           FROM per GROUP BY 1)
    SELECT feature, level, CAST(fold AS BIGINT) AS fold,
           CAST(n_tot - n_f AS BIGINT) AS n_excl,
           ROUND(CAST(s_tot - s_f AS DOUBLE), 2) AS s_excl_r2,
           {_ENC_R6}
    FROM per JOIN tot USING (feature, level) JOIN gl USING (feature)
    """


@query("target_encode_oof", oracle=None)
def target_encode_oof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-fold target encoding — the leakage-safe categorical
    feature a training pipeline substitutes for one-hot when the
    cardinality is high: each (feature, level, fold) cell gets the mean
    target (order price) computed over every OTHER fold, so a row never
    sees its own label through its encoding (the K-fold sibling of
    leakage_safe_split's doc-level discipline). Folds are md5-derived
    (operators/sampling.py md5_bucket % 5), replayed bit-identically by
    the oracle; sums are exact DECIMAL(18,2); the encodings are double
    divisions of identical exact inputs rendered at 6 dp via ONE shared
    expression string, with the global-mean fallback for an empty
    exclusion branch spelled out in the same expression.

    Scale: one orders scan fans out through a 2-way stack generator
    (the oracle's UNION ALL double-scan is the definitional form, not
    the plan); the cell aggregate partial-combines to |levels| x 5
    rows; totals and global means are metadata-sized broadcast joins.
    The output IS the broadcast dimension a trainer joins onto 100 TB
    of rows — this query builds the small side, so nothing here scales
    with the fact table beyond the first combine."""
    from .operators.sampling import md5_bucket

    o = load_table(spark, sf_dir, "orders").withColumn(
        "fold", (md5_bucket(F.col("o_orderkey")) % 5).cast("long")
    )
    base = o.selectExpr(
        "stack(2, 'priority', o_orderpriority, 'status', o_orderstatus)"
        " AS (feature, level)",
        "CAST(o_totalprice AS DECIMAL(18,2)) AS price",
        "fold",
    )
    per = base.groupBy("feature", "level", "fold").agg(
        F.count("*").alias("n_f"), F.sum("price").alias("s_f")
    )
    tot = per.groupBy("feature", "level").agg(
        F.sum("n_f").alias("n_tot"), F.sum("s_f").alias("s_tot")
    )
    gl = per.groupBy("feature").agg(
        F.sum("n_f").alias("n_all"), F.sum("s_f").alias("s_all")
    )
    return (
        per.join(F.broadcast(tot), ["feature", "level"])
        .join(F.broadcast(gl), "feature")
        .selectExpr(
            "feature",
            "level",
            "fold",
            "CAST(n_tot - n_f AS BIGINT) AS n_excl",
            "ROUND(CAST(s_tot - s_f AS DOUBLE), 2) AS s_excl_r2",
            _ENC_R6,
        )
    )


ORACLES["target_encode_oof"] = _target_encode_oracle()


_STUMP_IMP = (
    "CAST(ROUND(1000000000 * (2.0 * pos_l * (n_l - pos_l) / n_l + "
    "2.0 * (pos_tot - pos_l) * ((n - n_l) - (pos_tot - pos_l)) / (n - n_l)) "
    "/ n) AS BIGINT) AS imp_x1e9"
)


@query(
    "decision_stump",
    oracle="""
    WITH base AS (
      SELECT 'quantity' AS feature, l_quantity AS value,
             CAST(l_returnflag = 'R' AS INT) AS y FROM lineitem
      UNION ALL
      SELECT 'discount', l_discount, CAST(l_returnflag = 'R' AS INT)
      FROM lineitem
      UNION ALL
      SELECT 'price', l_extendedprice, CAST(l_returnflag = 'R' AS INT)
      FROM lineitem),
    g AS (SELECT feature, value, CAST(count(*) AS BIGINT) AS cnt,
                 CAST(SUM(y) AS BIGINT) AS pos
          FROM base GROUP BY 1, 2),
    c AS (SELECT feature, value,
                 CAST(SUM(cnt) OVER (PARTITION BY feature ORDER BY value)
                      AS BIGINT) AS n_l,
                 CAST(SUM(pos) OVER (PARTITION BY feature ORDER BY value)
                      AS BIGINT) AS pos_l
          FROM g),
    t AS (SELECT feature, CAST(SUM(cnt) AS BIGINT) AS n,
                 CAST(SUM(pos) AS BIGINT) AS pos_tot
          FROM g GROUP BY 1),
    s AS (SELECT feature, value, n_l, pos_l, n, pos_tot,
    """ + _STUMP_IMP + """
          FROM c JOIN t USING (feature) WHERE n_l < n),
    r AS (SELECT *, ROW_NUMBER() OVER (
            PARTITION BY feature ORDER BY imp_x1e9, value) AS rn FROM s)
    SELECT feature, value AS threshold, imp_x1e9,
           n_l AS n_left, pos_l AS pos_left,
           CAST(n - n_l AS BIGINT) AS n_right,
           CAST(pos_tot - pos_l AS BIGINT) AS pos_right
    FROM r WHERE rn = 1
    """,
)
def decision_stump(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exhaustive best-split decision stump: for each numeric feature
    (quantity, discount, extended price) and every candidate threshold
    (each distinct value, split x <= v | x > v), the weighted Gini
    impurity of predicting l_returnflag = 'R' — the inner loop of every
    distributed tree learner, reduced to its sufficient statistic:
    cumulative (count, positives) per distinct value. The winning
    threshold per feature (min impurity, smallest-threshold tie-break)
    is returned with its split counts. Impurity is ONE shared
    nano-scaled expression over exact BIGINT counts, so both engines
    round the identical double.

    The oracle's cumulative counts are textbook PARTITION BY feature
    windows and a triple UNION ALL scan; the Spark side runs ONE
    lineitem scan through a 3-way stack generator and the grouped
    two-pass prefix sums (operators/prefix.py, partition_cols =
    feature, value-band buckets) — every stage parallelizes over
    feature x band even when one feature's value domain dominates,
    which is precisely the skew a bare per-feature window would hit at
    100 TB (3 features = 3 tasks). The split search never touches the
    row count again after the first map-side combine to distinct
    values."""
    li = load_table(spark, sf_dir, "lineitem")
    base = li.selectExpr(
        "stack(3, 'quantity', l_quantity, 'discount', l_discount,"
        " 'price', l_extendedprice) AS (feature, value)",
        "CAST(l_returnflag = 'R' AS INT) AS y",
    )
    # pin the distinct-value aggregate: it feeds the two prefix scans
    # (each consuming it twice — window + offsets) and the totals; an
    # unpinned chain re-reads lineitem five times (exchange reuse does
    # not unify the branches), vs exactly one scan with the pin
    # EAGER pin (r15): the three consumers are INDEPENDENT branches of
    # one action, and AQE materializes their query stages concurrently
    # — under a lazy checkpoint all three raced to compute the
    # unmaterialized RDD and the scan+aggregate ran three times
    # (profiled: 3 identical ~2.4 s jobs); eager runs it exactly once
    g = base.groupBy("feature", "value").agg(
        F.count("*").alias("cnt"), F.sum("y").cast("long").alias("pos")
    ).localCheckpoint(eager=True)
    # bucket width 64 keeps the near-unique price domain to ~1.5k offset
    # rows (vs ~100k at width 1) while leaving the small-domain features
    # in one window each; alignment only needs to hold WITHIN a feature
    # partition, and floor(value/64) is monotone in value
    cum = running_sums(
        g, ["cnt", "pos"], F.floor(F.col("value") / 64), ["value"],
        partition_cols=["feature"], out_cols=["n_l", "pos_l"],
    )
    tot = g.groupBy("feature").agg(
        F.sum("cnt").alias("n"), F.sum("pos").alias("pos_tot")
    )
    s = (
        cum.join(F.broadcast(tot), "feature")
        .where(F.col("n_l") < F.col("n"))
        .selectExpr(
            "feature", "value", "n_l", "pos_l", "n", "pos_tot", _STUMP_IMP
        )
    )
    # winner per feature as ONE struct-min aggregate instead of a
    # row_number window: the window partitions by feature (3 groups), so
    # the near-unique price domain funnels ~all candidate rows through a
    # single sort task (measured the gate's dominant job); min over a
    # (imp, value, ...) struct is lexicographic on (imp_x1e9, value) —
    # exactly the window's ORDER BY, and (feature, value) is unique by
    # construction so the trailing payload fields never break a tie —
    # and partial-aggregates map-side (ObjectHashAggregate), no
    # feature-sized sort anywhere.
    best = s.groupBy("feature").agg(
        F.min(
            F.struct("imp_x1e9", "value", "n_l", "pos_l", "n", "pos_tot")
        ).alias("w")
    )
    return best.selectExpr(
        "feature",
        "w.value AS threshold",
        "w.imp_x1e9 AS imp_x1e9",
        "w.n_l AS n_left",
        "w.pos_l AS pos_left",
        "CAST(w.n - w.n_l AS BIGINT) AS n_right",
        "CAST(w.pos_tot - w.pos_l AS BIGINT) AS pos_right",
    )


_GINI_X1E6 = (
    "CAST(ROUND(1000000 * (2.0 * CAST(s AS DOUBLE) / "
    "(CAST(n AS DOUBLE) * CAST(t AS DOUBLE)) - (n + 1.0) / n)) AS BIGINT)"
    " AS gini_x1e6"
)


@query(
    "gini_concentration",
    oracle="""
    WITH rev0 AS (
      SELECT o_custkey, SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS r0
      FROM orders GROUP BY 1),
    rev AS (SELECT o_custkey, CAST(r0 AS DECIMAL(18,2)) AS rev FROM rev0),
    j AS (SELECT c.c_mktsegment AS segment, rev.o_custkey, rev
          FROM rev JOIN customer c ON c.c_custkey = rev.o_custkey),
    rk AS (SELECT segment, rev,
                  ROW_NUMBER() OVER (
                    PARTITION BY segment ORDER BY rev, o_custkey) AS i
           FROM j),
    a AS (SELECT segment, CAST(count(*) AS BIGINT) AS n, SUM(rev) AS t,
                 SUM(CAST(i AS DECIMAL(12,0)) * rev) AS s
          FROM rk GROUP BY 1)
    SELECT segment, n AS n_cust, ROUND(CAST(t AS DOUBLE), 2) AS total_rev_r2,
    """ + _GINI_X1E6 + """
    FROM a
    """,
)
def gini_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue concentration per market segment as the Gini coefficient
    of the customer-revenue Lorenz curve: G = 2*SUM(i*rev_i)/(n*T) -
    (n+1)/n with customers ranked ascending by (revenue, custkey).
    Rank-weighted revenue S = SUM(i * rev) is an EXACT decimal sum
    (order-independent), so the only float work is the final shared
    micro-scaled expression both engines evaluate on identical exact
    inputs. Customers with no orders are out of scope (inner join) —
    the curve measures concentration among actual buyers.

    The oracle ranks with the textbook PARTITION BY segment window; the
    Spark side uses the grouped bucketed two-pass row number
    (operators/prefix.py global_row_number, revenue-band buckets), so
    one dominant segment — 5 segments means a bare per-segment window
    is a 5-task plan at 100 TB — still parallelizes over segment x
    band. Per-customer revenue partial-combines map-side; the rank
    product rides the same layout; i is lifted to DECIMAL(12,0) before
    the product (headroom to 1e12 customers; the decimal sum caps at
    38 digits by Spark's sum-precision widening)."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    rev = (
        o.groupBy("o_custkey")
        .agg(F.sum(F.expr("CAST(o_totalprice AS DECIMAL(18,2))")).alias("r0"))
        .select("o_custkey", F.col("r0").cast("decimal(18,2)").alias("rev"))
    )
    # pin the per-customer revenue relation: the two-pass rank consumes
    # it on both the window and offset branches, and without the pin
    # each branch re-runs the orders scan + join
    j = rev.join(
        c.select(
            F.col("c_custkey").alias("o_custkey"),
            F.col("c_mktsegment").alias("segment"),
        ),
        "o_custkey",
    ).localCheckpoint(eager=False)
    rk = global_row_number(
        j,
        F.floor(F.col("rev").cast("double") / 1000),
        ["rev", "o_custkey"],
        partition_cols=["segment"],
        out_col="i",
    )
    a = rk.groupBy("segment").agg(
        F.count("*").alias("n"),
        F.sum("rev").alias("t"),
        F.sum(F.expr("CAST(i AS DECIMAL(12,0)) * rev")).alias("s"),
    )
    return a.selectExpr(
        "segment",
        "n AS n_cust",
        "ROUND(CAST(t AS DOUBLE), 2) AS total_rev_r2",
        _GINI_X1E6,
    )


# ---------------------------------------------------------------------------
# Round 8: data-audit statistics and weighted graph distance — Benford
# first-digit conformance, chi-square independence with exact decimal
# contributions, a 7-relationship foreign-key integrity audit, and
# bounded Bellman-Ford weighted shortest paths (unrolled-CTE replay).
# ---------------------------------------------------------------------------

from .operators.sssp import sssp_labels, sssp_oracle_sql  # noqa: E402

# floor(1000 * log10(1 + 1/d)) for d = 1..9 — Benford's law rendered as
# integer permille so the gate needs no float tolerance; identical
# literals embedded in the oracle's VALUES table.
_BENFORD_PERMILLE = [
    (1, 301), (2, 176), (3, 124), (4, 96), (5, 79),
    (6, 66), (7, 57), (8, 51), (9, 45),
]


@query(
    "benford_digits",
    oracle="""
    WITH d AS (
      SELECT CAST(substring(CAST(CAST(floor(l_extendedprice) AS BIGINT)
                                 AS VARCHAR), 1, 1) AS BIGINT) AS digit
      FROM lineitem WHERE l_extendedprice >= 1.0),
    c AS (SELECT digit, CAST(count(*) AS BIGINT) AS n_obs FROM d GROUP BY 1),
    n AS (SELECT CAST(SUM(n_obs) AS BIGINT) AS nt FROM c),
    b(digit, benford_permille) AS (
      VALUES (1, 301), (2, 176), (3, 124), (4, 96), (5, 79),
             (6, 66), (7, 57), (8, 51), (9, 45))
    SELECT CAST(b.digit AS BIGINT) AS digit,
           COALESCE(c.n_obs, 0) AS n_obs,
           CAST(1000 * COALESCE(c.n_obs, 0) // n.nt AS BIGINT) AS obs_permille,
           CAST(b.benford_permille AS BIGINT) AS benford_permille,
           CAST(abs(1000 * COALESCE(c.n_obs, 0) // n.nt
                    - b.benford_permille) AS BIGINT) AS dev_permille
    FROM b LEFT JOIN c ON c.digit = b.digit CROSS JOIN n
    """,
)
def benford_digits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit conformance audit over lineitem prices: the
    observed first-significant-digit distribution in exact integer
    permille against Benford's expected floor(1000*log10(1+1/d)) —
    the fraud/data-quality screen a warehouse runs over any
    organically-grown monetary column (the reference's load pipeline
    validates schemas but has no distributional audit; this is the
    statistical complement to its conformance checks,
    `/root/reference/src/data_processor/processor.py:619-710`).

    Exactness across engines comes from avoiding float digit math
    entirely: the first digit is substring 1 of the BIGINT cast of
    floor(price) — floor is exact IEEE on both engines and the cast is
    then integral, so no log10/pow rounding can flip a boundary value.
    Rows with price < 1 are excluded (their first significant digit
    lives below the integer part). obs_permille is integer
    1000*n_d DIV N, exact to ~9.2e15 rows.

    Scale: ONE scan, one 9-key map-side-combinable groupBy, then a
    broadcast of the 9-row count table against the literal Benford
    spine and a 1-row total. Nothing data-sized shuffles twice."""
    li = load_table(spark, sf_dir, "lineitem")
    digits = li.where(F.col("l_extendedprice") >= 1.0).select(
        F.expr(
            "CAST(substring(CAST(CAST(floor(l_extendedprice) AS BIGINT)"
            " AS STRING), 1, 1) AS BIGINT)"
        ).alias("digit")
    )
    # counts feeds the spine join AND the total; pin it lazily so the
    # lineitem scan + 9-key aggregate run once, not per consumer
    counts = (
        digits.groupBy("digit")
        .agg(F.count("*").alias("n_obs"))
        .localCheckpoint(eager=False)
    )
    total = counts.agg(F.sum("n_obs").cast("long").alias("nt"))
    spine = spark.createDataFrame(
        _BENFORD_PERMILLE, "digit long, benford_permille long"
    )
    return (
        spine.join(F.broadcast(counts), "digit", "left")
        .crossJoin(F.broadcast(total))
        .select(
            "digit",
            F.coalesce(F.col("n_obs"), F.lit(0)).cast("long").alias("n_obs"),
            F.expr("CAST(1000 * COALESCE(n_obs, 0) div nt AS BIGINT)").alias(
                "obs_permille"
            ),
            "benford_permille",
            F.expr(
                "CAST(abs(1000 * COALESCE(n_obs, 0) div nt"
                " - benford_permille) AS BIGINT)"
            ).alias("dev_permille"),
        )
    )


@query(
    "chisq_independence",
    oracle="""
    WITH cells AS (
      SELECT o_orderpriority, o_orderstatus,
             CAST(count(*) AS BIGINT) AS n_obs
      FROM orders GROUP BY 1, 2),
    r AS (SELECT o_orderpriority, SUM(n_obs) AS rr FROM cells GROUP BY 1),
    c AS (SELECT o_orderstatus, SUM(n_obs) AS cc FROM cells GROUP BY 1),
    n AS (SELECT SUM(n_obs) AS nt FROM cells),
    per AS (
      SELECT cells.o_orderpriority, cells.o_orderstatus, cells.n_obs,
             CAST(CAST(1000 AS HUGEINT) * r.rr * c.cc // n.nt
                  AS BIGINT) AS expected_milli,
             CAST(CAST(1000000 AS HUGEINT)
                  * (CAST(cells.n_obs AS HUGEINT) * n.nt
                     - CAST(r.rr AS HUGEINT) * c.cc)
                  * (CAST(cells.n_obs AS HUGEINT) * n.nt
                     - CAST(r.rr AS HUGEINT) * c.cc)
                  // (CAST(n.nt AS HUGEINT) * r.rr * c.cc)
                  AS BIGINT) AS chi2_contrib_micro
      FROM cells
      JOIN r USING (o_orderpriority)
      JOIN c USING (o_orderstatus)
      CROSS JOIN n)
    SELECT * FROM per
    UNION ALL
    SELECT 'ALL', 'ALL', CAST(SUM(n_obs) AS BIGINT),
           CAST(SUM(expected_milli) AS BIGINT),
           CAST(SUM(chi2_contrib_micro) AS BIGINT)
    FROM per
    """,
)
def chisq_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square test of independence between order priority and order
    status — the contingency-table screen for "does one categorical
    drive another", rendered fully exact: expected counts as integer
    milli-units (1000*r*c DIV N) and each cell's chi-square
    contribution as integer micro-units (1e6*(o*N - r*c)^2 DIV
    (N*r*c)), all computed in DECIMAL(38,0) / HUGEINT so both engines
    share the arithmetic bit-for-bit (headroom: (o*N)^2 * 1e6 caps
    both engines near N ~= 4e7 rows; past that, drop the micro scale
    or pre-aggregate — documented, not silent). A trailing 'ALL'/'ALL'
    discriminator row carries the chi-square total as the sum of the
    per-cell integers (order-independent by construction).

    Scale: ONE scan to the |priorities| x |statuses| cell table (15
    rows, map-side combinable), then every margin (row totals, column
    totals, N) re-aggregates the pinned cell table — broadcast joins
    throughout; the union's total row consumes the same pinned `per`
    frame, so nothing recomputes (the corr_matrix union lesson)."""
    o = load_table(spark, sf_dir, "orders")
    cells = (
        o.groupBy("o_orderpriority", "o_orderstatus")
        .agg(F.count("*").alias("n_obs"))
        .localCheckpoint(eager=False)
    )
    r = cells.groupBy("o_orderpriority").agg(F.sum("n_obs").alias("rr"))
    c = cells.groupBy("o_orderstatus").agg(F.sum("n_obs").alias("cc"))
    n = cells.agg(F.sum("n_obs").alias("nt"))
    per = (
        cells.join(F.broadcast(r), "o_orderpriority")
        .join(F.broadcast(c), "o_orderstatus")
        .crossJoin(F.broadcast(n))
        .select(
            "o_orderpriority",
            "o_orderstatus",
            F.col("n_obs").cast("long").alias("n_obs"),
            F.expr("CAST(rr AS DECIMAL(38,0)) * cc").alias("_rc"),
            F.expr(
                "CAST(n_obs AS DECIMAL(38,0)) * nt"
                " - CAST(rr AS DECIMAL(38,0)) * cc"
            ).alias("_resid"),
            F.col("nt"),
        )
        .select(
            "o_orderpriority",
            "o_orderstatus",
            "n_obs",
            F.expr("CAST(CAST(1000 AS DECIMAL(38,0)) * _rc div nt AS BIGINT)")
            .alias("expected_milli"),
            F.expr(
                "CAST(CAST(1000000 AS DECIMAL(38,0)) * _resid * _resid"
                " div (CAST(nt AS DECIMAL(38,0)) * _rc) AS BIGINT)"
            ).alias("chi2_contrib_micro"),
        )
        .localCheckpoint(eager=False)
    )
    total = per.agg(
        F.lit("ALL").alias("o_orderpriority"),
        F.lit("ALL").alias("o_orderstatus"),
        F.sum("n_obs").cast("long").alias("n_obs"),
        F.sum("expected_milli").cast("long").alias("expected_milli"),
        F.sum("chi2_contrib_micro").cast("long").alias("chi2_contrib_micro"),
    )
    return per.unionByName(total)


# child table, child key, parent table, parent key — the TPC-H-shaped
# star schema's full referential surface (reference analog: the
# pre-write PK conformance checks in schemas.py extend here to the FK
# direction a warehouse audits after every load).
_FK_RELS = [
    ("lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("orders", "o_custkey", "customer", "c_custkey"),
    ("customer", "c_nationkey", "nation", "n_nationkey"),
    ("supplier", "s_nationkey", "nation", "n_nationkey"),
    ("nation", "n_regionkey", "region", "r_regionkey"),
]


def _fk_audit_oracle() -> str:
    blocks = []
    for child, ck, parent, pk in _FK_RELS:
        name = f"{child}.{ck}->{parent}.{pk}"
        blocks.append(
            f"""SELECT '{name}' AS relationship,
           CAST((SELECT SUM(n) FROM k_{child}_{ck}) AS BIGINT) AS n_child_rows,
           CAST((SELECT count(*) FROM k_{child}_{ck}) AS BIGINT) AS n_child_keys,
           CAST((SELECT count(*) FROM orph_{child}_{ck}) AS BIGINT) AS n_orphan_keys,
           CAST(COALESCE((SELECT SUM(n) FROM orph_{child}_{ck}), 0) AS BIGINT) AS n_orphan_rows"""
        )
    ctes = []
    for child, ck, parent, pk in _FK_RELS:
        ctes.append(
            f"k_{child}_{ck} AS (SELECT {ck} AS k, CAST(count(*) AS BIGINT) AS n"
            f" FROM {child} GROUP BY 1)"
        )
        ctes.append(
            f"orph_{child}_{ck} AS (SELECT * FROM k_{child}_{ck}"
            f" WHERE NOT EXISTS (SELECT 1 FROM {parent} p WHERE p.{pk} = k))"
        )
    return "WITH " + ",\n    ".join(ctes) + "\n    " + "\n    UNION ALL\n    ".join(blocks)


@query("fk_integrity_audit", oracle=_fk_audit_oracle())
def fk_integrity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit across the star schema's seven
    foreign-key edges: per relationship, child row/key counts and how
    many keys/rows point at a missing parent — the FK complement of
    the reference's pre-write PK conformance checks
    (`/root/reference/src/data_processor/processor.py:619-710`), run
    as a single post-load report instead of per-table assertions.

    Scale: each relationship aggregates the child to its DISTINCT key
    counts first (one map-side-combinable shuffle bounded by key
    cardinality, never raw rows), LEFT-joins once against the parent's
    distinct key column (column-pruned scan), and computes totals and
    orphan counts in ONE conditional aggregate — single pass, no
    second consumer. Seven independent 1-row branches union at the
    end; no branch touches another's tables."""
    rows = [
        _fk_audit_row(
            f"{child}.{ck}->{parent}.{pk}",
            load_table(spark, sf_dir, child),
            ck,
            load_table(spark, sf_dir, parent),
            pk,
        )
        for child, ck, parent, pk in _FK_RELS
    ]
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out


def _fk_audit_row(
    name: str, cdf: DataFrame, ck: str, pdf: DataFrame, pk: str
) -> DataFrame:
    """One audit row for child.ck -> parent.pk: the child is reduced to
    its distinct-key counts (one map-side-combinable shuffle bounded by
    key cardinality, never raw rows), LEFT-joined once against the
    parent's distinct keys, and all four statistics fall out of a
    single conditional aggregate — totals and orphan counts in one
    pass, no second consumer to pin for."""
    keys = cdf.groupBy(F.col(ck).alias("k")).agg(F.count("*").alias("n"))
    marked = keys.join(
        pdf.select(F.col(pk).alias("k")).distinct().withColumn(
            "_hit", F.lit(1)
        ),
        "k",
        "left",
    )
    miss = F.col("_hit").isNull()
    # orphan sums coalesce to 0 on an EMPTY child (SUM over zero rows
    # is NULL) to match the oracle's count(*) / COALESCE(SUM, 0);
    # n_child_rows stays NULL there because the oracle's bare SUM does
    return marked.agg(
        F.lit(name).alias("relationship"),
        F.sum("n").cast("long").alias("n_child_rows"),
        F.count("*").cast("long").alias("n_child_keys"),
        F.coalesce(F.sum(F.when(miss, 1).otherwise(0)), F.lit(0))
        .cast("long")
        .alias("n_orphan_keys"),
        F.coalesce(F.sum(F.when(miss, F.col("n")).otherwise(0)), F.lit(0))
        .cast("long")
        .alias("n_orphan_rows"),
    )


# weighted co-purchase subgraph (every third part — the triangle/BFS
# graph) with integer edge costs: a pair seen in cnt baskets costs
# 1 + 1000 DIV cnt, so frequent pairs are short hops. Symmetrized in
# SQL by the final UNION ALL.
_WEIGHTED_EDGES_SQL = """
      WITH wp AS MATERIALIZED (
        SELECT src, dst, CAST(1 + 1000 // cnt AS BIGINT) AS w FROM (
          SELECT a.l_partkey AS src, b.l_partkey AS dst,
                 CAST(count(*) AS BIGINT) AS cnt
          FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
                WHERE l_partkey % 3 = 0) a
          JOIN (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
                WHERE l_partkey % 3 = 0) b
            ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
          GROUP BY 1, 2))
      SELECT src, dst, w FROM wp
      UNION ALL
      SELECT dst, src, w FROM wp
    """

_SSSP_SEEDS_SQL = (
    "SELECT DISTINCT src AS v FROM e WHERE src % 999 = 0"
)


@query(
    "weighted_sssp",
    oracle=sssp_oracle_sql(_WEIGHTED_EDGES_SQL, _SSSP_SEEDS_SQL, rounds=4)
    + """
    SELECT v AS part, dist FROM d4
    """,
)
def weighted_sssp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted shortest paths over the part co-purchase subgraph
    (every third part, the triangle/BFS graph): min path cost from the
    seed set {parts divisible by 999} under integer edge costs
    1 + 1000 DIV cnt — frequent co-purchase pairs are cheap hops — for
    4 Bellman-Ford relaxation rounds. The weighted complement of
    bfs_reach: hop count says how FAR a part is, path cost says how
    WEAKLY CONNECTED it is, the distance that actually ranks
    recommendation reachability.

    Fixed rounds + integer min-plus arithmetic make every label a pure
    function of the edge set, so the DuckDB oracle replays all four
    relaxations as unrolled MATERIALIZED CTEs (operators/sssp.py
    sssp_oracle_sql) and the gate hash-verifies every distance.

    Scale: the weighted edge build is the one data-sized shuffle
    (distinct + bounded map-side pair generation from baskets, the
    canonical_pairs form — never an items self-join); it is
    checkpoint-pinned so the 4 relaxation joins (each bounded by
    labeled-set adjacency, followed by a map-side-combinable MIN)
    never replay it."""
    li = load_table(spark, sf_dir, "lineitem").where(
        F.col("l_partkey") % 3 == 0
    )
    pairs = (
        canonical_pairs_from_baskets(basket_sets(li, "l_orderkey", "l_partkey"))
        .groupBy("src", "dst")
        .agg(F.count("*").alias("cnt"))
        .select(
            "src", "dst", F.expr("CAST(1 + 1000 div cnt AS BIGINT)").alias("w")
        )
    )
    edges = (
        pairs.select(
            F.explode(
                F.array(
                    F.struct("src", "dst", "w"),
                    F.struct(
                        F.col("dst").alias("src"),
                        F.col("src").alias("dst"),
                        F.col("w"),
                    ),
                )
            ).alias("e")
        )
        .select("e.src", "e.dst", "e.w")
        .localCheckpoint(eager=False)
    )
    seeds = (
        edges.where(F.col("src") % 999 == 0)
        .select(F.col("src").alias("v"))
        .distinct()
    )
    return sssp_labels(edges, seeds, rounds=4).select(
        F.col("v").alias("part"), "dist"
    )


# ===========================================================================
# Reference-model oracle gates (r9 VERDICT #2): the three Dataform models
# whose transform patterns previously had unit-only coverage —
# deployed_models' branch unpivot (U2), user_collection_predictions'
# multi-key JOIN USING + W1 (J9), bgg_predictions' freshness flags (F9) —
# re-run through plans/models.py itself on landing analogs derived from
# the testdata tables, so the GATED code is the model code.
# ===========================================================================

# (family, name_prefix, name_modulus, version_modulus) — five prediction
# families sharing ONE landing table, exactly the shape of
# `definitions/deployed_models.sqlx:9-129`'s seven-branch UNION (name and
# version derive from different keys with different moduli so every branch
# produces a distinct grouping structure).
_DEPLOYED_FAMS = [
    ("geek_rating", "gr", 2, 3),
    ("hurdle", "hu", 3, 2),
    ("complexity", "cx", 2, 4),
    ("rating", "rt", 4, 2),
    ("users_rated", "ur", 2, 5),
]

# 2024-01-01T00:00:00Z in microseconds — the synthetic created_ts epoch
# for the embeddings branch of the deployed-models analog.
_EMB_TS0_US = 1_704_067_200_000_000


def _deployed_models_oracle() -> str:
    branches = []
    for fam, pre, nm, nv in _DEPLOYED_FAMS:
        branches.append(f"""
    SELECT '{fam}' AS model_type,
           '{pre}' || CAST(o_custkey % {nm} AS VARCHAR) AS model_name,
           'v' || CAST(o_orderkey % {nv} AS VARCHAR) AS model_version,
           count(DISTINCT o_orderkey % 1000) AS game_count,
           max(o_orderdate) AS last_score_ts
    FROM orders GROUP BY 2, 3""")
    branches.append(f"""
    SELECT 'game_embeddings' AS model_type,
           'emb' || CAST(label % 2 AS VARCHAR) AS model_name,
           CAST(label % 4 AS VARCHAR) AS model_version,
           count(DISTINCT vec_id % 500) AS game_count,
           max(make_timestamp({_EMB_TS0_US}
                              + (vec_id % 365) * 86400000000)) AS last_score_ts
    FROM embeddings GROUP BY 2, 3""")
    return "\nUNION ALL\n".join(branches)


@query("deployed_models_union", oracle=_deployed_models_oracle())
def deployed_models_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`definitions/deployed_models.sqlx:9-129` (U2) run through
    plans/models.py::deployed_models itself: one branch per model family
    over the SAME landing table — each branch groups a different
    (name, version) column pair under a literal discriminator and
    aggregates COUNT(DISTINCT game_id) + MAX(score_ts) — plus the
    embeddings branch with its numeric-version cast, all UNION ALL'd.
    The landing analog derives the five families' name/version columns
    from orders keys with per-family moduli; the embeddings branch maps
    the embeddings table onto the game_embeddings landing shape. Plan
    shape at scale: N independent partial-aggregable groupBys over one
    scan each — the unpivot never widens rows, and every branch's
    distinct-count shuffles only (name, version, game_id)."""
    from .plans import models

    orders = load_table(spark, sf_dir, "orders")
    emb = load_table(spark, sf_dir, "embeddings")
    cols = [
        (F.col("o_orderkey") % 1000).alias("game_id"),
        F.col("o_orderdate").alias("score_ts"),
    ]
    for fam, pre, nm, nv in _DEPLOYED_FAMS:
        cols.append(
            F.concat(F.lit(pre), (F.col("o_custkey") % nm).cast("string"))
            .alias(f"{fam}_model_name")
        )
        cols.append(
            F.concat(F.lit("v"), (F.col("o_orderkey") % nv).cast("string"))
            .alias(f"{fam}_model_version")
        )
    landing = orders.select(*cols)
    game_embeddings = emb.select(
        (F.col("vec_id") % 500).alias("game_id"),
        F.concat(F.lit("emb"), (F.col("label") % 2).cast("string")).alias(
            "embedding_model"
        ),
        (F.col("label") % 4).alias("embedding_version"),
        F.timestamp_micros(
            F.lit(_EMB_TS0_US) + (F.col("vec_id") % 365) * F.lit(86_400_000_000)
        ).alias("created_ts"),
    )
    return models.deployed_models(
        {"ml_predictions_landing": landing, "game_embeddings": game_embeddings}
    )


@query(
    "collection_predictions_latest",
    oracle="""
    WITH landing AS (
      SELECT user_id AS username,
             event_id % 97 AS game_id,
             event_type AS outcome,
             'v' || CAST(event_id % 3 AS VARCHAR) AS model_version,
             value AS predicted,
             ts AS score_ts,
             event_id AS job_id
      FROM events
    ), registry AS (
      SELECT DISTINCT user_id AS username,
             event_type AS outcome,
             'v' || CAST(user_id % 3 AS VARCHAR) AS model_version,
             CASE WHEN user_id % 7 = 0 THEN 'retired'
                  ELSE 'active' END AS status
      FROM events
    ), latest AS (
      SELECT * FROM (
        SELECT l.*, ROW_NUMBER() OVER (
          PARTITION BY username, game_id, outcome
          ORDER BY score_ts DESC, job_id DESC) AS rn
        FROM landing l
      ) WHERE rn = 1
    )
    SELECT username, game_id, outcome, model_version,
           predicted, score_ts, job_id
    FROM latest
    JOIN (SELECT username, outcome, model_version FROM registry
          WHERE status = 'active')
      USING (username, outcome, model_version)
    """,
)
def collection_predictions_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`definitions/user_collection_predictions.sqlx:30-56` (J9 + W1 +
    P5) run through plans/models.py::user_collection_predictions itself:
    latest prediction per (username, game_id, outcome) — ROW_NUMBER by
    score_ts then job_id — joined USING (username, outcome,
    model_version) against the status='active' slice of the model
    registry, so predictions scored by a deposed model version drop out.
    The landing analog derives all three keys plus the scoring version
    from events; the registry analog pins one active version per
    (username, outcome) with a deterministic retired band. Plan shape at
    scale: one W1 shuffle on the composite key, then an equi-join whose
    right side is registry-sized (dimension-small — broadcastable)."""
    from .plans import models

    ev = load_table(spark, sf_dir, "events")
    landing = ev.select(
        F.col("user_id").alias("username"),
        (F.col("event_id") % 97).alias("game_id"),
        F.col("event_type").alias("outcome"),
        F.concat(F.lit("v"), (F.col("event_id") % 3).cast("string")).alias(
            "model_version"
        ),
        F.col("value").alias("predicted"),
        F.col("ts").alias("score_ts"),
        F.col("event_id").alias("job_id"),
    )
    registry = ev.select(
        F.col("user_id").alias("username"),
        F.col("event_type").alias("outcome"),
        F.concat(F.lit("v"), (F.col("user_id") % 3).cast("string")).alias(
            "model_version"
        ),
        F.when(F.col("user_id") % 7 == 0, F.lit("retired"))
        .otherwise(F.lit("active"))
        .alias("status"),
    ).distinct()
    return models.user_collection_predictions(
        {
            "collection_predictions_landing": landing,
            "collection_models_registry": registry,
        }
    ).select(
        "username", "game_id", "outcome", "model_version",
        "predicted", "score_ts", "job_id",
    )


@query(
    "predictions_freshness",
    oracle="""
    WITH a AS (SELECT max(CAST(ts AS DATE)) AS as_of FROM events),
    landing AS (
      SELECT user_id AS game_id,
             'game-' || CAST(user_id AS VARCHAR) AS name,
             value AS predicted_hurdle_prob,
             CAST(event_id % 5 AS DOUBLE) AS predicted_complexity,
             CAST(event_id % 10 AS DOUBLE) AS predicted_rating,
             event_id % 1000 AS predicted_users_rated,
             value AS predicted_geek_rating,
             ts AS score_ts,
             event_id AS job_id
      FROM events
    ), latest AS (
      SELECT * FROM (
        SELECT l.*, ROW_NUMBER() OVER (
          PARTITION BY game_id ORDER BY score_ts DESC, job_id DESC) AS rn
        FROM landing l
      ) WHERE rn = 1
    )
    SELECT game_id, name, predicted_hurdle_prob, predicted_complexity,
           predicted_rating, predicted_users_rated, predicted_geek_rating,
           score_ts,
           CAST(score_ts AS DATE) AS score_date,
           date_diff('day', CAST(score_ts AS DATE), a.as_of) <= 1
             AS is_new_1d,
           date_diff('day', CAST(score_ts AS DATE), a.as_of) <= 7
             AS is_new_7d
    FROM latest CROSS JOIN a
    """,
)
def predictions_freshness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`definitions/bgg_predictions.sqlx:36-49` (W1 + F9) run through
    plans/models.py::bgg_predictions itself: latest prediction per game,
    DATE cast, and the is_new_1d/7d DATE_DIFF freshness flags — the last
    reference transform pattern without a DuckDB hash gate (r9 VERDICT
    #2). The reference anchors the flags to CURRENT_DATE(); a wall-clock
    anchor can't be hash-compared across engines (and flips at
    midnight), so the gate passes the dataset's max event date as the
    ``as_of`` anchor — a 1-row broadcast scalar, the P7 pattern — which
    exercises the identical DATE_DIFF/casting code path
    deterministically. Plan shape at scale: one W1 shuffle on game_id;
    the anchor rides a broadcast, never a shuffle."""
    from .plans import models

    ev = load_table(spark, sf_dir, "events")
    mx = ev.agg(F.max(F.to_date("ts")).alias("as_of"))
    landing = ev.select(
        F.col("user_id").alias("game_id"),
        F.concat(F.lit("game-"), F.col("user_id").cast("string")).alias("name"),
        F.col("value").alias("predicted_hurdle_prob"),
        (F.col("event_id") % 5).cast("double").alias("predicted_complexity"),
        (F.col("event_id") % 10).cast("double").alias("predicted_rating"),
        (F.col("event_id") % 1000).alias("predicted_users_rated"),
        F.col("value").alias("predicted_geek_rating"),
        F.col("ts").alias("score_ts"),
        F.col("event_id").alias("job_id"),
    ).crossJoin(F.broadcast(mx))
    out = models.bgg_predictions(
        {"ml_predictions_landing": landing}, as_of=F.col("as_of")
    )
    # hashing render only: a DuckDB DATE reaches pandas as a midnight
    # datetime64, while a Spark DateType stays a bare date — cast the
    # model's score_date to timestamp so both sides render identically
    # (the model itself keeps DateType; this is the to_json-for-arrays
    # convention applied to dates)
    return out.withColumn("score_date", F.col("score_date").cast("timestamp"))


# ===========================================================================
# Gaps-and-islands interval merge (r9 VERDICT #6): the interval-algebra
# sibling of sessionize (fixed gap from the LAST event) — islands merge on
# the running MAX of interval ENDS, so an early long interval swallows
# later short ones that a lag-based split would separate. Pairs with
# scd2_intervals and the reference's lease-expiry interval logic
# (src/pipeline/fetcher/response_fetcher.py:60-64: in-flight = lease rows
# whose [claim_ts, claim_ts + timeout) interval still covers NOW).
# ===========================================================================


@query(
    "interval_islands",
    oracle="""
    WITH iv AS (
      SELECT user_id, event_id, value,
             epoch_us(ts) AS start_us,
             epoch_us(ts) + (30 + event_id % 270) * 1000000 AS end_us
      FROM events
    ), g AS (
      SELECT *,
             CASE WHEN max(end_us) OVER w1 IS NULL
                    OR start_us > max(end_us) OVER w1
                  THEN 1 ELSE 0 END AS new_island
      FROM iv
      WINDOW w1 AS (PARTITION BY user_id ORDER BY start_us, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    ), s AS (
      SELECT *,
             CAST(sum(new_island) OVER (
               PARTITION BY user_id ORDER BY start_us, event_id
               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS island_id
      FROM g
    )
    SELECT user_id, island_id,
           count(*) AS n_events,
           make_timestamp(min(start_us)) AS island_start,
           make_timestamp(max(end_us)) AS island_end,
           round(CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE), 4)
             AS total_value
    FROM s GROUP BY user_id, island_id
    """,
)
def interval_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands merge of per-user activity intervals
    (operators/sweepline.py::merge_intervals): each event spans
    [ts, ts + 30..300 s) — duration derived from event_id so both
    engines compute the identical span — and overlapping-or-touching
    spans merge into islands via the running-max-of-ends formulation
    (strictly-greater comparison: touching intervals MERGE, the same
    inclusive boundary the streaming session_window was measured to
    have). Comparisons run on microsecond longs (the sessionize
    convention — interval types don't hash portably); island bounds
    return as timestamps via timestamp_micros/make_timestamp. Plan
    shape at scale: one hash partition per user and one per-user sort —
    identical cost profile to sessionize, no global window."""
    from .operators.sweepline import merge_intervals

    ev = load_table(spark, sf_dir, "events")
    iv = ev.select(
        "user_id",
        "event_id",
        "value",
        F.unix_micros("ts").alias("start_us"),
        (
            F.unix_micros("ts")
            + (F.lit(30) + F.col("event_id") % 270) * F.lit(1_000_000)
        ).alias("end_us"),
    )
    islands = merge_intervals(
        iv, ["user_id"], "start_us", "end_us", order_cols=["event_id"]
    )
    return islands.groupBy("user_id", "island_id").agg(
        F.count("*").alias("n_events"),
        F.timestamp_micros(F.min("start_us")).alias("island_start"),
        F.timestamp_micros(F.max("end_us")).alias("island_end"),
        F.round(
            F.sum(F.col("value").cast("decimal(18,4)")).cast("double"), 4
        ).alias("total_value"),
    )


# ===========================================================================
# Two-feature closed-form OLS (r9 VERDICT #7): normal equations solved by
# Cramer's rule from EXACT integer moment sums — the multi-regressor
# extension of ols_trend's single-feature closed form.
# ===========================================================================


@query(
    "ols_two_feature",
    oracle="""
    WITH d AS (
      SELECT l_returnflag AS grp,
             CAST(l_quantity AS BIGINT) AS x1,
             CAST(round(l_discount * 100) AS BIGINT) AS x2,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS y
      FROM lineitem
    ), m AS (
      SELECT grp,
             CAST(count(*) AS DOUBLE) AS n,
             CAST(sum(x1) AS DOUBLE) AS sx1,
             CAST(sum(x2) AS DOUBLE) AS sx2,
             CAST(sum(x1 * x1) AS DOUBLE) AS sx11,
             CAST(sum(x1 * x2) AS DOUBLE) AS sx12,
             CAST(sum(x2 * x2) AS DOUBLE) AS sx22,
             CAST(sum(y) AS DOUBLE) AS sy,
             CAST(sum(x1 * y) AS DOUBLE) AS sx1y,
             CAST(sum(x2 * y) AS DOUBLE) AS sx2y,
             count(*) AS n_rows
      FROM d GROUP BY grp
    )
    SELECT grp, n_rows,
           (sy * (sx11 * sx22 - sx12 * sx12)
            - sx1 * (sx1y * sx22 - sx12 * sx2y)
            + sx2 * (sx1y * sx12 - sx11 * sx2y))
           / (n * (sx11 * sx22 - sx12 * sx12)
              - sx1 * (sx1 * sx22 - sx12 * sx2)
              + sx2 * (sx1 * sx12 - sx11 * sx2)) AS b0,
           (n * (sx1y * sx22 - sx12 * sx2y)
            - sy * (sx1 * sx22 - sx12 * sx2)
            + sx2 * (sx1 * sx2y - sx1y * sx2))
           / (n * (sx11 * sx22 - sx12 * sx12)
              - sx1 * (sx1 * sx22 - sx12 * sx2)
              + sx2 * (sx1 * sx12 - sx11 * sx2)) AS b1,
           (n * (sx11 * sx2y - sx1y * sx12)
            - sx1 * (sx1 * sx2y - sx1y * sx2)
            + sy * (sx1 * sx12 - sx11 * sx2))
           / (n * (sx11 * sx22 - sx12 * sx12)
              - sx1 * (sx1 * sx22 - sx12 * sx2)
              + sx2 * (sx1 * sx12 - sx11 * sx2)) AS b2
    FROM m
    """,
)
def ols_two_feature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Closed-form OLS with two regressors + intercept, per group:
    y_cents ~ b0 + b1*quantity + b2*discount_pct over lineitem, grouped
    by l_returnflag. The nine moment sums are EXACT BIGINTs (quantity is
    whole; discount and price scale to integer pct/cents via round — all
    << 2^53, so the subsequent cast to double is lossless), and the 3×3
    normal equations are solved by Cramer's rule with the SAME
    parenthesization in both engines — IEEE double products/sums of
    identical inputs are bit-identical, the ols_trend convention
    extended to a matrix solve. Correctness of the Cramer expansion is
    unit-pinned against numpy.linalg.lstsq. Plan shape at scale: one
    map-side-combinable moment aggregate over a single scan — the
    cardinality after the shuffle is the group count, and the solve is
    a per-group scalar expression."""
    d = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("grp"),
        F.col("l_quantity").cast("bigint").alias("x1"),
        F.round(F.col("l_discount") * 100).cast("bigint").alias("x2"),
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("y"),
    )
    m = d.groupBy("grp").agg(
        F.count("*").cast("double").alias("n"),
        F.sum("x1").cast("double").alias("sx1"),
        F.sum("x2").cast("double").alias("sx2"),
        F.sum(F.col("x1") * F.col("x1")).cast("double").alias("sx11"),
        F.sum(F.col("x1") * F.col("x2")).cast("double").alias("sx12"),
        F.sum(F.col("x2") * F.col("x2")).cast("double").alias("sx22"),
        F.sum("y").cast("double").alias("sy"),
        F.sum(F.col("x1") * F.col("y")).cast("double").alias("sx1y"),
        F.sum(F.col("x2") * F.col("y")).cast("double").alias("sx2y"),
        F.count("*").alias("n_rows"),
    )
    n, sx1, sx2 = F.col("n"), F.col("sx1"), F.col("sx2")
    sx11, sx12, sx22 = F.col("sx11"), F.col("sx12"), F.col("sx22")
    sy, sx1y, sx2y = F.col("sy"), F.col("sx1y"), F.col("sx2y")
    det = (
        n * (sx11 * sx22 - sx12 * sx12)
        - sx1 * (sx1 * sx22 - sx12 * sx2)
        + sx2 * (sx1 * sx12 - sx11 * sx2)
    )
    d0 = (
        sy * (sx11 * sx22 - sx12 * sx12)
        - sx1 * (sx1y * sx22 - sx12 * sx2y)
        + sx2 * (sx1y * sx12 - sx11 * sx2y)
    )
    d1 = (
        n * (sx1y * sx22 - sx12 * sx2y)
        - sy * (sx1 * sx22 - sx12 * sx2)
        + sx2 * (sx1 * sx2y - sx1y * sx2)
    )
    d2 = (
        n * (sx11 * sx2y - sx1y * sx12)
        - sx1 * (sx1 * sx2y - sx1y * sx2)
        + sy * (sx1 * sx12 - sx11 * sx2)
    )
    return m.select(
        "grp",
        "n_rows",
        (d0 / det).alias("b0"),
        (d1 / det).alias("b1"),
        (d2 / det).alias("b2"),
    )


# ===========================================================================
# Item-item cosine recommender: binary co-purchase collaborative filtering —
# the recommender a warehouse user builds next from the reference's
# collection data (user_collection_predictions.sqlx models per-user outcome
# scores; this is the item-side neighborhood model over the same
# interaction shape), and the co-purchase sibling of game_neighbors'
# embedding-space top-k.
# ===========================================================================


@query(
    "item_item_recommender",
    oracle="""
    WITH ui AS (
      SELECT DISTINCT o_custkey AS u, l_partkey AS i
      FROM orders JOIN lineitem ON l_orderkey = o_orderkey
      WHERE l_partkey % 5 = 0
    ), deg AS (
      SELECT i, count(*) AS d FROM ui GROUP BY i
    ), co AS (
      SELECT a.i AS item_a, b.i AS item_b, count(*) AS c
      FROM ui a JOIN ui b ON a.u = b.u AND a.i < b.i
      GROUP BY 1, 2 HAVING count(*) >= 2
    ), sym AS (
      SELECT item_a AS item, item_b AS nbr, c FROM co
      UNION ALL
      SELECT item_b, item_a, c FROM co
    ), scored AS (
      SELECT s.item, s.nbr,
             CAST(s.c AS DOUBLE) / sqrt(CAST(da.d AS DOUBLE) * CAST(db.d AS DOUBLE))
               AS cos,
             s.c
      FROM sym s JOIN deg da ON da.i = s.item JOIN deg db ON db.i = s.nbr
    ), ranked AS (
      SELECT item, nbr, cos, c,
             ROW_NUMBER() OVER (PARTITION BY item
                                ORDER BY cos DESC, nbr ASC) AS rank
      FROM scored
    )
    SELECT item, nbr, CAST(round(cos * 1000000) AS BIGINT) AS score_x1e6,
           c AS co_count, rank
    FROM ranked WHERE rank <= 5
    """,
)
def item_item_recommender(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-item cosine recommender over binary co-purchase vectors:
    sim(i, j) = |U_i ∩ U_j| / sqrt(|U_i|·|U_j|), support cutoff ≥ 2
    co-buyers, top-5 neighbors per item. All inputs to the score are
    exact BIGINT counts, so both engines compute the identical IEEE
    double (and hence the identical ranking); the output score ships as
    a micro-int (the nested_profile convention). Plan shape: distinct
    (user, item) in ONE shuffle; candidate pairs generated MAP-side per
    user via the bounded basket explode (never an items self-join);
    one (pair)-keyed count with map-side combine; degrees ride a
    broadcast; top-k is WindowGroupLimit per item. At 100 TB the only
    token-volume shuffles are the interaction distinct and the pair
    count — both linear in interactions for bounded basket width; the
    part-key filter (%5) budgets the graded fixture, not the shape."""
    from .operators.label_prop import (
        basket_sets,
        canonical_pairs_from_baskets,
        mirror_pairs,
    )
    from .operators.latest import topk_per_key

    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").where(F.col("l_partkey") % 5 == 0)
    ui = (
        orders.join(li, li.l_orderkey == orders.o_orderkey)
        .select(F.col("o_custkey").alias("u"), F.col("l_partkey").alias("i"))
        .distinct()
    )
    # one basket frame feeds BOTH the pair stream and the item degrees —
    # the collect_set exchange materializes once (ReusedExchange)
    baskets = basket_sets(ui, "u", "i")
    deg = (
        baskets.select(F.explode("ps").alias("i"))
        .groupBy("i")
        .agg(F.count("*").alias("d"))
    )
    co = (
        canonical_pairs_from_baskets(baskets)
        .groupBy(F.col("src").alias("item_a"), F.col("dst").alias("item_b"))
        .agg(F.count("*").alias("c"))
        .where(F.col("c") >= 2)
    )
    sym = mirror_pairs(
        co.select(
            F.col("item_a").alias("src"), F.col("item_b").alias("dst"), "c"
        ),
        "c",
    ).select(F.col("src").alias("item"), F.col("dst").alias("nbr"), "c")
    da = F.broadcast(deg.select(F.col("i").alias("item"), F.col("d").alias("da")))
    db = F.broadcast(deg.select(F.col("i").alias("nbr"), F.col("d").alias("db")))
    scored = (
        sym.join(da, "item")
        .join(db, "nbr")
        .withColumn(
            "cos",
            F.col("c").cast("double")
            / F.sqrt(F.col("da").cast("double") * F.col("db").cast("double")),
        )
    )
    top = topk_per_key(
        scored, ["item"], [F.col("cos").desc(), F.col("nbr").asc()], k=5
    )
    return top.select(
        "item",
        "nbr",
        F.round(F.col("cos") * 1e6).cast("long").alias("score_x1e6"),
        F.col("c").alias("co_count"),
        "rank",
    )


# ===========================================================================
# JSONL landing round-trip (S12 → oracle-gated): the quarantined JSONL
# source driven end-to-end — serialize a landing drop WITH planted corrupt
# lines, read it back through sources/jsonl.py's PERMISSIVE split, and
# hash-check both branches against the table the drop was derived from.
# ===========================================================================


@query(
    "jsonl_quarantine_roundtrip",
    oracle="""
    SELECT lang AS bucket,
           count(*) AS n,
           CAST(sum(n_chars) AS BIGINT) AS sum_chars
    FROM documents WHERE doc_id % 97 <> 0 GROUP BY lang
    UNION ALL
    SELECT '_quarantined' AS bucket,
           count(*) AS n,
           CAST(0 AS BIGINT) AS sum_chars
    FROM documents WHERE doc_id % 97 = 0
    """,
)
def jsonl_quarantine_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S12 end-to-end (sources/jsonl.py::read_jsonl_quarantined, the
    JSON twin of the reference's pre-write conformance family,
    `src/data_processor/processor.py:619-710`): a JSONL drop is
    SERIALIZED from the documents table — every 97th doc_id written as
    a truncated, unparseable line — then read back in PERMISSIVE mode
    against the declared schema. The gate hash-checks BOTH branches:
    per-lang counts + char sums of the clean rows (proving the
    serialize → parse round-trip is lossless and corrupt lines never
    leak into clean), and the quarantine count as a sentinel row
    (proving unparseable lines all land in quarantine, none dropped).
    Plan shape: the text write/read is a splittable line format with
    scan-side parsing (no Python); the split is two filters over one
    cached scan, and the guard ratio stays a driver scalar."""
    import os

    from .sources.jsonl import read_jsonl_quarantined

    docs = load_table(spark, sf_dir, "documents")
    corrupt = F.col("doc_id") % 97 == 0
    lines = docs.select(
        F.when(
            corrupt, F.concat(F.lit('{"doc_id": '), F.col("doc_id").cast("string"))
        )
        .otherwise(F.to_json(F.struct("doc_id", "lang", "n_chars")))
        .alias("value")
    )
    path = os.path.join(
        "/tmp", "spark_graft_jsonl", os.path.basename(os.path.normpath(sf_dir))
    )
    lines.write.mode("overwrite").text(path)
    batch = read_jsonl_quarantined(
        spark, path, "doc_id bigint, lang string, n_chars bigint"
    )
    clean_agg = batch.clean.groupBy(F.col("lang").alias("bucket")).agg(
        F.count("*").alias("n"),
        F.sum("n_chars").alias("sum_chars"),
    )
    sentinel = batch.quarantine.agg(
        F.lit("_quarantined").alias("bucket"),
        F.count("*").alias("n"),
        F.lit(0).cast("long").alias("sum_chars"),
    )
    # NO batch.unpersist() here: the result is returned LAZILY and the
    # harness executes it later — dropping the shared scan cache now
    # would both re-read the drop and trip Spark's
    # corrupt-record-column-only query restriction on the quarantine
    # branch (the cache is the documented workaround). The cache is one
    # small text scan per run; the bench harness clears caches between
    # queries.
    return clean_agg.unionByName(sentinel)


# ===========================================================================
# S3 sitemap harvest (engine side → oracle-gated, r12 VERDICT #6): the
# relational core of sources/sitemap.py — regexp URL extraction + per-id
# last-write-wins type resolution — driven over a sitemap-shaped page
# corpus rendered from the documents table, replayed in DuckDB.
# ===========================================================================


@query(
    "sitemap_thing_ids",
    oracle=r"""
    WITH pages AS (
      SELECT string_agg('<url><loc>https://boardgamegeek.com/boardgame/'
                        || doc_id || '</loc></url>', '') AS content
      FROM documents GROUP BY doc_id % 4
      UNION ALL
      SELECT string_agg('<url><loc>https://boardgamegeek.com/boardgameexpansion/'
                        || doc_id || '</loc></url>', '')
      FROM documents WHERE doc_id % 3 = 0 GROUP BY doc_id % 4
      UNION ALL
      SELECT string_agg('<url><loc>https://boardgamegeek.com/boardgameaccessory/'
                        || doc_id || '</loc></url>', '')
      FROM documents WHERE doc_id % 5 = 0 GROUP BY doc_id % 4
    ), hits AS (
      SELECT unnest(regexp_extract_all(content,
        'https://boardgamegeek\.com/boardgame(expansion|accessory|)/(\d+)', 0)) AS u
      FROM pages
    ), entries AS (
      SELECT CAST(regexp_extract(u, '/boardgame(?:expansion|accessory)?/(\d+)', 1)
                  AS BIGINT) AS game_id,
             'boardgame' ||
               regexp_extract(u, '/boardgame(expansion|accessory|)/', 1) AS type
      FROM hits
    )
    SELECT game_id,
           max_by(type, CASE type WHEN 'boardgameexpansion' THEN 1
                                  WHEN 'boardgameaccessory' THEN 2
                                  ELSE 0 END) AS type
    FROM entries
    GROUP BY game_id
    """,
)
def sitemap_thing_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3 sitemap id harvest, oracle-gated end-to-end (r12 VERDICT #6 —
    sources/sitemap.py::thing_ids_table was the last engine component
    whose relational core ran unit-only). The page corpus is RENDERED
    inside the gate from the documents table into real sitemap shape:
    every doc_id lists as a boardgame URL, every doc_id % 3 == 0 ALSO
    as an expansion, every doc_id % 5 == 0 ALSO as an accessory —
    spread across 4 pages per type — so per-id type resolution faces
    genuine multi-listing conflicts (ids ≡ 0 mod 15 appear under all
    three types) exactly like the reference's ordered sitemap walk
    (`/root/reference/src/modules/id_fetcher_browser.py:192-235`, where
    the LAST write in boardgame < expansion < accessory order wins).
    The harvest itself stays UDF-free (regexp_extract_all → explode →
    per-id max_by over the type order — the associative form of
    last-write-wins, pinned plan-side by test_sitemap_http.py); the
    oracle replays the SAME render + extraction + MAX-over-type-order
    in DuckDB, so a regex miss, a type mis-parse, or an order-dependent
    resolution hash-mismatches."""
    from .sources.sitemap import thing_ids_table

    docs = load_table(spark, sf_dir, "documents")

    def pages_for(suffix: str, cond):
        entry = F.concat(
            F.lit(f"<url><loc>https://boardgamegeek.com/boardgame{suffix}/"),
            F.col("doc_id").cast("string"),
            F.lit("</loc></url>"),
        )
        return (
            docs.where(cond)
            .select((F.col("doc_id") % 4).alias("pg"), entry.alias("entry"))
            .groupBy("pg")
            .agg(F.concat_ws("", F.collect_list("entry")).alias("content"))
            .select(
                F.concat(
                    F.lit(
                        "https://boardgamegeek.com/sitemap_geekitems_boardgame"
                        f"{suffix}_"
                    ),
                    F.col("pg").cast("string"),
                ).alias("url"),
                "content",
            )
        )

    pages = (
        pages_for("", F.lit(True))
        .unionByName(pages_for("expansion", F.col("doc_id") % 3 == 0))
        .unionByName(pages_for("accessory", F.col("doc_id") % 5 == 0))
    )
    return thing_ids_table(pages)
