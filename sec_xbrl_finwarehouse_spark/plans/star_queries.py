"""Oracle-checked query builders over the driver star schema.

Each function takes (spark, sf_dir) and returns a DataFrame; the matching
DuckDB SQL lives in :mod:`..oracles` (shared snippet constants below keep
the two sides from drifting). Together these exercise every operator in
SURVEY.md §2 on the driver's test tables (mapping: FIXTURES.md §C).

Every computed column is aliased identically on both sides -- the driver
hash-compare sorts columns by name.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.dedup import latest_wins, natural_key_dedup, priority_dedup
from ..operators.pivot import pivot_first
from ..operators.upsert import insert_if_absent, upsert_latest_wins
from ..plans.api_queries import company_profile, company_ratios, screener
from ..plans.ratios import compute_ratios
from ..plans.star_facts import star_companies, synthetic_facts, synthetic_filings
from ..plans.statements import build_statements
from ..sources.tables import parallelize_scan, read_parquet, table_path

# ---- shared expression snippets (Spark SQL == DuckDB) ---------------------

COALESCE_CANDS = (
    "CASE WHEN o_orderstatus = 'F' THEN o_totalprice END",
    "CASE WHEN o_orderpriority = '1-URGENT' THEN o_totalprice * 2 END",
    "o_totalprice * 0.5",
)
PRIORITY_CASE = "CASE WHEN o_orderpriority = '1-URGENT' THEN 0 ELSE 1 END"
FLOW_PRED = "l_shipdate >= TIMESTAMP '1998-01-01 00:00:00'"
STOCK_PRED = "l_quantity >= 45"
UPSERT_INCOMING_PRED = "o_orderkey % 2 = 0"
EXISTING_PRED = "o_orderkey % 3 = 0"

PROFILE_TICKER = "SUPPLIER#000000003"
SCREENER_MIN_ROE = 0.01
SCREENER_LIMIT = 25


def _read(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return read_parquet(spark, table_path(sf_dir, name))


# ---- reference-parity operators on star tables ----------------------------

def q_window_dedup_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1: latest-shipped line per order (row_number desc_nulls_last + unique
    tiebreak), mirrors v3.py:60-70."""
    li = _read(spark, sf_dir, "lineitem")
    # the driver's synthetic lineitem contains duplicate (orderkey,
    # linenumber) pairs, so the order must extend to every output column
    # (partkey, quantity) to stay total -- otherwise the winner is
    # partition-order dependent and flips between engines.
    # Hash-partition the (column-pruned) scan on the window key: the one
    # exchange both parallelizes the single-split local scan AND
    # satisfies the window's ClusteredDistribution, so the plan has no
    # second shuffle. No-op on a multi-file cluster layout.
    return latest_wins(
        parallelize_scan(
            li.select("l_orderkey", "l_linenumber", "l_partkey", "l_quantity",
                      "l_shipdate"),
            "l_orderkey",
        ),
        ["l_orderkey"],
        [F.col("l_shipdate").desc_nulls_last(), F.col("l_linenumber").desc(),
         F.col("l_partkey").desc(), F.col("l_quantity").desc()],
    )


def q_window_dedup_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W2: CASE-priority then latest (v1.py:36-41) -- urgent order wins,
    then newest o_orderdate, keyed per customer."""
    o = _read(spark, sf_dir, "orders")
    return priority_dedup(
        o.select("o_custkey", "o_orderkey", "o_orderstatus", "o_totalprice",
                 "o_orderdate", "o_orderpriority"),
        ["o_custkey"],
        F.expr(PRIORITY_CASE),
        [F.col("o_orderdate").desc_nulls_last(), F.col("o_orderkey").desc()],
    ).drop("o_orderpriority")


def q_pivot_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1: window-dedup to unique (supplier, returnflag) then long->wide
    pivot with first-value semantics (v3.py:111-114)."""
    li = _read(spark, sf_dir, "lineitem")
    # one exchange hashed on l_suppkey: a subset of the window key
    # (l_suppkey, l_returnflag) AND the pivot's group key, so both
    # downstream operators reuse it (no further shuffle).
    deduped = latest_wins(
        parallelize_scan(
            li.select("l_suppkey", "l_returnflag", "l_quantity", "l_shipdate",
                      "l_orderkey", "l_linenumber"),
            "l_suppkey",
        ),
        ["l_suppkey", "l_returnflag"],
        # duplicate (orderkey, linenumber) rows exist -> extend the order
        # to the surviving payload (quantity) so the pivot value is total
        [F.col("l_shipdate").desc_nulls_last(), F.col("l_orderkey").desc(),
         F.col("l_linenumber").desc(), F.col("l_quantity").desc()],
    )
    wide = pivot_first(deduped, ["l_suppkey"], "l_returnflag", "l_quantity",
                       ["R", "A", "N"])
    return wide.select(
        "l_suppkey",
        F.col("R").alias("qty_r"), F.col("A").alias("qty_a"), F.col("N").alias("qty_n"),
    )


def q_coalesce_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2: first-available-candidate coalesce (v3.py:118-123)."""
    o = _read(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.coalesce(*[F.expr(c) for c in COALESCE_CANDS]).alias("picked_value"),
    )


def q_flow_stock_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U1 + P4/P5-style split: two differently-filtered projections of the
    same fact table unioned by name (v3.py:113)."""
    li = _read(spark, sf_dir, "lineitem")
    flow = li.filter(F.expr(FLOW_PRED)).select(
        "l_orderkey", "l_linenumber",
        F.lit("flow").alias("kind"),
        F.col("l_extendedprice").alias("value"),
    )
    stock = li.filter(F.expr(STOCK_PRED)).select(
        "l_orderkey", "l_linenumber",
        F.lit("stock").alias("kind"),
        (F.col("l_quantity") * 10).alias("value"),
    )
    return flow.unionByName(stock)


def q_annual_period_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P5: datediff BETWEEN range predicate (v3.py:50,58) -- ship lag
    between order date and ship date, joined on the order key."""
    li = parallelize_scan(_read(spark, sf_dir, "lineitem"), "l_orderkey")
    o = _read(spark, sf_dir, "orders")
    # no broadcast hint: orders scales with the fact side, so the right
    # plan flips from broadcast (small SF, auto under the 64 MB
    # threshold) to shuffle join (large SF) -- AQE decides per run
    j = li.join(o, li.l_orderkey == o.o_orderkey, "inner")
    days = F.datediff(F.col("l_shipdate"), F.col("o_orderdate"))
    return (
        j.filter(days.between(60, 90))
        .select("l_orderkey", "l_linenumber", days.alias("ship_lag_days"))
    )


def q_top_k_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O1/O2: multi-key order + limit -> TakeOrderedAndProject (api.py:97-98).
    o_orderkey ASC tiebreak keeps the limit boundary deterministic."""
    o = _read(spark, sf_dir, "orders")
    return (
        o.select("o_orderkey", "o_custkey", "o_totalprice", "o_orderdate")
        .orderBy(F.col("o_totalprice").desc_nulls_last(), F.col("o_orderkey").asc())
        .limit(10)
    )


def q_natural_key_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D1: exact-duplicate suppression on the full natural key
    (db/schema.sql:39) -- re-ingesting the same batch is a no-op."""
    li = _read(spark, sf_dir, "lineitem")
    return natural_key_dedup(li.unionByName(li), li.columns)


def q_insert_if_absent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6: ON CONFLICT DO NOTHING as anti-join append (ingest_facts.py:119-143)."""
    o = _read(spark, sf_dir, "orders")
    existing = o.filter(F.expr(EXISTING_PRED))
    incoming = o.filter(F.expr(UPSERT_INCOMING_PRED))
    return insert_if_absent(existing, incoming, ["o_orderkey"])


def q_upsert_latest_wins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5: ON CONFLICT DO UPDATE as union + keyed row_number preferring the
    incoming side (seed_companies.py:52-61)."""
    o = _read(spark, sf_dir, "orders")
    existing = o.select("o_orderkey", F.col("o_totalprice").alias("price"),
                        F.lit("old").alias("src"))
    incoming = (
        o.filter(F.expr(UPSERT_INCOMING_PRED))
        .select("o_orderkey", (F.col("o_totalprice") * 2).alias("price"),
                F.lit("new").alias("src"))
    )
    return upsert_latest_wins(existing, incoming, ["o_orderkey"])


# ---- the full reference pipeline on star-derived facts --------------------

def q_statements_annual(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: entry point B end-to-end (SURVEY.md §3.2) -- synthetic
    facts -> flow/stock filters -> W1 dedup -> union -> pivot -> coalesce
    + sign fix + fcf."""
    # The single-row-group test parquet scans as one effective split, so
    # SOME repartition is required for parallelism; hashing by cik (vs
    # round-robin) makes that same exchange satisfy every downstream
    # aggregation/window distribution too -- measured 1.5s vs 2.7s
    # (round-robin) vs 10.8s (no repartition, single-core) at sf0.1
    # with fresh plans per run (stage-skipping disabled by rebuild).
    from ..session import default_parallelism

    facts = synthetic_facts(
        _read(spark, sf_dir, "lineitem"), entity_partitions=default_parallelism()
    )
    return build_statements(facts, version="v3")


def q_statements_annual_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The v2 statements path end-to-end (build_statements_annual_v2.py):
    fiscal_year borrowed from the filings dimension via a broadcast J1
    join, FY filings only, W2 dedup preferring 10-K then latest filed,
    v2 revenue-candidate order, no capex sign fix. Driver-checks the
    J1/W2 machinery the same way v3 checks the argmax path."""
    from ..session import default_parallelism

    li = _read(spark, sf_dir, "lineitem")
    facts = synthetic_facts(li, entity_partitions=default_parallelism())
    return build_statements(facts, version="v2", filings=synthetic_filings(li))


def q_statements_annual_v1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The v1 statements path (build_statements_annual.py): same J1/W2
    machinery as v2 but revenues from the single ``Revenues`` tag -- the
    reference's earliest builder, kept selectable for parity."""
    from ..session import default_parallelism

    li = _read(spark, sf_dir, "lineitem")
    facts = synthetic_facts(li, entity_partitions=default_parallelism())
    return build_statements(facts, version="v1", filings=synthetic_filings(li))


def q_ratios_annual(spark: SparkSession, sf_dir: str) -> DataFrame:
    """statements -> 8 NULL-safe ratios (compute_ratios.py:29-39)."""
    return compute_ratios(q_statements_annual(spark, sf_dir))


def q_company_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GET /company/{ticker} analog (api.py:6-19)."""
    return company_profile(star_companies(_read(spark, sf_dir, "supplier")),
                           PROFILE_TICKER)


def q_ratios_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GET /ratios/{ticker} analog (api.py:21-43): lookup + keyed history.

    r12 OPTIMIZATION (guide §3.2): the point lookup used to compute the
    FULL statements+ratios chain (explode + pivot over every company)
    and only then inner-join the one-ticker cik set. The same cik set
    now pre-filters the facts with a broadcast semi-join BEFORE the
    build, so the explode/pivot/aggregate chain runs over one company's
    facts instead of all of them. Identical rows: the final inner join
    in :func:`company_ratios` would drop every other cik anyway, and
    the build groups by (cik, fiscal_year) so per-cik results are
    independent.
    """
    from ..session import default_parallelism

    companies = star_companies(_read(spark, sf_dir, "supplier"))
    cik = companies.filter(F.col("ticker") == PROFILE_TICKER.upper()).select("cik")
    facts = synthetic_facts(
        _read(spark, sf_dir, "lineitem"), entity_partitions=default_parallelism()
    ).join(F.broadcast(cik), "cik", "semi")
    ratios = compute_ratios(build_statements(facts, version="v3"))
    return company_ratios(companies, ratios, PROFILE_TICKER, limit=10)


# tag subset feeding the screener's output/filter columns (roe,
# fcf_margin, net_margin): the 4 revenue candidates + net income, OCF,
# capex, equity. GrossProfit / OperatingIncomeLoss / Assets /
# Liabilities feed only ratios the screener never reads, so their
# branches are pruned at the facts builder (see synthetic_facts(tags=)).
SCREENER_TAGS: tuple[str, ...] = (
    "RevenueFromContractWithCustomerExcludingAssessedTax",
    "SalesRevenueNet",
    "Revenues",
    "TotalRevenues",
    "NetIncomeLoss",
    "NetCashProvidedByUsedInOperatingActivities",
    "PaymentsToAcquirePropertyPlantAndEquipment",
    "StockholdersEquity",
)


def q_screener(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GET /screener analog (api.py:63-105): dynamic filters + broadcast
    join + NULLS LAST top-k. The facts builder emits only the 8 tags the
    screener's columns derive from -- Spark-side branch pruning matching
    what DuckDB's optimizer does to the oracle's UNION ALL (the output
    is identical; the pruned tags feed only unread ratio columns)."""
    from ..session import default_parallelism

    companies = star_companies(_read(spark, sf_dir, "supplier"))
    facts = synthetic_facts(
        _read(spark, sf_dir, "lineitem"),
        entity_partitions=default_parallelism(),
        tags=SCREENER_TAGS,
    )
    ratios = compute_ratios(build_statements(facts, version="v3"))
    return screener(ratios, companies,
                    min_roe=SCREENER_MIN_ROE, limit=SCREENER_LIMIT)
