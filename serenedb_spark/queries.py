"""The engine's query registry — every SURVEY.md §2 operator as a named
(spark_fn, duckdb_oracle) pair.

This single registry feeds three consumers:
  * ``__spark_entry__.py`` — the driver's correctness gate (queries() /
    oracle_sql());
  * ``tests/test_differential.py`` — the same pairs run at sf0.001 in CI,
    reproducing the reference's index-scan ≡ full-scan differential oracle
    (reference tests/fuzz/null_semantics_fuzz.py:4-8);
  * ``bench.py`` — the headline subset timed at sf0.1.

Dialect discipline: relational queries are stated ONCE in the shared
ANSI subset that Spark SQL and DuckDB both parse — same text, zero
alias-mismatch risk. Search/dedup/vector operators run the engine
(DataFrame plans over postings) on the Spark side and a generated naive
full-scan SQL on the DuckDB side — that asymmetry IS the test.

All outputs avoid raw timestamps (cast to DATE) and round floats, so
value-hash comparison is engine-portable.
"""

from __future__ import annotations

import math
import weakref
from collections.abc import Callable, Hashable
from dataclasses import dataclass
from typing import TypeVar

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from serenedb_spark.operators.indexing import InvertedIndex, build_index
from serenedb_spark.operators import dedup as DD
from serenedb_spark.operators import facets as FC
from serenedb_spark.operators import similarity as SIM
from serenedb_spark.operators import textstats as TS
from serenedb_spark.operators.scoring import score as _score
from serenedb_spark.plans import oracle as O
from serenedb_spark.plans import tsquery as q
from serenedb_spark.plans.planner import compile_query
from serenedb_spark.functions import vector as V

TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
)

#: columns stored as TIMESTAMP(NANOS) in the driver parquet — Spark reads
#: them as long (legacy.parquet.nanosAsLong) and we convert to µs.
_NS_COLS = {"events": ("ts",)}

T = TypeVar("T")


@dataclass
class QueryDef:
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # DuckDB SQL, or None → driver's rows-only check


REGISTRY: dict[str, QueryDef] = {}


def _register(name: str, fn, oracle: str | None) -> None:
    assert name not in REGISTRY, f"duplicate query name {name}"
    REGISTRY[name] = QueryDef(name, fn, oracle)


# --------------------------------------------------------------------------
# built artifacts: one memo per SparkSession
# --------------------------------------------------------------------------

#: everything a query fn builds once and reuses (the loaded tables, the
#: indexes, quantizer codes, the LSH/IVF layouts, the ordered-scan
#: files) lives in a table per session object and then per (sf_dir,
#: kind), carried by the session itself as this attribute. The frames an
#: entry holds reference their session, so a table held anywhere else
#: would keep its session alive for good; carried by the session, it
#: dies with it. The kinds are a fixed set and the sf_dirs the few a
#: harness passes, so the table needs no bound.
_MEMO = "_serene_built"

#: per live session with a memo, the Java handles of the frames its
#: entries persisted. A handle does not reference the Python session.
_HELD: "weakref.WeakKeyDictionary[SparkSession, list]" = (
    weakref.WeakKeyDictionary())


def _built(spark: SparkSession, sf_dir: str, kind: Hashable,
           build: Callable[[], T]) -> T:
    """``build()``, run once per (session, sf_dir, kind)."""
    table = spark.__dict__.get(_MEMO)
    if table is None:
        table = spark.__dict__[_MEMO] = {}
        held = _HELD[spark] = []
        weakref.finalize(spark, _release, held).atexit = False
    if (sf_dir, kind) not in table:
        table[sf_dir, kind] = value = build()
        _HELD[spark].extend(df._jdf for df in _persisted(value))
    return table[sf_dir, kind]


def _persisted(value) -> list[DataFrame]:
    """The persisted frames a built value holds, in a dict, a tuple or an
    object's attributes. An InvertedIndex releases its own parts."""
    if isinstance(value, DataFrame):
        return [value] if value.is_cached else []
    if isinstance(value, dict):
        items = value.values()
    elif isinstance(value, tuple):
        items = value
    elif hasattr(value, "__dict__") and not isinstance(value, InvertedIndex):
        items = vars(value).values()
    else:
        return []
    return [df for v in items for df in _persisted(v)]


def _release(held: list) -> None:
    """A dead session's frames leave Spark's cache, unless a live
    session's memo holds the same plan: Spark keys its cache by plan, so
    two sessions' equal plans share one entry (the rule
    indexing._unpersist applies to index parts)."""
    others = [j for hs in list(_HELD.values()) if hs is not held for j in hs]
    for jdf in held:
        try:
            if not any(jdf.sameSemantics(o) for o in others):
                jdf.unpersist(False)
        except Exception:  # noqa: BLE001 — its Spark context was stopped
            pass


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Read the driver parquet tables and register them as temp views.

    Loaded (and repartitioned, see below) tables are persisted once per
    (session, sf_dir) — the second query on a table reads the in-memory
    columnar cache instead of re-scanning + re-shuffling."""
    tables = _built(spark, sf_dir, "tables",
                    lambda: _read_tables(spark, sf_dir))
    for t, df in tables.items():
        df.createOrReplaceTempView(t)
    return tables


def _read_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    import os

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    out: dict[str, DataFrame] = {}
    for t in TABLES:
        path = f"{sf_dir}/{t}.parquet"
        if not os.path.exists(path):
            continue
        df = spark.read.parquet(path)
        for c in _NS_COLS.get(t, ()):
            if dict(df.dtypes).get(c) == "bigint":
                df = df.withColumn(
                    c, F.timestamp_micros((F.col(c) / F.lit(1000)).cast("long"))
                )
        # The driver testdata is one single-row-group file per table → Spark
        # gets exactly 1 scan partition and every downstream operator runs on
        # one core. Real 100 TB tables arrive as many files/row-groups; to
        # make local runs exercise the parallel plan, spread small scans to
        # the session's parallelism (a few-MB shuffle, once per plan).
        par = spark.sparkContext.defaultParallelism
        # file-count heuristic instead of df.rdd.getNumPartitions(): touching
        # .rdd materializes the RDD lineage just to count partitions (VERDICT
        # r4). The testdata is 1 file/table; real many-file tables skip this.
        if len(df.inputFiles()) < par:
            df = df.repartition(par)
        out[t] = df.persist()
    return out


def doc_index(spark: SparkSession, sf_dir: str,
              analyzer: str = "simple") -> InvertedIndex:
    """The documents.text index, held (InvertedIndex.persist) so the
    per-query cost is a cached-plan lookup, not a rebuild (bench reuses
    this)."""
    return _built(spark, sf_dir, ("documents", analyzer), lambda: build_index(
        load_tables(spark, sf_dir)["documents"], {"text": analyzer},
        key="doc_id", name="documents").persist())


# --------------------------------------------------------------------------
# 1. relational surface (SURVEY §2.5-2.10) — shared SQL text
# --------------------------------------------------------------------------

def _ordered(df: DataFrame, *cols: str) -> DataFrame:
    """Deterministic output order for a driver-collected result WITHOUT a
    range exchange: ORDER BY plans RangePartitioning, whose sample job
    re-executes any unmaterialized child pipeline a second time per run
    (guide §2.4 — an orderBy used only to make output deterministic is an
    accidental shuffle). A single-partition sort yields the identical
    order with one round-robin exchange and one child execution.

    CONTRACT (collect-only): ``_ordered`` is a TERMINAL transform for
    results that are immediately ``collect()``-ed by the gate/bench —
    the one-partition sort is bounded by the same size as collect()
    itself, so it cannot become the scaling bottleneck. Do NOT reuse it
    in front of a distributed sink (a table/file write, a downstream
    join, a streaming stage): there it serializes the whole result
    through one task. Non-collected pipelines that need ordering keep a
    parallel orderBy/sortWithinPartitions; tests/test_optimizer.py pins
    this contract."""
    return df.repartition(1).sortWithinPartitions(*cols)


def _sql(name: str, sql: str, duck_sql: str | None = None) -> None:
    def fn(spark: SparkSession, sf_dir: str, _s=sql) -> DataFrame:
        load_tables(spark, sf_dir)
        return spark.sql(_s)

    _register(name, fn, duck_sql if duck_sql is not None else sql)


_sql("tpch_q1", """
SELECT l_returnflag, l_linestatus,
  CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price,
  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS sum_disc_price,
  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2))) * (1 + CAST(l_tax AS DECIMAL(4,2)))) AS DOUBLE) AS sum_charge,
  CAST(round(avg(CAST(l_quantity AS DECIMAL(12,2))) + 0.000000001, 4) AS DOUBLE) AS avg_qty,
  CAST(round(avg(CAST(l_extendedprice AS DECIMAL(12,2))) + 0.000000001, 4) AS DOUBLE) AS avg_price,
  CAST(round(avg(CAST(l_discount AS DECIMAL(4,2))) + 0.000000001, 4) AS DOUBLE) AS avg_disc,
  count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= DATE '1998-09-02'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
""")

_sql("tpch_q3", """
SELECT o_orderkey,
  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue,
  CAST(o_orderdate AS DATE) AS o_orderdate, o_orderpriority
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < DATE '1999-03-15'
  AND l_shipdate > DATE '1999-03-15'
GROUP BY o_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, o_orderkey
LIMIT 10
""")

_sql("tpch_q5_region_revenue", """
SELECT n_name,
  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue
FROM region
JOIN nation ON n_regionkey = r_regionkey
JOIN supplier ON s_nationkey = n_nationkey
JOIN lineitem ON l_suppkey = s_suppkey
JOIN orders ON o_orderkey = l_orderkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= DATE '1996-01-01' AND o_orderdate < DATE '1998-01-01'
GROUP BY n_name
ORDER BY revenue DESC, n_name
""")

_sql("tpch_q6", """
SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) AS revenue
FROM lineitem
WHERE l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1997-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24
""")

# Spark side pre-aggregates lineitem per order BEFORE the join
# (optimization guide §2.3 "aggregate before you shuffle"): the join then
# carries one row per order instead of every lineitem, and
# count(DISTINCT o_orderkey) degenerates to count(*) because the
# pre-aggregated side is unique per orderkey — no Expand/two-phase
# distinct aggregate. DECIMAL sums are exact and associative, so the
# regrouped sum is value-identical (oracle hash-checked against the
# original query text on DuckDB).
_sql("top_customers", """
WITH lo AS (
  SELECT l_orderkey,
    sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS rev
  FROM lineitem GROUP BY l_orderkey
)
SELECT c_custkey, c_name,
  CAST(sum(rev) AS DOUBLE) AS revenue,
  count(*) AS n_orders
FROM customer
JOIN orders ON o_custkey = c_custkey
JOIN lo ON l_orderkey = o_orderkey
GROUP BY c_custkey, c_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
""", duck_sql="""
SELECT c_custkey, c_name,
  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue,
  count(DISTINCT o_orderkey) AS n_orders
FROM customer
JOIN orders ON o_custkey = c_custkey
JOIN lineitem ON l_orderkey = o_orderkey
GROUP BY c_custkey, c_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
""")

_sql("tpch_q12_priority_buckets", """
SELECT l_linestatus,
  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END)
    AS BIGINT) AS high_line_count,
  CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END)
    AS BIGINT) AS low_line_count
FROM orders JOIN lineitem ON l_orderkey = o_orderkey
WHERE l_shipdate >= DATE '1997-01-01' AND l_shipdate < DATE '1998-01-01'
GROUP BY l_linestatus
ORDER BY l_linestatus
""")

_sql("tpch_q14_promo_share", """
SELECT CAST(round(
    100.00 * sum(CASE WHEN p_type = 'PROMO'
      THEN CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))
      ELSE 0 END)
    / sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))),
  4) AS DOUBLE) AS promo_revenue
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE l_shipdate >= DATE '1997-09-01' AND l_shipdate < DATE '1997-10-01'
""")

_sql("tpch_q16_part_supplier_counts", """
SELECT p_brand, p_type, p_size,
  count(DISTINCT l_suppkey) AS supplier_cnt
FROM part JOIN lineitem ON l_partkey = p_partkey
WHERE p_brand <> 'Brand#1' AND p_size IN (5, 10, 15, 20, 25)
GROUP BY p_brand, p_type, p_size
ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
LIMIT 40
""")

_sql("tpch_q18_large_orders", """
SELECT c_custkey, o_orderkey, CAST(o_orderdate AS DATE) AS o_orderdate,
  CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS total_qty
FROM customer
JOIN orders ON o_custkey = c_custkey
JOIN lineitem ON l_orderkey = o_orderkey
GROUP BY c_custkey, o_orderkey, o_orderdate
HAVING sum(CAST(l_quantity AS DECIMAL(12,2))) > 250
ORDER BY total_qty DESC, o_orderkey
LIMIT 30
""")

_sql("tpch_q7_nation_flows", """
SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
  extract(year FROM o_orderdate) AS l_year,
  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue
FROM lineitem
JOIN supplier ON s_suppkey = l_suppkey
JOIN orders ON o_orderkey = l_orderkey
JOIN customer ON c_custkey = o_custkey
JOIN nation sn ON sn.n_nationkey = s_nationkey
JOIN nation cn ON cn.n_nationkey = c_nationkey
WHERE sn.n_name IN ('NATION_1', 'NATION_2') AND cn.n_name IN ('NATION_1', 'NATION_2')
GROUP BY sn.n_name, cn.n_name, extract(year FROM o_orderdate)
ORDER BY supp_nation, cust_nation, l_year
""")

_sql("tpch_q2_min_cost_supplier", """
SELECT s_suppkey, s_name, p_partkey,
  round(l_extendedprice / l_quantity + 0.000000001, 4) AS unit_cost
FROM lineitem
JOIN supplier ON s_suppkey = l_suppkey
JOIN part ON p_partkey = l_partkey
WHERE p_size = 15
  AND l_extendedprice / l_quantity = (
    SELECT min(l2.l_extendedprice / l2.l_quantity)
    FROM lineitem l2 WHERE l2.l_partkey = p_partkey
  )
ORDER BY s_suppkey, p_partkey
""")

_sql("tpch_q15_top_supplier", """
WITH revenue AS (
  SELECT l_suppkey AS supplier_no,
    sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= DATE '1997-01-01' AND l_shipdate < DATE '1997-04-01'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, CAST(total_revenue AS DOUBLE) AS total_revenue
FROM supplier JOIN revenue ON s_suppkey = supplier_no
WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
ORDER BY s_suppkey
""")

_sql("tpch_q20_nested_in", """
SELECT s_suppkey, s_name
FROM supplier
WHERE s_suppkey IN (
  SELECT l_suppkey FROM lineitem
  WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_type = 'PROMO')
    AND l_shipdate >= DATE '1998-01-01'
  GROUP BY l_suppkey
  HAVING sum(CAST(l_quantity AS DECIMAL(12,2))) > 100
)
ORDER BY s_suppkey
""")

_sql("tpch_q4_order_priority", """
SELECT o_orderpriority, count(*) AS order_count
FROM orders
WHERE o_orderdate >= DATE '1997-01-01' AND o_orderdate < DATE '1997-04-01'
  AND EXISTS (
    SELECT 1 FROM lineitem
    WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate
  )
GROUP BY o_orderpriority
ORDER BY o_orderpriority
""")

_sql("tpch_q8_market_share", """
SELECT o_year,
  CAST(round(sum(CASE WHEN nation = 'NATION_3' THEN volume ELSE 0 END)
             / sum(volume) + 0.000000001, 6) AS DOUBLE) AS mkt_share
FROM (
  SELECT extract(year FROM o_orderdate) AS o_year,
    CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2))) AS volume,
    sn.n_name AS nation
  FROM lineitem
  JOIN part ON p_partkey = l_partkey
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN orders ON o_orderkey = l_orderkey
  JOIN customer ON c_custkey = o_custkey
  JOIN nation cn ON cn.n_nationkey = c_nationkey
  JOIN region ON r_regionkey = cn.n_regionkey
  JOIN nation sn ON sn.n_nationkey = s_nationkey
  WHERE r_name = 'ASIA' AND p_type = 'PROMO'
    AND o_orderdate >= DATE '1996-01-01' AND o_orderdate < DATE '1998-01-01'
) all_nations
GROUP BY o_year
ORDER BY o_year
""")

# q9 adapted: no partsupp table in the corpus — supply cost proxied as
# 10% of p_retailprice per unit (profit shape is what's under test)
_sql("tpch_q9_profit", """
SELECT nation, o_year, CAST(sum(amount) AS DOUBLE) AS sum_profit
FROM (
  SELECT n_name AS nation, extract(year FROM o_orderdate) AS o_year,
    CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))
      - CAST(p_retailprice AS DECIMAL(12,2)) * CAST(l_quantity AS DECIMAL(12,2))
        * CAST(0.1 AS DECIMAL(2,1)) AS amount
  FROM lineitem
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN part ON p_partkey = l_partkey
  JOIN orders ON o_orderkey = l_orderkey
  JOIN nation ON n_nationkey = s_nationkey
  WHERE p_name LIKE '%a%'
) profit
GROUP BY nation, o_year
ORDER BY nation, o_year DESC
""")

_sql("tpch_q10_returned_items", """
SELECT c_custkey, c_name,
  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue,
  CAST(round(c_acctbal + 0.000000001, 2) AS DOUBLE) AS c_acctbal, n_name
FROM customer
JOIN orders ON o_custkey = c_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN nation ON n_nationkey = c_nationkey
WHERE o_orderdate >= DATE '1996-10-01' AND o_orderdate < DATE '1997-01-01'
  AND l_returnflag = 'R'
GROUP BY c_custkey, c_name, c_acctbal, n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
""")

# q11 "important stock": lineitem stands in for partsupp (no partsupp
# table in the test corpus — same adaptation as q2/q16/q20); exact
# DECIMAL sums so the fraction-of-total threshold compares deterministically
_sql("tpch_q11_important_stock", """
WITH nat AS (
  SELECT l_partkey,
    CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_quantity AS DECIMAL(12,2)) AS val
  FROM lineitem
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN nation ON n_nationkey = s_nationkey
  WHERE n_name = 'NATION_7'
),
grouped AS (SELECT l_partkey AS ps_partkey, sum(val) AS value
            FROM nat GROUP BY l_partkey)
SELECT ps_partkey, CAST(value AS DOUBLE) AS value
FROM grouped
WHERE value > (SELECT sum(val) * 0.001 FROM nat)
ORDER BY value DESC, ps_partkey
""")

_sql("tpch_q13_customer_distribution", """
SELECT c_count, count(*) AS custdist
FROM (
  SELECT c_custkey, count(o_orderkey) AS c_count
  FROM customer
  LEFT JOIN orders ON o_custkey = c_custkey AND o_orderpriority <> '1-URGENT'
  GROUP BY c_custkey
) c_orders
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
""")

# q17 restated with an aggregate join and integral arithmetic
# (l_quantity values are integral doubles) so the 0.2*avg threshold
# compares exactly in both engines: qty < avg/5  ⇔  qty*5*cnt < sum
_sql("tpch_q17_small_quantity", """
WITH part_avg AS (
  SELECT l_partkey AS pa_partkey, sum(l_quantity) AS pa_sum, count(*) AS pa_cnt
  FROM lineitem GROUP BY l_partkey
)
SELECT CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2))) / 7.0
             + 0.000000001, 4) AS DOUBLE) AS avg_yearly
FROM lineitem
JOIN part ON p_partkey = l_partkey
JOIN part_avg ON pa_partkey = l_partkey
WHERE p_brand = 'Brand#2' AND l_quantity * 5 * pa_cnt < pa_sum
""")

_sql("tpch_q19_disjunctive", """
SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue
FROM lineitem
JOIN part ON p_partkey = l_partkey
WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 11)
   OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 25 AND l_quantity BETWEEN 10 AND 20)
   OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 35 AND l_quantity BETWEEN 20 AND 30)
""")

# q21 adapted: no l_commitdate/l_receiptdate — "late" means shipping more
# than 60 days after the order date; the multi-exists correlation shape is
# what's under test (sole late supplier on a multi-supplier order)
_sql("tpch_q21_waiting_supplier", """
SELECT s_name, count(*) AS numwait
FROM supplier
JOIN lineitem l1 ON l1.l_suppkey = s_suppkey
JOIN orders ON o_orderkey = l1.l_orderkey
JOIN nation ON n_nationkey = s_nationkey
WHERE o_orderstatus = 'F'
  AND l1.l_shipdate > o_orderdate + INTERVAL 60 DAY
  AND EXISTS (
    SELECT 1 FROM lineitem l2
    WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey
  )
  AND NOT EXISTS (
    SELECT 1 FROM lineitem l3
    WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
      AND l3.l_shipdate > o_orderdate + INTERVAL 60 DAY
  )
GROUP BY s_name
ORDER BY numwait DESC, s_name
LIMIT 20
""")

# q22 adapted: no c_phone — country buckets are nation keys; the
# above-average-balance scalar subquery + NOT EXISTS shape is preserved
_sql("tpch_q22_global_sales_opportunity", """
SELECT c_nationkey AS cntrycode, count(*) AS numcust,
  CAST(sum(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS totacctbal
FROM customer
WHERE c_nationkey IN (1, 3, 5, 7, 9, 11, 13)
  AND CAST(c_acctbal AS DECIMAL(12,2)) > (
    SELECT avg(CAST(c_acctbal AS DECIMAL(12,2))) FROM customer
    WHERE c_acctbal > 0.0 AND c_nationkey IN (1, 3, 5, 7, 9, 11, 13)
  )
  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
GROUP BY c_nationkey
ORDER BY cntrycode
""")

_sql("exists_semi_join", """
SELECT o_orderpriority, count(*) AS order_count
FROM orders
WHERE EXISTS (
  SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey AND l_quantity > 45
)
GROUP BY o_orderpriority
ORDER BY o_orderpriority
""")

_sql("anti_join", """
SELECT c_custkey, c_name
FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
ORDER BY c_custkey
""")

_sql("window_rank", """
SELECT c_mktsegment, o_orderkey, o_totalprice
FROM (
  SELECT c_mktsegment, o_orderkey, round(o_totalprice, 2) AS o_totalprice,
    row_number() OVER (
      PARTITION BY c_mktsegment
      ORDER BY o_totalprice DESC, o_orderkey
    ) AS rn
  FROM orders JOIN customer ON c_custkey = o_custkey
) t
WHERE rn <= 3
ORDER BY c_mktsegment, o_totalprice DESC, o_orderkey
""")

_sql("window_running_sum", """
SELECT o_custkey, o_orderkey,
  CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) OVER (
    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
  ) AS DOUBLE) AS running_total,
  lag(o_orderkey) OVER (
    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
  ) AS prev_orderkey
FROM orders
WHERE o_custkey < 100
ORDER BY o_custkey, o_orderkey
""")

_sql("rollup_agg", """
SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
  coalesce(l_linestatus, 'ALL') AS linestatus,
  count(*) AS n, CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
ORDER BY returnflag, linestatus
""")

_sql("setop_intersect", """
SELECT o_custkey AS custkey FROM orders WHERE o_orderdate < DATE '1997-01-01'
INTERSECT
SELECT o_custkey FROM orders WHERE o_orderdate >= DATE '1999-01-01'
ORDER BY custkey
""")

_sql("correlated_subquery", """
SELECT o_orderkey, round(o_totalprice, 2) AS o_totalprice
FROM orders o
WHERE o_totalprice > (
  SELECT 1.8 * avg(CAST(o2.o_totalprice AS DECIMAL(12,2))) FROM orders o2
  WHERE o2.o_custkey = o.o_custkey
)
ORDER BY o_orderkey
""")

_sql("events_daily", """
SELECT CAST(ts AS DATE) AS day, event_type,
  count(*) AS n_events, count(DISTINCT user_id) AS n_users,
  CAST(sum(CAST(value AS DECIMAL(10,2))) AS DOUBLE) AS sum_value,
  CAST(round(avg(CAST(value AS DECIMAL(10,2))) + 0.000000001, 4) AS DOUBLE) AS avg_value
FROM events
GROUP BY CAST(ts AS DATE), event_type
ORDER BY day, event_type
""")

_sql("events_filter_agg", """
SELECT event_type,
  count(*) AS n,
  count(*) FILTER (WHERE value > 50) AS n_high,
  round(min(value), 4) AS min_value,
  round(max(value), 4) AS max_value
FROM events
GROUP BY event_type
ORDER BY event_type
""")

_sql("events_pivot", """
SELECT CAST(ts AS DATE) AS day,
  count(*) FILTER (WHERE event_type = 'click') AS click,
  count(*) FILTER (WHERE event_type = 'view') AS view,
  count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
  count(*) FILTER (WHERE event_type = 'signup') AS signup,
  count(*) FILTER (WHERE event_type = 'error') AS error
FROM events
GROUP BY CAST(ts AS DATE)
ORDER BY day
""")

_sql("string_funcs", """
SELECT p_partkey,
  upper(p_brand) AS brand_upper,
  lower(p_type) AS type_lower,
  substr(p_name, 1, 8) AS name_prefix,
  length(p_name) AS name_len,
  concat(p_brand, ':', p_type) AS brand_type,
  replace(p_name, ' ', '_') AS name_snake
FROM part
WHERE p_type LIKE '%ECO%' AND p_size BETWEEN 10 AND 40
ORDER BY p_partkey
LIMIT 100
""")

# sessionization via the BUILT-IN session_window gap aggregation — the
# same expression runs incrementally on a watermarked stream (§2.12);
# the oracle states identical semantics with lag arithmetic
def _events_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    from serenedb_spark.streaming.sessionize import session_window_counts

    ev = load_tables(spark, sf_dir)["events"]
    return session_window_counts(ev)


def _register_session_window() -> None:
    from serenedb_spark.streaming.sessionize import SESSIONIZE_ORACLE_SQL

    _register("events_session_window", _events_session_window,
              SESSIONIZE_ORACLE_SQL)


_register_session_window()


# approx aggregates (reference demo6:66-78 approx_quantile /
# approx_count_distinct + per-index HLL). Approximate VALUES can't
# value-hash across engines (different sketches), but BOUNDS can: each
# engine computes ITS OWN approx and exact side-by-side and emits
# per-group booleans — matching TRUE rows prove both engines' sketches
# honor the stated error. Exact count(*) keeps the row grounded.
def _approx_aggs(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_tables(spark, sf_dir)
    return spark.sql("""
        SELECT l_returnflag,
          (abs(approx_count_distinct(l_orderkey, 0.01)
               - count(DISTINCT l_orderkey))
             / CAST(count(DISTINCT l_orderkey) AS DOUBLE)) < 0.05
            AS cd_within_5pct,
          abs(percentile_approx(l_quantity, 0.5)
              - percentile(l_quantity, 0.5)) <= 2.0 AS p50_within_2,
          count(*) AS n
        FROM lineitem
        GROUP BY l_returnflag
        ORDER BY l_returnflag
    """)


_register("approx_aggregates", _approx_aggs, """
SELECT l_returnflag,
  (abs(approx_count_distinct(l_orderkey) - count(DISTINCT l_orderkey))
     / CAST(count(DISTINCT l_orderkey) AS DOUBLE)) < 0.05 AS cd_within_5pct,
  abs(approx_quantile(l_quantity, 0.5) - median(l_quantity)) <= 2.0
    AS p50_within_2,
  count(*) AS n
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
""")


def _approx_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-gated approx-aggregate check: approximate values can't
    hash-match across engines, but BOUNDS can — each engine computes ITS
    OWN approx and exact side-by-side and emits (metric, within_tol);
    matching TRUE rows prove both engines' sketches honor the stated
    error (reference approx_quantile demo6:66-78)."""
    ev = load_tables(spark, sf_dir)["events"]
    agg = ev.agg(
        F.count_distinct("user_id").alias("exact_n"),
        F.approx_count_distinct("user_id").alias("approx_n"),
        F.expr("percentile(value, 0.5)").alias("exact_p50"),
        F.percentile_approx("value", 0.5).alias("approx_p50"),
        F.min("value").alias("lo"), F.max("value").alias("hi"),
    )
    return agg.select(
        F.array(
            F.struct(
                F.lit("count_distinct_rel_err_lt_5pct").alias("metric"),
                (F.abs(F.col("approx_n") - F.col("exact_n"))
                 / F.col("exact_n") < 0.05).alias("ok"),
            ),
            F.struct(
                F.lit("p50_within_minmax").alias("metric"),
                ((F.col("approx_p50") >= F.col("lo"))
                 & (F.col("approx_p50") <= F.col("hi"))).alias("ok"),
            ),
            F.struct(
                F.lit("p50_rel_err_lt_10pct").alias("metric"),
                (F.abs(F.col("approx_p50") - F.col("exact_p50"))
                 / F.abs(F.col("exact_p50")) < 0.10).alias("ok"),
            ),
        ).alias("checks")
    ).select(F.explode("checks").alias("c")).select(
        F.col("c.metric").alias("metric"), F.col("c.ok").alias("ok")
    ).transform(_ordered, "metric")


def _skew_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase salted aggregation (operators/skew.py): must produce the
    IDENTICAL result as a plain GROUP BY — the oracle is the unsalted
    aggregate, proving salting is a pure physical rewrite."""
    from serenedb_spark.operators.skew import salted_aggregate

    ev = load_tables(spark, sf_dir)["events"]
    out = salted_aggregate(
        ev, ["event_type"],
        {"n_events": F.count(F.lit(1)),
         "sum_value": F.sum(F.col("value").cast("decimal(18,4)")),
         "max_value": F.max(F.col("value").cast("double"))},
        salt=16,
    )
    return out.select(
        "event_type",
        F.col("n_events").cast("long").alias("n_events"),
        F.round(F.col("sum_value").cast("double"), 4).alias("sum_value"),
        F.round("max_value", 6).alias("max_value"),
    ).transform(_ordered, "event_type")


_register("skew_salted_agg", _skew_salted_agg, """
SELECT event_type,
  count(*) AS n_events,
  round(CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE), 4) AS sum_value,
  round(max(CAST(value AS DOUBLE)), 6) AS max_value
FROM events GROUP BY event_type ORDER BY event_type
""")


def _skew_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted shuffle join (operators/skew.py salted_broadcast_join): the
    join key is event_type — a handful of values over 100k rows, the
    worst-case hot key — salted 8 ways so each (key, salt) pair is its
    own task. The oracle is the PLAIN join: salting must be a pure
    physical rewrite."""
    from serenedb_spark.operators.skew import salted_broadcast_join

    ev = load_tables(spark, sf_dir)["events"]
    dim = ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("type_n"))
    joined = salted_broadcast_join(
        ev.select("event_id", "event_type", "value"), dim,
        "event_type", salt=8)
    return (
        joined.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"),
             F.max("type_n").alias("type_n"),
             F.round(F.sum(F.col("value").cast("decimal(18,4)"))
                     .cast("double"), 4).alias("sum_value"))
        .transform(_ordered, "event_type")
    )


_register("skew_salted_join", _skew_salted_join, """
WITH d AS (
  SELECT event_type, count(*) AS type_n FROM events GROUP BY event_type
)
SELECT e.event_type, count(*) AS n, max(d.type_n) AS type_n,
  round(CAST(sum(CAST(e.value AS DECIMAL(18,4))) AS DOUBLE), 4)
    AS sum_value
FROM events e JOIN d USING (event_type)
GROUP BY e.event_type ORDER BY e.event_type
""")


def _ordered_topk_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Covered ordered scan (operators/ordered_scan.py): orders written
    range-sorted by price, top-50 answered from footer-pruned files. The
    oracle is the plain ORDER BY LIMIT — file skipping must never change
    the answer. Output is the price column only (key ties at the cutoff
    would make row identity nondeterministic in BOTH engines)."""
    import tempfile

    from serenedb_spark.operators.ordered_scan import (
        ordered_topk, write_sorted,
    )

    def write() -> str:
        path = tempfile.mkdtemp(prefix="serene_oscan_") + "/orders_by_price"
        write_sorted(load_tables(spark, sf_dir)["orders"], path,
                     "o_totalprice", n_files=8)
        return path

    path = _built(spark, sf_dir, "orders_by_price", write)
    return (
        ordered_topk(spark, path, "o_totalprice", k=50,
                     columns=["o_totalprice"])
        .select(F.round(F.col("o_totalprice").cast("double"), 2)
                .alias("price"))
        .transform(_ordered, "price")
    )


_register("ordered_topk_scan", _ordered_topk_scan, """
SELECT round(CAST(o_totalprice AS DOUBLE), 2) AS price
FROM orders ORDER BY o_totalprice LIMIT 50
""")


_register("approx_agg_bounds", _approx_bounds, """
WITH s AS (
  SELECT count(DISTINCT user_id) AS exact_n,
         approx_count_distinct(user_id) AS approx_n,
         quantile_cont(value, 0.5) AS exact_p50,
         approx_quantile(value, 0.5) AS approx_p50,
         min(value) AS lo, max(value) AS hi
  FROM events
)
SELECT metric, ok FROM (
  SELECT 'count_distinct_rel_err_lt_5pct' AS metric,
         abs(approx_n - exact_n) / exact_n < 0.05 AS ok FROM s
  UNION ALL
  SELECT 'p50_within_minmax', approx_p50 BETWEEN lo AND hi FROM s
  UNION ALL
  SELECT 'p50_rel_err_lt_10pct',
         abs(approx_p50 - exact_p50) / abs(exact_p50) < 0.10 FROM s
) ORDER BY metric
""")


# PG-compat string extras (reference server/connector/functions/string.cpp;
# Spark side uses functions/pg_strings.py helpers, DuckDB side reproduces
# the exact semantics — initcap/get_bit have no DuckDB builtin)
def _pg_string_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    from serenedb_spark.functions import pg_strings as PS

    part = load_tables(spark, sf_dir)["part"]
    return (
        part.where(F.col("p_partkey") < 200)
        .select(
            "p_partkey",
            PS.initcap(F.lower(F.col("p_type"))).alias("type_title"),
            PS.quote_ident(F.col("p_brand")).alias("brand_ident"),
            PS.quote_literal(F.col("p_name")).alias("name_lit"),
            PS.octet_length(F.col("p_name")).alias("n_bytes"),
            PS.to_hex(F.col("p_partkey")).alias("hex_key"),
            PS.encode_base64(F.col("p_name").cast("binary")).alias("name_b64"),
            F.size(PS.string_to_array(F.col("p_type"), " ")).alias("n_words"),
            F.size(PS.split_by_non_alpha(F.col("p_name"))).alias("n_alpha_words"),
            PS.bit_length(F.col("p_brand")).alias("brand_bits"),
        )
        .transform(_ordered, "p_partkey")
    )


_register("pg_string_battery", _pg_string_battery, """
SELECT p_partkey,
  array_to_string(list_transform(string_split(lower(p_type), ' '),
    w -> upper(substr(w, 1, 1)) || substr(w, 2)), ' ') AS type_title,
  '"' || replace(p_brand, '"', '""') || '"' AS brand_ident,
  '''' || replace(p_name, '''', '''''') || '''' AS name_lit,
  octet_length(encode(p_name)) AS n_bytes,
  lower(to_hex(p_partkey)) AS hex_key,
  base64(encode(p_name)) AS name_b64,
  len(string_split(p_type, ' ')) AS n_words,
  len(list_filter(regexp_split_to_array(p_name, '[^A-Za-z]+'), t -> t <> ''))
    AS n_alpha_words,
  bit_length(p_brand) AS brand_bits
FROM part WHERE p_partkey < 200 ORDER BY p_partkey
""")


def _pg_string_battery2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second PG-string battery (string.cpp surface, r5 additions):
    regexp_match/instr, to_oct/to_bin, convert_to/from round-trip,
    set_byte, get_byte, similar_to_escape-driven rlike."""
    from serenedb_spark.functions import pg_strings as PS

    part = load_tables(spark, sf_dir)["part"]
    sim_re = PS.similar_to_escape("%(green|blue)%")
    name_bin = PS.convert_to(F.col("p_name"))
    return (
        part.where(F.col("p_partkey") < 200)
        .select(
            "p_partkey",
            # joined to a scalar: the gate's value-hash stringifies Spark
            # lists and DuckDB numpy arrays differently
            F.array_join(
                PS.regexp_match(F.col("p_name"), "([a-z]+) ([a-z]+)"), "|"
            ).alias("first_two_words"),
            PS.regexp_instr(F.col("p_name"), "e").alias("first_e_at"),
            PS.to_oct(F.col("p_partkey")).alias("oct_key"),
            PS.to_bin(F.col("p_partkey")).alias("bin_key"),
            PS.convert_from(name_bin).alias("roundtrip_name"),
            PS.get_byte(name_bin, 0).alias("first_byte"),
            PS.get_byte(PS.set_byte(name_bin, 0, 90), 0).alias("set_byte0"),
            F.col("p_name").rlike(sim_re).alias("similar_green_blue"),
        )
        .transform(_ordered, "p_partkey")
    )


_register("pg_string_battery2", _pg_string_battery2, """
SELECT p_partkey,
  CASE WHEN regexp_matches(p_name, '([a-z]+) ([a-z]+)')
    THEN concat(regexp_extract(p_name, '([a-z]+) ([a-z]+)', 1), '|',
                regexp_extract(p_name, '([a-z]+) ([a-z]+)', 2))
    END AS first_two_words,
  CASE WHEN strpos(p_name, 'e') > 0 THEN strpos(p_name, 'e') ELSE 0 END
    AS first_e_at,
  to_base(p_partkey, 8) AS oct_key,
  to_base(p_partkey, 2) AS bin_key,
  p_name AS roundtrip_name,
  get_byte_impl[1] AS first_byte,
  90 AS set_byte0,
  regexp_matches(p_name, '.*(green|blue).*') AS similar_green_blue
FROM (
  SELECT *, [ord(substr(p_name, 1, 1))] AS get_byte_impl FROM part
)
WHERE p_partkey < 200 ORDER BY p_partkey
""")


def _pg_math_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PG math/date battery (math.cpp surface): div, gcd/lcm (Euclid
    fold), log(b,x), erf (A&S polynomial), cotd, width_bucket, date_bin,
    make_timestamp, seeded random_normal."""
    from serenedb_spark.functions import pg_math as PM

    orders = load_tables(spark, sf_dir)["orders"]
    k = F.col("o_orderkey")
    return (
        orders.where(k < 500)
        .select(
            k.alias("o_orderkey"),
            PM.div_trunc(k, F.lit(7)).alias("div7"),
            PM.gcd(k, F.lit(36)).alias("gcd36"),
            PM.lcm(k % 12, F.lit(8)).alias("lcm8"),
            F.round(PM.log_base(2.0, (k + 1).cast("double")), 6).alias("log2_key"),
            F.round(PM.erf(k.cast("double") / 200.0), 6).alias("erf_scaled"),
            F.round(PM.cotd((k % 89 + 1).cast("double")), 6).alias("cotd_key"),
            PM.width_bucket(F.col("o_totalprice").cast("double"),
                            0.0, 600000.0, 8).alias("price_bucket"),
            PM.date_bin(86400 * 7, F.col("o_orderdate").cast("timestamp"),
                        "1992-01-01 00:00:00").alias("order_week"),
            PM.make_timestamp(F.lit(2024), F.lit(3), (k % 28 + 1).cast("int"),
                              F.lit(10), F.lit(30), F.lit(0)).alias("made_ts"),
        )
        .transform(_ordered, "o_orderkey")
    )


def _pg_math_oracle() -> str:
    from serenedb_spark.functions.pg_math import duckdb_erf

    wb = ("CASE WHEN o_totalprice < 0 THEN 0"
          " WHEN o_totalprice >= 600000 THEN 9"
          " ELSE CAST(floor(o_totalprice / (600000.0 / 8)) AS BIGINT) + 1 END")
    origin = "epoch_us(TIMESTAMP '1992-01-01 00:00:00')"
    stride = 86400 * 7 * 1_000_000
    h1 = "(abs(hash(o_orderkey)) % 1000000007)"
    return f"""
SELECT o_orderkey,
  CAST((o_orderkey - o_orderkey % 7) / 7 AS BIGINT) AS div7,
  gcd(o_orderkey, 36) AS gcd36,
  lcm(o_orderkey % 12, 8) AS lcm8,
  round(log(2, o_orderkey + 1), 6) AS log2_key,
  round({duckdb_erf('(o_orderkey / 200.0)')}, 6) AS erf_scaled,
  round(cot(radians(o_orderkey % 89 + 1)), 6) AS cotd_key,
  {wb} AS price_bucket,
  make_timestamp(CAST({origin} + floor((epoch_us(CAST(o_orderdate AS
    TIMESTAMP)) - {origin}) / {stride}) * {stride} AS BIGINT)) AS order_week,
  make_timestamp(2024, 3, o_orderkey % 28 + 1, 10, 30, 0.0) AS made_ts
FROM orders WHERE o_orderkey < 500 ORDER BY o_orderkey
"""


# random_normal is excluded from the battery: its seeded form relies on
# Spark's xxhash64 (not reproducible in DuckDB); tests/test_pg_math.py
# asserts its distribution moments instead
_register("pg_math_battery", _pg_math_battery, _pg_math_oracle())


def _temporal_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal type/function battery (reference
    simple/temporal/temporal_types_functions.test): date_part family,
    date_trunc, make_date, date_diff, interval arithmetic, epoch
    round-trip — over the orders dates."""
    orders = load_tables(spark, sf_dir)["orders"]
    d = F.col("o_orderdate").cast("date")
    ts = F.col("o_orderdate").cast("timestamp")
    return (
        orders.where(F.col("o_orderkey") < 300)
        .select(
            "o_orderkey",
            d.cast("string").alias("d"),
            F.year(d).alias("y"),
            F.dayofyear(d).alias("doy"),
            F.quarter(d).alias("q"),
            F.dayofweek(d).alias("dow"),
            F.date_trunc("month", d).cast("date").cast("string")
            .alias("mon"),
            F.date_add(d, 1).cast("string").alias("next_day"),
            F.datediff(d, F.make_date(F.lit(1992), F.lit(1), F.lit(1)))
            .alias("days_since_92"),
            F.last_day(d).cast("string").alias("eom"),
            (F.unix_date(d).cast("long") * 86400).alias("epoch_s"),
            (ts + F.expr("INTERVAL 90 MINUTES")).cast("string")
            .alias("plus90m"),
        )
        .transform(_ordered, "o_orderkey")
    )


_register("temporal_battery", _temporal_battery, """
SELECT o_orderkey,
  CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS d,
  date_part('year', CAST(o_orderdate AS DATE)) AS y,
  date_part('doy', CAST(o_orderdate AS DATE)) AS doy,
  date_part('quarter', CAST(o_orderdate AS DATE)) AS q,
  date_part('dow', CAST(o_orderdate AS DATE)) + 1 AS dow,
  CAST(CAST(date_trunc('month', CAST(o_orderdate AS DATE)) AS DATE)
       AS VARCHAR) AS mon,
  CAST(CAST(CAST(o_orderdate AS DATE) + INTERVAL 1 DAY AS DATE) AS VARCHAR)
    AS next_day,
  date_diff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE))
    AS days_since_92,
  CAST(last_day(CAST(o_orderdate AS DATE)) AS VARCHAR) AS eom,
  CAST(epoch(CAST(CAST(o_orderdate AS DATE) AS TIMESTAMP)) AS BIGINT)
    AS epoch_s,
  CAST(CAST(o_orderdate AS TIMESTAMP) + INTERVAL 90 MINUTE AS VARCHAR)
    AS plus90m
FROM orders WHERE o_orderkey < 300 ORDER BY o_orderkey
""")


# timezone conversion battery (reference site_docs/sql/data_types/
# timezones.test): Spark's from_utc_timestamp/to_utc_timestamp against
# DuckDB ICU's timezone() interp/render composition. Session TZ is UTC,
# so naive timestamps mean the same instant on both engines. Zones probe
# a DST boundary pair (America/New_York), a half-hour offset
# (Asia/Kolkata), and a no-DST roundtrip (Asia/Tokyo — roundtripping a
# DST zone would be ambiguous at fall-back wall times).
def _timezone_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_tables(spark, sf_dir)
    return spark.sql("""
SELECT o_orderkey,
  CAST(ts AS STRING) AS ts_utc,
  CAST(from_utc_timestamp(ts, 'America/New_York') AS STRING) AS ny_wall,
  CAST(from_utc_timestamp(ts, 'Asia/Kolkata') AS STRING) AS kolkata_wall,
  CAST(hour(from_utc_timestamp(ts, 'America/New_York')) AS INT) AS ny_hour,
  CAST(to_utc_timestamp(from_utc_timestamp(ts, 'Asia/Tokyo'), 'Asia/Tokyo')
       AS STRING) AS tokyo_rt,
  CAST(unix_timestamp(ts) AS BIGINT) AS epoch_s
FROM (SELECT o_orderkey,
        CAST(o_orderdate AS TIMESTAMP)
          + make_interval(0, 0, 0, 0, 0, 0, o_orderkey % 86399) AS ts
      FROM orders)
ORDER BY o_orderkey LIMIT 500
""")


_register("timezone_battery", _timezone_battery, """
SELECT o_orderkey,
  CAST(ts AS VARCHAR) AS ts_utc,
  CAST(timezone('America/New_York', timezone('UTC', ts)) AS VARCHAR)
    AS ny_wall,
  CAST(timezone('Asia/Kolkata', timezone('UTC', ts)) AS VARCHAR)
    AS kolkata_wall,
  CAST(hour(timezone('America/New_York', timezone('UTC', ts))) AS INTEGER)
    AS ny_hour,
  CAST(timezone('UTC', timezone('Asia/Tokyo',
       timezone('Asia/Tokyo', timezone('UTC', ts)))) AS VARCHAR)
    AS tokyo_rt,
  CAST(epoch(ts) AS BIGINT) AS epoch_s
FROM (SELECT o_orderkey,
        o_orderdate::TIMESTAMP + (o_orderkey % 86399) * INTERVAL 1 SECOND
          AS ts
      FROM orders)
ORDER BY o_orderkey LIMIT 500
""")


# IEEE-754 special-values battery (reference any/floating/{float4,float8}
# .test): NaN/±Infinity parsing, the engines' SHARED total-order deviation
# from raw IEEE (NaN = NaN is true, NaN sorts greatest, -0.0 = 0.0),
# infinity arithmetic, NaN propagation through greatest/least, and
# division-by-zero → NULL (Spark ANSI try_divide ≡ DuckDB float division).
# Renderings are normalized (lower + infinity→inf) because the engines
# format specials differently; NaN-producing arithmetic is asserted via
# isnan flags, not rendering (DuckDB prints inf-inf as '-nan').
def _float_special_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_tables(spark, sf_dir)
    return spark.sql("""
SELECT o_orderkey,
  CAST(isnan(CAST('NaN' AS DOUBLE)) AS INT) AS nan_parse,
  CAST(CAST('Infinity' AS DOUBLE) > CAST(o_orderkey AS DOUBLE) * 1e300
       AS INT) AS inf_gt_huge,
  CAST(CAST('NaN' AS DOUBLE) > CAST('Infinity' AS DOUBLE) AS INT)
    AS nan_gt_inf,
  CAST(CAST('NaN' AS DOUBLE) = CAST('NaN' AS DOUBLE) AS INT) AS nan_eq_nan,
  CAST(CAST(-0.0 AS DOUBLE) = CAST(0.0 AS DOUBLE) AS INT) AS negzero_eq,
  CAST(try_divide(CAST(o_orderkey AS DOUBLE), 0.0) IS NULL AS INT)
    AS div0_null,
  CAST(CAST('Infinity' AS DOUBLE) + CAST(o_orderkey AS DOUBLE)
       = CAST('Infinity' AS DOUBLE) AS INT) AS inf_absorbs,
  CAST(isnan(CAST('Infinity' AS DOUBLE) - CAST('Infinity' AS DOUBLE))
       AS INT) AS inf_minus_inf_nan,
  CAST(isnan(greatest(CAST('NaN' AS DOUBLE),
                      CAST(o_orderkey AS DOUBLE))) AS INT) AS greatest_nan,
  CAST(least(CAST('NaN' AS DOUBLE), CAST(o_orderkey AS DOUBLE)) AS BIGINT)
    AS least_finite,
  replace(lower(CAST(CAST('-Infinity' AS DOUBLE)
       * CAST(o_orderkey % 7 + 1 AS DOUBLE)
       AS STRING)), 'infinity', 'inf') AS neg_inf_render,
  CAST(CAST(CAST('NaN' AS FLOAT) AS DOUBLE) > 0.0 AS INT) AS f4_nan_gt
FROM orders ORDER BY o_orderkey LIMIT 400
""")


_register("float_special_battery", _float_special_battery, """
SELECT o_orderkey,
  CAST(isnan('NaN'::DOUBLE) AS INT) AS nan_parse,
  CAST('Infinity'::DOUBLE > o_orderkey::DOUBLE * 1e300 AS INT)
    AS inf_gt_huge,
  CAST('NaN'::DOUBLE > 'Infinity'::DOUBLE AS INT) AS nan_gt_inf,
  CAST('NaN'::DOUBLE = 'NaN'::DOUBLE AS INT) AS nan_eq_nan,
  CAST((-0.0)::DOUBLE = 0.0::DOUBLE AS INT) AS negzero_eq,
  CAST((o_orderkey::DOUBLE / 0.0) IS NULL AS INT) AS div0_null,
  CAST('Infinity'::DOUBLE + o_orderkey::DOUBLE = 'Infinity'::DOUBLE AS INT)
    AS inf_absorbs,
  CAST(isnan('Infinity'::DOUBLE - 'Infinity'::DOUBLE) AS INT)
    AS inf_minus_inf_nan,
  CAST(isnan(greatest('NaN'::DOUBLE, o_orderkey::DOUBLE)) AS INT)
    AS greatest_nan,
  CAST(least('NaN'::DOUBLE, o_orderkey::DOUBLE) AS BIGINT) AS least_finite,
  replace(lower(CAST('-Infinity'::DOUBLE * (o_orderkey % 7 + 1)::DOUBLE
       AS VARCHAR)), 'infinity', 'inf') AS neg_inf_render,
  CAST(CAST('NaN'::FLOAT AS DOUBLE) > 0.0 AS INT) AS f4_nan_gt
FROM orders ORDER BY o_orderkey LIMIT 400
""")


# interval arithmetic battery (reference site_docs/sql/data_types/
# interval.test): calendar-month addition CLAMPS to month end on both
# engines (2024-01-31 + 1 month = 2024-02-29, verified incl. leap years);
# composite year-month-day offsets apply months before days.
def _interval_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_tables(spark, sf_dir)
    return spark.sql("""
SELECT o_orderkey,
  CAST(d AS STRING) AS d,
  CAST(add_months(d, CAST(o_orderkey % 25 AS INT)) AS STRING) AS plus_mo,
  CAST(add_months(d, -CAST(o_orderkey % 13 AS INT)) AS STRING) AS minus_mo,
  CAST(date_add(add_months(d, 14), CAST(o_orderkey % 28 AS INT)) AS STRING)
    AS composite,
  CAST(date_add(d, CAST(o_orderkey % 10 AS INT) * 7) AS STRING) AS plus_wk,
  CAST((year(d) - 1992) * 12 + month(d) - 1 AS BIGINT) AS months_since_92
FROM (SELECT o_orderkey, CAST(o_orderdate AS DATE) AS d FROM orders)
ORDER BY o_orderkey LIMIT 500
""")


_register("interval_battery", _interval_battery, """
SELECT o_orderkey,
  CAST(d AS VARCHAR) AS d,
  CAST(CAST(d + (o_orderkey % 25) * INTERVAL 1 MONTH AS DATE) AS VARCHAR)
    AS plus_mo,
  CAST(CAST(d - (o_orderkey % 13) * INTERVAL 1 MONTH AS DATE) AS VARCHAR)
    AS minus_mo,
  CAST(CAST(d + INTERVAL 14 MONTH + (o_orderkey % 28) * INTERVAL 1 DAY
            AS DATE) AS VARCHAR) AS composite,
  CAST(CAST(d + (o_orderkey % 10) * INTERVAL 7 DAY AS DATE) AS VARCHAR)
    AS plus_wk,
  CAST((date_part('year', d) - 1992) * 12 + date_part('month', d) - 1
       AS BIGINT) AS months_since_92
FROM (SELECT o_orderkey, o_orderdate::DATE AS d FROM orders)
ORDER BY o_orderkey LIMIT 500
""")


def _inet_html_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INET (IPv4 CIDR) + html_escape battery (reference inet.test):
    netmask keeps the /masklen suffix (the documented SereneDB
    divergence from PG), network/broadcast/host/masklen arithmetic, and
    the html escape round-trip — over deterministic synthesized CIDRs."""
    from serenedb_spark.functions import inet as IN
    from serenedb_spark.functions import pg_strings as PS

    orders = load_tables(spark, sf_dir)["orders"]
    k = F.col("o_orderkey")
    cidr = F.concat_ws(
        "", F.lit("10."), (k % 256).cast("string"), F.lit("."),
        (F.floor(k / 256) % 256).cast("long").cast("string"), F.lit("."),
        (k % 254 + 1).cast("string"), F.lit("/"),
        (k % 25 + 8).cast("string"),
    )
    html = F.concat(F.lit('<a href="x">&'), k.cast("string"), F.lit("</a>"))
    return (
        orders.where(k < 300)
        .select(
            "o_orderkey", cidr.alias("cidr"),
            IN.host(cidr).alias("host"),
            IN.masklen(cidr).alias("mlen"),
            IN.netmask(cidr).alias("mask"),
            IN.network(cidr).alias("net"),
            IN.broadcast_addr(cidr).alias("bcast"),
            PS.html_escape(html).alias("esc"),
            PS.html_unescape(PS.html_escape(html)).alias("roundtrip"),
        )
        .transform(_ordered, "o_orderkey")
    )


def _inet_html_oracle() -> str:
    from serenedb_spark.functions import inet as IN
    from serenedb_spark.functions import pg_strings as PS

    cidr = ("concat('10.', o_orderkey % 256, '.', "
            "CAST(floor(o_orderkey / 256) AS BIGINT) % 256, '.', "
            "o_orderkey % 254 + 1, '/', o_orderkey % 25 + 8)")
    html = """concat('<a href="x">&', o_orderkey, '</a>')"""
    return f"""
SELECT o_orderkey, cidr,
  {IN.duckdb_host('cidr')} AS host,
  {IN.duckdb_masklen('cidr')} AS mlen,
  {IN.duckdb_netmask('cidr')} AS mask,
  {IN.duckdb_network('cidr')} AS net,
  {IN.duckdb_broadcast('cidr')} AS bcast,
  {PS.duckdb_html_escape('html')} AS esc,
  {PS.duckdb_html_unescape(PS.duckdb_html_escape('html'))} AS roundtrip
FROM (SELECT o_orderkey, {cidr} AS cidr, {html} AS html
      FROM orders WHERE o_orderkey < 300)
ORDER BY o_orderkey
"""


_register("inet_html_battery", _inet_html_battery, _inet_html_oracle())


def _inet6_spark_sql() -> str:
    """The battery as ONE Spark SQL string: the Column-builder form spent
    1.05 s per invocation composing ~3k py4j expression calls against
    0.14 s of execution (guide §1 — measure first); a text plan is a
    single JVM parse. Staging is preserved: the canonical key and masklen
    are computed once in a CTE and every operator derives from them
    (CollapseProject keeps non-cheap expressions un-inlined)."""
    from serenedb_spark.functions import inet6 as I6

    ip = (
        "CASE WHEN o_orderkey % 5 = 0"
        " THEN concat('fe80:', lower(hex(o_orderkey % 4096)), ':',"
        " lower(hex((o_orderkey * 7) % 65536)), ':1:2:3:4:5/64')"
        " ELSE concat('2001:db8:', lower(hex(o_orderkey % 4096)), '::',"
        " lower(hex((o_orderkey * 7) % 65536)), '/',"
        " CAST(CAST(o_orderkey * 11 % 129 AS INT) AS STRING)) END"
    )
    # staged nibble arithmetic: keep/bits/step/digit computed once per
    # row, the three masked canonical keys built from them, rendering
    # last — each CTE level is one short expression layer instead of
    # the fully-inlined ~20 KB tree (smaller parse/analysis, and the
    # boundary digit is computed once, not once per derived column)
    hexs = "0123456789abcdef"
    return f"""
WITH t AS (SELECT o_orderkey, {ip} AS ip FROM orders WHERE o_orderkey < 300),
c AS (SELECT o_orderkey, ip, {I6.s_canon('ip')} AS __c,
             {I6.s_masklen('ip')} AS __m FROM t),
s AS (SELECT *, CAST(floor(__m / 4) AS INT) AS kp, __m % 4 AS bt,
             CAST(power(2, 4 - __m % 4) AS INT) AS st,
             CAST(conv(substring(__c, CAST(floor(__m / 4) AS INT) + 1, 1),
                       16, 10) AS INT) AS dg
      FROM c),
s2 AS (SELECT *, kp + CASE WHEN bt > 0 THEN 1 ELSE 0 END AS used,
              CAST(floor(dg / st) AS INT) * st AS mk
       FROM s),
x AS (SELECT o_orderkey, ip, __c, __m,
  substring(__c, 1, kp)
    || CASE WHEN bt = 0 THEN '' ELSE substring('{hexs}', mk + 1, 1) END
    || repeat('0', 32 - used) AS net_c,
  substring(__c, 1, kp)
    || CASE WHEN bt = 0 THEN ''
            ELSE substring('{hexs}', mk + st - 1 + 1, 1) END
    || repeat('f', 32 - used) AS bc_c,
  repeat('f', kp)
    || CASE __m % 4 WHEN 0 THEN '' WHEN 1 THEN '8' WHEN 2 THEN 'c'
            ELSE 'e' END
    || repeat('0', 32 - used) AS mask_c
  FROM s2)
SELECT o_orderkey, ip,
  {I6.s_render('__c')} AS host,
  __m AS mlen,
  {I6.s_render('net_c', '__m')} AS net,
  {I6.s_render('bc_c', '__m')} AS bcast,
  {I6.s_render('mask_c', '__m')} AS mask,
  {I6.s_contains_lit('2001:db8::/32', '__c')} AS in_db8
FROM x ORDER BY o_orderkey
"""


_INET6_SPARK_SQL = _inet6_spark_sql()


def _inet6_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IPv6 INET battery (functions/inet6.py — reference inet.test's
    dual-family surface): '::'-compressed and full forms, host/masklen/
    network/broadcast/netmask and `>>` containment, all nibble
    arithmetic on the 32-hex canonical key."""
    load_tables(spark, sf_dir)
    return spark.sql(_INET6_SPARK_SQL)


def _inet6_oracle() -> str:
    from serenedb_spark.functions import inet6 as I6

    ip = (
        "CASE WHEN o_orderkey % 5 = 0"
        " THEN 'fe80:' || lower(to_hex(o_orderkey % 4096)) || ':'"
        " || lower(to_hex((o_orderkey * 7) % 65536)) || ':1:2:3:4:5/64'"
        " ELSE '2001:db8:' || lower(to_hex(o_orderkey % 4096)) || '::'"
        " || lower(to_hex((o_orderkey * 7) % 65536)) || '/'"
        " || (o_orderkey * 11 % 129) END"
    )
    return f"""
WITH t AS (SELECT o_orderkey, {ip} AS ip FROM orders WHERE o_orderkey < 300)
SELECT o_orderkey, ip,
  {I6.d_host('ip')} AS host,
  {I6.d_masklen('ip')} AS mlen,
  {I6.d_network('ip')} AS net,
  {I6.d_broadcast('ip')} AS bcast,
  {I6.d_netmask('ip')} AS mask,
  {I6.d_contains("'2001:db8::/32'", 'ip')} AS in_db8
FROM t ORDER BY o_orderkey
"""


_register("inet6_battery", _inet6_battery, _inet6_oracle())


def _complex_types_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STRUCT/MAP/LIST function battery (reference ddl/map.test,
    struct_field_ddl.test + DuckDB's nested-type surface): construction,
    field/key access, array slice/sort/reverse/contains/position — scalar
    outputs only (the gate's value-hash stringifies nested values
    differently across engines)."""
    orders = load_tables(spark, sf_dir)["orders"]
    k = F.col("o_orderkey")
    arr = F.array((k % 7).cast("long"), (k % 5).cast("long"),
                  (k % 3).cast("long"))
    mp = F.create_map(F.lit("a"), (k % 10).cast("long"),
                      F.lit("b"), (k % 20).cast("long"))
    st = F.struct(k.alias("id"), (k % 4).cast("long").alias("bucket"))
    return (
        orders.where(k < 300)
        .select(
            "o_orderkey",
            st.getField("bucket").alias("s_bucket"),
            mp.getItem("a").alias("m_a"),
            mp.getItem("b").alias("m_b"),
            F.array_join(F.map_keys(mp), ",").alias("m_keys"),
            F.array_join(F.sort_array(arr), ",").alias("arr_sorted"),
            F.array_join(F.reverse(arr), ",").alias("arr_rev"),
            F.array_join(F.slice(arr, 1, 2), ",").alias("arr_slice"),
            F.array_contains(arr, F.lit(2)).alias("has_two"),
            F.array_position(arr, (k % 5).cast("long")).cast("long")
            .alias("pos_mod5"),
            F.size(F.array_distinct(arr)).alias("n_distinct"),
        )
        .transform(_ordered, "o_orderkey")
    )


_register("complex_types_battery", _complex_types_battery, """
SELECT o_orderkey,
  {'id': o_orderkey, 'bucket': o_orderkey % 4}.bucket AS s_bucket,
  map(['a','b'], [o_orderkey % 10, o_orderkey % 20])['a'][1] AS m_a,
  map(['a','b'], [o_orderkey % 10, o_orderkey % 20])['b'][1] AS m_b,
  array_to_string(map_keys(map(['a','b'],
    [o_orderkey % 10, o_orderkey % 20])), ',') AS m_keys,
  array_to_string(list_sort([o_orderkey % 7, o_orderkey % 5,
    o_orderkey % 3]), ',') AS arr_sorted,
  array_to_string(list_reverse([o_orderkey % 7, o_orderkey % 5,
    o_orderkey % 3]), ',') AS arr_rev,
  array_to_string([o_orderkey % 7, o_orderkey % 5, o_orderkey % 3][1:2],
    ',') AS arr_slice,
  list_contains([o_orderkey % 7, o_orderkey % 5, o_orderkey % 3], 2)
    AS has_two,
  CAST(coalesce(list_position([o_orderkey % 7, o_orderkey % 5,
    o_orderkey % 3], o_orderkey % 5), 0) AS BIGINT) AS pos_mod5,
  len(list_distinct([o_orderkey % 7, o_orderkey % 5, o_orderkey % 3]))
    AS n_distinct
FROM orders WHERE o_orderkey < 300 ORDER BY o_orderkey
""")


def _variant_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VARIANT battery (reference site_docs/sql/data_types/variant.test):
    literals of every JSON shape through Spark's native VariantType —
    parse_json construction, variant_typeof (collapsed label), to_json
    rendering, typed path extraction (variant_extract / `data.name`),
    try-cast semantics. The oracle states the same surface over DuckDB's
    JSON layer (DuckDB 1.0 predates native VARIANT)."""
    from serenedb_spark.functions import variant as V

    orders = load_tables(spark, sf_dir)["orders"]
    k = F.col("o_orderkey")
    js = (
        F.when(k % 4 == 0, k.cast("string"))
        .when(k % 4 == 1, F.concat(F.lit('"s'), (k % 50).cast("string"),
                                   F.lit('"')))
        .when(k % 4 == 2, F.concat(F.lit("["), (k % 7).cast("string"),
                                   F.lit(","), (k % 5).cast("string"),
                                   F.lit("]")))
        .otherwise(F.concat(F.lit('{"age":'), (k % 90).cast("string"),
                            F.lit(',"name":"n'), (k % 30).cast("string"),
                            F.lit('"}')))
    )
    v = F.parse_json(js)
    return (
        orders.where(k < 400)
        .select(
            "o_orderkey",
            V.variant_kind(v).alias("vtype"),
            F.to_json(v).alias("rendered"),
            F.try_variant_get(v, "$.name", "string").alias("name"),
            (F.try_variant_get(v, "$.age", "long") + 1).alias("age_plus"),
            F.try_variant_get(v, "$[1]", "long").alias("elem1"),
            F.try_variant_get(v, "$", "long").alias("as_num"),
        )
        .transform(_ordered, "o_orderkey")
    )


def _variant_battery_oracle() -> str:
    from serenedb_spark.functions import variant as V

    js = (
        "CASE WHEN o_orderkey % 4 = 0 THEN CAST(o_orderkey AS VARCHAR)"
        " WHEN o_orderkey % 4 = 1 THEN '\"s' || (o_orderkey % 50) || '\"'"
        " WHEN o_orderkey % 4 = 2 THEN '[' || (o_orderkey % 7) || ','"
        " || (o_orderkey % 5) || ']'"
        " ELSE '{\"age\":' || (o_orderkey % 90) || ',\"name\":\"n'"
        " || (o_orderkey % 30) || '\"}' END"
    )
    return f"""
WITH t AS (SELECT o_orderkey, {js} AS j FROM orders WHERE o_orderkey < 400)
SELECT o_orderkey,
  {V.duckdb_variant_kind('j')} AS vtype,
  j AS rendered,
  json_extract_string(j, '$.name') AS name,
  TRY_CAST(json_extract(j, '$.age') AS BIGINT) + 1 AS age_plus,
  TRY_CAST(json_extract(j, '$[1]') AS BIGINT) AS elem1,
  TRY_CAST(json_extract(j, '$') AS BIGINT) AS as_num
FROM t ORDER BY o_orderkey
"""


_register("variant_battery", _variant_battery, _variant_battery_oracle())


def _union_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION battery (reference union.test): UNION(num BIGINT, str
    VARCHAR) as a tagged struct — union_value construction,
    union_tag, union_extract (NULL for the inactive member), and the
    `SELECT u` rendering. The oracle runs DuckDB's NATIVE UNION type,
    so the struct mapping is checked against the reference's own
    semantics."""
    from serenedb_spark.functions import variant as V

    members = {"num": "long", "str": "string"}
    orders = load_tables(spark, sf_dir)["orders"]
    k = F.col("o_orderkey")
    u = (
        F.when(k % 2 == 0, V.union_value("num", k, members))
        .otherwise(V.union_value(
            "str", F.concat(F.lit("v"), (k % 100).cast("string")), members))
    )
    return (
        orders.where(k < 400)
        .select(
            "o_orderkey",
            V.union_tag(u).alias("tag"),
            V.union_extract(u, "num").alias("num"),
            V.union_extract(u, "str").alias("str"),
            V.union_render(u, members).alias("rendered"),
        )
        .transform(_ordered, "o_orderkey")
    )


_register("union_battery", _union_battery, """
WITH t AS (
  SELECT o_orderkey,
    CASE WHEN o_orderkey % 2 = 0
      THEN union_value(num := CAST(o_orderkey AS BIGINT))
             ::UNION(num BIGINT, str VARCHAR)
      ELSE union_value(str := 'v' || (o_orderkey % 100))
             ::UNION(num BIGINT, str VARCHAR) END AS u
  FROM orders WHERE o_orderkey < 400)
SELECT o_orderkey,
  CAST(union_tag(u) AS VARCHAR) AS tag,
  union_extract(u, 'num') AS num,
  union_extract(u, 'str') AS str,
  CAST(u AS VARCHAR) AS rendered
FROM t ORDER BY o_orderkey
""")


def _enum_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ENUM battery (reference data_types/enum.test): Spark has no enum
    type, so the mapping is declaration-order position (array_position)
    — comparisons, codes and ORDER BY all go through the code. The
    declaration order ('small','medium','large','xl') is deliberately
    NON-alphabetical so enum ordering provably differs from string
    ordering; the oracle runs DuckDB's native inline ENUM casts +
    enum_code."""
    load_tables(spark, sf_dir)
    return spark.sql("""
        WITH t AS (
          SELECT o_orderkey,
            element_at(array('small','medium','large','xl'),
                       CAST(o_orderkey % 4 AS INT) + 1) AS v
          FROM orders WHERE o_orderkey < 400),
        coded AS (
          SELECT o_orderkey, v,
            array_position(array('small','medium','large','xl'), v) - 1
              AS code
          FROM t)
        SELECT o_orderkey, v, CAST(code AS BIGINT) AS code,
          code < 2 AS below_large,
          code >= 1 AND code <= 2 AS mid_range
        FROM coded
        ORDER BY code, o_orderkey
    """)


_register("enum_battery", _enum_battery, """
WITH t AS (
  SELECT o_orderkey,
    CAST(['small','medium','large','xl'][CAST(o_orderkey % 4 AS INT) + 1]
         AS ENUM('small','medium','large','xl')) AS v
  FROM orders WHERE o_orderkey < 400)
SELECT o_orderkey, CAST(v AS VARCHAR) AS v,
  CAST(enum_code(v) AS BIGINT) AS code,
  enum_code(v) < 2 AS below_large,
  enum_code(v) BETWEEN 1 AND 2 AS mid_range
FROM t
ORDER BY enum_code(v), o_orderkey
""")


def _blob_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BLOB battery (reference data_types/blob.test): binary payloads
    from part names — hex/base64 codecs round-trip, octet_length,
    concat. Spark `binary` ↔ DuckDB BLOB; only the encode() spelling
    differs per dialect."""
    load_tables(spark, sf_dir)
    return spark.sql("""
        SELECT p_partkey,
          hex(encode(p_name, 'utf-8')) AS payload_hex,
          octet_length(encode(p_name, 'utf-8')) AS n_bytes,
          base64(encode(p_name, 'utf-8')) AS b64,
          hex(unbase64(base64(encode(p_name, 'utf-8')))) AS b64_roundtrip,
          hex(concat(encode(p_brand, 'utf-8'), encode('#', 'utf-8'),
                     encode(p_type, 'utf-8'))) AS tagged_hex,
          hex(unhex('6a6b')) AS unhex_roundtrip
        FROM part WHERE p_partkey < 300 ORDER BY p_partkey
    """)


_register("blob_battery", _blob_battery, """
SELECT p_partkey,
  hex(encode(p_name)) AS payload_hex,
  octet_length(encode(p_name)) AS n_bytes,
  to_base64(encode(p_name)) AS b64,
  hex(from_base64(to_base64(encode(p_name)))) AS b64_roundtrip,
  hex(concat(encode(p_brand), encode('#'), encode(p_type))) AS tagged_hex,
  hex(from_hex('6a6b')) AS unhex_roundtrip
FROM part WHERE p_partkey < 300 ORDER BY p_partkey
""")


# TRY_CAST edge semantics (reference data_types/typecasting.test):
# malformed → NULL, whitespace trim, scientific notation, bool spellings,
# impossible dates — identical text in both engines. One documented
# divergence carved out: DuckDB accepts '1e3'::INT (1000), Spark's
# ANSI INT cast rejects scientific notation (NULL) — the scientific
# form is asserted through the DOUBLE column instead.
_sql("trycast_battery", """
SELECT o_orderkey,
  CASE WHEN v = '1e3' THEN NULL ELSE TRY_CAST(v AS INT) END AS as_int,
  TRY_CAST(v AS DOUBLE) AS as_double,
  -- rendered as text: pandas datetime64-vs-date dtypes sort NULLs
  -- differently across the two engines' client paths, misaligning the
  -- order-insensitive row compare
  CAST(TRY_CAST(v AS DATE) AS STRING) AS as_date,
  CAST(TRY_CAST(v AS BOOLEAN) AS INT) AS as_bool
FROM (
  SELECT o_orderkey,
    CASE CAST(o_orderkey % 6 AS INT)
      WHEN 0 THEN CAST(o_orderkey AS STRING)
      WHEN 1 THEN ' 42 '
      WHEN 2 THEN '1e3'
      WHEN 3 THEN 'true'
      WHEN 4 THEN '2026-01-15'
      ELSE '12x' END AS v
  FROM orders WHERE o_orderkey < 400)
ORDER BY o_orderkey
""")


def _bitstring_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BITSTRING battery (reference data_types/bitstring.test): Spark has
    no BIT type, so values are fixed-width '0'/'1' strings and every
    operator is positional string arithmetic; the ORACLE runs DuckDB's
    NATIVE BIT type (casts, &, |, xor, ~, shifts, bit_count, get/set_bit)
    — the mapping is checked against the reference engine's own
    semantics, like union_battery."""
    load_tables(spark, sf_dir)
    orders = spark.table("orders")
    k = F.col("o_orderkey")
    W = 12
    a = F.lpad(F.conv(((k * 7) % 4096).cast("string"), 10, 2), W, "0")
    b = F.lpad(F.conv(((k * 13) % 4096).cast("string"), 10, 2), W, "0")

    def zipbits(x, y, op):
        return F.array_join(F.transform(
            F.sequence(F.lit(1), F.lit(W)),
            lambda i: F.when(op(F.substring(x, i, F.lit(1)),
                               F.substring(y, i, F.lit(1))),
                             F.lit("1")).otherwise(F.lit("0"))), "")

    b_and = zipbits(a, b, lambda p, q: (p == "1") & (q == "1"))
    b_or = zipbits(a, b, lambda p, q: (p == "1") | (q == "1"))
    b_xor = zipbits(a, b, lambda p, q: p != q)
    return (
        orders.where(k < 400)
        .select(
            "o_orderkey", a.alias("a"), b.alias("b"),
            b_and.alias("b_and"), b_or.alias("b_or"), b_xor.alias("b_xor"),
            F.translate(a, "01", "10").alias("b_not"),
            F.concat(F.substring(a, 3, W - 2), F.lit("00")).alias("shl2"),
            F.concat(F.lit("000"), F.substring(a, 1, W - 3)).alias("shr3"),
            F.length(F.regexp_replace(a, "0", "")).cast("long")
            .alias("n_set"),
            F.lit(W).cast("long").alias("blen"),
            F.substring(a, 3, 1).cast("long").alias("bit2"),
            F.concat(F.substring(a, 1, 1), F.lit("1"),
                     F.substring(a, 3, W - 2)).alias("set1"),
        )
        .transform(_ordered, "o_orderkey")
    )


_register("bitstring_battery", _bitstring_battery, """
WITH t AS (
  SELECT o_orderkey,
    CAST(lpad(bin((o_orderkey * 7) % 4096), 12, '0') AS BIT) AS a,
    CAST(lpad(bin((o_orderkey * 13) % 4096), 12, '0') AS BIT) AS b
  FROM orders WHERE o_orderkey < 400)
SELECT o_orderkey,
  CAST(a AS VARCHAR) AS a, CAST(b AS VARCHAR) AS b,
  CAST(a & b AS VARCHAR) AS b_and,
  CAST(a | b AS VARCHAR) AS b_or,
  CAST(xor(a, b) AS VARCHAR) AS b_xor,
  CAST(~a AS VARCHAR) AS b_not,
  CAST(a << 2 AS VARCHAR) AS shl2,
  CAST(a >> 3 AS VARCHAR) AS shr3,
  bit_count(a) AS n_set,
  bit_length(a) AS blen,
  CAST(get_bit(a, 2) AS BIGINT) AS bit2,
  CAST(set_bit(a, 1, 1) AS VARCHAR) AS set1
FROM t ORDER BY o_orderkey
""")


def _time_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIME battery (reference data_types/time.test): Spark has no TIME
    type, so the stand-in is seconds-since-midnight with HH:MM:SS
    rendering; interval arithmetic wraps mod 24h. The oracle runs
    DuckDB's NATIVE TIME (make_time, + INTERVAL, extract)."""
    load_tables(spark, sf_dir)
    orders = spark.table("orders")
    k = F.col("o_orderkey")
    h, m, s = k % 24, (k * 7) % 60, (k * 13) % 60
    secs = h * 3600 + m * 60 + s

    def render(sec):
        return F.format_string(
            "%02d:%02d:%02d",
            F.floor(sec / 3600).cast("int"),
            (F.floor(sec / 60) % 60).cast("int"),
            (sec % 60).cast("int"))

    plus90 = (secs + 90 * 60) % (24 * 3600)
    minus2h = (secs - 2 * 3600 + 24 * 3600) % (24 * 3600)
    return (
        orders.where(k < 400)
        .select(
            "o_orderkey",
            render(secs).alias("t"),
            render(plus90).alias("plus90m"),
            render(minus2h).alias("minus2h"),
            h.cast("long").alias("hh"),
            m.cast("long").alias("mi"),
            s.cast("long").alias("ss"),
            secs.cast("long").alias("since_midnight"),
        )
        .transform(_ordered, "o_orderkey")
    )


_register("time_battery", _time_battery, """
WITH t AS (
  SELECT o_orderkey,
    make_time(CAST(o_orderkey % 24 AS INT),
              CAST((o_orderkey * 7) % 60 AS INT),
              CAST((o_orderkey * 13) % 60 AS DOUBLE)) AS tv
  FROM orders WHERE o_orderkey < 400)
SELECT o_orderkey,
  CAST(tv AS VARCHAR) AS t,
  CAST(tv + INTERVAL 90 MINUTE AS VARCHAR) AS plus90m,
  CAST(tv - INTERVAL 2 HOUR AS VARCHAR) AS minus2h,
  CAST(extract(hour FROM tv) AS BIGINT) AS hh,
  CAST(extract(minute FROM tv) AS BIGINT) AS mi,
  CAST(extract(second FROM tv) AS BIGINT) AS ss,
  CAST(extract(hour FROM tv) * 3600 + extract(minute FROM tv) * 60
       + extract(second FROM tv) AS BIGINT) AS since_midnight
FROM t ORDER BY o_orderkey
""")


# correlated LATERAL subquery with per-row ORDER BY + LIMIT (reference
# site_docs/sql/query_syntax/from_and_join; Spark 4 lateral subqueries
# execute the same text) — top-2 orders per customer
_sql("lateral_topn_per_key", """
SELECT c.c_custkey, o.o_orderkey, o.o_totalprice
FROM customer c, LATERAL (
  SELECT o_orderkey, o_totalprice FROM orders
  WHERE o_custkey = c.c_custkey
  ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) o
WHERE c.c_custkey < 400
ORDER BY c.c_custkey, o_totalprice DESC, o_orderkey
""")


# recursive CTEs (reference site_docs/sql/query_syntax/with/index.test:
# series generation + hierarchy traversal; Spark 4 executes WITH RECURSIVE
# natively, so both engines run the SAME text)
_sql("recursive_cte_series", """
WITH RECURSIVE fib(depth, f, nxt) AS (
    SELECT 0, CAST(0 AS BIGINT), CAST(1 AS BIGINT)
  UNION ALL
    SELECT depth + 1, nxt, f + nxt FROM fib WHERE depth < 25
)
SELECT depth, f, nxt FROM fib ORDER BY depth
""")

_sql("recursive_cte_hierarchy", """
WITH RECURSIVE geo(id, name, path, depth) AS (
    SELECT r_regionkey + 100, r_name, CAST(r_name AS STRING), 0 FROM region
  UNION ALL
    SELECT n.n_nationkey, n.n_name, g.path || '/' || n.n_name, g.depth + 1
    FROM nation n JOIN geo g ON n.n_regionkey + 100 = g.id
)
SELECT id, name, path, depth FROM geo ORDER BY depth, id
""")


_sql("window_battery", """
SELECT o_orderkey, o_orderpriority,
  dense_rank() OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey) AS drank,
  CAST(round(percent_rank() OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey) + 0.000000001, 6) AS DOUBLE) AS prank,
  CAST(round(cume_dist() OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey) + 0.000000001, 6) AS DOUBLE) AS cdist,
  ntile(4) OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey) AS quartile,
  lead(o_orderkey, 1, -1) OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey) AS next_key,
  lag(o_orderkey, 2) OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey) AS prev2_key,
  first_value(o_orderkey) OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey) AS first_key,
  last_value(o_orderkey) OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey
    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS last_key,
  nth_value(o_orderkey, 3) OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey
    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS third_key
FROM orders
WHERE o_orderkey <= 3000
ORDER BY o_orderpriority, drank, o_orderkey
""")

# ordered-set aggregates: listagg WITHIN GROUP is Spark-4 syntax, DuckDB
# spells it string_agg(... ORDER BY ...) — two texts, same semantics
_sql("ordered_set_aggs", """
SELECT l_returnflag,
  listagg(DISTINCT l_linestatus, ',') WITHIN GROUP (ORDER BY l_linestatus) AS statuses,
  CAST(round(percentile(l_quantity, 0.5) + 0.000000001, 4) AS DOUBLE) AS median_qty,
  CAST(round(percentile(l_quantity, 0.9) + 0.000000001, 4) AS DOUBLE) AS p90_qty,
  count(*) AS n
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
""", duck_sql="""
SELECT l_returnflag,
  string_agg(DISTINCT l_linestatus, ',' ORDER BY l_linestatus) AS statuses,
  CAST(round(quantile_cont(l_quantity, 0.5) + 0.000000001, 4) AS DOUBLE) AS median_qty,
  CAST(round(quantile_cont(l_quantity, 0.9) + 0.000000001, 4) AS DOUBLE) AS p90_qty,
  count(*) AS n
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
""")

_sql("case_agg_join", """
SELECT n_name,
  CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_f,
  CAST(sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_o,
  CAST(sum(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS n_p
FROM nation
JOIN customer ON c_nationkey = n_nationkey
JOIN orders ON o_custkey = c_custkey
GROUP BY n_name
ORDER BY n_name
""")

# sessionization (30-min inactivity gap). The gap check subtracts raw
# timestamps and compares to an INTERVAL literal — exact microsecond
# semantics in BOTH engines (second-resolution epoch functions disagree
# across engines on sub-second spacings: Spark unix_timestamp floors,
# DuckDB epoch()::BIGINT truncates toward zero).
_sql("events_sessionize", """
SELECT user_id, CAST(sum(new_session) AS BIGINT) AS n_sessions,
  count(*) AS n_events
FROM (
  SELECT user_id,
    CASE WHEN ts - lag(ts) OVER (
      PARTITION BY user_id ORDER BY ts, event_id
    ) > INTERVAL 30 MINUTE OR lag(ts) OVER (
      PARTITION BY user_id ORDER BY ts, event_id
    ) IS NULL THEN 1 ELSE 0 END AS new_session
  FROM events
) t
GROUP BY user_id
ORDER BY user_id
""")

_sql("full_outer_join", """
SELECT c_custkey, c_name, n_orders
FROM customer
FULL JOIN (
  SELECT o_custkey, count(*) AS n_orders FROM orders GROUP BY o_custkey
) o ON o_custkey = c_custkey
ORDER BY c_custkey
""")

_sql("grouping_sets", """
SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
  coalesce(l_linestatus, 'ALL') AS linestatus,
  count(*) AS n
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
ORDER BY returnflag, linestatus
""")

_sql("cube_agg", """
SELECT coalesce(o_orderstatus, 'ALL') AS status,
  coalesce(o_orderpriority, 'ALL') AS priority,
  count(*) AS n,
  CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total
FROM orders
GROUP BY CUBE (o_orderstatus, o_orderpriority)
ORDER BY status, priority
""")

# TABLESAMPLE is nondeterministic across engines — the portable idiom is a
# hash-derived deterministic sample (the same trick works at 100 TB)
_DET_SAMPLE = """
SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS o_totalprice
FROM orders
WHERE substr(md5(CAST(o_orderkey AS {str_t})), 1, 1) = '0'
ORDER BY o_orderkey
"""
_sql("deterministic_sample", _DET_SAMPLE.format(str_t="STRING"),
     _DET_SAMPLE.format(str_t="VARCHAR"))

_sql("setop_except", """
SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F'
EXCEPT
SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
ORDER BY custkey
""")

_sql("scalar_subquery_cte", """
WITH seg_avg AS (
  SELECT c_mktsegment, avg(CAST(c_acctbal AS DECIMAL(12,2))) AS seg_bal
  FROM customer GROUP BY c_mktsegment
)
SELECT c.c_custkey, c.c_mktsegment,
  CAST(round(c.c_acctbal - s.seg_bal, 2) AS DOUBLE) AS bal_delta
FROM customer c JOIN seg_avg s ON s.c_mktsegment = c.c_mktsegment
WHERE c.c_acctbal > (SELECT max(seg_bal) FROM seg_avg)
ORDER BY c.c_custkey
""")

_sql("scalar_battery", """
SELECT p_partkey,
  abs(p_size - 25) AS abs_diff,
  CAST(ceil(p_retailprice / 100) AS BIGINT) AS price_bucket_ceil,
  CAST(floor(p_retailprice / 100) AS BIGINT) AS price_bucket_floor,
  CAST(round(power(p_size, 2), 1) AS DOUBLE) AS size_sq,
  p_size % 7 AS size_mod,
  greatest(p_size, 20) AS size_hi,
  least(p_size, 20) AS size_lo,
  CAST(round(sqrt(p_size), 4) AS DOUBLE) AS size_sqrt,
  CAST(round(ln(p_retailprice), 4) AS DOUBLE) AS price_ln
FROM part
ORDER BY p_partkey
LIMIT 200
""")

# LATERAL/explode: per-dialect text (Spark LATERAL VIEW vs DuckDB unnest)
_sql(
    "lateral_explode_tokens",
    """
SELECT tok, count(*) AS n
FROM documents
LATERAL VIEW explode(split(lower(text), '[^a-z0-9]+')) x AS tok
WHERE tok <> '' AND doc_id < 100
GROUP BY tok
ORDER BY n DESC, tok
LIMIT 20
""",
    """
SELECT tok, count(*) AS n
FROM (
  SELECT unnest(list_filter(
    regexp_split_to_array(lower(text), '[^a-z0-9]+'), t -> t <> '')) AS tok
  FROM documents WHERE doc_id < 100
)
GROUP BY tok
ORDER BY n DESC, tok
LIMIT 20
""",
)

# UNPIVOT: Spark stack() vs DuckDB UNPIVOT
_sql(
    "unpivot_part_measures",
    """
SELECT p_partkey, measure, CAST(val AS DOUBLE) AS val
FROM (
  SELECT p_partkey, stack(2, 'size', CAST(p_size AS DOUBLE),
                             'retailprice', p_retailprice) AS (measure, val)
  FROM part WHERE p_partkey < 50
)
ORDER BY p_partkey, measure
""",
    """
SELECT p_partkey, measure, CAST(val AS DOUBLE) AS val
FROM (
  SELECT p_partkey, CAST(p_size AS DOUBLE) AS size, p_retailprice AS retailprice
  FROM part WHERE p_partkey < 50
) UNPIVOT (val FOR measure IN (size, retailprice))
ORDER BY p_partkey, measure
""",
)

# QUALIFY: DuckDB native; Spark via the dialect shim (plans/dialect.py)
_QUALIFY_SQL = """
SELECT c_mktsegment, o_orderkey, round(o_totalprice, 2) AS price
FROM orders JOIN customer ON c_custkey = o_custkey
QUALIFY row_number() OVER (
  PARTITION BY c_mktsegment ORDER BY o_totalprice DESC, o_orderkey
) <= 2
ORDER BY c_mktsegment, price DESC, o_orderkey
"""


def _qualify_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    from serenedb_spark.plans.dialect import sql_compat

    load_tables(spark, sf_dir)
    return sql_compat(spark, _QUALIFY_SQL)


_register("qualify_topn", _qualify_fn, _QUALIFY_SQL)

# PIVOT statement: Spark SQL PIVOT vs DuckDB PIVOT (dialects differ)
_sql(
    "pivot_statement",
    """
SELECT * FROM (
  SELECT o_orderpriority, o_orderstatus FROM orders
) PIVOT (count(*) FOR o_orderstatus IN ('F' AS f, 'O' AS o, 'P' AS p))
ORDER BY o_orderpriority
""",
    """
SELECT o_orderpriority,
  count(*) FILTER (WHERE o_orderstatus = 'F') AS f,
  count(*) FILTER (WHERE o_orderstatus = 'O') AS o,
  count(*) FILTER (WHERE o_orderstatus = 'P') AS p
FROM orders
GROUP BY o_orderpriority
ORDER BY o_orderpriority
""",
)

_sql(
    "events_json_extract",
    """
SELECT CAST(get_json_object(props, '$.k') AS BIGINT) % 10 AS k_mod,
  count(*) AS n, CAST(sum(CAST(value AS DECIMAL(10,2))) AS DOUBLE) AS sum_value
FROM events
GROUP BY CAST(get_json_object(props, '$.k') AS BIGINT) % 10
ORDER BY k_mod
""",
    """
SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) % 10 AS k_mod,
  count(*) AS n, CAST(sum(CAST(value AS DECIMAL(10,2))) AS DOUBLE) AS sum_value
FROM events
GROUP BY CAST(json_extract_string(props, '$.k') AS BIGINT) % 10
ORDER BY k_mod
""",
)


# MERGE INTO: upsert new + changed suppliers into the supplier table, show
# the resulting state (the Delta-style rewrite as a pure transform)
def _merge_demo(spark: SparkSession, sf_dir: str) -> DataFrame:
    from serenedb_spark.operators.dml import merge_into

    sup = load_tables(spark, sf_dir)["supplier"]
    source = sup.where(F.col("s_suppkey") <= 5).select(
        "s_suppkey",
        F.concat(F.lit("UPDATED_"), F.col("s_name")).alias("s_name"),
        "s_nationkey",
        (F.col("s_acctbal") + 1000).alias("s_acctbal"),
    ).unionByName(
        spark.createDataFrame(
            [(900001, "NEW_SUPP_1", 0, 123.45), (900002, "NEW_SUPP_2", 1, 678.9)],
            "s_suppkey long, s_name string, s_nationkey int, s_acctbal double",
        )
    )
    merged = merge_into(sup, source, "s_suppkey",
                        when_matched_delete=F.col("s.s_nationkey") == 24)
    return merged.select(
        "s_suppkey", "s_name", "s_nationkey",
        F.round("s_acctbal", 2).alias("s_acctbal"),
    ).transform(_ordered, "s_suppkey")


_register("dml_merge_into", _merge_demo, """
WITH source AS (
  SELECT s_suppkey, 'UPDATED_' || s_name AS s_name, s_nationkey,
         s_acctbal + 1000 AS s_acctbal
  FROM supplier WHERE s_suppkey <= 5
  UNION ALL
  SELECT * FROM (VALUES (900001, 'NEW_SUPP_1', 0, 123.45),
                        (900002, 'NEW_SUPP_2', 1, 678.9))
    v(s_suppkey, s_name, s_nationkey, s_acctbal)
)
SELECT s_suppkey, s_name, s_nationkey, round(s_acctbal, 2) AS s_acctbal
FROM (
  SELECT coalesce(s.s_suppkey, t.s_suppkey) AS s_suppkey,
         coalesce(s.s_name, t.s_name) AS s_name,
         coalesce(s.s_nationkey, t.s_nationkey) AS s_nationkey,
         coalesce(s.s_acctbal, t.s_acctbal) AS s_acctbal,
         (t.s_suppkey IS NOT NULL AND s.s_suppkey IS NOT NULL
          AND s.s_nationkey = 24) AS drop_row
  FROM supplier t FULL JOIN source s ON t.s_suppkey = s.s_suppkey
)
WHERE NOT drop_row
ORDER BY s_suppkey
""")


def _insert_conflict_demo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INSERT conflict handling (reference insert_conflict.test): ON
    CONFLICT DO NOTHING skips clashing keys, INSERT OR REPLACE upserts
    them; the plain-INSERT error path is pytest-asserted (an error can't
    be a gate row)."""
    from serenedb_spark.operators.dml import insert_rows

    sup = load_tables(spark, sf_dir)["supplier"]
    base = sup.select("s_suppkey",
                      F.round(F.col("s_acctbal").cast("double"), 2)
                      .alias("bal"))
    k1 = base.agg(F.min("s_suppkey")).first()[0]
    ins1 = spark.createDataFrame(
        [(k1, 111.11), (910001, 222.22)], "s_suppkey long, bal double")
    after1 = insert_rows(base, ins1, "s_suppkey", on_conflict="nothing")
    ins2 = spark.createDataFrame(
        [(k1, 333.33), (910002, 444.44)], "s_suppkey long, bal double")
    after2 = insert_rows(after1, ins2, "s_suppkey", on_conflict="replace")
    return after2.transform(_ordered, "s_suppkey")


_register("dml_insert_conflict", _insert_conflict_demo, """
WITH base AS (
  SELECT s_suppkey, round(CAST(s_acctbal AS DOUBLE), 2) AS bal
  FROM supplier
),
k AS (SELECT min(s_suppkey) AS k1 FROM base),
ins1 AS (SELECT k1 AS s_suppkey, 111.11 AS bal FROM k
         UNION ALL SELECT 910001, 222.22),
after1 AS (
  SELECT * FROM base
  UNION ALL
  SELECT * FROM ins1 WHERE s_suppkey NOT IN (SELECT s_suppkey FROM base)
),
ins2 AS (SELECT k1 AS s_suppkey, 333.33 AS bal FROM k
         UNION ALL SELECT 910002, 444.44),
after2 AS (
  SELECT coalesce(i.s_suppkey, a.s_suppkey) AS s_suppkey,
         coalesce(i.bal, a.bal) AS bal
  FROM after1 a FULL JOIN ins2 i ON a.s_suppkey = i.s_suppkey
)
SELECT s_suppkey, bal FROM after2 ORDER BY s_suppkey
""")


# --------------------------------------------------------------------------
# 2. full-text search (SURVEY §2.3) — engine vs naive-scan oracle
# --------------------------------------------------------------------------

_DOC_TABLE, _DOC_COL, _DOC_AN = "documents", "text", "simple"


def _fts_match(name: str, node: q.TSQuery) -> None:
    """Unscored predicate: doc ids matching `text @@ node`."""

    def fn(spark: SparkSession, sf_dir: str, _n=node) -> DataFrame:
        idx = doc_index(spark, sf_dir)
        return compile_query(idx, _DOC_COL, _n).doc_ids.transform(_ordered, "doc_id")

    _register(name, fn, O.match_sql(_DOC_TABLE, _DOC_COL, _DOC_AN, node,
                                    order="doc_id"))


def _fts_scored(name: str, node: q.TSQuery, scorer: str = "bm25",
                k: int = 20) -> None:
    """Scored search: (doc_id, score) top-k, mirrors SereneSession.search."""

    def fn(spark: SparkSession, sf_dir: str, _n=node, _s=scorer, _k=k) -> DataFrame:
        from serenedb_spark.operators.scoring import scored_topk
        from serenedb_spark.plans.planner import is_pure_disjunction

        idx = doc_index(spark, sf_dir)
        compiled = compile_query(idx, _DOC_COL, _n)
        if is_pure_disjunction(_n):
            # scorer-reuse (the score relation's keys ARE the match set)
            # + max-score/WAND pruning: only docs matching an essential
            # term are scored once the k-th-best floor is known
            return scored_topk(idx, _DOC_COL, compiled.score_terms, _k, _s)
        s = _score(idx, _DOC_COL, compiled.score_terms, _s)
        matched = compiled.doc_ids.join(s, "doc_id", "left")
        out = (
            matched
            .select("doc_id",
                    F.round(F.coalesce(F.col("score"), F.lit(0.0)), 4).alias("score"))
            .orderBy(F.col("score").desc(), F.col("doc_id"))
            .limit(_k)
        )
        return out

    _register(name, fn, O.scored_sql(_DOC_TABLE, _DOC_COL, _DOC_AN, node,
                                     scorer=scorer, k=k))


_fts_match("fts_term", q.Term("spark"))
_fts_match("fts_phrase", q.Phrase(["hash", "join"]))
_fts_match("fts_phrase_slop", q.Phrase(["sort", "merge"], slop=2))
_fts_match("fts_phrase_gaps",
           q.Phrase(["table", "scan", "filter"], gaps=[(1, 2), (1, 5)]))
_fts_match("fts_prefix", q.Prefix("wind"))
_fts_match("fts_wildcard", q.Wildcard("%ow"))
_fts_match("fts_regexp", q.Regexp("s(park|can|low)"))
_fts_match("fts_fuzzy", q.Fuzzy("sprk", 1))
_fts_match("fts_between", q.Between("query", "table"))
_fts_match("fts_any_min2", q.AnyOf(["spark", "stream", "batch"], min_match=2))
_fts_match("fts_all", q.AllOf(["spark", "data", "join"]))
_fts_match("fts_bool",
           (q.Term("spark") & (q.Term("stream") | q.Term("batch")))
           & ~q.Term("slow"))
_fts_match("fts_compound", q.Compound(
    must=[q.Term("data")], must_not=[q.Term("dup")],
    should=[q.Term("spark"), q.Term("stream"), q.Phrase(["hash", "join"])],
    min_should_match=2,
))
_fts_match("fts_tsquery_parse",
           q.to_tsquery("spark & (data | batch) & !slow"))
_fts_match("fts_plainto", q.plainto_tsquery("spark data join"))
_fts_match("fts_phraseto", q.phraseto_tsquery("table scan"))
_fts_match("fts_websearch",
           q.websearch_to_tsquery('spark -dup "hash join" OR stream'))
_fts_match("fts_ngram_sim_term", q.NgramSim("sparkle", 0.5))
# heterogeneous ## phrase chain (reference search.h:37-39,87;
# examples/demo3/demo.sql:181-205): literal ## prefix ## fuzzy with slop
_fts_match("fts_phrase_mixed",
           q.PhraseSeq([q.Term("hash"), q.Prefix("jo")], slop=1))
_fts_match("fts_phrase_mixed_parts", q.PhraseSeq(
    [q.AnyOf(["table", "index"]), q.Fuzzy("sca", 1)],
    gaps=[(1, 3)],
))

_fts_scored("fts_bm25_topk", q.AnyOf(["spark", "stream", "window"]), "bm25", 20)
_fts_scored("fts_bm25_boost",
            q.Term("spark").boost(2.0) | q.Term("batch"), "bm25", 20)
_fts_scored("fts_tfidf_topk", q.AllOf(["data", "join"]), "tfidf", 15)
_fts_scored("fts_lm_dirichlet_topk",
            q.AnyOf(["vector", "stream", "batch"]), "lm_dirichlet", 15)
_fts_scored("fts_raw_tf", q.Term("merge"), "raw_tf", 15)
_fts_scored("fts_lm_jm_topk", q.AnyOf(["table", "scan"]), "lm_jm", 15)
_fts_scored("fts_dfi_topk", q.AnyOf(["group", "query"]), "dfi", 15)
_fts_scored("fts_indri_topk", q.AnyOf(["row", "line"]), "indri_dirichlet", 15)
_fts_scored("fts_raw_dl", q.Term("key"), "raw_dl", 15)
# demo1/demo2 Q2 shape verbatim: (('plot' ## 'twist') ^ 3) || 'surprise
# ending' — a BOOSTED adjacent phrase OR'd with a second phrase, scored
# (reference examples/demo1/demo.sql:47-55)
_fts_scored("fts_boosted_phrase_or",
            (q.PhraseSeq([q.Term("hash"), q.Term("join")]).boost(3.0)
             | q.Phrase(["table", "scan"])), "bm25", 15)
_fts_scored("fts_raw_boost",
            q.Term("spark").boost(1.5) | q.Term("vector"), "raw_boost", 15)


# SQL front door: the same engine reached through SQL TEXT — `col @@
# tsquery-expr` with native combinators, scorer calls in SELECT/ORDER BY
# (reference examples/demo3/demo.sql §2a/§5a, search.h:91). The statement
# is parsed by plans.search_sql (the session.sql() path) and the oracle is
# generated from the PARSED AST, so SQL text and oracle can never drift.
def _fts_sql(name: str, sql_text: str, scored: bool = False) -> None:
    from serenedb_spark.analysis.analyzers import get_analyzer
    from serenedb_spark.plans import search_sql as SS

    stmt = SS.parse_select(sql_text, lambda t, c: get_analyzer(_DOC_AN))
    node = stmt.matches[0][1]

    def fn(spark: SparkSession, sf_dir: str, _sql=sql_text) -> DataFrame:
        idx = doc_index(spark, sf_dir)
        st = SS.parse_select(_sql, lambda t, c: idx.analyzer(c))
        return SS.execute_select(st, lambda t, c: idx)

    if scored:
        oracle = O.scored_sql(_DOC_TABLE, _DOC_COL, _DOC_AN, node,
                              scorer=stmt.scorer, k=stmt.limit,
                              **stmt.scorer_params)
    else:
        oracle = O.match_sql(_DOC_TABLE, _DOC_COL, _DOC_AN, node,
                             order="doc_id")
    _register(name, fn, oracle)


# demo3 §2a shape: (('special' ## 'effects') && !!ts_phrase('cgi'))
_fts_sql("fts_sql_entry", """
SELECT doc_id FROM documents
WHERE text @@ (('hash' ## 'join') && !!ts_phrase('slow'))
ORDER BY doc_id
""")
# demo3 §5a shape: score in projection AND order key, ::numeric cast,
# LIMIT pushdown
_fts_sql("fts_sql_bm25_topk", """
SELECT doc_id, round(BM25(documents.tableoid)::numeric, 4) AS score
FROM documents
WHERE text @@ ts_any(ARRAY['spark','stream','window'])
ORDER BY round(BM25(documents.tableoid)::numeric, 4) DESC, doc_id
LIMIT 20
""", scored=True)
# demo3 §2b shape: Lucene/websearch syntax through the SQL text door
_fts_sql("fts_sql_websearch", """
SELECT doc_id FROM documents
WHERE text @@ websearch_to_tsquery('spark -dup "hash join" OR stream')
ORDER BY doc_id
""")


# demo3 §6 shape: highlight projection through the SQL text door —
# ts_highlight(col) computes the snippet for the match's term as part of
# the SELECT list (plans/search_sql.py projection calls)
def _fts_sql_highlight(spark: SparkSession, sf_dir: str) -> DataFrame:
    from serenedb_spark.plans import search_sql as SS

    idx = doc_index(spark, sf_dir)
    st = SS.parse_select("""
        SELECT doc_id, ts_highlight(text) AS snippet FROM documents
        WHERE text @@ 'window' ORDER BY doc_id
    """, lambda t, c: idx.analyzer(c))
    return SS.execute_select(st, lambda t, c: idx)


def _fts_sql_highlight_oracle() -> str:
    # the SQL door's ts_highlight(col) renders the sentence passage
    # (whole doc here — the corpus has no sentence punctuation) with
    # every hit tagged and ADJACENT hits merged into one span
    # (headline.test semantics)
    m = O.match_sql(_DOC_TABLE, _DOC_COL, _DOC_AN, q.Term("window"),
                    select="doc_id, text")
    return (f"SELECT doc_id, replace(regexp_replace(text, "
            f"'\\b(window)\\b', '<b>\\1</b>', 'g'), '</b> <b>', ' ') "
            f"AS snippet FROM ({m}) m ORDER BY doc_id")


_register("fts_sql_highlight", _fts_sql_highlight,
          _fts_sql_highlight_oracle())


# demo1 Q1/Q3 shape: BM25-filtered docs feeding straight into SQL
# aggregation, with a residual predicate and PG ::numeric casts — the
# "hybrid analytics" recipe, through the text door
def _fts_sql_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from serenedb_spark.plans import search_sql as SS

    idx = doc_index(spark, sf_dir)
    st = SS.parse_select("""
        SELECT count(*) AS hits,
               round(avg(doc_id)::numeric, 3) AS avg_id
        FROM documents
        WHERE text @@ ts_phrase('hash join') AND lang = 'en'
    """, lambda t, c: idx.analyzer(c))
    return SS.execute_select(st, lambda t, c: idx)


def _fts_sql_agg_oracle() -> str:
    m = O.match_sql(_DOC_TABLE, _DOC_COL, _DOC_AN,
                    q.Phrase(["hash", "join"]), select="doc_id, lang")
    return f"""
SELECT count(*) AS hits, round(avg(doc_id), 3) + 0.0 AS avg_id
FROM ({m}) m WHERE lang = 'en'
"""


_register("fts_sql_agg", _fts_sql_agg, _fts_sql_agg_oracle())


# term_dictionary.test shape: aligned-list claimed aggregates over the
# dictionary, with the WHERE ranging over TERMS (col LIKE 'g%')
def _fts_sql_dict(spark: SparkSession, sf_dir: str) -> DataFrame:
    from serenedb_spark.plans import search_sql as SS

    idx = doc_index(spark, sf_dir)
    st = SS.parse_ts_dict("""
        SELECT unnest(ts_dict_agg(text)) AS term,
               unnest(ts_dict_count(text)) AS docs,
               unnest(ts_dict_freq(text)) AS freq
        FROM documents WHERE text LIKE 'g%' ORDER BY term
    """)
    return SS.execute_ts_dict(st, lambda t, c: idx)


def _fts_sql_dict_oracle() -> str:
    base = FC.duckdb_ts_dict_sql(
        _DOC_TABLE, _DOC_COL,
        "list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),"
        " t -> t <> '')",
    )
    return (f"SELECT term, doc_count AS docs, total_freq AS freq "
            f"FROM ({base}) d WHERE term LIKE 'g%' ORDER BY term")


_register("fts_sql_dict", _fts_sql_dict, _fts_sql_dict_oracle())


# ts_dict.test:59 raw-byte variant: ts_dict_raw_agg yields the raw term
# BYTES; the ::VARCHAR cast renders PG bytea text form (\x-hex)
def _fts_sql_dict_raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    from serenedb_spark.plans import search_sql as SS

    idx = doc_index(spark, sf_dir)
    st = SS.parse_ts_dict("""
        SELECT unnest(ts_dict_agg(text)) AS term,
               unnest(ts_dict_raw_agg(text))::VARCHAR AS raw,
               unnest(ts_dict_count(text)) AS docs
        FROM documents WHERE text LIKE 'q%' ORDER BY term
    """)
    return SS.execute_ts_dict(st, lambda t, c: idx)


def _fts_sql_dict_raw_oracle() -> str:
    base = FC.duckdb_ts_dict_sql(
        _DOC_TABLE, _DOC_COL,
        "list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),"
        " t -> t <> '')",
    )
    return (f"SELECT term, '\\x' || lower(hex(term)) AS raw, "
            f"doc_count AS docs "
            f"FROM ({base}) d WHERE term LIKE 'q%' ORDER BY term")


_register("fts_sql_dict_raw", _fts_sql_dict_raw,
          _fts_sql_dict_raw_oracle())


# The reference's box-drawing EXPLAIN layout (plans/boxplan.py renders
# IRESEARCH_SCAN claimed-filter plans verbatim; pinned line-for-line
# against the layout contract of filter_optimizer_*.test)
_EXPLAIN_BOX_LINES = [
    "╭─ IRESEARCH_SCAN ─────────────────────────────────╮",
    "│ Index: eb_idx                                    │",
    "│ Lookup: table                                    │",
    "│ Index Filter:                                    │",
    "│ ╭─ And ───────────────╮                          │",
    "│ ╰──────────┬──────────╯                          │",
    "│            ├────────────────────────╮            │",
    "│ ╭─ Term ───┴──────────╮  ╭─ Term ───┴──────────╮ │",
    "│ │ Field: text(string) │  │ Field: lang(string) │ │",
    "│ │ Value: gamma        │  │ Value: en           │ │",
    "│ ╰─────────────────────╯  ╰─────────────────────╯ │",
    "│ Projections: doc_id                              │",
    "│ ~1 row                                           │",
    "╰──────────────────────────────────────────────────╯",
]


def _fts_sql_explain_box(spark: SparkSession, sf_dir: str) -> DataFrame:
    from serenedb_spark.session import SereneSession

    ss = SereneSession(spark)
    ss.load_dir(sf_dir, tables=("documents",))
    ss.sql("CREATE INDEX eb_idx ON documents "
           "USING inverted(text simple, lang)")
    return ss.sql(
        "EXPLAIN SELECT doc_id FROM eb_idx "
        "WHERE text @@ ts_phrase('gamma') AND lang = 'en'"
    ).toDF("plan")


def _fts_sql_explain_box_oracle() -> str:
    rows = ", ".join("(" + "'" + ln.replace("'", "''") + "'" + ")"
                     for ln in _EXPLAIN_BOX_LINES)
    return f"SELECT * FROM (VALUES {rows}) AS t(plan)"


_register("fts_sql_explain_box", _fts_sql_explain_box,
          _fts_sql_explain_box_oracle())


# Multi-connection catalog sharing + REPEATABLE READ snapshot pinning
# (reference multi-connection suites: sdb/pg/index/basic.test:563,
# inverted_index_isolation.test): two sessions attached to one catalog
# see each other's committed writes; an RR block keeps reading its
# snapshot while the other session deletes.
def _sql_multi_session_visibility(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    from serenedb_spark.session import SereneSession

    ss1 = SereneSession(spark)
    ss1.load_dir(sf_dir, tables=("nation",))
    ss2 = SereneSession(spark)
    ss2.attach_shared(ss1)
    ss1.sql("CREATE TABLE msv(k INTEGER PRIMARY KEY, v VARCHAR)")
    ss1.sql("INSERT INTO msv SELECT n_nationkey, n_name FROM nation "
            "WHERE n_nationkey < 10")
    ss2.sql("INSERT INTO msv SELECT n_nationkey, n_name FROM nation "
            "WHERE n_nationkey >= 10")
    ss2.sql("BEGIN TRANSACTION ISOLATION LEVEL REPEATABLE READ")
    pinned = ss2.sql("SELECT count(*) AS n FROM msv").first()[0]
    ss1.sql("DELETE FROM msv WHERE k >= 20")
    during = ss2.sql("SELECT count(*) AS n FROM msv").first()[0]
    ss2.sql("COMMIT")
    after = ss2.sql("SELECT count(*) AS n FROM msv").first()[0]
    ss1.sql("DROP TABLE msv")
    return spark.createDataFrame(
        [(int(pinned), int(during), int(after))],
        "pinned_n bigint, during_n bigint, after_n bigint")


def _sql_multi_session_visibility_oracle() -> str:
    return """
SELECT (SELECT count(*) FROM nation) AS pinned_n,
       (SELECT count(*) FROM nation) AS during_n,
       (SELECT count(*) FROM nation WHERE n_nationkey < 20) AS after_n
"""


_register("sql_multi_session_visibility", _sql_multi_session_visibility,
          _sql_multi_session_visibility_oracle())


# CREATE/DROP DATABASE + USE — the namespace level above schemas; each
# database owns an independent catalog store
# (site_docs/sql/statements/create_database/index.test, use/index.test)
def _sql_create_database(spark: SparkSession, sf_dir: str) -> DataFrame:
    from serenedb_spark.session import SereneSession

    ss = SereneSession(spark)
    ss.sql("CREATE DATABASE appdb")
    ss.sql("CREATE DATABASE IF NOT EXISTS appdb")
    ss.sql("USE appdb")
    ss.sql("CREATE TABLE dbt(a INTEGER PRIMARY KEY, b VARCHAR)")
    ss.sql("INSERT INTO dbt VALUES (1, 'x'), (2, 'y')")
    ss.sql("USE serene")
    isolated = "dbt" not in ss._tables    # invisible outside appdb
    ss.sql("USE appdb")
    n = ss.sql("SELECT count(*) AS n FROM dbt").first()[0]
    db = ss.sql("SELECT current_database() AS db").first()[0]
    return spark.createDataFrame(
        [(int(n), bool(isolated), db)],
        "n bigint, isolated boolean, db string")


def _sql_create_database_oracle() -> str:
    return ("SELECT CAST(2 AS BIGINT) AS n, true AS isolated, "
            "'appdb' AS db")


_register("sql_create_database", _sql_create_database,
          _sql_create_database_oracle())


# demo6 Q2/Q7 shapes: multi-relation search statements through the SQL
# text door (examples/demo6/demo.sql:36-46,87-99;
# tests/sqllogic/any/pg/index/secondary_index.test:1014). The @@-claimed
# relation is lowered to a semi-joined docstore view and the rewritten
# statement is handed to Catalyst, which owns join strategy (the claimed
# side's real size drives AQE's broadcast decision — the 100 TB shape).
def _fts_sql_mr(name: str, sql_text: str, oracle: str) -> None:
    def fn(spark: SparkSession, sf_dir: str, _sql=sql_text) -> DataFrame:
        from serenedb_spark.plans.search_join import execute_multirel

        idx = doc_index(spark, sf_dir)
        tables = load_tables(spark, sf_dir)

        def gi(t: str, c: str, _idx=idx):
            if t.lower() != "documents" or c != "text":
                raise ValueError(f"no inverted index serves {t}.{c}")
            return _idx

        return execute_multirel(_sql, gi, lambda n: tables[n], spark)

    _register(name, fn, oracle)


_MR_JOIN_NODE = q.Term("spark") & q.Term("join")
_fts_sql_mr("fts_sql_join", """
SELECT d.doc_id, e.label FROM documents d
JOIN embeddings e ON e.vec_id = d.doc_id
WHERE d.text @@ ('spark' && 'join') ORDER BY d.doc_id
""", f"""
SELECT m.doc_id AS doc_id, e.label AS label
FROM ({O.match_sql(_DOC_TABLE, _DOC_COL, _DOC_AN, _MR_JOIN_NODE)}) m
JOIN embeddings e ON e.vec_id = m.doc_id ORDER BY doc_id
""")

_fts_sql_mr("fts_sql_join_group", """
SELECT d.lang, count(*) AS n, min(e.label) AS lo
FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id
WHERE d.text @@ 'stream' GROUP BY d.lang
HAVING count(*) >= 2 ORDER BY n DESC, d.lang
""", f"""
SELECT m.lang AS lang, count(*) AS n, min(e.label) AS lo
FROM ({O.match_sql(_DOC_TABLE, _DOC_COL, _DOC_AN, q.Term("stream"),
                   select="doc_id, lang")}) m
JOIN embeddings e ON e.vec_id = m.doc_id
GROUP BY m.lang HAVING count(*) >= 2 ORDER BY n DESC, lang
""")

_fts_sql_mr("fts_sql_join_scored", """
SELECT d.doc_id, e.label, round(bm25(d.tableoid)::numeric, 4) AS score
FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id
WHERE d.text @@ ts_any(ARRAY['spark','stream'])
ORDER BY round(bm25(d.tableoid)::numeric, 4) DESC, d.doc_id LIMIT 20
""", f"""
SELECT s.doc_id AS doc_id, e.label AS label, s.score AS score
FROM ({O.scored_sql(_DOC_TABLE, _DOC_COL, _DOC_AN,
                    q.AnyOf(["spark", "stream"]), k=None)}) s
JOIN embeddings e ON e.vec_id = s.doc_id
ORDER BY s.score DESC, s.doc_id LIMIT 20
""")


# set operations over search statements (PG query_syntax/setops:
# `SELECT ... WHERE col @@ q1 UNION SELECT ... WHERE col @@ q2 ORDER BY`)
# — each arm lowers through the single-relation door, the combine maps
# 1:1 onto Catalyst Union/Intersect/Except, the trailing ORDER BY/LIMIT
# applies to the whole set result
def _fts_sql_setop(name: str, sql_text: str, oracle: str) -> None:
    def fn(spark: SparkSession, sf_dir: str, _sql=sql_text) -> DataFrame:
        from serenedb_spark.plans import search_sql as SS
        from serenedb_spark.plans.search_join import (
            execute_set_ops, split_set_ops)

        idx = doc_index(spark, sf_dir)

        def run(q_text: str) -> DataFrame:
            st = SS.parse_select(q_text, lambda t, c: idx.analyzer(c))
            return SS.execute_select(st, lambda t, c: idx)

        parts = split_set_ops(SS.tokenize(_sql.strip().rstrip(";")))
        if parts is None:
            raise ValueError("registered set-op query has no set op")
        arms, ops, tail = parts
        return execute_set_ops(arms, ops, tail, run, spark)

    _register(name, fn, oracle)


_SETOP_M = {
    t: O.match_sql(_DOC_TABLE, _DOC_COL, _DOC_AN, q.Term(t))
    for t in ("spark", "stream", "window")
}
_fts_sql_setop("fts_sql_union", """
SELECT doc_id FROM documents WHERE text @@ 'spark'
UNION
SELECT doc_id FROM documents WHERE text @@ 'stream'
ORDER BY doc_id
""", f"{_SETOP_M['spark']} UNION {_SETOP_M['stream']} ORDER BY doc_id")
# PG precedence: a UNION b INTERSECT c ≡ a UNION (b INTERSECT c)
_fts_sql_setop("fts_sql_intersect_precedence", """
SELECT doc_id FROM documents WHERE text @@ 'window'
UNION
SELECT doc_id FROM documents WHERE text @@ 'spark'
INTERSECT
SELECT doc_id FROM documents WHERE text @@ 'stream'
ORDER BY doc_id
""", f"""{_SETOP_M['window']} UNION
({_SETOP_M['spark']} INTERSECT {_SETOP_M['stream']}) ORDER BY doc_id""")
_fts_sql_setop("fts_sql_except", """
SELECT doc_id FROM documents WHERE text @@ 'spark'
EXCEPT
SELECT doc_id FROM documents WHERE text @@ 'stream'
ORDER BY doc_id
""", f"{_SETOP_M['spark']} EXCEPT {_SETOP_M['stream']} ORDER BY doc_id")


# search subquery inside a relational statement (reference
# secondary_index.test semi-join shapes: `WHERE key IN (SELECT ... WHERE
# col @@ q)`) — the subquery pre-executes to a view and Catalyst turns
# IN into a semi-join against the claimed match set
def _fts_sql_in_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    from serenedb_spark.plans import search_sql as SS
    from serenedb_spark.plans.dialect import sql_compat
    from serenedb_spark.plans.search_join import rewrite_search_subqueries

    idx = doc_index(spark, sf_dir)
    load_tables(spark, sf_dir)

    def run(q_text: str) -> DataFrame:
        st = SS.parse_select(q_text, lambda t, c: idx.analyzer(c))
        return SS.execute_select(st, lambda t, c: idx)

    new_q, changed = rewrite_search_subqueries("""
        SELECT vec_id, label FROM embeddings
        WHERE vec_id IN (SELECT doc_id FROM documents
                         WHERE text @@ ('spark' && 'join'))
        ORDER BY vec_id
    """, run, spark)
    if not changed:
        raise ValueError("search subquery was not rewritten")
    return sql_compat(spark, new_q)


_register("fts_sql_in_subquery", _fts_sql_in_subquery, f"""
SELECT vec_id, label FROM embeddings
WHERE vec_id IN (SELECT doc_id FROM
    ({O.match_sql(_DOC_TABLE, _DOC_COL, _DOC_AN,
                  q.Term("spark") & q.Term("join"))}) m)
ORDER BY vec_id
""")


# partial index (CREATE INDEX ... WHERE pred): index only english docs;
# a query over the partial index answers the conjunctive query
# `text @@ q AND lang='en'` (the claim is valid because the query implies
# the partial predicate — reference InvertedIndexData.predicate,
# server/catalog/persistence/inverted_index.h:80-96)
def _fts_partial_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir)["documents"]
    idx = _built(spark, sf_dir, "partial_en", lambda: build_index(
        docs.where(F.col("lang") == "en"), {"text": "simple"},
        key="doc_id", name="docs_en").persist())
    return compile_query(idx, _DOC_COL, q.AllOf(["spark", "data"])).doc_ids.transform(_ordered, "doc_id")


_register("fts_partial_index", _fts_partial_index, """
WITH base AS (SELECT doc_id,
    list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), t -> t <> '') AS toks
  FROM documents WHERE lang = 'en')
SELECT doc_id FROM base
WHERE toks IS NOT NULL AND list_has_all(toks, ['spark', 'data'])
ORDER BY doc_id
""")


# --------------------------------------------------------------------------
# statement-level SQL door (plans/statements.py): the reference drives a
# session with nothing but SQL text (search_table.test, txn/, ddl/) —
# these gate rows exercise CTAS + constraint DDL + INSERT/UPDATE/DELETE,
# transaction control, and search-predicate DML all through session.sql()
# strings, hash-gated against the equivalent pure-SELECT state in DuckDB
# --------------------------------------------------------------------------

def _sql_dml_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CTAS → ADD PRIMARY KEY → INSERT VALUES → UPDATE → DELETE, every
    step a SQL string (reference search_table.test DML walk)."""
    ss = _session_over(spark, sf_dir)
    ss.sql("""CREATE OR REPLACE TABLE dml_tgt AS
              SELECT o_orderkey, o_totalprice, o_orderstatus
              FROM orders WHERE o_orderkey % 7 = 0""")
    ss.sql("ALTER TABLE dml_tgt ADD PRIMARY KEY (o_orderkey)")
    ss.sql("INSERT INTO dml_tgt VALUES (1, 111.11, 'Q'), "
           "(2, 95000.5, 'F')")
    ss.sql("UPDATE dml_tgt SET o_totalprice = "
           "round(o_totalprice * 1.1, 2) WHERE o_orderstatus = 'F'")
    ss.sql("DELETE FROM dml_tgt WHERE o_totalprice < 5000")
    return ss.sql("""SELECT o_orderkey, round(o_totalprice, 2) AS price,
                     o_orderstatus FROM dml_tgt ORDER BY o_orderkey""")


_register("sql_dml_lifecycle", _sql_dml_lifecycle, """
WITH base AS (
  SELECT o_orderkey, o_totalprice, o_orderstatus
  FROM orders WHERE o_orderkey % 7 = 0
), ins AS (
  SELECT * FROM base
  UNION ALL
  SELECT * FROM (VALUES
    (CAST(1 AS BIGINT), CAST(111.11 AS DOUBLE), 'Q'),
    (CAST(2 AS BIGINT), CAST(95000.5 AS DOUBLE), 'F')
  ) v(o_orderkey, o_totalprice, o_orderstatus)
), upd AS (
  SELECT o_orderkey,
         CASE WHEN o_orderstatus = 'F'
              THEN round(o_totalprice * 1.1, 2)
              ELSE o_totalprice END AS o_totalprice,
         o_orderstatus
  FROM ins
), del AS (
  SELECT * FROM upd WHERE NOT (o_totalprice < 5000)
)
SELECT o_orderkey, round(o_totalprice, 2) AS price, o_orderstatus
FROM del ORDER BY o_orderkey
""")


def _sql_txn_rollback(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BEGIN / destructive UPDATE+DELETE / ROLLBACK through SQL text:
    the final state must be byte-identical to never having run the
    block (reference txn/ suite; session._txn_copy deep snapshot)."""
    ss = _session_over(spark, sf_dir)
    ss.sql("""CREATE OR REPLACE TABLE txn_t AS
              SELECT c_custkey, c_acctbal, c_mktsegment
              FROM customer WHERE c_custkey <= 500""")
    ss.sql("BEGIN")
    ss.sql("UPDATE txn_t SET c_acctbal = 0.0")
    ss.sql("DELETE FROM txn_t WHERE c_custkey > 100")
    ss.sql("ROLLBACK")
    return ss.sql("""SELECT c_custkey, round(c_acctbal, 2) AS bal,
                     c_mktsegment FROM txn_t ORDER BY c_custkey""")


_register("sql_txn_rollback", _sql_txn_rollback, """
SELECT c_custkey, round(c_acctbal, 2) AS bal, c_mktsegment
FROM customer WHERE c_custkey <= 500 ORDER BY c_custkey
""")


def _sql_composite_pk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite PRIMARY KEY through SQL text (update_pk.test multi_pk):
    2-column key enforced on INSERT (ON CONFLICT DO NOTHING skips a
    composite clash), and a key-moving UPDATE re-validated over the full
    post-update state."""
    ss = _session_over(spark, sf_dir)
    # the synthetic lineitem does not guarantee (orderkey, linenumber)
    # uniqueness at every sf — aggregate to a genuinely unique key
    ss.sql("""CREATE OR REPLACE TABLE cpk AS
              SELECT l_orderkey, l_linenumber,
                     max(l_quantity) AS l_quantity
              FROM lineitem WHERE l_orderkey <= 200
              GROUP BY l_orderkey, l_linenumber""")
    ss.sql("ALTER TABLE cpk ADD PRIMARY KEY (l_orderkey, l_linenumber)")
    ss.sql("INSERT INTO cpk VALUES (1, 1, 99.0), (999999, 1, 42.0) "
           "ON CONFLICT DO NOTHING")  # (1,1) clashes, skipped
    ss.sql("UPDATE cpk SET l_linenumber = l_linenumber + 100 "
           "WHERE l_orderkey = 3")
    return ss.sql("""SELECT l_orderkey, l_linenumber,
                     round(l_quantity, 2) AS qty FROM cpk
                     ORDER BY l_orderkey, l_linenumber""")


_register("sql_composite_pk", _sql_composite_pk, """
WITH base AS (
  SELECT l_orderkey, l_linenumber, max(l_quantity) AS l_quantity
  FROM lineitem WHERE l_orderkey <= 200
  GROUP BY l_orderkey, l_linenumber
), ins AS (
  SELECT * FROM base
  UNION ALL
  SELECT * FROM (VALUES
      (CAST(1 AS BIGINT), CAST(1 AS INT), CAST(99.0 AS DOUBLE)),
      (CAST(999999 AS BIGINT), CAST(1 AS INT), CAST(42.0 AS DOUBLE))
    ) v(l_orderkey, l_linenumber, l_quantity)
  WHERE NOT EXISTS (SELECT 1 FROM base b
                    WHERE b.l_orderkey = v.l_orderkey
                      AND b.l_linenumber = v.l_linenumber)
), upd AS (
  SELECT l_orderkey,
         CASE WHEN l_orderkey = 3 THEN l_linenumber + 100
              ELSE l_linenumber END AS l_linenumber,
         l_quantity
  FROM ins
)
SELECT l_orderkey, l_linenumber, round(l_quantity, 2) AS qty
FROM upd ORDER BY l_orderkey, l_linenumber
""")


def _sql_conflict_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ON CONFLICT binding to a UNIQUE (non-PK) column with a PARTIAL
    DO UPDATE SET using EXCLUDED.* (insert_conflict.test t3): unassigned
    columns keep the target row's values."""
    ss = _session_over(spark, sf_dir)
    ss.sql("""CREATE OR REPLACE TABLE ocu AS
              SELECT n_nationkey, n_name, n_regionkey
              FROM nation""")
    ss.sql("ALTER TABLE ocu ADD PRIMARY KEY (n_nationkey)")
    ss.sql("CREATE UNIQUE INDEX ocu_name ON ocu(n_name)")
    # NATION_3 exists at every sf (synthetic names are NATION_<k>);
    # ATLANTIS never does — one deterministic conflict, one insert
    ss.sql("INSERT INTO ocu VALUES (100, 'NATION_3', 9), "
           "(101, 'ATLANTIS', 8) "
           "ON CONFLICT (n_name) DO UPDATE SET "
           "n_regionkey = EXCLUDED.n_regionkey + 50")
    return ss.sql("""SELECT n_nationkey, n_name, n_regionkey FROM ocu
                     ORDER BY n_nationkey""")


_register("sql_conflict_update", _sql_conflict_update, """
WITH upd AS (
  SELECT n_nationkey, n_name,
         CASE WHEN n_name = 'NATION_3' THEN CAST(59 AS BIGINT)
              ELSE n_regionkey END AS n_regionkey
  FROM nation
), ins AS (
  SELECT * FROM upd
  UNION ALL
  SELECT CAST(101 AS BIGINT), 'ATLANTIS', CAST(8 AS BIGINT)
)
SELECT n_nationkey, n_name, n_regionkey FROM ins ORDER BY n_nationkey
""")


def _sql_prepared_exec(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PREPARE/EXECUTE with $n parameters — the statement re-plans per
    EXECUTE with the parameter as a constant (prepared_statements.test;
    pg_wire_session rebind semantics), so two executions with different
    arguments produce independent plans."""
    ss = _session_over(spark, sf_dir)
    ss.sql("PREPARE seg_count AS SELECT c_mktsegment, count(*) AS n "
           "FROM customer WHERE c_acctbal >= $1 AND c_mktsegment = $2 "
           "GROUP BY c_mktsegment")
    a = ss.sql("EXECUTE seg_count(0, 'BUILDING')")
    b = ss.sql("EXECUTE seg_count(5000, 'MACHINERY')")
    return a.unionByName(b).transform(_ordered, "c_mktsegment")


_register("sql_prepared_exec", _sql_prepared_exec, """
SELECT c_mktsegment, count(*) AS n FROM customer
WHERE c_acctbal >= 0 AND c_mktsegment = 'BUILDING'
GROUP BY c_mktsegment
UNION ALL
SELECT c_mktsegment, count(*) AS n FROM customer
WHERE c_acctbal >= 5000 AND c_mktsegment = 'MACHINERY'
GROUP BY c_mktsegment
ORDER BY c_mktsegment
""")





def _sql_enum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Enum definition-order semantics end-to-end (ddl/enum.test): a
    CHECK-backed constrained-string column whose comparisons, BETWEEN
    and ORDER BY follow CREATE TYPE label order via plans/enums."""
    ss = _session_over(spark, sf_dir)
    ss.sql("CREATE TYPE sev AS ENUM ('low', 'medium', 'high', "
           "'critical')")
    ss.sql("CREATE TABLE alerts (id INT PRIMARY KEY, s sev)")
    ss.sql("INSERT INTO alerts VALUES (1,'high'), (2,'low'), "
           "(3,'critical'), (4,'medium'), (5,'high'), (6, NULL)")
    return ss.sql("""SELECT id, s FROM alerts
                     WHERE s >= 'medium' ORDER BY s DESC, id""")


_register("sql_enum_order", _sql_enum_order, """
WITH vals(id, s) AS (VALUES
  (1,'high'), (2,'low'), (3,'critical'), (4,'medium'), (5,'high'),
  (6, NULL)
), ranked AS (
  SELECT id, s, CASE s WHEN 'low' THEN 1 WHEN 'medium' THEN 2
                       WHEN 'high' THEN 3 WHEN 'critical' THEN 4
                END AS r
  FROM vals
)
SELECT id, s FROM ranked WHERE r >= 2 ORDER BY r DESC, id
""")


def _sql_schema_namespace(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-qualified relations through the SQL door (schema.test):
    same bare table name in two namespaces, cross-schema join."""
    ss = _session_over(spark, sf_dir)
    ss.sql("CREATE SCHEMA staging")
    ss.sql("CREATE TABLE staging.region AS "
           "SELECT r_regionkey, upper(r_name) AS r_name FROM region")
    return ss.sql("""SELECT a.r_regionkey, a.r_name AS pub,
                            b.r_name AS stg
                     FROM region a JOIN staging.region b
                       ON a.r_regionkey = b.r_regionkey
                     ORDER BY a.r_regionkey""")


_register("sql_schema_namespace", _sql_schema_namespace, """
SELECT a.r_regionkey, a.r_name AS pub, upper(b.r_name) AS stg
FROM region a JOIN region b ON a.r_regionkey = b.r_regionkey
ORDER BY a.r_regionkey
""")


def _sql_composite_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CREATE TYPE AS (fields) → Spark struct columns with ROW()
    constructors and field access (ddl/composite.test)."""
    ss = _session_over(spark, sf_dir)
    ss.sql("CREATE TYPE money_t AS (amount DOUBLE, currency TEXT)")
    ss.sql("CREATE TABLE wallets (id INT PRIMARY KEY, bal money_t)")
    ss.sql("INSERT INTO wallets VALUES (1, ROW(10.5, 'EUR')), "
           "(2, ROW(99.25, 'USD')), (3, NULL)")
    return ss.sql("""SELECT id, bal.amount AS amount,
                            bal.currency AS currency
                     FROM wallets ORDER BY id""")


_register("sql_composite_type", _sql_composite_type, """
SELECT * FROM (VALUES
  (1, CAST(10.5 AS DOUBLE), 'EUR'),
  (2, CAST(99.25 AS DOUBLE), 'USD'),
  (3, CAST(NULL AS DOUBLE), CAST(NULL AS TEXT))
) v(id, amount, currency) ORDER BY id
""")


def _sql_pattern_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PG pattern-matching battery through the SQL door: SIMILAR TO
    with LIKE-style wildcards (PG semantics — '.' literal), the GLOB
    operator, the ~ regex operator, and constant-folded
    similar_to_escape (any/pg/simple/similar.test,
    site_docs/sql/functions/pattern_matching)."""
    ss = _session_over(spark, sf_dir)
    # patterns chosen to MATCH the synthetic rows (NATION_0..24): the
    # WHERE keeps 15 of 25 rows so the rewritten predicates are
    # exercised over real data, not a vacuous empty set
    return ss.sql("""
        SELECT n_name,
               n_name SIMILAR TO '%1' AS sim_suf,
               n_name ~ '_1$' AS re_suf,
               similar_to_escape('IR%') AS esc
        FROM nation
        WHERE n_name SIMILAR TO 'NATION\\__' OR n_name GLOB '*_2?'
        ORDER BY n_name""")


_register("sql_pattern_match", _sql_pattern_match, """
SELECT n_name,
       regexp_full_match(n_name, '^(?:.*1)$') AS sim_suf,
       regexp_matches(n_name, '_1$') AS re_suf,
       '^(?:IR.*)$' AS esc
FROM nation
WHERE regexp_full_match(n_name, '^(?:NATION_.)$') OR n_name GLOB '*_2?'
ORDER BY n_name
""")


def _fts_sql_numeric_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Numeric range claim against the ENCODED-KEY dictionary through
    the SQL door (full_text_search.test:283 `id @@ ts_between(...)`):
    the bare INTEGER column in the USING list indexes its memcmp key,
    and ts_between bounds encode the same way."""
    ss = _session_over(spark, sf_dir)
    ss.sql("CREATE OR REPLACE TABLE nrdocs AS "
           "SELECT doc_id, n_chars, text FROM documents")
    ss.sql("ALTER TABLE nrdocs ADD PRIMARY KEY (doc_id)")
    ss.sql("CREATE INDEX nr_idx ON nrdocs "
           "USING inverted(n_chars, text simple)")
    return ss.sql("SELECT doc_id, n_chars FROM nr_idx "
                  "WHERE n_chars @@ ts_between(100, 220) "
                  "ORDER BY doc_id")


_register("fts_sql_numeric_range", _fts_sql_numeric_range, """
SELECT doc_id, n_chars FROM documents
WHERE n_chars BETWEEN 100 AND 220 ORDER BY doc_id
""")


def _sql_search_dml(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DELETE ... WHERE text @@ (...) — the claimed match set resolves
    through the inverted index and applies as a PK anti-join
    (statements._dml_where → session.delete_matching), then a plain
    aggregate over the survivors."""
    ss = _session_over(spark, sf_dir)
    ss.sql("CREATE OR REPLACE TABLE sdml_docs AS "
           "SELECT doc_id, lang, text FROM documents")
    ss.sql("ALTER TABLE sdml_docs ADD PRIMARY KEY (doc_id)")
    ss.sql("CREATE INDEX sdml_idx ON sdml_docs USING inverted(text simple)")
    ss.sql("DELETE FROM sdml_docs WHERE text @@ ('spark' || 'stream')")
    return ss.sql("SELECT lang, count(*) AS n FROM sdml_docs "
                  "GROUP BY lang ORDER BY lang")


_register("sql_search_dml", _sql_search_dml, f"""
SELECT lang, count(*) AS n FROM documents
WHERE doc_id NOT IN (SELECT doc_id FROM (
  {O.match_sql(_DOC_TABLE, _DOC_COL, "simple",
               q.Term("spark") | q.Term("stream"))}) m)
GROUP BY lang ORDER BY lang
""")


# covered (INCLUDE) columns: the docstore materializes included columns
# without touching the base table — reference INCLUDE / `included` opclass
def _fts_covered_include(spark: SparkSession, sf_dir: str) -> DataFrame:
    idx = doc_index(spark, sf_dir)  # docstore includes lang/source/n_chars
    ids = compile_query(idx, _DOC_COL, q.Phrase(["table", "scan"])).doc_ids
    return (
        idx.docstore.join(ids, "doc_id", "left_semi")
        .select("doc_id", "lang", "source", "n_chars")
        .transform(_ordered, "doc_id")
    )


def _register_covered() -> None:
    m = O.match_sql(_DOC_TABLE, _DOC_COL, _DOC_AN, q.Phrase(["table", "scan"]),
                    select="doc_id, lang, source, n_chars", order="doc_id")
    _register("fts_covered_include", _fts_covered_include, m)


_register_covered()


# stemmed index (reference `text` template stems by default,
# create_tsdictionary.cpp:261): Term('join') must hit docs saying 'joins'
def _fts_stemmed(spark: SparkSession, sf_dir: str) -> DataFrame:
    idx = doc_index(spark, sf_dir, analyzer="text")
    return compile_query(idx, _DOC_COL, q.Term("join")).doc_ids.transform(_ordered, "doc_id")


_register("fts_stemmed_term", _fts_stemmed,
          O.match_sql(_DOC_TABLE, _DOC_COL, "text", q.Term("join"),
                      order="doc_id"))


# per-locale snowball templates (reference resolves the `locale` option
# per dictionary, create_tsdictionary.cpp:255-340 + tokenizer_options.h:88;
# analysis/snowball.py generates the three lock-step representations from
# the published rule tables). The query term is stemmed at registration
# time through the SAME analyzer the index uses, so inflections conflate;
# the oracle re-tokenizes every document with the generated DuckDB
# fragment — a full pipeline equivalence check per locale.
def _register_locale_stemmed() -> None:
    from serenedb_spark.analysis.analyzers import get_analyzer

    def make(lc: str, word: str):
        term = get_analyzer(f"text_{lc}").tokens(word)[0]

        def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
            idx = doc_index(spark, sf_dir, analyzer=f"text_{lc}")
            return (compile_query(idx, _DOC_COL, q.Term(term))
                    .doc_ids.transform(_ordered, "doc_id"))

        _register(
            f"fts_stemmed_term_{lc}", fn,
            O.match_sql(_DOC_TABLE, _DOC_COL, f"text_{lc}", q.Term(term),
                        order="doc_id"))

    # en included: the REAL Porter2 snowball (analysis/porter2.py) —
    # 'table' stems to 'tabl' in all three representations
    for _lc in ("en", "de", "fr", "es", "ru", "it", "pt", "nl", "sv",
                "da", "no", "fi", "hu", "tr", "ro", "el",
                "lt", "id", "ga"):
        make(_lc, "table")


_register_locale_stemmed()


# minhash analyzer (create_tsdictionary.cpp:758): the index's term
# dictionary IS the corpus signature table — facet it
def _fts_minhash_dict(spark: SparkSession, sf_dir: str) -> DataFrame:
    idx = doc_index(spark, sf_dir, analyzer="minhash4")
    return FC.ts_dict(idx, _DOC_COL).transform(_ordered, "term")


def _register_minhash_dict() -> None:
    from serenedb_spark.analysis.analyzers import get_analyzer

    _register(
        "fts_minhash_sig_facets", _fts_minhash_dict,
        FC.duckdb_ts_dict_sql(
            _DOC_TABLE, _DOC_COL, get_analyzer("minhash4").duckdb(_DOC_COL)
        ) + " ORDER BY term",
    )


_register_minhash_dict()


# classification analyzer (create_tsdictionary.cpp:535; deterministic
# hash-classifier stand-in for fastText — analyzers._classification):
# the index's term dictionary is the corpus label distribution
def _fts_classification_facets(spark: SparkSession, sf_dir: str) -> DataFrame:
    idx = doc_index(spark, sf_dir, analyzer="classification")
    return FC.ts_dict(idx, _DOC_COL).transform(_ordered, "term")


def _fts_nn_expansion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nearest_neighbors analyzer (create_tsdictionary.cpp:549): querying
    one synthetic neighbor term must hit every doc containing the source
    word — the query side expands with the same analyzer."""
    from serenedb_spark.analysis.analyzers import get_analyzer

    idx = doc_index(spark, sf_dir, analyzer="nearest_neighbors")
    nn_term = get_analyzer("nearest_neighbors").tokens("spark")[0]
    return compile_query(idx, _DOC_COL, q.Term(nn_term)).doc_ids.transform(_ordered, "doc_id")


def _register_model_analyzer_entries() -> None:
    from serenedb_spark.analysis.analyzers import get_analyzer

    _register(
        "fts_classification_facets", _fts_classification_facets,
        FC.duckdb_ts_dict_sql(
            _DOC_TABLE, _DOC_COL,
            get_analyzer("classification").duckdb(_DOC_COL)
        ) + " ORDER BY term",
    )
    nn_term = get_analyzer("nearest_neighbors").tokens("spark")[0]
    _register(
        "fts_nn_expansion", _fts_nn_expansion,
        O.match_sql(_DOC_TABLE, _DOC_COL, "nearest_neighbors",
                    q.Term(nn_term), order="doc_id"),
    )


_register_model_analyzer_entries()


# REAL trained fastText-format model (scripts/train_langid_model.py →
# analysis/models/langid_tiny.bin): the classification_model analyzer
# runs real inference — softmax over averaged trained word vectors —
# through the same index plumbing; the oracle computes the identical
# per-word score-sum join-aggregate in DuckDB
def _text_classifier_real_model(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    idx = doc_index(spark, sf_dir, analyzer="classification_model")
    return FC.ts_dict(idx, _DOC_COL).transform(_ordered, "term")


def _text_classifier_real_model_oracle() -> str:
    from serenedb_spark.analysis.analyzers import get_analyzer

    return FC.duckdb_ts_dict_sql(
        _DOC_TABLE, _DOC_COL,
        get_analyzer("classification_model").duckdb(_DOC_COL)
    ) + " ORDER BY term"


_register("text_classifier_real_model", _text_classifier_real_model,
          _text_classifier_real_model_oracle())


# synonym-expanded index: querying 'quick' must hit docs saying 'fast'
def _fts_synonyms(spark: SparkSession, sf_dir: str) -> DataFrame:
    idx = doc_index(spark, sf_dir, analyzer="synonyms_demo")
    return compile_query(idx, _DOC_COL, q.Term("quick")).doc_ids.transform(_ordered, "doc_id")


_register("fts_synonyms", _fts_synonyms,
          O.match_sql(_DOC_TABLE, _DOC_COL, "synonyms_demo", q.Term("quick"),
                      order="doc_id"))


#: accented word battery for the collation analyzer (literal VALUES —
#: identical in both engines; mixes case, accents and plain forms so all
#: three key levels are exercised)
_COLLATION_WORDS = (
    "café", "cafe", "Cafe", "CAFE", "Äpfel", "apfel", "Apfel", "Zebra",
    "zèbre", "école", "ecole", "Ecole", "résumé", "resume", "naïve",
    "naive", "señor", "senor", "über", "uber",
)


def _fts_collation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Locale-aware ordering via the `collation` analyzer's sort keys
    (reference collation template, create_tsdictionary.cpp:342): distinct
    doc sources + an accented battery, ordered by the three-level key —
    café/cafe/Cafe group by primary strength, then accents, then case."""
    from serenedb_spark.analysis.analyzers import get_analyzer

    an = get_analyzer("collation")
    docs = load_tables(spark, sf_dir)["documents"]
    words = docs.select(F.col("source").alias("word")).distinct().unionByName(
        spark.createDataFrame([(w,) for w in _COLLATION_WORDS], "word string")
    )
    key = an.expr(F.col("word"))[0]
    return (
        words.select("word", key.alias("ckey"))
        .transform(_ordered, "ckey")
        .select("word")
    )


def _fts_collation_oracle() -> str:
    from serenedb_spark.analysis.analyzers import get_analyzer

    an = get_analyzer("collation")
    vals = ", ".join(f"('{w}')" for w in _COLLATION_WORDS)
    key = an.duckdb("word")
    return f"""
WITH w AS (
  SELECT DISTINCT source AS word FROM documents
  UNION ALL SELECT word FROM (VALUES {vals}) t(word)
)
SELECT word FROM (SELECT word, {key}[1] AS ckey FROM w)
ORDER BY ckey
"""


_register("fts_collation", _fts_collation, _fts_collation_oracle())


# substring/code search over a SPARSE ngram index (reference demo6 scheme:
# ~1/3 postings density vs all-grams, lossless cover — see
# analyzers._sparse_ngram for the invariant)
def _fts_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    from serenedb_spark.operators.code_search import sparse_substring_search

    idx = doc_index(spark, sf_dir, analyzer="sparse_ngram3")
    return sparse_substring_search(idx, "text", "ark ba").transform(_ordered, "doc_id")


def _register_substring() -> None:
    from serenedb_spark.operators.code_search import duckdb_substring_sql

    _register("fts_substring_search", _fts_substring,
              duckdb_substring_sql(_DOC_TABLE, _DOC_COL, "ark ba"))


_register_substring()


# offsets + highlight over the matched set (late materialization:
# candidate ids from the postings plan, offsets recomputed on k docs only)
def _fts_offsets(spark: SparkSession, sf_dir: str) -> DataFrame:
    from serenedb_spark.functions.highlight import ts_offsets

    idx = doc_index(spark, sf_dir)
    ids = compile_query(idx, _DOC_COL, q.Term("spark")).doc_ids
    matched = idx.docstore.join(ids, "doc_id", "left_semi").select("doc_id", "text")
    return ts_offsets(matched, "text", "spark").transform(_ordered, "doc_id", "start")


def _fts_offsets_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OFFSETS for every term of a disjunction (reference ts_offsets.cpp
    emits all matched terms' ranges): docs matching any of the terms, one
    (term, start, len) row per occurrence."""
    from serenedb_spark.functions.highlight import ts_offsets_multi

    idx = doc_index(spark, sf_dir)
    terms = ["hash", "join"]
    ids = compile_query(idx, _DOC_COL, q.AnyOf(terms)).doc_ids
    matched = idx.docstore.join(ids, "doc_id", "left_semi").select(
        "doc_id", "text")
    return ts_offsets_multi(matched, "text", terms).transform(_ordered, 
        "doc_id", "term", "start")


def _fts_highlight(spark: SparkSession, sf_dir: str) -> DataFrame:
    from serenedb_spark.functions.highlight import ts_highlight

    idx = doc_index(spark, sf_dir)
    ids = compile_query(idx, _DOC_COL, q.Term("window")).doc_ids
    matched = idx.docstore.join(ids, "doc_id", "left_semi").select("doc_id", "text")
    return ts_highlight(matched, "text", "window").transform(_ordered, "doc_id")


def _register_highlight_entries() -> None:
    from serenedb_spark.functions.highlight import (
        duckdb_ts_highlight_sql, duckdb_ts_offsets_multi_sql,
        duckdb_ts_offsets_sql,
    )

    m_spark = O.match_sql(_DOC_TABLE, _DOC_COL, _DOC_AN, q.Term("spark"),
                          select="doc_id, text")
    _register(
        "fts_offsets", _fts_offsets,
        duckdb_ts_offsets_sql(f"({m_spark}) m", "text", "spark")
        + " ORDER BY doc_id, start",
    )
    m_any = O.match_sql(_DOC_TABLE, _DOC_COL, _DOC_AN,
                        q.AnyOf(["hash", "join"]), select="doc_id, text")
    _register(
        "fts_offsets_multi", _fts_offsets_multi,
        "SELECT * FROM (\n"
        + duckdb_ts_offsets_multi_sql(f"({m_any}) m", "text",
                                      ["hash", "join"])
        + "\n) ORDER BY doc_id, term, start",
    )
    m_win = O.match_sql(_DOC_TABLE, _DOC_COL, _DOC_AN, q.Term("window"),
                        select="doc_id, text")
    _register(
        "fts_highlight", _fts_highlight,
        duckdb_ts_highlight_sql(f"({m_win}) m", "text", "window")
        + " ORDER BY doc_id",
    )
    # sentence-boundary snippets: the fixture text has no punctuation, so
    # sentence structure is derived deterministically (120-char chunks
    # joined by '. '/'! ') identically in both engines, then the snippet is
    # the full derived sentence containing the match
    sent_sql = (
        f"SELECT doc_id, concat(substr(text, 1, 120), '. ',"
        f" substr(text, 121, 120), '! ', substr(text, 241, 120)) AS text"
        f" FROM ({m_win}) m0"
    )
    _register(
        "fts_highlight_sentence", _fts_highlight_sentence,
        duckdb_ts_highlight_sql(f"({sent_sql}) m", "text", "window",
                                boundary="sentence")
        + " ORDER BY doc_id, snippet",
    )
    # non-en suppression tailoring (CLDR de): the derived text plants
    # German abbreviations ('Nr.', 'z.B.', 'Dr.') INSIDE the sentence
    # that holds the match — with the en list those dots would cut the
    # snippet short, so the row verifies the de tailoring end to end
    de_sql = (
        f"SELECT doc_id, concat('Nr. 7 gilt. Siehe z.B. ',"
        f" substr(text, 1, 100), ' laut Dr. Weber ',"
        f" substr(text, 101, 80), '! Ende hier.') AS text"
        f" FROM ({m_win}) m0"
    )
    _register(
        "fts_sentence_seg_multilingual", _fts_sentence_seg_de,
        duckdb_ts_highlight_sql(f"({de_sql}) m", "text", "window",
                                boundary="sentence", locale="de")
        + " ORDER BY doc_id, snippet",
    )


def _fts_sentence_seg_de(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sentence snippets under the GERMAN suppression tailoring
    (SENTENCE_ABBREVIATIONS_BY_LOCALE['de'], CLDR subset): 'Nr.',
    'z.B.', 'Dr.' must not terminate the sentence (reference: ICU de
    break data, ts_highlight.cpp)."""
    from serenedb_spark.functions.highlight import ts_highlight

    idx = doc_index(spark, sf_dir)
    ids = compile_query(idx, _DOC_COL, q.Term("window")).doc_ids
    matched = (
        idx.docstore.join(ids, "doc_id", "left_semi")
        .select(
            "doc_id",
            F.concat(
                F.lit("Nr. 7 gilt. Siehe z.B. "),
                F.substring("text", 1, 100),
                F.lit(" laut Dr. Weber "),
                F.substring("text", 101, 80),
                F.lit("! Ende hier."),
            ).alias("text"),
        )
    )
    return ts_highlight(matched, "text", "window", boundary="sentence",
                        locale="de").transform(_ordered, "doc_id", "snippet")


def _fts_highlight_sentence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ts_highlight boundary='sentence' (reference ts_highlight.cpp ICU
    sentence breaks; portable UAX#29 core — [.!?] + space/end)."""
    from serenedb_spark.functions.highlight import ts_highlight

    idx = doc_index(spark, sf_dir)
    ids = compile_query(idx, _DOC_COL, q.Term("window")).doc_ids
    matched = (
        idx.docstore.join(ids, "doc_id", "left_semi")
        .select(
            "doc_id",
            F.concat(
                F.substring("text", 1, 120), F.lit(". "),
                F.substring("text", 121, 120), F.lit("! "),
                F.substring("text", 241, 120),
            ).alias("text"),
        )
    )
    return ts_highlight(matched, "text", "window",
                        boundary="sentence").transform(_ordered, "doc_id", "snippet")


_register_highlight_entries()


# ES multi_match over a TWO-FIELD index (text + source, each with its own
# analyzer): per-field analysis, per-field scoring, best_fields combine
def _doc_index_multi(spark: SparkSession, sf_dir: str) -> InvertedIndex:
    return _built(spark, sf_dir, "documents_multi", lambda: build_index(
        load_tables(spark, sf_dir)["documents"],
        {"text": "simple", "source": "simple"},
        key="doc_id", name="documents_multi").persist())


def _es_multi_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    from serenedb_spark.plans.es_dsl import es_search

    idx = _doc_index_multi(spark, sf_dir)
    body = {"query": {"multi_match": {
        "query": "spark src3", "fields": ["text", "source"],
        "type": "best_fields",
    }}, "size": 25}
    return es_search(idx, body)


def _es_multi_match_oracle() -> str:
    node = q.AnyOf(["spark", "src3"])
    t_sql = O.scored_sql(_DOC_TABLE, _DOC_COL, _DOC_AN, node,
                         scorer="bm25", k=None, round_to=10)
    s_sql = O.scored_sql(_DOC_TABLE, "source", _DOC_AN, node,
                         scorer="bm25", k=None, round_to=10)
    return f"""
WITH t AS ({t_sql}), s AS ({s_sql})
SELECT doc_id,
  round(greatest(coalesce(t.score, 0.0), coalesce(s.score, 0.0)), 4)
    AS score
FROM t FULL JOIN s USING (doc_id)
ORDER BY score DESC, doc_id LIMIT 25
"""


_register("es_multi_match", _es_multi_match, _es_multi_match_oracle())


def _es_dis_max(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES dis_max over heterogeneous clauses (a phrase and a term on
    different fields) with tie_breaker — best_fields multi_match lowers
    onto this combine (dsl.cpp dis_max)."""
    from serenedb_spark.plans.es_dsl import es_search

    idx = _doc_index_multi(spark, sf_dir)
    body = {"query": {"dis_max": {
        "queries": [
            {"match_phrase": {"text": "table scan"}},
            {"term": {"source": "src3"}},
        ],
        "tie_breaker": 0.3,
    }}, "size": 20}
    return es_search(idx, body)


def _es_dis_max_oracle() -> str:
    t_sql = O.scored_sql(_DOC_TABLE, _DOC_COL, _DOC_AN,
                         q.Phrase(["table", "scan"]),
                         scorer="bm25", k=None, round_to=10)
    s_sql = O.scored_sql(_DOC_TABLE, "source", _DOC_AN, q.Term("src3"),
                         scorer="bm25", k=None, round_to=10)
    return f"""
WITH t AS ({t_sql}), s AS ({s_sql}),
u AS (SELECT doc_id, score FROM t UNION ALL SELECT doc_id, score FROM s),
g AS (SELECT doc_id, max(score) AS m, sum(score) AS sm
      FROM u GROUP BY doc_id)
SELECT doc_id, round(m + 0.3 * (sm - m), 4) AS score
FROM g ORDER BY score DESC, doc_id LIMIT 20
"""


_register("es_dis_max", _es_dis_max, _es_dis_max_oracle())


def _composite_idx(spark: SparkSession, sf_dir: str) -> InvertedIndex:
    """Demo3 §7 index shape: the SAME text column indexed twice — once
    word-wise (`text`, simple) and once as character trigrams
    (`text_ngram`, ngram3) — so regex/fuzzy and ngram-similarity claims
    resolve against their own postings (reference demo3/demo.sql:169-177:
    `text @@ ... AND text_ngram @@ ts_ngram(...)`)."""
    return _built(spark, sf_dir, "documents_composite", lambda: build_index(
        load_tables(spark, sf_dir)["documents"]
        .withColumn("text_ngram", F.col("text")),
        {"text": "simple", "text_ngram": "ngram3"},
        key="doc_id", name="documents_composite").persist())


def _fts_composite_cross_field(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Demo3 §7 composite verbatim: (regex && fuzzy) on the word field,
    ngram-similarity on the trigram field, an attribute filter, ranked by
    BM25 over the word-field match terms."""
    idx = _composite_idx(spark, sf_dir)
    text_node = q.Regexp("s(park|can|low)") & q.Fuzzy("sprk", 1)
    c_text = compile_query(idx, "text", text_node)
    c_ngram = compile_query(idx, "text_ngram", q.NgramSim("sparkle", 0.5))
    matched = (
        c_text.doc_ids
        .join(c_ngram.doc_ids, "doc_id", "left_semi")
        .join(idx.docstore.where(F.col("lang") == "en").select("doc_id"),
              "doc_id", "left_semi")
    )
    s = _score(idx, "text", c_text.score_terms, "bm25")
    return (
        matched.join(s, "doc_id", "left")
        .select("doc_id",
                F.round(F.coalesce(F.col("score"), F.lit(0.0)), 4)
                .alias("score"))
        .orderBy(F.col("score").desc(), "doc_id")
        .limit(10)
    )


def _fts_composite_oracle() -> str:
    text_node = q.Regexp("s(park|can|low)") & q.Fuzzy("sprk", 1)
    sc = O.scored_sql(_DOC_TABLE, _DOC_COL, _DOC_AN, text_node,
                      scorer="bm25", k=None, round_to=10)
    ng = O.match_sql(_DOC_TABLE, _DOC_COL, "ngram3",
                     q.NgramSim("sparkle", 0.5), select="doc_id")
    return f"""
WITH sc AS ({sc}), ng AS ({ng}),
flt AS (SELECT doc_id FROM documents WHERE lang = 'en')
SELECT sc.doc_id, round(sc.score, 4) AS score
FROM sc JOIN ng USING (doc_id) JOIN flt USING (doc_id)
ORDER BY score DESC, doc_id LIMIT 10
"""


_register("fts_composite_cross_field", _fts_composite_cross_field,
          _fts_composite_oracle())


def _es_bool_cross_field(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-field bool (ES semantics): must match on `text` (scores),
    filter term on `source` (restricts, does NOT score) — each clause
    compiled against its own field's postings."""
    from serenedb_spark.plans.es_dsl import es_search

    idx = _doc_index_multi(spark, sf_dir)
    body = {"query": {"bool": {
        "must": [{"match": {"text": "spark"}}],
        "filter": [{"term": {"source": "src3"}}],
    }}, "size": 25}
    return es_search(idx, body)


def _es_bool_cross_field_oracle() -> str:
    t_sql = O.scored_sql(_DOC_TABLE, _DOC_COL, _DOC_AN, q.Term("spark"),
                         scorer="bm25", k=None, round_to=10)
    m_src = O.match_sql(_DOC_TABLE, "source", _DOC_AN, q.Term("src3"),
                        select="doc_id")
    return f"""
WITH t AS ({t_sql}), s AS ({m_src})
SELECT t.doc_id, round(t.score, 4) AS score
FROM t JOIN s USING (doc_id)
ORDER BY score DESC, doc_id LIMIT 25
"""


_register("es_bool_cross_field", _es_bool_cross_field,
          _es_bool_cross_field_oracle())


# ES query DSL: translated to the same AST → same planner and oracle
_ES_BODY = {"query": {"bool": {
    "must": [{"match": {"text": "data"}}],
    "must_not": [{"term": {"text": "dup"}}],
    "should": [{"term": {"text": "spark"}}, {"match_phrase": {"text": "hash join"}}],
    "minimum_should_match": 1,
}}, "size": 25}


def _es_dsl_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    from serenedb_spark.plans.es_dsl import es_search

    idx = doc_index(spark, sf_dir)
    return es_search(idx, _ES_BODY)


_register(
    "es_dsl_search", _es_dsl_search,
    O.scored_sql(_DOC_TABLE, _DOC_COL, _DOC_AN, q.Compound(
        must=[q.AnyOf(["data"])], must_not=[q.Term("dup")],
        should=[q.Term("spark"), q.Phrase(["hash", "join"])],
        min_should_match=1,
    ), scorer="bm25", k=25),
)

# facets: term dictionary aggregates (ts_dict_*)
def _fts_facets(spark: SparkSession, sf_dir: str) -> DataFrame:
    idx = doc_index(spark, sf_dir)
    return FC.ts_dict(idx, _DOC_COL).transform(_ordered, "term")


_register(
    "fts_dict_facets", _fts_facets,
    FC.duckdb_ts_dict_sql(
        _DOC_TABLE, _DOC_COL,
        "list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), t -> t <> '')",
    ) + " ORDER BY term",
)


def _fts_facets_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    idx = doc_index(spark, sf_dir)
    docs = compile_query(idx, _DOC_COL, q.Term("dup")).doc_ids
    return FC.ts_dict_score(idx, docs, _DOC_COL).transform(_ordered, "term")


_register("fts_dict_score", _fts_facets_score, """
WITH base AS (SELECT doc_id,
    list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), t -> t <> '') AS toks
  FROM documents),
m AS (SELECT doc_id FROM base WHERE toks IS NOT NULL AND list_contains(toks, 'dup')),
tok AS (SELECT doc_id, unnest(toks) AS term FROM base),
p AS (SELECT doc_id, term, count(*)::INT AS freq FROM tok GROUP BY 1, 2),
ts AS (SELECT term, count(*) AS df FROM p GROUP BY 1),
ds AS (SELECT doc_id, len(toks) AS dl FROM base WHERE toks IS NOT NULL),
g AS (SELECT count(*) AS n_docs,
             (SELECT coalesce(sum(len(toks)), 0) FROM base)::DOUBLE / count(*) AS avgdl
      FROM base)
SELECT term,
  round(sum(
    ln(1.0 + (g.n_docs - ts.df + 0.5) / (ts.df + 0.5))
    * (p.freq * 2.2) / (p.freq + 1.2 * (0.25 + 0.75 * ds.dl / g.avgdl))
  ), 4) AS score,
  count(*) AS doc_count
FROM p
JOIN m USING (doc_id)
JOIN ts USING (term)
JOIN ds USING (doc_id)
CROSS JOIN g
GROUP BY term
ORDER BY term
""")


def _fts_facets_minmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    idx = doc_index(spark, sf_dir)
    return FC.ts_dict_minmax(idx, _DOC_COL)


_register("fts_dict_minmax", _fts_facets_minmax, """
WITH tok AS (
  SELECT doc_id, unnest(list_filter(
    regexp_split_to_array(lower(text), '[^a-z0-9]+'), t -> t <> '')) AS term
  FROM documents
),
td AS (SELECT term FROM tok GROUP BY term)
SELECT min(term) AS term_min, max(term) AS term_max, count(*) AS n_terms
FROM td
""")


def _fts_facets_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    idx = doc_index(spark, sf_dir)
    docs = compile_query(idx, _DOC_COL, q.Term("dup")).doc_ids
    return FC.ts_dict_filtered(idx, docs, _DOC_COL).transform(_ordered, "term")


_register(
    "fts_dict_filtered", _fts_facets_filtered,
    """
WITH base AS (SELECT doc_id,
    list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), t -> t <> '') AS toks
  FROM documents),
m AS (SELECT doc_id, toks FROM base WHERE toks IS NOT NULL AND list_contains(toks, 'dup')),
tok AS (SELECT doc_id, unnest(toks) AS term FROM m),
p AS (SELECT doc_id, term, count(*) AS freq FROM tok GROUP BY 1, 2)
SELECT term, count(*) AS doc_count, CAST(sum(freq) AS BIGINT) AS total_freq
FROM p GROUP BY term ORDER BY term
""",
)


# --------------------------------------------------------------------------
# 3. dedup + text analysis (training-data pipeline operators)
# --------------------------------------------------------------------------

def _dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir)["documents"]
    return _ordered(DD.exact_dedup_keep(docs, "text", "doc_id")
                    .select("doc_id"), "doc_id")


_register("dedup_exact_keep", _dedup_exact, """
SELECT doc_id FROM documents
WHERE doc_id IN (SELECT min(doc_id) FROM documents GROUP BY md5(text))
ORDER BY doc_id
""")


def _dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir)["documents"]
    return _ordered(DD.minhash_lsh_pairs(docs, "text", "doc_id"),
                    "id_a", "id_b")


_register(
    "dedup_minhash_pairs", _dedup_minhash,
    DD.duckdb_minhash_pairs_sql("documents", "text", "doc_id")
    + " ORDER BY id_a, id_b",
)


# LSH pairs → connected components → canonical survivor per cluster:
# the full corpus-dedup chain (candidate pairs are upstream, so the
# iterative label propagation runs on the tiny near-dup graph only)
def _dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir)["documents"]
    pairs = DD.minhash_lsh_pairs(docs, "text", "doc_id")
    return DD.dup_clusters(pairs).transform(_ordered, "id")


_register(
    "dedup_clusters", _dedup_clusters,
    DD.duckdb_dup_clusters_sql(
        DD.duckdb_minhash_pairs_sql("documents", "text", "doc_id"))
    + " ORDER BY id",
)


def _dedup_keep_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir)["documents"]
    pairs = DD.minhash_lsh_pairs(docs, "text", "doc_id")
    clusters = DD.dup_clusters(pairs)
    return (DD.dedup_keep_canonical(docs, clusters, "doc_id")
            .select("doc_id").transform(_ordered, "doc_id"))


_register(
    "dedup_keep_canonical", _dedup_keep_canonical,
    f"""
WITH clusters AS ({DD.duckdb_dup_clusters_sql(
        DD.duckdb_minhash_pairs_sql("documents", "text", "doc_id"))})
SELECT doc_id FROM documents
WHERE doc_id NOT IN (SELECT id FROM clusters WHERE id <> cluster)
ORDER BY doc_id
""",
)


def _dedup_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir)["documents"]
    return DD.jaccard_pairs(docs, "text", "doc_id", threshold=0.8).transform(_ordered, "id_a", "id_b")


_register(
    "dedup_jaccard_pairs", _dedup_jaccard,
    f"""
WITH pairs AS ({DD.duckdb_minhash_pairs_sql("documents", "text", "doc_id")}),
toks AS (SELECT doc_id AS id,
    list_distinct(list_transform(
      range(1, greatest(len(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), t -> t <> '')) - 2, 0) + 1),
      i -> array_to_string(list_slice(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), t -> t <> ''), i, i + 2), ' ')
    )) AS toks
  FROM documents)
SELECT id_a, id_b,
  round(len(list_intersect(a.toks, b.toks))::DOUBLE
        / len(list_distinct(a.toks || b.toks)), 6) AS jaccard
FROM pairs JOIN toks a ON a.id = id_a JOIN toks b ON b.id = id_b
WHERE round(len(list_intersect(a.toks, b.toks))::DOUBLE
        / len(list_distinct(a.toks || b.toks)), 6) >= 0.8
ORDER BY id_a, id_b
""",
)


def _dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir)["documents"]
    return DD.simhash_dedup(docs, "text", "doc_id", bits=16).transform(_ordered, "doc_id")


_register("dedup_simhash", _dedup_simhash, """
WITH base AS (SELECT doc_id,
    list_distinct(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), t -> t <> '')) AS toks
  FROM documents),
h AS (SELECT doc_id,
    -- uint32 from the first 8 md5 hex chars, digit-by-digit (DuckDB has no
    -- conv(); mirrors Spark's conv(substr(md5,1,8),16,10))
    list_transform(toks, t -> list_sum(list_transform(range(0, 8),
      j -> (strpos('0123456789abcdef', substr(md5(t), j + 1, 1)) - 1)
           * (1::BIGINT << (4 * (7 - j)))))) AS hs
  FROM base)
SELECT doc_id,
  list_sum(list_transform(range(0, 16), i ->
    CASE WHEN list_sum(list_transform(hs, x ->
      CASE WHEN (x // (1::BIGINT << i)) % 2 = 1 THEN 1 ELSE -1 END)) >= 0
    THEN (1::BIGINT << i) ELSE 0 END))::BIGINT AS simhash
FROM h ORDER BY doc_id
""")


def _dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir)["documents"]
    return DD.simhash_pairs(docs, "text", "doc_id").transform(_ordered, "id_a", "id_b")


_register(
    "dedup_simhash_pairs", _dedup_simhash_pairs,
    DD.duckdb_simhash_pairs_sql("documents", "text", "doc_id")
    + " ORDER BY id_a, id_b",
)


def _text_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir)["documents"]
    return TS.token_count(docs, "text", "simple", "doc_id").transform(_ordered, "doc_id")


_register("text_token_count", _text_tokens, """
SELECT doc_id,
  len(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), t -> t <> '')) AS n_tokens
FROM documents ORDER BY doc_id
""")


#: deterministic PII suffix planted per document (testdata has no real
#: identifiers) — both engines build the same input, so the redaction
#: cascade + per-category counts are oracle-checkable end to end
_PII_SUFFIX_SPARK = (
    "concat(text, ' contact user', CAST(doc_id AS STRING),"
    " '@example.com or +1-555-', CAST(1000 + doc_id % 9000 AS STRING),"
    " ' at 10.0.', CAST(doc_id % 256 AS STRING), '.1')"
)
_PII_SUFFIX_DUCK = (
    "text || ' contact user' || doc_id || '@example.com or +1-555-'"
    " || (1000 + doc_id % 9000) || ' at 10.0.' || (doc_id % 256) || '.1'"
)


def _text_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir)["documents"]
    seeded = docs.selectExpr("doc_id", f"{_PII_SUFFIX_SPARK} AS text")
    return _ordered(TS.redact_pii(seeded, "text", "doc_id"), "doc_id")


def _register_text_redact() -> None:
    inner = TS.duckdb_redact_sql(
        f"(SELECT doc_id, {_PII_SUFFIX_DUCK} AS text FROM documents)")
    _register("text_redact_pii", _text_redact,
              inner + " ORDER BY doc_id")


_register_text_redact()


def _text_chunk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir)["documents"]
    return _ordered(TS.chunk_documents(docs, chunk_tokens=24, overlap=6),
                    "doc_id", "chunk_no")


_register("text_chunk", _text_chunk,
          TS.duckdb_chunk_sql("documents", 24, 6)
          + " ORDER BY doc_id, chunk_no")


def _text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir)["documents"]
    return _ordered(TS.quality_score(docs, "text", "doc_id"), "doc_id")


_register("text_quality", _text_quality,
          TS.duckdb_quality_sql("documents", "text", "doc_id") + " ORDER BY doc_id")


def _text_gopher(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir)["documents"]
    return _ordered(TS.gopher_rules(docs, "text", "doc_id"), "doc_id")


_register("text_gopher_rules", _text_gopher,
          TS.duckdb_gopher_sql("documents", "text", "doc_id")
          + " ORDER BY doc_id")


def _text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir)["documents"]
    return _ordered(TS.lang_id(docs, "text", "doc_id"), "doc_id")


_register("text_lang_id", _text_langid,
          TS.duckdb_lang_id_sql("documents", "text", "doc_id") + " ORDER BY doc_id")


def _text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir)["documents"]
    return TS.fingerprint(docs, "text", "doc_id").transform(_ordered, "doc_id")


_register("text_fingerprint", _text_fingerprint,
          TS.duckdb_fingerprint_sql("documents", "text", "doc_id") + " ORDER BY doc_id")


# the end-to-end training-data cleaning pipeline (all stages composed)
def _pipeline_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    from serenedb_spark.operators.pipeline import CleanConfig, clean_corpus

    docs = load_tables(spark, sf_dir)["documents"]
    cfg = CleanConfig(languages=("en", "de"))
    return clean_corpus(docs, cfg).select("doc_id").transform(_ordered, "doc_id")


def _register_pipeline() -> None:
    from serenedb_spark.operators.pipeline import CleanConfig, duckdb_clean_corpus_sql

    cfg = CleanConfig(languages=("en", "de"))
    _register("pipeline_clean_corpus", _pipeline_clean,
              duckdb_clean_corpus_sql("documents", cfg))


_register_pipeline()


# --------------------------------------------------------------------------
# 3b. multimodal columns (binary payload + mapInPandas decode stubs)
# --------------------------------------------------------------------------

#: DuckDB uint32 from 8 hex chars of `h` starting at 1-based `pos`
#: (cast back to BIGINT: list_sum widens to HUGEINT, which pandas
#: renders as float64 and diverges from Spark's int64 in the hash)
def _duck_hex_u32(h: str, pos: int) -> str:
    return (
        f"CAST(list_sum(list_transform(range(0, 8), j ->"
        f" (strpos('0123456789abcdef', substr({h}, {pos} + j, 1)) - 1)"
        f" * (1::BIGINT << (4 * (7 - j))))) AS BIGINT)"
    )


_DUCK_MEDIA_TYPE = (
    "CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END"
)


def _mm_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from serenedb_spark.operators.multimodal import decode_media, docs_as_media

    docs = load_tables(spark, sf_dir)["documents"]
    return _ordered(decode_media(docs_as_media(docs)), "doc_id")


_register("mm_decode_meta", _mm_decode, f"""
WITH m AS (SELECT doc_id, md5(text) AS h, {_DUCK_MEDIA_TYPE} AS media_type,
                  octet_length(encode(text)) AS n_bytes
           FROM documents),
u AS (SELECT *, {_duck_hex_u32('h', 1)} AS a, {_duck_hex_u32('h', 9)} AS b,
             {_duck_hex_u32('h', 17)} AS c FROM m)
SELECT doc_id, media_type, n_bytes,
  CASE media_type WHEN 'image' THEN 64 + a % 1857
                  WHEN 'video' THEN 64 + a % 1857 ELSE 0 END AS width,
  CASE media_type WHEN 'image' THEN 64 + b % 1017
                  WHEN 'video' THEN 64 + b % 1017 ELSE 0 END AS height,
  CASE media_type WHEN 'image' THEN 1 + c % 4
                  WHEN 'audio' THEN 1 + a % 2 ELSE 3 END AS channels,
  CASE media_type WHEN 'audio' THEN 500 + b % 600000
                  WHEN 'video' THEN 1000 + c % 7200000 ELSE 0 END AS duration_ms,
  h AS checksum
FROM u ORDER BY doc_id
""")


def _mm_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    from serenedb_spark.operators.multimodal import docs_as_media, frame_sample

    docs = load_tables(spark, sf_dir)["documents"]
    return frame_sample(docs_as_media(docs)).transform(_ordered, "doc_id", "frame_no")


_register("mm_frame_sample", _mm_frames, f"""
WITH m AS (SELECT doc_id, md5(text) AS h FROM documents WHERE doc_id % 3 = 2),
u AS (SELECT doc_id, {_duck_hex_u32('h', 17)} AS c FROM m),
d AS (SELECT doc_id, 1000 + c % 7200000 AS duration_ms FROM u),
n AS (SELECT doc_id,
        CAST(least(duration_ms // 60000 + 1, 8) AS BIGINT) AS n_frames FROM d)
SELECT doc_id, unnest(range(0, n_frames))::INT AS frame_no,
       unnest(range(0, n_frames))::BIGINT * 60000 AS frame_ts_ms
FROM n ORDER BY doc_id, frame_no
""")


def _mm_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from serenedb_spark.operators.multimodal import docs_as_media, extract_features

    docs = load_tables(spark, sf_dir)["documents"]
    feats = extract_features(docs_as_media(docs.where(F.col("doc_id") < 100)))
    return feats.select(
        "doc_id", F.posexplode("features").alias("i", "v")
    ).select("doc_id", "i", F.round(F.col("v").cast("double"), 4).alias("v")).transform(_ordered, "doc_id", "i")


_register("mm_features", _mm_features, f"""
WITH m AS (SELECT doc_id, md5(text) AS h0 FROM documents WHERE doc_id < 100),
c AS (SELECT doc_id, h0, md5(h0) AS h1, md5(md5(h0)) AS h2,
             md5(md5(md5(h0))) AS h3 FROM m),
v AS (SELECT doc_id, [
  {', '.join(_duck_hex_u32(f'h{r}', p) for r in range(4) for p in (1, 9, 17, 25))}
 ] AS ints FROM c)
SELECT doc_id, CAST(i - 1 AS INT) AS i,
  round(CAST(ints[i] % 10000 AS DOUBLE) / 10000.0, 4) AS v
FROM (SELECT doc_id, unnest(range(1, 17)) AS i, ints FROM v)
ORDER BY doc_id, i
""")


# --------------------------------------------------------------------------
# 4. vector search (SURVEY §2.4)
# --------------------------------------------------------------------------

#: deterministic 64-dim query vector (exact decimal floats, same literal in
#: both engines)
QUERY_VEC = [((i * 37) % 19 - 9) / 10.0 for i in range(64)]


def _vec_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_tables(spark, sf_dir)["embeddings"]
    return SIM.knn_exact(emb, "embedding", QUERY_VEC, k=10, metric="cosine")


_register("vec_knn_cosine", _vec_knn, f"""
SELECT vec_id,
  round({V.duckdb_cosine_distance("embedding", V.duckdb_lit_vector(QUERY_VEC))}, 6) AS distance
FROM embeddings ORDER BY distance, vec_id LIMIT 10
""")


# demo4 Q1/Q2 shapes THROUGH SQL TEXT: pgvector-style distance operators
# (`embedding <=> ARRAY[...]::FLOAT[64]`) in ORDER BY (ANN top-k) and in
# WHERE (range scan), parsed by plans/search_sql.py and lowered onto the
# exact distance scan (the flat fallback the reference also plans without
# an ANN index; the IVF physical path stays behind the session facade).
_QVEC_SQL = ("ARRAY[" + ", ".join(repr(float(x)) for x in QUERY_VEC)
             + "]::FLOAT[64]")


def _vec_sql(name: str, sql_text: str, oracle: str) -> None:
    from serenedb_spark.plans import search_sql as SS

    def fn(spark: SparkSession, sf_dir: str, _sql=sql_text) -> DataFrame:
        tabs = load_tables(spark, sf_dir)
        st = SS.parse_select(_sql, lambda t, c: None)
        return SS.execute_select(st, None, lambda n: tabs[n])

    _register(name, fn, oracle)


_vec_sql("vec_sql_knn", f"""
SELECT vec_id, round(embedding <=> {_QVEC_SQL}, 6) AS distance
FROM embeddings
ORDER BY round(embedding <=> {_QVEC_SQL}, 6), vec_id
LIMIT 10
""", f"""
SELECT vec_id,
  round({V.duckdb_cosine_distance("embedding", V.duckdb_lit_vector(QUERY_VEC))}, 6) AS distance
FROM embeddings ORDER BY distance, vec_id LIMIT 10
""")

_vec_sql("vec_sql_radius", f"""
SELECT vec_id FROM embeddings
WHERE embedding <=> {_QVEC_SQL} < 0.95
ORDER BY vec_id
""", f"""
SELECT vec_id FROM embeddings
WHERE {V.duckdb_cosine_distance("embedding", V.duckdb_lit_vector(QUERY_VEC))} < 0.95
ORDER BY vec_id
""")


def _vec_sql_knn_prepared(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN top-k with the query vector as a $1 PREPARE parameter — the
    reference rebinds every EXECUTE so the claim fires on the
    parameter constant (iresearch_plan.cpp:272-276 parity)."""
    ss = _session_over(spark, sf_dir)
    ss.sql(f"""PREPARE vq AS
        SELECT vec_id, round(embedding <=> $1, 6) AS distance
        FROM embeddings
        ORDER BY round(embedding <=> $1, 6), vec_id
        LIMIT 10""")
    return ss.sql(f"EXECUTE vq({_QVEC_SQL})")


_register("vec_sql_knn_prepared", _vec_sql_knn_prepared, f"""
SELECT vec_id,
  round({V.duckdb_cosine_distance("embedding",
                                  V.duckdb_lit_vector(QUERY_VEC))}, 6)
  AS distance
FROM embeddings ORDER BY distance, vec_id LIMIT 10
""")


def _vec_radius(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_tables(spark, sf_dir)["embeddings"]
    return SIM.radius_search(
        emb, "embedding", QUERY_VEC, radius=0.95, metric="cosine"
    ).transform(_ordered, "vec_id")


_register("vec_radius_cosine", _vec_radius, f"""
SELECT vec_id,
  round({V.duckdb_cosine_distance("embedding", V.duckdb_lit_vector(QUERY_VEC))}, 6) AS distance
FROM embeddings
WHERE round({V.duckdb_cosine_distance("embedding", V.duckdb_lit_vector(QUERY_VEC))}, 6) < 0.95
ORDER BY vec_id
""")


def _vec_knn_l2(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_tables(spark, sf_dir)["embeddings"]
    return SIM.knn_exact(emb, "embedding", QUERY_VEC, k=10, metric="l2")


_register("vec_knn_l2", _vec_knn_l2, f"""
SELECT vec_id,
  round({V.duckdb_l2("embedding", V.duckdb_lit_vector(QUERY_VEC))}, 6) AS distance
FROM embeddings ORDER BY distance, vec_id LIMIT 10
""")


def _vec_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_tables(spark, sf_dir)["embeddings"]
    qv = V.lit_vector(QUERY_VEC)
    e = F.col("embedding")
    return (
        emb.where(F.col("vec_id") < 50)
        .select(
            "vec_id",
            F.round(V.inner_product(e, qv), 6).alias("ip"),
            F.round(V.l1_distance(e, qv), 6).alias("l1"),
            F.round(V.l2_norm(e), 6).alias("norm"),
            F.round(V.cosine_similarity(e, qv), 6).alias("cos_sim"),
        )
        .transform(_ordered, "vec_id")
    )


_register("vec_functions", _vec_funcs, f"""
SELECT vec_id,
  round({V.duckdb_inner_product("embedding", V.duckdb_lit_vector(QUERY_VEC))}, 6) AS ip,
  round({V.duckdb_l1("embedding", V.duckdb_lit_vector(QUERY_VEC))}, 6) AS l1,
  round({V.duckdb_l2_norm("embedding")}, 6) AS norm,
  round({V.duckdb_inner_product("embedding", V.duckdb_lit_vector(QUERY_VEC))}
    / ({V.duckdb_l2_norm("embedding")} * {V.duckdb_l2_norm(V.duckdb_lit_vector(QUERY_VEC))}), 6) AS cos_sim
FROM embeddings WHERE vec_id < 50 ORDER BY vec_id
""")


def _vec_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN: rows-only check (approximate — no exact SQL oracle), but at
    nprobe=nlist it degenerates to exact search, so assert that shape."""
    emb = load_tables(spark, sf_dir)["embeddings"]
    ivf = SIM.ivf_build(emb, "embedding", "vec_id", nlist=8, metric="cosine")
    return SIM.ivf_search(ivf, QUERY_VEC, k=10, nprobe=8)


_register("vec_ivf_full_probe", _vec_ivf, f"""
SELECT vec_id,
  round({V.duckdb_cosine_distance("embedding", V.duckdb_lit_vector(QUERY_VEC))}, 6) AS distance
FROM embeddings ORDER BY distance, vec_id LIMIT 10
""")


def _quantized(spark: SparkSession, sf_dir: str, kind: str, train,
               vectors: DataFrame) -> tuple:
    """(quantizer, codes): the quantizer ``train()`` gives and its codes
    over ``vectors``, built once per (session, sf_dir) and the codes
    persisted — the registered queries scan codes only, the way a real
    index would (codes written at CREATE INDEX time, not per query).
    Trained stats are driver-side constants, so both plans embed
    identical literals."""
    def build() -> tuple:
        model = train()
        return model, SIM.encode(vectors, model, "embedding").persist()

    return _built(spark, sf_dir, kind, build)


def _vec_sq8_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_tables(spark, sf_dir)["embeddings"]
    sq, codes = _quantized(
        spark, sf_dir, "sq8", lambda: SIM.SQ8.train(emb, "embedding"), emb)
    return SIM.knn_codes(codes, sq, QUERY_VEC, k=10, metric="cosine")


# The SQ8 oracle computes the train stats (per-dim min/max) IN SQL so the
# same string is valid at every scale factor; the Spark side trains the
# identical stats from the same table, so the decoded vectors agree exactly.
_SQ8_ORACLE = f"""
WITH dims AS (
  SELECT i, min(e::DOUBLE) AS mn, max(e::DOUBLE) AS mx
  FROM (SELECT unnest(embedding) AS e,
               generate_subscripts(embedding, 1) AS i FROM embeddings)
  GROUP BY i
),
stats AS (
  SELECT list(mn ORDER BY i) AS mins,
         list(CASE WHEN mx - mn = 0 THEN 1.0 ELSE mx - mn END ORDER BY i) AS scales
  FROM dims
),
decoded AS (
  SELECT vec_id,
    list_transform(range(1, len(embedding) + 1), i ->
      mins[i] + greatest(least(floor(255.0 * (embedding[i]::DOUBLE - mins[i])
        / scales[i] + 0.5), 255.0), 0.0) * scales[i] / 255.0) AS d
  FROM embeddings, stats
)
SELECT vec_id,
  round({V.duckdb_cosine_distance("d", V.duckdb_lit_vector(QUERY_VEC))}, 6) AS distance
FROM decoded ORDER BY distance, vec_id LIMIT 10
"""


_register("vec_sq8_knn", _vec_sq8_knn, _SQ8_ORACLE)


#: IVF×SQ8 composed (the reference's `ivf(quant=sq8)` opclass): codes live
#: inside the centroid-partitioned layout; at nprobe=nlist the probe
#: degenerates to exact SQ8 search, so the SQ8 oracle checks it exactly
def _vec_ivf_sq8(spark: SparkSession, sf_dir: str) -> DataFrame:
    def build() -> SIM.IVFIndex:
        emb = load_tables(spark, sf_dir)["embeddings"]
        ivf = SIM.ivf_build(emb, "embedding", "vec_id", nlist=8, quant="sq8")
        ivf.assigned.persist()
        return ivf

    ivf = _built(spark, sf_dir, "ivf_sq8", build)
    return SIM.ivf_search(ivf, QUERY_VEC, k=10, nprobe=8)


_register("vec_ivf_sq8_knn", _vec_ivf_sq8, _SQ8_ORACLE)


#: PQ parity path: deterministic sampled codebook (the first ksub vectors
#: by vec_id are the seeds — k-means init, zero Lloyd iterations) so the
#: oracle can rebuild the identical codebook in SQL at any scale factor.
_PQ_M, _PQ_KSUB, _PQ_DS = 8, 8, 8  # 64-dim embeddings → 8 subspaces of 8


def _vec_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_tables(spark, sf_dir)["embeddings"]
    pq, codes = _quantized(
        spark, sf_dir, "pq",
        lambda: SIM.PQ.from_seed_rows(
            [[float(x) for x in r.embedding]
             for r in emb.orderBy("vec_id").limit(_PQ_KSUB).collect()],
            _PQ_M),
        emb)
    return SIM.knn_codes(codes, pq, QUERY_VEC, k=10)


# The oracle rebuilds the sampled codebook in SQL (seeds CTE), assigns each
# subvector to its nearest sub-centroid (min-j tie-break = Spark's
# array_position-of-min), and sums the per-subspace query distances in
# subspace order (list_reduce over list(... ORDER BY m) ≡ the Spark
# sequential fold).
_PQ_ORACLE = f"""
WITH q AS (SELECT {V.duckdb_lit_vector(QUERY_VEC)} AS qv),
seeds AS (
  SELECT row_number() OVER (ORDER BY vec_id) AS j, embedding AS sv
  FROM (SELECT * FROM embeddings ORDER BY vec_id LIMIT {_PQ_KSUB})
),
ms AS (SELECT unnest(range(1, {_PQ_M} + 1)) AS m),
sub AS (
  SELECT d.vec_id, ms.m, s.j,
    list_reduce(list_transform(range(1, {_PQ_DS} + 1), i ->
      (d.embedding[(ms.m - 1) * {_PQ_DS} + i]::DOUBLE - s.sv[(ms.m - 1) * {_PQ_DS} + i]::DOUBLE)
      * (d.embedding[(ms.m - 1) * {_PQ_DS} + i]::DOUBLE - s.sv[(ms.m - 1) * {_PQ_DS} + i]::DOUBLE)),
      (x, y) -> x + y) AS dd,
    list_reduce(list_transform(range(1, {_PQ_DS} + 1), i ->
      (q.qv[(ms.m - 1) * {_PQ_DS} + i] - s.sv[(ms.m - 1) * {_PQ_DS} + i]::DOUBLE)
      * (q.qv[(ms.m - 1) * {_PQ_DS} + i] - s.sv[(ms.m - 1) * {_PQ_DS} + i]::DOUBLE)),
      (x, y) -> x + y) AS qd
  FROM embeddings d CROSS JOIN ms CROSS JOIN seeds s CROSS JOIN q
),
mins AS (SELECT vec_id, m, min(dd) AS mind FROM sub GROUP BY vec_id, m),
code AS (
  SELECT sub.vec_id, sub.m, min(sub.j) AS cj
  FROM sub JOIN mins ON mins.vec_id = sub.vec_id AND mins.m = sub.m
    AND sub.dd = mins.mind
  GROUP BY sub.vec_id, sub.m
),
adc AS (
  SELECT code.vec_id,
    list_reduce(list(sub.qd ORDER BY sub.m), (x, y) -> x + y) AS dist
  FROM code JOIN sub ON sub.vec_id = code.vec_id AND sub.m = code.m
    AND sub.j = code.cj
  GROUP BY code.vec_id
)
SELECT vec_id, round(dist, 6) AS distance
FROM adc ORDER BY distance, vec_id LIMIT 10
"""


_register("vec_pq_adc_knn", _vec_pq_adc, _PQ_ORACLE)


#: binary (sign) quantization: per-dim midrange threshold is min/max-only —
#: order-independent, so Spark training and the SQL oracle agree exactly
def _vec_binary_quant(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_tables(spark, sf_dir)["embeddings"]
    bq, bits = _quantized(
        spark, sf_dir, "binary",
        lambda: SIM.BinaryQuant.train(emb, "embedding"), emb)
    return SIM.knn_codes(bits, bq, QUERY_VEC, k=10)


_BQ_ORACLE = f"""
WITH q AS (SELECT {V.duckdb_lit_vector(QUERY_VEC)} AS qv),
dims AS (
  SELECT i, (min(e::DOUBLE) + max(e::DOUBLE)) / 2.0 AS mid
  FROM (SELECT unnest(embedding) AS e,
               generate_subscripts(embedding, 1) AS i FROM embeddings)
  GROUP BY i
),
stats AS (SELECT list(mid ORDER BY i) AS mids FROM dims),
qb AS (
  SELECT list_transform(range(1, len(qv) + 1),
           i -> CASE WHEN qv[i] > mids[i] THEN 1 ELSE 0 END) AS qbits
  FROM q, stats
),
bits AS (
  SELECT vec_id,
    list_transform(range(1, len(embedding) + 1),
      i -> CASE WHEN embedding[i]::DOUBLE > mids[i] THEN 1 ELSE 0 END) AS b
  FROM embeddings, stats
)
SELECT vec_id,
  list_reduce(list_transform(range(1, len(b) + 1),
    i -> CASE WHEN b[i] <> qbits[i] THEN 1 ELSE 0 END),
    (x, y) -> x + y)::INT AS hamming
FROM bits, qb ORDER BY hamming, vec_id LIMIT 10
"""


_register("vec_binary_quant_knn", _vec_binary_quant, _BQ_ORACLE)


# RaBitQ (reference quant=rabitq, index.cpp:300-460): seeded orthogonal
# rotation + sign bits + per-vector correction scalars + the unbiased
# estimator. The rotation is data-INDEPENDENT (regenerated from the seed
# on both sides); the centroid is the per-dim midrange, computed from
# the data by Spark's train() and by the oracle's own SQL — every float
# comes from the same left-fold order, so the ESTIMATES hash-match.
def _rabitq(spark: SparkSession, sf_dir: str, emb: DataFrame) -> tuple:
    return _quantized(
        spark, sf_dir, "rabitq", lambda: SIM.RaBitQ.train(emb, "embedding"),
        emb)


def _vec_rabitq(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_tables(spark, sf_dir)["embeddings"]
    rq, codes = _rabitq(spark, sf_dir, emb)
    return SIM.knn_codes(codes, rq, QUERY_VEC, k=10)


def _vec_rabitq_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_tables(spark, sf_dir)["embeddings"]
    rq, codes = _rabitq(spark, sf_dir, emb)
    return SIM.rerank_knn(codes, emb, rq, QUERY_VEC, k=10, shortlist=60)


def _rabitq_oracle(k: int, rerank: bool = False,
                   shortlist: int = 60, round_to: int = 6) -> str:
    d = len(QUERY_VEC)
    rot = SIM.RaBitQ.rotation_matrix(d)
    s = repr(1.0 / math.sqrt(d))
    qv = V.duckdb_lit_vector(QUERY_VEC)

    def dotrow(j: int, var: str) -> str:
        row = "[" + ", ".join(repr(x) for x in rot[j]) + "]"
        return (f"list_reduce(list_transform(range(1, {d} + 1),"
                f" i -> {var}[i] * ({row})[i]), (a, b) -> a + b)")

    rots = ", ".join(dotrow(j, "res") + f" AS r{j}" for j in range(d))
    signed_sum = " + ".join(
        f"(CASE WHEN r{j} > 0 THEN {s} ELSE -{s} END) * r{j}"
        for j in range(d))
    bits_arr = ", ".join(
        f"CASE WHEN r{j} > 0 THEN 1 ELSE 0 END" for j in range(d))
    qrots = ", ".join(dotrow(j, "qres") + f" AS qr{j}" for j in range(d))
    qrot_arr = ", ".join(
        f"CASE WHEN qnorm > 0 THEN qr{j} / qnorm ELSE 0.0 END"
        for j in range(d))
    est = f"""
WITH dims AS (
  SELECT i, (min(e::DOUBLE) + max(e::DOUBLE)) / 2.0 AS mid
  FROM (SELECT unnest(embedding) AS e,
               generate_subscripts(embedding, 1) AS i FROM embeddings)
  GROUP BY i),
stats AS (SELECT list(mid ORDER BY i) AS mids FROM dims),
qres_t AS (
  SELECT list_transform(range(1, {d} + 1),
           i -> ({qv})[i] - mids[i]) AS qres
  FROM stats),
qn_t AS (
  SELECT qres, sqrt(list_reduce(list_transform(qres, x -> x * x),
                    (a, b) -> a + b)) AS qnorm
  FROM qres_t),
qrot_t AS (SELECT qnorm, {qrots} FROM qn_t),
qhat AS (SELECT qnorm, [{qrot_arr}] AS qh FROM qrot_t),
res_t AS (
  SELECT vec_id,
    list_transform(range(1, {d} + 1),
      i -> embedding[i]::DOUBLE - mids[i]) AS res
  FROM embeddings, stats),
rot_t AS (
  SELECT vec_id, res,
    sqrt(list_reduce(list_transform(res, x -> x * x),
         (a, b) -> a + b)) AS norm,
    {rots}
  FROM res_t),
enc AS (
  SELECT vec_id, norm, [{bits_arr}] AS bits,
    CASE WHEN norm > 0 THEN ({signed_sum}) / norm ELSE 0.0 END AS obar_o
  FROM rot_t),
est AS (
  SELECT vec_id, norm, obar_o, qnorm,
    list_reduce(list_transform(range(1, {d} + 1),
      i -> (CASE WHEN bits[i] = 1 THEN {s} ELSE -{s} END) * qh[i]),
      (a, b) -> a + b) AS obar_q
  FROM enc, qhat),
scored AS (
  SELECT vec_id,
    round(norm * norm + qnorm * qnorm
          - 2.0 * norm * qnorm
            * (CASE WHEN obar_o <> 0.0 THEN obar_q / obar_o
               ELSE 0.0 END), {round_to}) + 0.0 AS est_d2
  FROM est)
"""
    if not rerank:
        return est + f"""
SELECT vec_id, est_d2 FROM scored ORDER BY est_d2, vec_id LIMIT {k}"""
    l2 = V.duckdb_l2_sqr("e.embedding", qv)
    return est + f"""
, short AS (SELECT vec_id FROM scored
            ORDER BY est_d2, vec_id LIMIT {shortlist})
SELECT e.vec_id, round({l2}, {round_to}) + 0.0 AS d2
FROM embeddings e JOIN short USING (vec_id)
ORDER BY d2, e.vec_id LIMIT {k}"""


_register("vec_rabitq_knn", _vec_rabitq, _rabitq_oracle(10))
_register("vec_rabitq_rerank", _vec_rabitq_rerank,
          _rabitq_oracle(10, rerank=True))


def _vec_rabitq_highdim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RaBitQ at REAL embedding dims (1536 = the 64-dim corpus tiled
    24×): exercises the numpy/Arrow encode path — the dim² literal plan
    cannot codegen here, so there is no SQL-expressible oracle (the
    DuckDB twin would be a 2.4M-literal statement); the driver records
    the weaker rows-only check, and test_vector_ops pins numpy==expr
    parity at gate dims."""
    emb = load_tables(spark, sf_dir)["embeddings"]
    hd = emb.select(
        "vec_id",
        F.flatten(F.array_repeat(F.col("embedding"), 24)).alias("embedding"))
    rq, codes = _quantized(
        spark, sf_dir, "rabitq_hd",
        lambda: SIM.RaBitQ([0.0] * 1536, SIM.RaBitQ.rotation_matrix(1536)),
        hd)
    qv = [float(x) for x in QUERY_VEC] * 24
    return SIM.rerank_knn(codes, hd, rq, qv, k=10, shortlist=60)


_register("vec_rabitq_highdim", _vec_rabitq_highdim, None)


_MD_TILES = 4  # 64-dim corpus tiled to 256 dims


def _vec_rabitq_middim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The oracle-gated twin of vec_rabitq_highdim: the SAME numpy/Arrow
    encode path (mapInPandas, broadcast rotation, BLAS matmul) at 256
    dims — a dimension where the dim² literal DuckDB plan still compiles
    (256² = 65k literals vs 1536²'s 2.4M). Same untrained zero centroid
    as highdim. numpy's pairwise summation can differ from the oracle's
    left-fold in the last ulp, which the round(est, 6) shortlist and the
    exact float rerank both absorb — so the numpy path is hash-gated
    end-to-end here, leaving the 1536-dim row as pure codegen-limit
    evidence."""
    emb = load_tables(spark, sf_dir)["embeddings"]
    md = emb.select(
        "vec_id",
        F.flatten(F.array_repeat(F.col("embedding"),
                                 _MD_TILES)).alias("embedding"))
    d = 64 * _MD_TILES
    rq, codes = _quantized(
        spark, sf_dir, "rabitq_md",
        lambda: SIM.RaBitQ([0.0] * d, SIM.RaBitQ.rotation_matrix(d)), md)
    qv = [float(x) for x in QUERY_VEC] * _MD_TILES
    return SIM.rerank_knn(codes, md, rq, qv, k=10, shortlist=60)


def _rabitq_middim_oracle(k: int = 10, shortlist: int = 60,
                          round_to: int = 6) -> str:
    """DuckDB twin of _vec_rabitq_middim: tiled corpus, zero centroid
    (res = the vector itself), rotate→sign-bits→estimate→exact-rerank.

    RELATIONAL matmul, not the 64-dim oracle's d² scalar-expression plan:
    at 256 dims that plan is 131k interpreted list-lambdas and measured
    ~25 min at sf0.01. Here the rotation ships as ONE 65k-literal flat
    list, unnested once into (j, i, val) rows, and every dot product is a
    vectorized join + GROUP BY SUM — seconds instead of minutes. SUM's
    addition order is engine-chosen (unlike the left-fold 64-dim oracle),
    exactly like numpy's pairwise order on the Spark side; both land
    within 1e-12 of the real value, which round(est, 6) and the exact
    float rerank absorb — the same argument that makes the numpy encode
    path hash-gateable at all."""
    d = 64 * _MD_TILES
    rot = SIM.RaBitQ.rotation_matrix(d)
    s = repr(1.0 / math.sqrt(d))
    flat = "[" + ", ".join(repr(x) for row in rot for x in row) + "]"
    qv = V.duckdb_lit_vector([float(x) for x in QUERY_VEC] * _MD_TILES)
    tiled = ", ".join(["embedding"] * _MD_TILES)
    l2 = V.duckdb_l2_sqr("e.embedding", qv)
    return f"""
WITH base AS (
  SELECT vec_id, flatten([{tiled}]) AS embedding FROM embeddings),
rotflat AS (
  SELECT unnest({flat}) AS val,
         generate_subscripts({flat}, 1) AS idx),
rot AS (
  SELECT ((idx - 1) // {d})::INT AS j, ((idx - 1) % {d})::INT + 1 AS i, val
  FROM rotflat),
res AS (
  SELECT vec_id, generate_subscripts(embedding, 1) AS i,
         unnest(embedding)::DOUBLE AS v
  FROM base),
norm_t AS (
  SELECT vec_id, sqrt(sum(v * v)) AS norm FROM res GROUP BY vec_id),
rotv AS (
  SELECT vec_id, j, sum(v * val) AS r
  FROM res JOIN rot USING (i) GROUP BY vec_id, j),
qres AS (
  SELECT generate_subscripts({qv}, 1) AS i, unnest({qv}) AS v),
qn_t AS (SELECT sqrt(sum(v * v)) AS qnorm FROM qres),
qrotv AS (
  SELECT j, sum(v * val) AS qr
  FROM qres JOIN rot USING (i) GROUP BY j),
qhat AS (
  SELECT j, CASE WHEN qnorm > 0 THEN qr / qnorm ELSE 0.0 END AS qh
  FROM qrotv, qn_t),
enc AS (
  SELECT vec_id,
    sum((CASE WHEN r > 0 THEN {s} ELSE -{s} END) * r) AS sgn,
    sum((CASE WHEN r > 0 THEN {s} ELSE -{s} END) * qh) AS obar_q
  FROM rotv JOIN qhat USING (j) GROUP BY vec_id),
est AS (
  SELECT n.vec_id, n.norm, qn_t.qnorm,
    CASE WHEN n.norm > 0 THEN e2.sgn / n.norm ELSE 0.0 END AS obar_o,
    e2.obar_q
  FROM norm_t n JOIN enc e2 USING (vec_id), qn_t),
scored AS (
  SELECT vec_id,
    round(norm * norm + qnorm * qnorm
          - 2.0 * norm * qnorm
            * (CASE WHEN obar_o <> 0.0 THEN obar_q / obar_o
               ELSE 0.0 END), {round_to}) + 0.0 AS est_d2
  FROM est),
short AS (SELECT vec_id FROM scored
          ORDER BY est_d2, vec_id LIMIT {shortlist})
SELECT e.vec_id, round({l2}, {round_to}) + 0.0 AS d2
FROM base e JOIN short USING (vec_id)
ORDER BY d2, e.vec_id LIMIT {k}"""


_register("vec_rabitq_middim", _vec_rabitq_middim, _rabitq_middim_oracle())


def _vec_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs, exact semantics: all pairs with cosine ≥ threshold.
    At test scale the full self-join is fine; at 100 TB the same operator
    takes a bucket_col (IVF centroid) to bound the join.  The oracle is
    exact all-pairs SQL — the *spec* — so any recall loss is caught, not
    mirrored.  Threshold 0.4 is calibrated to the synthetic fixture (max
    pairwise cosine ≈ 0.51) so the gate sees a non-empty result."""
    emb = load_tables(spark, sf_dir)["embeddings"]
    return DD.embedding_dup_pairs(
        emb, "embedding", "vec_id", threshold=0.4
    ).transform(_ordered, "id_a", "id_b")


_register(
    "embedding_dup_pairs", _vec_dup_pairs,
    DD.duckdb_embedding_exact_pairs_sql("embeddings", "embedding", "vec_id",
                                        threshold=0.4)
    + " ORDER BY id_a, id_b",
)


def lsh_layout(spark: SparkSession, sf_dir: str):
    """Materialize the sign-LSH signature layout for the embeddings table
    (the CREATE INDEX half of embedding near-dup) once per (session,
    dataset); pair queries reuse it. Exposed so the bench can time it as
    its own ``lsh_build`` entry, like ``index_build``."""
    def build() -> tuple:
        emb = load_tables(spark, sf_dir)["embeddings"]
        base, banded = DD.embedding_lsh_layout(emb, "embedding", "vec_id")
        banded.count()  # materialize the persisted layout
        # counted layout statistic → broadcast decision in the pair query
        return base, banded, base.count()

    return _built(spark, sf_dir, "lsh", build)


def _vec_dup_pairs_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """APPROXIMATE near-dup pairs via sign-LSH buckets + exact cosine on
    within-bucket candidates — the 100 TB shape (banded equi-join, never a
    cartesian).  Recall < 1 by design: a qualifying pair differing in all
    band signatures is dropped.  The oracle mirrors the identical bucketing
    (parity check, not a spec check — embedding_dup_pairs is the spec).
    The signature layout (bits + band keys) is built once per (session,
    dataset) — the CREATE INDEX half — and pair queries reuse it."""
    base, banded, n_base = lsh_layout(spark, sf_dir)
    # single-partition sort, not orderBy: the result is driver-collect
    # sized, and a range exchange would re-execute the (broadcast-join)
    # child once more just to sample split points — profiled 1.74 s →
    # 1.14 s at sf0.1 with identical output order
    return DD.embedding_lsh_pairs_from(
        base, banded, threshold=0.4, base_rows=n_base
    ).repartition(1).sortWithinPartitions("id_a", "id_b")


_register(
    "embedding_dup_pairs_lsh", _vec_dup_pairs_lsh,
    DD.duckdb_embedding_lsh_pairs_sql("embeddings", "embedding", "vec_id",
                                      threshold=0.4)
    + " ORDER BY id_a, id_b",
)


def _vec_hybrid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid text+vector (reference demo4 Q3): docs matching a term, ranked
    by embedding distance (doc_id ↔ vec_id share the id space)."""
    tabs = load_tables(spark, sf_dir)
    idx = doc_index(spark, sf_dir)
    ids = compile_query(idx, _DOC_COL, q.Term("spark")).doc_ids
    emb = tabs["embeddings"].withColumnRenamed("vec_id", "doc_id")
    return SIM.hybrid_search(emb, ids, "embedding", QUERY_VEC, k=10,
                             id_col="doc_id").withColumnRenamed("doc_id", "vec_id")


_register("vec_hybrid_search", _vec_hybrid, f"""
WITH m AS ({O.match_sql(_DOC_TABLE, _DOC_COL, _DOC_AN, q.Term("spark"))})
SELECT vec_id,
  round({V.duckdb_cosine_distance("embedding", V.duckdb_lit_vector(QUERY_VEC))}, 6) AS distance
FROM embeddings JOIN m ON m.doc_id = embeddings.vec_id
ORDER BY distance, vec_id LIMIT 10
""")


def _vec_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RRF hybrid: BM25 top-50 text ranking fused with cosine top-50
    vector ranking (doc_id ↔ vec_id share the id space)."""
    tabs = load_tables(spark, sf_dir)
    idx = doc_index(spark, sf_dir)
    node = q.AnyOf(["spark", "stream"])
    compiled = compile_query(idx, _DOC_COL, node)
    s = _score(idx, _DOC_COL, compiled.score_terms, "bm25")
    text_ranked = SIM.ranked(
        s.select("doc_id", F.round("score", 6).alias("score"))
        .orderBy(F.col("score").desc(), "doc_id").limit(50),
        "score", ascending=False,
    )
    emb = tabs["embeddings"].withColumnRenamed("vec_id", "doc_id")
    vec_ranked = SIM.ranked(
        SIM.knn_exact(emb, "embedding", QUERY_VEC, k=50, id_col="doc_id"),
        "distance", id_col="doc_id", ascending=True,
    )
    return SIM.rrf_fuse(text_ranked, vec_ranked, limit=15)


def _rrf_oracle() -> str:
    text_sql = O.scored_sql(
        _DOC_TABLE, _DOC_COL, _DOC_AN, q.AnyOf(["spark", "stream"]),
        scorer="bm25", k=50, round_to=6,
    )
    dist = V.duckdb_cosine_distance("embedding", V.duckdb_lit_vector(QUERY_VEC))
    return f"""
WITH t AS ({text_sql}),
tr AS (SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS rank_a FROM t),
v AS (SELECT vec_id AS doc_id, round({dist}, 6) AS distance
      FROM embeddings ORDER BY distance, doc_id LIMIT 50),
vr AS (SELECT doc_id, row_number() OVER (ORDER BY distance, doc_id) AS rank_b FROM v)
SELECT doc_id,
  round(coalesce(1.0 / (60 + rank_a), 0.0)
      + coalesce(1.0 / (60 + rank_b), 0.0), 6) AS rrf_score
FROM tr FULL JOIN vr USING (doc_id)
ORDER BY rrf_score DESC, doc_id
LIMIT 15
"""


_register("vec_rrf_hybrid", _vec_rrf, _rrf_oracle())


# --------------------------------------------------------------------------
# 5. geo predicates (cell prefilter + exact haversine; SURVEY §2.3 geo row)
# --------------------------------------------------------------------------

_GEO_Q = (37.5, 11.5, 400_000.0)  # query point + radius (m)


def _geo_radius(spark: SparkSession, sf_dir: str) -> DataFrame:
    from serenedb_spark.functions import geo as G

    ev = load_tables(spark, sf_dir)["events"]
    pts = G.synth_points(ev.select("event_id").distinct(), "event_id")
    lat, lon, r = _GEO_Q
    return G.radius_search(pts, lat, lon, r).transform(_ordered, "point_id")


def _geo_oracle() -> str:
    from serenedb_spark.functions import geo as G

    lat, lon, r = _GEO_Q
    pts = G.duckdb_synth_points(
        "(SELECT DISTINCT event_id FROM events)", "event_id"
    )
    dist = G.duckdb_haversine_m("lat", "lon", str(lat), str(lon))
    # the oracle runs the exact check with NO cell prefilter — equality
    # proves the covering lossless
    return f"""
SELECT point_id, round({dist}, 1) AS dist_m
FROM ({pts})
WHERE round({dist}, 1) < {r}
ORDER BY point_id
"""


_register("geo_radius_search", _geo_radius, _geo_oracle())


_GEO_Q_AM = (55.0, 179.9, 400_000.0)  # radius crossing the antimeridian


def _geo_radius_am(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Radius query centered at lon 179.9: the cell covering must wrap
    modulo 360 or points just west of −180 are silently dropped (VERDICT
    r4 #6; reference gets this from S2, libs/geo/)."""
    from serenedb_spark.functions import geo as G

    ev = load_tables(spark, sf_dir)["events"]
    pts = G.synth_points(ev.select("event_id").distinct(), "event_id")
    lat, lon, r = _GEO_Q_AM
    return G.radius_search(pts, lat, lon, r).transform(_ordered, "point_id")


def _geo_oracle_am() -> str:
    from serenedb_spark.functions import geo as G

    lat, lon, r = _GEO_Q_AM
    pts = G.duckdb_synth_points(
        "(SELECT DISTINCT event_id FROM events)", "event_id"
    )
    dist = G.duckdb_haversine_m("lat", "lon", str(lat), str(lon))
    return f"""
SELECT point_id, round({dist}, 1) AS dist_m
FROM ({pts})
WHERE round({dist}, 1) < {r}
ORDER BY point_id
"""


_register("geo_radius_antimeridian", _geo_radius_am, _geo_oracle_am())


def _geo_indexed_radius(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Radius search through the inverted index: geopoint analyzer cell
    terms → covering-term disjunction → postings → exact haversine on the
    late-materialized docstore (reference geopoint/S2 scheme,
    geo_filter_builder.cpp). Oracle = exact scan, proving the term-level
    covering lossless."""
    from serenedb_spark.functions import geo as G
    from serenedb_spark.operators.indexing import build_index

    def build() -> InvertedIndex:
        ev = load_tables(spark, sf_dir)["events"]
        pts = G.synth_points(ev.select("event_id").distinct(), "event_id")
        geo_df = pts.select(
            F.col("point_id").alias("doc_id"),
            F.concat_ws(",", "lat", "lon").alias("geo"),
            "lat", "lon",
        )
        return build_index(geo_df, {"geo": "geopoint"}, key="doc_id",
                           name="geo_idx").persist()

    idx = _built(spark, sf_dir, "geo", build)
    lat, lon, r = _GEO_Q
    return (
        G.indexed_radius_search(idx, "geo", lat, lon, r, id_col="doc_id")
        .select(F.col("doc_id").alias("point_id"), "dist_m")
        .transform(_ordered, "point_id")
    )


_register("geo_indexed_radius", _geo_indexed_radius, _geo_oracle())


def _geo_wkt_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WKT writer/reader round-trip (reference geometry_wkt.test: integer
    coordinates must render shortest-form and parse back exactly):
    synth points → 'POINT (lon lat)' → parsed coordinates."""
    from serenedb_spark.functions import geo as G

    ev = load_tables(spark, sf_dir)["events"]
    pts = G.synth_points(ev.select("event_id").distinct(), "event_id")
    wkt = G.wkt_point(F.col("lon"), F.col("lat"))
    out = pts.select("point_id", wkt.alias("wkt"))
    return out.select(
        "point_id", "wkt",
        F.round(G.wkt_point_x(F.col("wkt")), 6).alias("x"),
        F.round(G.wkt_point_y(F.col("wkt")), 6).alias("y"),
    ).transform(_ordered, "point_id")


def _geo_wkt_oracle() -> str:
    from serenedb_spark.functions import geo as G

    pts = G.duckdb_synth_points(
        "(SELECT DISTINCT event_id FROM events)", "event_id")
    wkt = G.duckdb_wkt_point("lon", "lat")
    return f"""
WITH p AS ({pts}), w AS (SELECT point_id, {wkt} AS wkt FROM p)
SELECT point_id, wkt,
  round({G.duckdb_wkt_point_x('wkt')}, 6) AS x,
  round({G.duckdb_wkt_point_y('wkt')}, 6) AS y
FROM w ORDER BY point_id
"""


_register("geo_wkt_roundtrip", _geo_wkt_roundtrip, _geo_wkt_oracle())


def _geo_bbox(spark: SparkSession, sf_dir: str) -> DataFrame:
    from serenedb_spark.functions import geo as G

    ev = load_tables(spark, sf_dir)["events"]
    pts = G.synth_points(ev.select("event_id").distinct(), "event_id")
    return G.bbox_contains(pts, 10.0, 30.0, -50.0, 0.0).transform(_ordered, "point_id")


def _geo_bbox_oracle() -> str:
    from serenedb_spark.functions import geo as G

    pts = G.duckdb_synth_points(
        "(SELECT DISTINCT event_id FROM events)", "event_id"
    )
    return f"""
SELECT point_id, lat, lon FROM ({pts})
WHERE lat >= 10.0 AND lat <= 30.0 AND lon >= -50.0 AND lon <= 0.0
ORDER BY point_id
"""


_register("geo_bbox_contains", _geo_bbox, _geo_bbox_oracle())


#: per-point circle radius (m) derived from the id — deterministic in SQL
_GEO_RADIUS_EXPR = "(point_id % 5) * 50000 + 10000"


def _geo_intersects(spark: SparkSession, sf_dir: str) -> DataFrame:
    from serenedb_spark.functions import geo as G

    ev = load_tables(spark, sf_dir)["events"]
    pts = G.synth_points(ev.select("event_id").distinct(), "event_id")
    pts = pts.withColumn(
        "radius_m",
        ((F.col("point_id") % 5) * 50000 + 10000).cast("double"),
    )
    lat, lon, r = _GEO_Q
    return G.circle_intersects(
        pts, lat, lon, r, "radius_m", max_radius_m=260_000.0
    ).transform(_ordered, "point_id")


def _geo_intersects_oracle() -> str:
    from serenedb_spark.functions import geo as G

    lat, lon, r = _GEO_Q
    pts = G.duckdb_synth_points(
        "(SELECT DISTINCT event_id FROM events)", "event_id"
    )
    dist = G.duckdb_haversine_m("lat", "lon", str(lat), str(lon))
    return f"""
SELECT point_id, round({dist}, 1) AS dist_m,
  ({_GEO_RADIUS_EXPR})::DOUBLE AS radius_m
FROM ({pts})
WHERE round({dist}, 1) <= ({_GEO_RADIUS_EXPR})::DOUBLE + {r}
ORDER BY point_id
"""


_register("geo_circle_intersects", _geo_intersects, _geo_intersects_oracle())


# convex query pentagon / polyline, (x=lon, y=lat) — literals shared by
# the Spark plan and the generated DuckDB predicate (functions/geometry.py)
_GEO_PENTAGON = [(5.03, 14.11), (17.21, 17.33), (14.47, 29.19),
                 (4.97, 31.61), (-1.53, 22.07)]
_GEO_LINESTRING = [(-60.13, -20.07), (-45.31, 5.17), (-30.27, -10.23),
                   (-15.11, 12.29)]


def _geo_polygon_contains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST_Contains(polygon, point) — covering-cell prefilter + unrolled
    ray cast (reference geo_filter_builder.cpp:523 S2 covering + exact
    check; libs/geo/)."""
    from serenedb_spark.functions import geo as G
    from serenedb_spark.functions import geometry as GM

    ev = load_tables(spark, sf_dir)["events"]
    pts = G.synth_points(ev.select("event_id").distinct(), "event_id")
    return GM.polygon_contains_points(pts, _GEO_PENTAGON).transform(_ordered, "point_id")


def _geo_polygon_contains_oracle() -> str:
    from serenedb_spark.functions import geo as G
    from serenedb_spark.functions import geometry as GM

    pts = G.duckdb_synth_points(
        "(SELECT DISTINCT event_id FROM events)", "event_id")
    pip = GM.duckdb_point_in_polygon("lon", "lat", _GEO_PENTAGON)
    # exact check WITHOUT the cell prefilter — equality proves the
    # polygon covering lossless
    return f"""
SELECT point_id, lat, lon FROM ({pts})
WHERE {pip}
ORDER BY point_id
"""


_register("geo_polygon_contains", _geo_polygon_contains,
          _geo_polygon_contains_oracle())


def _geo_polygon_intersects(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST_Intersects(polygon, square-polygon corpus) — dilated covering
    prefilter on the squares' center cells + separating-axis exact
    check."""
    from serenedb_spark.functions import geometry as GM

    orders = load_tables(spark, sf_dir)["orders"]
    sq = GM.synth_squares(orders.select("o_orderkey").distinct(),
                          "o_orderkey")
    return GM.polygon_intersects_squares(sq, _GEO_PENTAGON) \
        .transform(_ordered, "geom_id")


def _geo_polygon_intersects_oracle() -> str:
    from serenedb_spark.functions import geometry as GM

    sq = GM.duckdb_synth_squares(
        "(SELECT DISTINCT o_orderkey FROM orders)", "o_orderkey")
    sat = GM.duckdb_convex_polygon_intersects_rect(
        _GEO_PENTAGON, "cx", "cy", "half")
    return f"""
SELECT geom_id, cx, cy, half FROM ({sq})
WHERE {sat}
ORDER BY geom_id
"""


_register("geo_polygon_intersects", _geo_polygon_intersects,
          _geo_polygon_intersects_oracle())


def _geo_linestring_intersects(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST_Intersects(linestring, square-polygon corpus) — per-segment
    SAT after the dilated covering prefilter."""
    from serenedb_spark.functions import geometry as GM

    orders = load_tables(spark, sf_dir)["orders"]
    sq = GM.synth_squares(orders.select("o_orderkey").distinct(),
                          "o_orderkey")
    return GM.linestring_intersects_squares(sq, _GEO_LINESTRING) \
        .transform(_ordered, "geom_id")


def _geo_linestring_intersects_oracle() -> str:
    from serenedb_spark.functions import geometry as GM

    sq = GM.duckdb_synth_squares(
        "(SELECT DISTINCT o_orderkey FROM orders)", "o_orderkey")
    sat = GM.duckdb_linestring_intersects_rect(
        _GEO_LINESTRING, "cx", "cy", "half")
    return f"""
SELECT geom_id, cx, cy, half FROM ({sq})
WHERE {sat}
ORDER BY geom_id
"""


_register("geo_linestring_intersects", _geo_linestring_intersects,
          _geo_linestring_intersects_oracle())


def _geo_indexed_polygon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST_Intersects through the INVERTED INDEX: square polygons are
    rendered as GeoJSON and indexed by the `geojson` analyzer's
    bbox-cell terms; the query polygon's covering becomes an AnyOf term
    disjunction, the docstore late-materializes the covered (cx,cy,half)
    columns, SAT confirms exactly. Lossless end to end: any intersection
    point lies in a cell both coverings contain — the oracle is the
    direct exact scan with NO index."""
    from serenedb_spark.functions import geometry as GM

    cust = load_tables(spark, sf_dir)["customer"]
    sq = GM.synth_squares(cust.select("c_custkey").distinct(), "c_custkey")
    gj = F.concat(
        F.lit('{"type":"Polygon","coordinates":[[['),
        (F.col("cx") - F.col("half")).cast("string"), F.lit(","),
        (F.col("cy") - F.col("half")).cast("string"), F.lit("],["),
        (F.col("cx") + F.col("half")).cast("string"), F.lit(","),
        (F.col("cy") - F.col("half")).cast("string"), F.lit("],["),
        (F.col("cx") + F.col("half")).cast("string"), F.lit(","),
        (F.col("cy") + F.col("half")).cast("string"), F.lit("],["),
        (F.col("cx") - F.col("half")).cast("string"), F.lit(","),
        (F.col("cy") + F.col("half")).cast("string"), F.lit("],["),
        (F.col("cx") - F.col("half")).cast("string"), F.lit(","),
        (F.col("cy") - F.col("half")).cast("string"), F.lit("]]]}"),
    )
    docs = sq.select(F.col("geom_id").alias("doc_id"),
                     "cx", "cy", "half", gj.alias("geom"))
    idx = build_index(docs, {"geom": "geojson"}, key="doc_id",
                      name="geo_polygons")
    terms = [f"g1.0:{c}"
             for c in GM.polygon_covering_cells(_GEO_PENTAGON, 1.0)]
    ids = compile_query(idx, "geom", q.AnyOf(terms)).doc_ids
    return (
        idx.docstore.join(ids, "doc_id", "left_semi")
        .where(GM.convex_polygon_intersects_rect_col(
            _GEO_PENTAGON, F.col("cx"), F.col("cy"), F.col("half")))
        .select("doc_id", "cx", "cy", "half")
        .transform(_ordered, "doc_id")
    )


def _geo_indexed_polygon_oracle() -> str:
    from serenedb_spark.functions import geometry as GM

    sq = GM.duckdb_synth_squares(
        "(SELECT DISTINCT c_custkey FROM customer)", "c_custkey")
    sat = GM.duckdb_convex_polygon_intersects_rect(
        _GEO_PENTAGON, "cx", "cy", "half")
    return f"""
SELECT geom_id AS doc_id, cx, cy, half FROM ({sq})
WHERE {sat}
ORDER BY doc_id
"""


_register("geo_indexed_polygon", _geo_indexed_polygon,
          _geo_indexed_polygon_oracle())


# concave (10-vertex star) and multi-ring (donut) query polygons — the
# S2 path's arbitrary-polygon support (geo_filter_builder.cpp:523),
# re-expressed as even-odd ray casting + the exact three-way
# region-vs-square check (functions/geometry.py Rings section)
_GEO_STAR = [
    (65.03, -25.11), (47.61, -19.93), (41.27, -2.87), (34.81, -19.73),
    (17.19, -24.89), (30.77, -36.91), (28.03, -55.13), (42.11, -43.17),
    (57.91, -54.79), (53.87, -36.99),
]
_GEO_DONUT = [
    # outer hexagon around (-60, 40), radius ~25
    [(-35.13, 40.07), (-47.29, 61.83), (-72.91, 61.97), (-85.07, 39.89),
     (-72.69, 18.11), (-47.51, 18.23)],
    # hole: square radius ~10
    [(-50.21, 30.17), (-50.03, 49.91), (-69.87, 50.13), (-70.11, 29.83)],
]


def _geo_concave_polygon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST_Intersects(CONCAVE star polygon, square corpus): the convex SAT
    path is unsound here (a separating axis may not exist among the
    star's edge normals when the square sits in a concavity pocket); the
    exact three-way check (vertex-in-square / corner-in-region /
    edge-crossing) decides it."""
    from serenedb_spark.functions import geometry as GM

    orders = load_tables(spark, sf_dir)["orders"]
    sq = GM.synth_squares(orders.select("o_orderkey").distinct(),
                          "o_orderkey")
    return GM.rings_intersect_squares(sq, [_GEO_STAR]).transform(_ordered, "geom_id")


def _geo_concave_polygon_oracle() -> str:
    from serenedb_spark.functions import geometry as GM

    sq = GM.duckdb_synth_squares(
        "(SELECT DISTINCT o_orderkey FROM orders)", "o_orderkey")
    pred = GM.duckdb_rings_intersects_rect([_GEO_STAR], "cx", "cy", "half")
    return f"""
SELECT geom_id, cx, cy, half FROM ({sq})
WHERE {pred}
ORDER BY geom_id
"""


_register("geo_concave_polygon", _geo_concave_polygon,
          _geo_concave_polygon_oracle())


def _geo_multiring_polygon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST_Contains(polygon WITH HOLE, point): even-odd parity across both
    rings — points inside the hole are excluded, and the covering
    prefilter already drops cells strictly inside the hole."""
    from serenedb_spark.functions import geo as G
    from serenedb_spark.functions import geometry as GM

    ev = load_tables(spark, sf_dir)["events"]
    pts = G.synth_points(ev.select("event_id").distinct(), "event_id")
    return GM.rings_contain_points(pts, _GEO_DONUT, cell_deg=2.0) \
        .transform(_ordered, "point_id")


def _geo_multiring_polygon_oracle() -> str:
    from serenedb_spark.functions import geo as G
    from serenedb_spark.functions import geometry as GM

    pts = G.duckdb_synth_points(
        "(SELECT DISTINCT event_id FROM events)", "event_id")
    pip = GM.duckdb_point_in_rings("lon", "lat", _GEO_DONUT)
    return f"""
SELECT point_id, lat, lon FROM ({pts})
WHERE {pip}
ORDER BY point_id
"""


_register("geo_multiring_polygon", _geo_multiring_polygon,
          _geo_multiring_polygon_oracle())


def _geo_polygon_vs_polygon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST_Intersects(holed query polygon, VARIED WKT polygon corpus):
    the corpus carries triangles/hexagons/concave darts as WKT text
    (reference S2 path: arbitrary corpus geometry,
    geo_filter_builder.cpp:523); covering-cell prefilter on the corpus
    centers, JVM-side WKT parse, exact region-vs-polygon decomposition
    (corpus-vertex-in-region / query-vertex-in-polygon / edge-crossing).
    The donut query region exercises both ring-ring logic and the
    hole-exclusion parity."""
    from serenedb_spark.functions import geometry as GM

    cust = load_tables(spark, sf_dir)["customer"]
    polys = GM.synth_polygons_wkt(cust.select("c_custkey").distinct(),
                                  "c_custkey")
    return GM.rings_intersect_polygons(polys, _GEO_DONUT).transform(_ordered, "geom_id")


def _geo_polygon_vs_polygon_oracle() -> str:
    from serenedb_spark.functions import geometry as GM

    polys = GM.duckdb_synth_polygons(
        "(SELECT DISTINCT c_custkey FROM customer)", "c_custkey")
    pred = GM.duckdb_rings_intersects_polygon(_GEO_DONUT)
    return f"""
SELECT geom_id, cx, cy, r FROM ({polys})
WHERE {pred}
ORDER BY geom_id
"""


_register("geo_polygon_vs_polygon", _geo_polygon_vs_polygon,
          _geo_polygon_vs_polygon_oracle())


_GEO_POLYGON = [(35.0, 8.0), (40.0, 12.0), (38.0, 16.0), (33.0, 13.0)]


def _geo_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    from serenedb_spark.functions import geo as G

    ev = load_tables(spark, sf_dir)["events"]
    pts = G.synth_points(ev.select("event_id").distinct(), "event_id")
    return G.distance_centroid(pts, _GEO_POLYGON, k=20)


def _geo_centroid_oracle() -> str:
    from serenedb_spark.functions import geo as G

    clat, clon = G.polygon_centroid(_GEO_POLYGON)
    pts = G.duckdb_synth_points(
        "(SELECT DISTINCT event_id FROM events)", "event_id"
    )
    dist = G.duckdb_haversine_m("lat", "lon", repr(clat), repr(clon))
    return f"""
SELECT point_id, round({dist}, 1) AS dist_m
FROM ({pts}) ORDER BY dist_m, point_id LIMIT 20
"""


_register("geo_distance_centroid", _geo_centroid, _geo_centroid_oracle())


# ES date_histogram aggregation with nested metric sub-aggs (dsl.cpp:518-556)
def _es_date_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    from serenedb_spark.plans.es_dsl import es_aggs

    ev = load_tables(spark, sf_dir)["events"]
    out = es_aggs(ev, {"per_day": {
        "date_histogram": {"field": "ts", "calendar_interval": "1d"},
        "aggs": {"users": {"cardinality": {"field": "user_id"}},
                 "vmax": {"max": {"field": "value"}}},
    }})
    return out.select(
        F.col("key").cast("date").alias("day"), "doc_count", "users",
        F.round("vmax", 4).alias("vmax"),
    ).transform(_ordered, "day")


_register("es_date_histogram", _es_date_hist, """
SELECT CAST(date_trunc('day', ts) AS DATE) AS day, count(*) AS doc_count,
  count(DISTINCT user_id) AS users, round(max(value), 4) AS vmax
FROM events GROUP BY 1 ORDER BY day
""")


# ES terms facet straight from the term dictionary (no row scan)
def _es_terms_facet(spark: SparkSession, sf_dir: str) -> DataFrame:
    from serenedb_spark.plans.es_dsl import es_terms_agg

    idx = doc_index(spark, sf_dir)
    return es_terms_agg(idx, _DOC_COL, size=15)


_register("es_terms_facet", _es_terms_facet, """
WITH base AS (SELECT doc_id,
    list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), t -> t <> '') AS toks
  FROM documents),
tok AS (SELECT DISTINCT doc_id, unnest(toks) AS term FROM base WHERE toks IS NOT NULL)
SELECT term, count(*) AS doc_count FROM tok
GROUP BY term ORDER BY doc_count DESC, term LIMIT 15
""")


def _es_value_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES `value_count` + `cardinality` metric sub-aggs under a terms
    bucket (reference dsl.cpp Kind::kValueCount translation)."""
    from serenedb_spark.plans.es_dsl import es_aggs

    ev = load_tables(spark, sf_dir)["events"]
    return es_aggs(ev, {"types": {
        "terms": {"field": "event_type", "size": 20},
        "aggs": {
            "n_vals": {"value_count": {"field": "user_id"}},
            "n_users": {"cardinality": {"field": "user_id"}},
        },
    }})


_register("es_value_count", _es_value_count, """
SELECT event_type AS key, count(*) AS doc_count,
  count(user_id) AS n_vals, count(DISTINCT user_id) AS n_users
FROM events GROUP BY event_type
ORDER BY doc_count DESC, key LIMIT 20
""")


# --------------------------------------------------------------------------
# cookbook recipes (reference site_docs/cookbook/search/*.test) — the
# end-user query shapes a reference user runs today, composed from the
# engine's own relations (operators/cookbook.py)
# --------------------------------------------------------------------------

_SIMPLE_TOKS = ("list_filter(regexp_split_to_array(lower(text), "
                "'[^a-z0-9]+'), t -> t <> '')")


def _source_index(spark: SparkSession, sf_dir: str):
    """Keyword-analyzer index over documents.source — the autocomplete
    corpus (cookbook autocomplete.test indexes whole search phrases)."""
    return _built(spark, sf_dir, "source_kw", lambda: build_index(
        load_tables(spark, sf_dir)["documents"], {"source": "keyword"},
        key="doc_id", name="doc_source_kw").persist())


def _cb_autocomplete(spark: SparkSession, sf_dir: str) -> DataFrame:
    from serenedb_spark.operators import cookbook as CB

    return CB.autocomplete(_source_index(spark, sf_dir), "src1",
                           field="source")


_register("cookbook_autocomplete", _cb_autocomplete, """
SELECT source AS suggestion, count(*) AS searches
FROM documents WHERE source LIKE 'src1%'
GROUP BY source ORDER BY searches DESC, suggestion
""")


def _cb_spell(spark: SparkSession, sf_dir: str) -> DataFrame:
    from serenedb_spark.operators import cookbook as CB

    return CB.spell_suggest(doc_index(spark, sf_dir), "streem", max_dist=2)


_register("cookbook_spell_correction", _cb_spell, f"""
WITH tok AS (SELECT doc_id, unnest({_SIMPLE_TOKS}) AS term FROM documents),
td AS (SELECT term, count(DISTINCT doc_id) AS df FROM tok GROUP BY 1)
SELECT term AS suggestion,
  round(1.0 - levenshtein(term, 'streem') / 6.0, 4) AS similarity,
  df AS searches
FROM td
WHERE levenshtein(term, 'streem') <= 2
ORDER BY similarity DESC, searches DESC, suggestion
""")


def _cb_significant(spark: SparkSession, sf_dir: str) -> DataFrame:
    from serenedb_spark.operators import cookbook as CB

    idx = doc_index(spark, sf_dir)
    fg = compile_query(idx, _DOC_COL, q.Term("spark")).doc_ids
    return CB.significant_terms(idx, fg, min_fg_docs=2, limit=15)


_register("cookbook_significant_terms", _cb_significant, f"""
WITH base AS (SELECT doc_id, {_SIMPLE_TOKS} AS toks FROM documents),
tok AS (SELECT doc_id, unnest(toks) AS term FROM base),
p AS (SELECT DISTINCT doc_id, term FROM tok),
fgd AS (SELECT doc_id FROM base
        WHERE toks IS NOT NULL AND list_contains(toks, 'spark')),
fg AS (SELECT term, count(*) AS fg_docs FROM p
       WHERE doc_id IN (SELECT doc_id FROM fgd) GROUP BY 1),
bg AS (SELECT term, count(*) AS bg_docs FROM p GROUP BY 1),
t AS (SELECT (SELECT count(*) FROM fgd) AS fg_total,
             (SELECT count(*) FROM documents) AS bg_total)
SELECT fg.term, fg.fg_docs, bg.bg_docs,
  round(fg.fg_docs - bg.bg_docs * t.fg_total / CAST(t.bg_total AS DOUBLE), 2)
    AS lift
FROM fg JOIN bg USING (term) CROSS JOIN t
WHERE fg.fg_docs >= 2
ORDER BY lift DESC, fg.term LIMIT 15
""")


def _es_significant_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ES significant_terms aggregation over the match set of 'spark'
    from serenedb_spark.plans.es_dsl import es_significant_terms_agg

    idx = doc_index(spark, sf_dir)
    fg = compile_query(idx, _DOC_COL, q.Term("spark")).doc_ids
    return es_significant_terms_agg(idx, fg, _DOC_COL, size=15)


_register("es_significant_terms", _es_significant_terms, f"""
WITH base AS (SELECT doc_id, {_SIMPLE_TOKS} AS toks FROM documents),
tok AS (SELECT doc_id, unnest(toks) AS term FROM base),
p AS (SELECT DISTINCT doc_id, term FROM tok),
fgd AS (SELECT doc_id FROM base
        WHERE toks IS NOT NULL AND list_contains(toks, 'spark')),
fg AS (SELECT term, count(*) AS fg_docs FROM p
       WHERE doc_id IN (SELECT doc_id FROM fgd) GROUP BY 1),
bg AS (SELECT term, count(*) AS bg_docs FROM p GROUP BY 1),
t AS (SELECT (SELECT count(*) FROM fgd) AS fg_total,
             (SELECT count(*) FROM documents) AS bg_total)
SELECT fg.term, fg.fg_docs AS doc_count, bg.bg_docs AS bg_count,
  round(fg.fg_docs - bg.bg_docs * t.fg_total / CAST(t.bg_total AS DOUBLE), 2)
    AS lift
FROM fg JOIN bg USING (term) CROSS JOIN t
WHERE fg.fg_docs >= 2
ORDER BY lift DESC, fg.term LIMIT 15
""")


def _cb_mlt(spark: SparkSession, sf_dir: str) -> DataFrame:
    from serenedb_spark.operators import cookbook as CB

    return CB.more_like_this(doc_index(spark, sf_dir), 7, n_terms=5, k=10)


_register("cookbook_more_like_this", _cb_mlt, f"""
WITH tok AS (SELECT doc_id, unnest({_SIMPLE_TOKS}) AS term FROM documents),
p AS (SELECT doc_id, term, count(*) AS freq FROM tok GROUP BY 1, 2),
qt AS (SELECT term FROM p WHERE doc_id = 7 ORDER BY freq DESC, term LIMIT 5)
SELECT p.doc_id, count(DISTINCT p.term) AS overlap
FROM p JOIN qt USING (term)
WHERE p.doc_id <> 7
GROUP BY p.doc_id ORDER BY overlap DESC, doc_id LIMIT 10
""")


def _cb_percolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from serenedb_spark.operators import cookbook as CB

    alerts = spark.createDataFrame(
        [(1, ["spark", "stream"]), (2, ["hash", "join"]),
         (3, ["quantum", "flux"]), (4, ["dup"]), (5, ["window", "group"])],
        "query_id int, terms array<string>")
    return (CB.percolate(doc_index(spark, sf_dir), alerts)
            .transform(_ordered, "doc_id", "query_id"))


_register("cookbook_percolate", _cb_percolate, f"""
WITH alerts AS (
  SELECT * FROM (VALUES
    (1, ['spark', 'stream']), (2, ['hash', 'join']),
    (3, ['quantum', 'flux']), (4, ['dup']), (5, ['window', 'group'])
  ) v(query_id, terms)),
tok AS (SELECT DISTINCT doc_id, unnest({_SIMPLE_TOKS}) AS term
        FROM documents),
aq AS (SELECT query_id, len(terms) AS n_req, unnest(terms) AS term
       FROM alerts)
SELECT t.doc_id, aq.query_id
FROM tok t JOIN aq USING (term)
GROUP BY t.doc_id, aq.query_id, aq.n_req
HAVING count(DISTINCT t.term) = aq.n_req
ORDER BY doc_id, query_id
""")


def _cb_tag_cloud(spark: SparkSession, sf_dir: str) -> DataFrame:
    # tag-cloud.test example_002: every term with docs + total mentions,
    # straight off the pre-aggregated dictionary
    idx = doc_index(spark, sf_dir)
    return (FC.ts_dict(idx, _DOC_COL)
            .select("term", F.col("doc_count").alias("docs"),
                    F.col("total_freq").alias("mentions"))
            .orderBy(F.col("mentions").desc(), "term")
            .limit(25))


_register("cookbook_tag_cloud", _cb_tag_cloud, f"""
WITH tok AS (SELECT doc_id, unnest({_SIMPLE_TOKS}) AS term FROM documents),
p AS (SELECT doc_id, term, count(*) AS freq FROM tok GROUP BY 1, 2)
SELECT term, count(*) AS docs, CAST(sum(freq) AS BIGINT) AS mentions
FROM p GROUP BY term
ORDER BY mentions DESC, term LIMIT 25
""")


def _cb_result_cardinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    # result-cardinality.test example_002 (exact columns; the approximate
    # twin is gated separately in approx_aggregates/approx_agg_bounds)
    idx = doc_index(spark, sf_dir)
    hits = compile_query(idx, _DOC_COL, q.Term("spark")).doc_ids
    return (
        hits.join(idx.docstore.select("doc_id", "lang"), "doc_id")
        .agg(F.count(F.lit(1)).alias("hits"),
             F.count_distinct("lang").alias("langs"))
    )


_register("cookbook_result_cardinality", _cb_result_cardinality, f"""
WITH base AS (SELECT doc_id, lang, {_SIMPLE_TOKS} AS toks FROM documents)
SELECT count(*) AS hits, count(DISTINCT lang) AS langs
FROM base WHERE toks IS NOT NULL AND list_contains(toks, 'spark')
""")


_PINNED = [42, 7, 300]


def _cb_pinned(spark: SparkSession, sf_dir: str) -> DataFrame:
    from serenedb_spark.operators import cookbook as CB

    idx = doc_index(spark, sf_dir)
    compiled = compile_query(idx, _DOC_COL, q.Term("spark"))
    s = _score(idx, _DOC_COL, compiled.score_terms, "bm25")
    scored = compiled.doc_ids.join(s, "doc_id", "left").select(
        "doc_id",
        F.round(F.coalesce(F.col("score"), F.lit(0.0)), 4).alias("score"))
    return CB.pinned_order(scored, _PINNED).limit(20)


_register("cookbook_pinned_results", _cb_pinned, f"""
WITH s AS ({O.scored_sql(_DOC_TABLE, _DOC_COL, _DOC_AN, q.Term("spark"),
                         scorer="bm25", k=None)})
SELECT doc_id, score FROM s
ORDER BY nullif(list_position([{", ".join(str(p) for p in _PINNED)}],
                              doc_id), 0) ASC NULLS LAST,
         score DESC, doc_id
LIMIT 20
""")


def _cb_collapse(spark: SparkSession, sf_dir: str) -> DataFrame:
    from serenedb_spark.operators import cookbook as CB

    idx = doc_index(spark, sf_dir)
    compiled = compile_query(idx, _DOC_COL, q.Term("data"))
    s = _score(idx, _DOC_COL, compiled.score_terms, "bm25")
    scored = (compiled.doc_ids.join(s, "doc_id", "left")
              .join(idx.docstore.select("doc_id", "lang"), "doc_id")
              .select("doc_id", "lang",
                      F.round(F.coalesce(F.col("score"), F.lit(0.0)), 4)
                       .alias("score")))
    return (CB.collapse_top_n(scored, "lang", n=2)
            .select("lang", "doc_id", "score", "rn")
            .transform(_ordered, "lang", "rn"))


_register("cookbook_collapse_by_lang", _cb_collapse, f"""
WITH s AS ({O.scored_sql(_DOC_TABLE, _DOC_COL, _DOC_AN, q.Term("data"),
                         scorer="bm25", k=None)}),
j AS (SELECT d.lang, s.doc_id, s.score,
        ROW_NUMBER() OVER (PARTITION BY d.lang
                           ORDER BY s.score DESC, s.doc_id) AS rn
      FROM s JOIN documents d USING (doc_id))
SELECT lang, doc_id, score, CAST(rn AS BIGINT) AS rn
FROM j WHERE rn <= 2 ORDER BY lang, rn
""")


def _cb_recency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relevance × popularity-saturation re-ranking (cookbook
    recency-and-decay.test example_003: BM25 * pop/(pop+K)); n_chars plays
    the stored popularity signal."""
    idx = doc_index(spark, sf_dir)
    node = q.AnyOf(["spark", "stream"])
    compiled = compile_query(idx, _DOC_COL, node)
    s = _score(idx, _DOC_COL, compiled.score_terms, "bm25")
    return (
        compiled.doc_ids.join(s, "doc_id", "left")
        .join(idx.docstore.select("doc_id", "n_chars"), "doc_id")
        .select(
            "doc_id",
            F.round(
                F.round(F.coalesce(F.col("score"), F.lit(0.0)), 4)
                * (F.col("n_chars") / (F.col("n_chars") + F.lit(1000.0))),
                4,
            ).alias("rank_score"),
        )
        .orderBy(F.col("rank_score").desc(), F.col("doc_id"))
        .limit(15)
    )


_register("cookbook_recency_decay", _cb_recency, f"""
WITH s AS ({O.scored_sql(_DOC_TABLE, _DOC_COL, _DOC_AN,
                         q.AnyOf(["spark", "stream"]),
                         scorer="bm25", k=None)})
SELECT s.doc_id,
  round(s.score * (d.n_chars / (d.n_chars + 1000.0)), 4) AS rank_score
FROM s JOIN documents d USING (doc_id)
ORDER BY rank_score DESC, s.doc_id LIMIT 15
""")


def _cb_search_with_joins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """cookbook search/search-with-joins.test: an index match set joined
    to a fact table and aggregated — the recipe's products⟕orders
    restated on part⟕lineitem (match 'red' in p_name, revenue per
    part)."""
    t = load_tables(spark, sf_dir)
    idx = _built(spark, sf_dir, "part_names", lambda: build_index(
        t["part"], {"p_name": "simple"}, key="p_partkey",
        name="part_names").persist())
    hits = compile_query(idx, "p_name", q.Term("red")).doc_ids
    li = t["lineitem"]
    return (
        t["part"].join(hits.withColumnRenamed("doc_id", "p_partkey"),
                       "p_partkey", "left_semi")
        .join(li, F.col("p_partkey") == F.col("l_partkey"))
        .groupBy("p_partkey", "p_name")
        .agg(F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
             .cast("double").alias("revenue"),
             F.sum(F.col("l_quantity").cast("long")).alias("units"))
        .select("p_partkey", "p_name", F.round("revenue", 2).alias("revenue"),
                "units")
        .orderBy(F.col("revenue").desc(), F.col("p_partkey"))
        .limit(20)
    )


_register("cookbook_search_with_joins", _cb_search_with_joins, """
WITH hits AS (
  SELECT p_partkey, p_name FROM part
  WHERE list_contains(
    list_filter(regexp_split_to_array(lower(p_name), '[^a-z0-9]+'),
                t -> t <> ''), 'red')
)
SELECT h.p_partkey, h.p_name,
  round(CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE), 2)
    AS revenue,
  CAST(sum(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS units
FROM hits h JOIN lineitem l ON l.l_partkey = h.p_partkey
GROUP BY h.p_partkey, h.p_name
ORDER BY revenue DESC, h.p_partkey LIMIT 20
""")


def _cb_indexing_views(spark: SparkSession, sf_dir: str) -> DataFrame:
    """cookbook search/indexing-views.test: CREATE INDEX over a VIEW —
    the index builds from the view's (filtered, projected) relation and
    queries only see view rows."""
    t = load_tables(spark, sf_dir)
    t["documents"].where(F.col("lang") == "en") \
        .select("doc_id", "text", "source") \
        .createOrReplaceTempView("v_docs_en")
    idx = _built(spark, sf_dir, "v_docs_en", lambda: build_index(
        spark.table("v_docs_en"), {"text": "simple"}, key="doc_id",
        name="v_docs_en").persist())
    hits = compile_query(idx, "text", q.AllOf(["spark", "stream"])).doc_ids
    return (
        idx.docstore.join(hits, "doc_id", "left_semi")
        .select("doc_id", "source")
        .transform(_ordered, "doc_id")
    )


_register("cookbook_indexing_views", _cb_indexing_views, """
SELECT doc_id, source FROM (
  SELECT doc_id, source,
    list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                t -> t <> '') AS toks
  FROM documents WHERE lang = 'en'
)
WHERE list_contains(toks, 'spark') AND list_contains(toks, 'stream')
ORDER BY doc_id
""")


# --------------------------------------------------------------------------
# ASOF JOIN (cookbook sql_features/asof_join.test; DuckDB-native oracle)
# --------------------------------------------------------------------------

def _events_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each purchase matched to the user's latest at-or-before view —
    the canonical trades⟕quotes asof. The right side is pre-aggregated per
    (user, ts) so both engines are deterministic under tied timestamps."""
    from serenedb_spark.operators.temporal_join import asof_join

    ev = load_tables(spark, sf_dir)["events"]
    purchases = (ev.where(F.col("event_type") == "purchase")
                 .select("event_id", "user_id", "ts",
                         F.round("value", 4).alias("amount")))
    views = (ev.where(F.col("event_type") == "view")
             .groupBy("user_id", "ts")
             .agg(F.round(F.max("value"), 4).alias("score")))
    out = asof_join(purchases, views, on="ts", by=["user_id"])
    return out.select(
        "event_id", "user_id",
        F.floor(F.unix_micros(F.col("ts").cast("timestamp_ltz"))
                / F.lit(1000000)).cast("long").alias("t"),
        "amount",
        F.floor(F.unix_micros(F.col("ts_r").cast("timestamp_ltz"))
                / F.lit(1000000)).cast("long").alias("matched_t"),
        F.col("score_r").alias("score"),
    ).transform(_ordered, "event_id")


_register("events_asof_join", _events_asof, """
WITH l AS (
  SELECT event_id, user_id, ts, round(value, 4) AS amount
  FROM events WHERE event_type = 'purchase'
),
r AS (
  SELECT user_id, ts, round(max(value), 4) AS score
  FROM events WHERE event_type = 'view' GROUP BY user_id, ts
)
SELECT l.event_id, l.user_id,
  CAST(floor(epoch(l.ts)) AS BIGINT) AS t, l.amount,
  CAST(floor(epoch(r.ts)) AS BIGINT) AS matched_t, r.score
FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts
ORDER BY event_id
""")


def _events_asof_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The asof join reduced to exact-integer aggregates (match count +
    total lag in whole seconds). This is the SCALE-bench shape: at 100×
    the row-returning variant spends its time serializing 2M result
    rows through the driver, which measures the pipe, not the join —
    the aggregate keeps both engines' work identical and the result one
    row."""
    from serenedb_spark.operators.temporal_join import asof_join

    ev = load_tables(spark, sf_dir)["events"]
    purchases = (ev.where(F.col("event_type") == "purchase")
                 .select("event_id", "user_id", "ts"))
    views = (ev.where(F.col("event_type") == "view")
             .groupBy("user_id", "ts")
             .agg(F.round(F.max("value"), 4).alias("score")))
    out = asof_join(purchases, views, on="ts", by=["user_id"])
    t = F.floor(F.unix_micros(F.col("ts").cast("timestamp_ltz"))
                / F.lit(1000000)).cast("long")
    mt = F.floor(F.unix_micros(F.col("ts_r").cast("timestamp_ltz"))
                 / F.lit(1000000)).cast("long")
    return out.agg(
        F.count(F.lit(1)).alias("n"),
        F.count("score_r").alias("n_matched"),
        F.sum(t - mt).alias("lag_seconds"),
    )


_register("events_asof_agg", _events_asof_agg, """
WITH l AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
),
r AS (
  SELECT user_id, ts, round(max(value), 4) AS score
  FROM events WHERE event_type = 'view' GROUP BY user_id, ts
)
SELECT count(*) AS n, count(r.score) AS n_matched,
  CAST(sum(CAST(floor(epoch(l.ts)) AS BIGINT)
           - CAST(floor(epoch(r.ts)) AS BIGINT)) AS BIGINT) AS lag_seconds
FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts
""")


def _events_asof_agg_preagg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same aggregate as events_asof_agg, ONE wide shuffle instead of two:
    the right side's per-(user, ts) dedup (round(max(value),4)) is folded
    into the asof window's tie-break ordering (asof_join tie_break=) —
    the groupBy pre-aggregation shuffles on (user_id, ts) while the window
    shuffles on user_id, so at 100 TB the explicit pre-agg doubles the
    event-stream shuffle volume for nothing."""
    from serenedb_spark.operators.temporal_join import asof_join

    ev = load_tables(spark, sf_dir)["events"]
    purchases = (ev.where(F.col("event_type") == "purchase")
                 .select("event_id", "user_id", "ts"))
    views = (ev.where(F.col("event_type") == "view")
             .select("user_id", "ts", F.round("value", 4).alias("score")))
    out = asof_join(purchases, views, on="ts", by=["user_id"],
                    tie_break="score")
    t = F.floor(F.unix_micros(F.col("ts").cast("timestamp_ltz"))
                / F.lit(1000000)).cast("long")
    mt = F.floor(F.unix_micros(F.col("ts_r").cast("timestamp_ltz"))
                 / F.lit(1000000)).cast("long")
    return out.agg(
        F.count(F.lit(1)).alias("n"),
        F.count("score_r").alias("n_matched"),
        F.sum(t - mt).alias("lag_seconds"),
    )


_register("events_asof_agg_preagg", _events_asof_agg_preagg, """
WITH l AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
),
r AS (
  SELECT user_id, ts, round(max(value), 4) AS score
  FROM events WHERE event_type = 'view' GROUP BY user_id, ts
)
SELECT count(*) AS n, count(r.score) AS n_matched,
  CAST(sum(CAST(floor(epoch(l.ts)) AS BIGINT)
           - CAST(floor(epoch(r.ts)) AS BIGINT)) AS BIGINT) AS lag_seconds
FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts
""")


def _orders_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders bucketized into 60-day promo windows — interval containment
    as a bucket EQUI-join (operators/temporal_join.py range_join), not a
    BNLJ; aggregated per window."""
    from serenedb_spark.operators.temporal_join import range_join

    orders = load_tables(spark, sf_dir)["orders"].select(
        "o_orderkey", F.col("o_orderdate").cast("date").alias("od"),
        "o_totalprice")
    promos = spark.range(24).select(
        F.col("id").cast("int").alias("promo_id"),
        F.date_add(F.lit("1995-01-01").cast("date"),
                   (F.col("id") * 90).cast("int")).alias("start_d"),
        F.date_add(F.lit("1995-01-01").cast("date"),
                   (F.col("id") * 90 + 59).cast("int")).alias("end_d"),
    )
    return (
        range_join(orders, promos, "od", "start_d", "end_d")
        .groupBy("promo_id")
        .agg(F.count(F.lit(1)).alias("n_orders"),
             F.sum(F.col("o_totalprice").cast("decimal(14,2)"))
              .cast("double").alias("total"))
        .transform(_ordered, "promo_id")
    )


_register("orders_range_join", _orders_range_join, """
WITH promos AS (
  SELECT CAST(i AS INT) AS promo_id,
         (DATE '1995-01-01' + CAST(i * 90 AS INT)) AS start_d,
         (DATE '1995-01-01' + CAST(i * 90 + 59 AS INT)) AS end_d
  FROM range(24) t(i)
)
SELECT promo_id, count(*) AS n_orders,
  CAST(sum(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE) AS total
FROM orders JOIN promos
  ON CAST(o_orderdate AS DATE) BETWEEN start_d AND end_d
GROUP BY promo_id ORDER BY promo_id
""")


# --------------------------------------------------------------------------
# indexed expression keys (reference inverted_index.h expression keys;
# cookbook computed-values.test / json-search.test) + order-preserving
# key encoding for numeric range claims (key_encoding.h)
# --------------------------------------------------------------------------

def _expr_index(spark: SparkSession, sf_dir: str):
    """One index with three expression fields over documents:
    - who       = lower(lang || ' ' || source), simple  (computed text)
    - chars_tax = encode_int(n_chars*110//100), keyword (computed numeric,
                  memcmp-ordered key so range claims work in the dictionary)
    - jlang     = get_json_object(to_json(...), '$.lang'), keyword
                  (JSON-path key: the doc is ENCODED to JSON and the field
                  re-extracted — the json-search.test VARIANT plumbing)
    """
    from serenedb_spark.functions import key_encoding as K

    def build() -> InvertedIndex:
        docs = load_tables(spark, sf_dir)["documents"]
        doc_json = F.to_json(F.struct("lang", "source", "n_chars"))
        return build_index(
            docs, {"who": "simple", "chars_tax": "keyword",
                   "jlang": "keyword", "jsrc": "keyword"},
            key="doc_id", name="documents_expr",
            exprs={
                "who": F.lower(F.concat_ws(" ", "lang", "source")),
                "chars_tax": K.encode_int(
                    F.floor(F.col("n_chars") * 110 / 100).cast("long")),
                "jlang": F.get_json_object(doc_json, "$.lang"),
                "jsrc": F.get_json_object(doc_json, "$.source"),
            },
        ).persist()

    return _built(spark, sf_dir, "documents_expr", build)


def _fts_expr_concat_phrase(spark: SparkSession, sf_dir: str) -> DataFrame:
    # computed-values.test example_005: (first || ' ' || last) @@ 'Jane Doe'
    idx = _expr_index(spark, sf_dir)
    return (compile_query(idx, "who", q.Phrase(["en", "src3"]))
            .doc_ids.transform(_ordered, "doc_id"))


_register("fts_expr_concat_phrase", _fts_expr_concat_phrase, """
SELECT doc_id FROM documents
WHERE lower(lang) = 'en' AND lower(source) = 'src3'
ORDER BY doc_id
""")


def _fts_expr_computed_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    # computed-values.test example_002/003: price_with_tax @@ ts_le(...) —
    # a numeric range claim answered from the term dictionary because the
    # indexed key is the order-preserving encoding
    from serenedb_spark.functions import key_encoding as K

    idx = _expr_index(spark, sf_dir)
    node = q.Between(K.py_encode_int(110), K.py_encode_int(220))
    docs = compile_query(idx, "chars_tax", node).doc_ids
    return (
        docs.join(idx.docstore.select("doc_id", "n_chars"), "doc_id")
        .select("doc_id",
                F.floor(F.col("n_chars") * 110 / 100).cast("long")
                 .alias("chars_tax"))
        .transform(_ordered, "doc_id")
    )


_register("fts_expr_computed_range", _fts_expr_computed_range, """
SELECT doc_id, (n_chars * 110) // 100 AS chars_tax
FROM documents
WHERE (n_chars * 110) // 100 BETWEEN 110 AND 220
ORDER BY doc_id
""")


def _fts_json_field_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    # json-search.test example_002-shape conjunction over two JSON-path
    # expression keys
    idx = _expr_index(spark, sf_dir)
    a = compile_query(idx, "jlang", q.Term("fr")).doc_ids
    b = compile_query(idx, "jsrc", q.Term("src5")).doc_ids
    return a.join(b, "doc_id", "left_semi").transform(_ordered, "doc_id")


_register("fts_json_field_search", _fts_json_field_search, """
SELECT doc_id FROM documents
WHERE lang = 'fr' AND source = 'src5'
ORDER BY doc_id
""")


def _fts_array_column(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index an ARRAY column directly (reference list-column indexing,
    inverted_index_array_include/_direct_list_array): elements are terms,
    element order is the position stream — a phrase query over the array
    means adjacency. The array here is the simple analyzer's own token
    output, so the oracle is the ordinary text phrase match: the two
    index paths must be indistinguishable."""
    docs = load_tables(spark, sf_dir)["documents"]
    idx = _built(spark, sf_dir, "doc_tags", lambda: build_index(
        docs, {"tags": "array"}, key="doc_id", name="doc_tags", exprs={
            "tags": F.filter(F.split(F.lower(F.col("text")), "[^a-z0-9]+"),
                             lambda t: t != F.lit(""))}).persist())
    hits = compile_query(idx, "tags",
                         q.Phrase(["table", "scan"])).doc_ids
    return hits.transform(_ordered, "doc_id")


_register("fts_array_column", _fts_array_column,
          O.match_sql(_DOC_TABLE, _DOC_COL, _DOC_AN,
                      q.Phrase(["table", "scan"]), order="doc_id"))


# --------------------------------------------------------------------------
# dynamic SQL table functions + catalog introspection (new in r7)
# --------------------------------------------------------------------------


def _session_over(spark: SparkSession, sf_dir: str):
    from serenedb_spark.session import SereneSession

    ss = SereneSession(spark)
    for t, df in load_tables(spark, sf_dir).items():
        ss._tables[t] = df
        df.createOrReplaceTempView(t)
    return ss


def _query_table_dynamic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """query_table('orders'): a runtime-valued table name as a relation
    (reference query_and_query_table_functions.test), feeding a normal
    aggregation."""
    ss = _session_over(spark, sf_dir)
    tname = "".join(["or", "ders"])  # a genuinely dynamic identifier
    return (
        ss.query_table(tname)
        .groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n"))
        .transform(_ordered, "o_orderstatus")
    )


_register("query_table_dynamic", _query_table_dynamic, """
SELECT o_orderstatus, count(*) AS n FROM orders
GROUP BY o_orderstatus ORDER BY o_orderstatus
""")


def _query_table_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """query('SELECT ...'): dynamically-BUILT SQL strings as relations,
    unioned — the reference cookbook's loop-over-tables idiom."""
    ss = _session_over(spark, sf_dir)
    parts = [
        ss.query(f"SELECT '{t}' AS tname, count(*) AS n FROM {t}")
        for t in ("region", "nation", "customer")
    ]
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    return u.transform(_ordered, "tname")


_register("query_table_union", _query_table_union, """
SELECT 'region' AS tname, count(*) AS n FROM region
UNION ALL SELECT 'nation', count(*) FROM nation
UNION ALL SELECT 'customer', count(*) FROM customer
ORDER BY tname
""")


def _pg_catalog_introspection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """information_schema.columns over the session catalog vs DuckDB's
    NATIVE information_schema on the same parquet tables — a real
    cross-engine introspection differential (names + positions; types
    are engine-spelled and excluded)."""
    ss = _session_over(spark, sf_dir)
    ss.install_pg_catalog("information_schema_columns")
    tabs = ", ".join(f"'{t}'" for t in TABLES)
    return spark.sql(f"""
        SELECT table_name, column_name, ordinal_position
        FROM information_schema_columns
        WHERE table_name IN ({tabs})
        ORDER BY table_name, ordinal_position
    """)


_register("pg_catalog_introspection", _pg_catalog_introspection, f"""
SELECT table_name, column_name, CAST(ordinal_position AS INT)
  AS ordinal_position
FROM information_schema.columns
WHERE table_name IN ({", ".join(f"'{t}'" for t in TABLES)})
ORDER BY table_name, ordinal_position
""")


def _text_chunk_short_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunking where many docs are SHORTER than the overlap (first 30
    chars only): every non-empty doc must still emit exactly one
    undersized chunk — the regression surface of the r6 advice's
    short-doc loss."""
    docs = load_tables(spark, sf_dir)["documents"].select(
        "doc_id", F.substring("text", 1, 30).alias("text"))
    return TS.chunk_documents(docs, chunk_tokens=24, overlap=6) \
        .transform(_ordered, "doc_id", "chunk_no")


_register(
    "text_chunk_short_docs", _text_chunk_short_docs,
    TS.duckdb_chunk_sql(
        "(SELECT doc_id, substr(text, 1, 30) AS text FROM documents)",
        24, 6)
    + " ORDER BY doc_id, chunk_no")


# --------------------------------------------------------------------------
# driver contract adapters
# --------------------------------------------------------------------------

#: The driver's correctness gate samples the FIRST 50 registered queries.
#: Rotation record (per-round window leads, see git history for each):
#:   r1-r3: relational families (tpch_*, window/setop/dml) — green in
#:          CORRECTNESS_r01-r03.
#:   r4:    search/vector/dedup/geo/multimodal/ES surface — 50/50 green in
#:          CORRECTNESS_r04.
#:   r5:    the 30 then-never-sampled queries (scorer variants, tsquery
#:          parsers, ## phrase chains, analyzers, dict facets, simhash,
#:          ivf×sq8) + new-in-r5 + sentinels — 49/50 green, 1 no_oracle
#:          (approx_aggregates, re-gated below).
#:   r6:    the 25 then-never-sampled queries (cookbook recipes, ASOF/range
#:          joins, expression keys, type batteries, skew/ordered-scan, geo
#:          WKT, ES significant terms), approx_aggregates re-gated, and 24
#:          new-in-r6 queries — 50/50 green in CORRECTNESS_r06.
#:   r7:    the 13 registry queries that had never had a driver row,
#:          re-gates of the three queries whose code/oracle changed that
#:          round, new-in-r7 queries, and family sentinels. Union of
#:          driver rows r1-r7 covers every query registered through r6.
#:   r8:    the 5 never-sampled r7-registered queries led and passed —
#:          cumulatively every registered query driver-sampled;
#:          CORRECTNESS_r08 50/50.
#:   r9 (this window): the 9 new-in-r9 queries (SQL search dialect rows,
#:          single-shuffle asof, RaBitQ mid-dim, polygon-vs-polygon, the
#:          lt/id/ga stemmers), re-gates of every code path r9 touched
#:          (to_tsquery word forms, asof tie_break ordering, snowball
#:          interpreter branches, pg_catalog tranche 3), then sentinels.
#: Every query, windowed or not, still runs in tests/test_differential.py
#: and scripts/check_correctness.py over the full registry.
_GATE_WINDOW = [
    # --- new-in-r12 queries (added as the round lands them) ---------------
    "sql_pattern_match",          # SIMILAR TO/ESCAPE, GLOB, ~, escape fold
    # --- re-gates: implementation changed in r12 ---------------------------
    "sql_create_database",        # fresh-DB stores get real SequenceCatalog
    "fts_sql_dict", "fts_sql_agg", "fts_sql_dict_raw",  # ts_dict ORDER BY
    "fts_sql_explain_box",        # boxplan width/fold/estimate batch
    "fts_sql_numeric_range",      # encoded_ts integer-micros fix
    "fts_sql_highlight",          # rides the raw-literal door pre-pass
    "fts_sql_join", "fts_sql_union", "fts_sql_in_subquery",  # door rewrites
    "vec_sql_knn", "vec_sql_radius", "vec_sql_knn_prepared",
    "sql_multi_session_visibility",
    # --- r10/r11 queries kept on gate (recent landings) -------------------
    "sql_composite_pk", "sql_conflict_update", "sql_prepared_exec",
    "sql_enum_order", "sql_schema_namespace", "sql_composite_type",
    "text_classifier_real_model",
    "pg_catalog_introspection",
    "orders_range_join",          # perf watch: bucketed-join drift
    # --- green sentinels: one per major family -----------------------------
    "tpch_q1", "tpch_q3", "tpch_q6", "tpch_q9_profit",
    "top_customers", "window_rank", "grouping_sets",
    "dml_merge_into", "recursive_cte_hierarchy", "lateral_topn_per_key",
    "events_pivot", "approx_aggregates",
    "events_asof_join", "events_asof_agg_preagg",
    "fts_phrase_slop", "fts_compound", "fts_highlight", "fts_fuzzy",
    "fts_bool", "fts_bm25_topk", "fts_websearch",
    "es_terms_facet", "es_multi_match",
    "vec_knn_cosine", "vec_ivf_sq8_knn", "vec_pq_adc_knn",
    "vec_rabitq_middim",
    "embedding_dup_pairs_lsh", "dedup_minhash_pairs", "dedup_clusters",
    "text_quality", "text_lang_id", "text_gopher_rules",
    "geo_indexed_radius", "geo_polygon_vs_polygon", "inet6_battery",
    "skew_salted_agg",
    "sql_dml_lifecycle", "sql_txn_rollback",
    "fts_stemmed_term_de", "fts_stemmed_term_ru",
]

#: Window names allowed to be absent from REGISTRY at import time — the
#: documented not-yet-landed set ONLY. Any other skipped name is a typo
#: and must fail loudly, not be silently padded over.
#: new-in-r11 names declared in the window before they land; each is
#: removed from this set in the same commit that registers the query.
_GATE_PENDING: set = set()


def _apply_gate_window() -> None:
    """Reorder REGISTRY so the window leads. Names not yet in REGISTRY
    must be in the documented _GATE_PENDING allowlist (new-in-round
    queries listed before they land); anything else missing is a typo'd
    window entry and raises instead of being silently replaced by a
    padded query. The window is then padded from the registry tail to
    exactly 50."""
    missing = [n for n in _GATE_WINDOW if n not in REGISTRY]
    unknown = [n for n in missing if n not in _GATE_PENDING]
    if unknown:  # not assert: must survive python -O
        raise ValueError(
            f"_GATE_WINDOW names absent from REGISTRY and not in the "
            f"documented pending set: {unknown}")
    present = [n for n in _GATE_WINDOW if n in REGISTRY]
    if len(present) < 50:
        pad = [n for n in REGISTRY if n not in present]
        present += pad[: 50 - len(present)]
    if len(present) < 50:
        raise ValueError(f"registry too small for gate window: {len(present)}")
    ordered = {n: REGISTRY[n] for n in present[:50]}
    for n, d in REGISTRY.items():
        if n not in ordered:
            ordered[n] = d
    REGISTRY.clear()
    REGISTRY.update(ordered)


_apply_gate_window()


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: d.fn for name, d in REGISTRY.items()}


def oracle_sql() -> dict[str, str]:
    return {name: d.oracle for name, d in REGISTRY.items() if d.oracle is not None}
