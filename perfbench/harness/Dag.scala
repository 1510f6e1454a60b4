package perfbench

import graft.core.{Materialization, Model}
import graft.core.Materialization._

/** The `dbt_dag` warehouse: staging models over the `raw` sources, facts
  * and light dimensions in one topological wave, then marts.
  *
  * Only the staging models read `raw.orders` / `raw.lineitem`; on the
  * re-run those sources resolve to the increment batch, so the
  * incremental, merge and snapshot facts apply the batch while every
  * table model reads the updated facts through `ref()`. The SQL is
  * plain enough that DuckDB runs it unchanged, which is how the output
  * check recomputes the marts.
  */
object Dag {
  val BuildAsOf = "2024-01-01 00:00:00"
  val RerunAsOf = "2024-01-02 00:00:00"
  /** The largest fact, compacted after the re-run. */
  val Compacted = "fct_lines"

  def models(asOf: String): Seq[Model] = Seq(
    Model("stg_orders", "SELECT * FROM {{ source('raw', 'orders') }}",
      materialized = Ephemeral),
    Model("stg_lineitem", "SELECT * FROM {{ source('raw', 'lineitem') }}",
      materialized = Ephemeral),
    Model("stg_customer", "SELECT * FROM {{ source('raw', 'customer') }}",
      materialized = Ephemeral),
    Model("stg_part", "SELECT * FROM {{ source('raw', 'part') }}",
      materialized = Ephemeral),
    // wave 1: two heavy facts next to light dimensions
    Model("fct_lines", """
      SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity,
             l_extendedprice, l_discount, l_tax, l_returnflag, l_linestatus,
             l_shipdate, year(l_shipdate) AS ship_year,
             month(l_shipdate) AS ship_month,
             cast(round(cast(l_extendedprice AS decimal(12, 2)) *
               (1 - cast(l_discount AS decimal(4, 2))), 2) AS double) AS net_price
      FROM {{ ref('stg_lineitem') }}""",
      materialized = Incremental(Seq("l_orderkey"))),
    Model("fct_orders", """
      SELECT o.o_orderkey, o.o_custkey, o.o_orderstatus, o.o_totalprice,
             o.o_orderdate, o.o_orderpriority, c.c_nationkey, c.c_mktsegment
      FROM {{ ref('stg_orders') }} o
      JOIN {{ ref('stg_customer') }} c ON o.o_custkey = c.c_custkey""",
      materialized = Merge(Seq("o_orderkey"))),
    Model("orders_snapshot", """
      SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderpriority
      FROM {{ ref('stg_orders') }}""",
      materialized = SnapshotCheck(Seq("o_orderkey"), asOf)),
    Model("dim_customer", """
      SELECT c.c_custkey, c.c_name, c.c_mktsegment, c.c_acctbal,
             n.n_name, r.r_name
      FROM {{ ref('stg_customer') }} c
      JOIN {{ source('raw', 'nation') }} n ON c.c_nationkey = n.n_nationkey
      JOIN {{ source('raw', 'region') }} r ON n.n_regionkey = r.r_regionkey"""),
    Model("dim_part", """
      SELECT p_partkey, p_brand, p_type, p_size FROM {{ ref('stg_part') }}""",
      singleFile = true),
    // wave 2
    Model("order_revenue", """
      SELECT o.o_orderkey, o.o_custkey, o.o_orderpriority, o.c_nationkey,
             year(o.o_orderdate) AS order_year, count(*) AS n_lines,
             sum(l.l_quantity) AS quantity,
             cast(sum(cast(l.net_price AS decimal(18, 2))) AS double) AS revenue
      FROM {{ ref('fct_orders') }} o
      JOIN {{ ref('fct_lines') }} l ON o.o_orderkey = l.l_orderkey
      GROUP BY o.o_orderkey, o.o_custkey, o.o_orderpriority, o.c_nationkey,
               year(o.o_orderdate)"""),
    Model("mart_monthly_revenue", """
      SELECT ship_year, ship_month, l_returnflag, count(*) AS n_lines,
             cast(sum(cast(net_price AS decimal(18, 2))) AS double) AS revenue
      FROM {{ ref('fct_lines') }}
      GROUP BY ship_year, ship_month, l_returnflag""",
      materialized = InsertOverwrite(Seq("ship_year"))),
    Model("mart_part_sales", """
      SELECT p.p_brand, p.p_type, count(*) AS n_lines,
             sum(l.l_quantity) AS quantity,
             cast(sum(cast(l.net_price AS decimal(18, 2))) AS double) AS revenue
      FROM {{ ref('fct_lines') }} l
      JOIN {{ ref('dim_part') }} p ON l.l_partkey = p.p_partkey
      GROUP BY p.p_brand, p.p_type"""),
    // wave 3
    Model("mart_customer_ltv", """
      SELECT c.c_custkey, c.c_mktsegment, c.r_name, count(*) AS orders,
             sum(r.n_lines) AS lines,
             cast(sum(cast(r.revenue AS decimal(18, 2))) AS double) AS revenue
      FROM {{ ref('order_revenue') }} r
      JOIN {{ ref('dim_customer') }} c ON r.o_custkey = c.c_custkey
      GROUP BY c.c_custkey, c.c_mktsegment, c.r_name"""),
  )

  def kind(m: Materialization): String = m match {
    case Table => "table"
    case Ephemeral => "ephemeral"
    case _: Incremental => "incremental"
    case _: Merge => "merge"
    case _: InsertOverwrite => "insert_overwrite"
    case _: SnapshotCheck => "snapshot_check"
    case _: SnapshotTimestamp => "snapshot_timestamp"
  }

  /** The DAG as JSON for the DuckDB recompute in `perfbench/check.py`. */
  def json: String = models(BuildAsOf).map { m =>
    s"""{"name":${Json.str(m.name)},"kind":${Json.str(kind(m.materialized))},""" +
      s""""single_file":${m.singleFile},"sql":${Json.str(m.sql)}}"""
  }.mkString("[", ",\n", "]")
}
