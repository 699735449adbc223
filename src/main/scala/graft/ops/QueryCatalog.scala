package graft.ops

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Named-query registry (B5) — the engine's replacement for the
  * reference's stored-procedure delegation
  * (`/root/reference/adffunction/__init__.py:196-229`: zero-arg procs,
  * "All parameters are encapsulated in stored proc"). Statements are
  * registered by name and run via `spark.sql` over the table views
  * (`Tables.registerViews` — our `information_schema`-equivalent catalog);
  * Catalyst plans them like any DataFrame query, so named SQL loses
  * nothing vs the fluent API at scale.
  */
object QueryCatalog {

  val statements: Map[String, String] = Map(
    "revenue_by_nation" ->
      """SELECT n_name,
        |       CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS decimal(30,4))) AS double) AS revenue,
        |       COUNT(1) AS n_lines
        |FROM lineitem
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin,
    "order_priority_counts" ->
      """SELECT o_orderpriority, COUNT(1) AS n
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)

  // Registering the views re-reads every table's parquet footer; track the
  // dir the session's views currently point at and re-register only when
  // it changes (repeated catalog calls against one dir pay once). Weak
  // keys: sessions must stay collectable. The cache is written only AFTER
  // registration completes — caching first would let a failed/partial
  // registration poison the cache and silently serve mixed views on retry.
  // A view keeps its file listing, and an EP2 upsert swap replaces a
  // table's files, so a repeat call re-lists each view's files (a
  // refresh; schemas and footers are not re-read).
  private val registeredDir: java.util.Map[SparkSession, String] =
    java.util.Collections.synchronizedMap(new java.util.WeakHashMap[SparkSession, String]())

  def run(spark: SparkSession, dir: String, name: String): DataFrame = {
    val sql = statements.getOrElse(name,
      throw new NoSuchElementException(s"Error - no registered query named '$name'"))
    registeredDir.synchronized {
      if (registeredDir.get(spark) != dir) {
        Tables.registerViews(spark, dir)
        registeredDir.put(spark, dir)
      } else Tables.names.foreach(spark.catalog.refreshTable)
    }
    spark.sql(sql)
  }
}
