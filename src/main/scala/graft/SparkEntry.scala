package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.certs.{Cert, Core, Emb, Events, Rel, Store, Stream, Text}
import graft.process.Checkout
import graft.sources.Tables

/** Driver contract — see SURVEY.md §7.
  *
  * Every [[Cert]] in `certs` is an implemented operator from SURVEY.md §2
  * (or an LLM-pipeline extension op) declared next to its oracle: the
  * DuckDB-equivalent ANSI SQL the driver hash-compares against at
  * sf0.01; `queries` and `oracleSql` are its two name-keyed views.
  * Column names, types and row order are aligned on both sides:
  * aggregates are explicitly aliased, DuckDB integer aggregates are cast
  * to Spark's result types (DuckDB sum(INT) is HUGEINT), doubles are
  * rounded only at the output edge, and each query carries a total
  * ORDER BY on a unique key.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks
    * rows>0. The checkout-parity composition: fact scan → broadcast
    * inventory lookup → all-or-nothing order verdict → status counts. */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    Checkout.checkout(Tables.lineitem(spark, dir), Tables.part(spark, dir))
      .groupBy(col("status"))
      .agg(count(lit(1)).as("n_orders"), sum(col("n_items")).as("n_lines"))
      .orderBy(col("status"))
  }

  /** Every certificate, family by family (see `graft.certs`). */
  lazy val certs: Seq[Cert] =
    Core.all ++ Rel.all ++ Events.all ++ Store.all ++ Stream.all ++ Text.all ++ Emb.all

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    certs.map(c => c.name -> c.run).toMap

  def oracleSql: Map[String, String] = certs.map(c => c.name -> c.oracleSql).toMap
}
