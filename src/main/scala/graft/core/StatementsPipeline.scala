package graft.core

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.spec.Specs

/** The statements snapshot chain — the reference's single multi-CTE DML
  * (`powa_statements_snapshot`, powa--5.2.0.sql:4006-4108), decomposed
  * into the equivalent DataFrame pipeline:
  *
  *   capture        := normalized source rows (StatementsSource.capture
  *                     or remote staging)
  *   mru            := UPDATE powa_statements SET last_present_ts = now()
  *                     for (srvid, queryid, dbid, userid) seen (:4025-4031)
  *   missing_stmts  := NOT EXISTS anti-join INSERT, GROUP BY identity keys
  *                     with min(query) (:4032-4044)
  *   by_query       := per-entity record append into current (:4046-4068)
  *   by_database    := per-db rollup append into current_db (:4070-4094)
  *
  * `mru` and `missing_stmts` together are one append of the seen rows to
  * the query-text dimension's log, stamped `now()`; the log's fold
  * ([[StatementsDatasource.dimLog]]) keeps, per key, the `min(query)` of
  * its first tick and the `last_present_ts` of its last. The three
  * outputs are written by one Spark job (SURVEY.md §7.4 item 6).
  */
object StatementsPipeline {

  val identityKeys = Seq("queryid", "dbid", "userid")

  /** Build the chain's outputs for one server: the dimension log rows
    * (srvid, queryid, dbid, userid, query, last_present_ts — one per
    * captured row, a plain projection, no shuffle) and the two record
    * sinks. The caller lands all of them atomically with
    * `Store.snapshotCommit` (appends + staging drain under one commit
    * point). Every returned frame reads `capture`, so it must read the
    * same rows each time (the engine's staged frame reads a file list
    * fixed when it was built, `Store.readStaged`). */
  def snapshot(
      capture: DataFrame,
      srvid: Int,
      ts: Column): (DataFrame, Seq[(String, DataFrame)]) = {
    val spec = Specs.statements
    // mru + missing_stmts (:4025-4044): the dimension log's batch
    val dimRows = capture.select(lit(srvid).as("srvid") +:
      identityKeys.map(col) :+ col("query") :+ ts.as("last_present_ts"): _*)

    // by_query: per-entity records into current (:4046-4068)
    val keyCols = spec.keyNames.map(col)
    val cur = capture.select(
      lit(srvid).as("srvid") +: keyCols :+
        struct(col("ts") +: spec.counterCols.map(c => col(c.name)): _*)
          .as("record"): _*)

    // by_database: rollup into current_db (:4070-4094)
    val aggCols = spec.aggFields.map(f => sum(col(f.name)).as(f.name))
    val curDb = capture.groupBy(col("dbid"), col("ts"))
      .agg(aggCols.head, aggCols.tail: _*)
      .select(
        lit(srvid).as("srvid"), col("dbid"),
        struct(col("ts") +: spec.aggFields.map(f => col(f.name)): _*)
          .as("record"))
    (dimRows, Seq(GenericDatasource.Current -> cur,
      GenericDatasource.CurrentDb -> curDb))
  }
}
