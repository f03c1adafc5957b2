package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.{SparkEntry, Tables}

/** A fixed list of `SparkEntry` queries from the `pipeline` and `streaming`
  * modules over the seeded input tables, each fully materialized with a
  * `noop` write. The engine workloads never enter these modules; this
  * workload never enters the engine. */
object PipelineLoad {
  /** The queries, in pass order: dedup, text, profiling, signature
    * index, then a stream query. */
  val Queries: Seq[String] = Seq("p05", "p23", "p107", "p167", "p101")

  /** Passes in one measured unit: a single pass of the list, about 11 s
    * on 4 cores, spread by more than 0.25 across runs on a shared host. */
  val PassesPerUnit = 2

  /** The `SparkEntry` query whose name starts with `prefix_`. */
  def resolve(prefix: String): (String, (SparkSession, String) => DataFrame) = {
    val hits = SparkEntry.queries.filter(_._1.startsWith(prefix + "_")).toSeq
    require(hits.size == 1, s"query $prefix resolves to ${hits.map(_._1)}")
    hits.head
  }

  /** Open the input tables through `Tables` and scan each in full. */
  def load(spark: SparkSession, data: String): Unit = Seq(
    Tables.documents(spark, data), Tables.lineitem(spark, data))
    .foreach(_.write.format("noop").mode("overwrite").save())

  /** Dump each query's result as parquet plus the oracle SQL, in the
    * layout `scripts/compare.py` reads after the run. This is the dump of
    * `graft.Verify`, which cannot be called here because it opens and
    * stops a session of its own. Timestamps are written as INT96 so
    * DuckDB reads them as naive timestamps, like the oracle. */
  def dump(spark: SparkSession, data: String, out: java.nio.file.Path,
      checks: Checks): Unit = {
    java.nio.file.Files.createDirectories(out)
    val key = "spark.sql.parquet.outputTimestampType"
    val prev = spark.conf.getOption(key)
    val names = Queries.map { p =>
      val (name, fn) = resolve(p)
      checks.attempt()
      val t0 = System.nanoTime()
      try {
        val df = fn(spark, data)
        spark.conf.set(key, "INT96")
        try df.coalesce(1).write.mode("overwrite").parquet(out.resolve(name).toString)
        finally prev match {
          case Some(v) => spark.conf.set(key, v)
          case None => spark.conf.unset(key)
        }
      } catch { case e: Exception =>
        checks.fail(s"$name (check pass) threw ${e.getMessage}") }
      Stats.log(f"$name (check pass): ${Stats.ms(System.nanoTime() - t0)}%.0f ms")
      name
    }
    val sql = names.map(n => n -> SparkEntry.oracleSql(n)).toMap
    java.nio.file.Files.write(out.resolve("oracle_sql.json"),
      Stats.json(sql).getBytes("UTF-8"))
  }

  /** One timed pass over the list. */
  def pass(spark: SparkSession, data: String, tr: Tracer, checks: Checks,
      out: Samples): Unit = {
    val p0 = System.nanoTime()
    Queries.foreach { p =>
      val (name, fn) = resolve(p)
      checks.attempt()
      val t0 = System.nanoTime()
      try {
        tr.span("query", if (p == "p101") "streaming" else "pipeline",
            Map.empty) {
          fn(spark, data).write.format("noop").mode("overwrite").save()
        }
        val ms = Stats.ms(System.nanoTime() - t0)
        out.add("query_ms", ms)
        out.add(s"batch.$name", ms / 1000.0)
        Stats.log(f"$name: $ms%.0f ms")
      } catch { case e: Exception =>
        checks.fail(s"$name threw ${e.getMessage}") }
    }
    out.add("pass_s", (System.nanoTime() - p0) / 1e9)
    out.count("passes")
  }
}
