package perfbench

import java.sql.Timestamp
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._
import graft.core.{QualstatsDatasource, StatementsDatasource}
import graft.spec.Specs

/** Entity counts per server for the staged datasources. */
final case class Shape(queries: Int, dbs: Int, quals: Int, variants: Int,
    backends: Int)

/** Seeded staging generator for the engine workloads, in the FIXTURES
  * F1 (statements), F4 (qualstats) and F7 (bgwriter, activity) staging
  * shapes.
  *
  * Every counter is monotone: counter `f` of entity `e` at sample `k` is
  * `inc(e) * weight(f) * k`, with `inc(e)` drawn from the seed. So any
  * readback sum, row count, delta or top-K ranking over a set of retained
  * samples has a closed form the workloads check responses against.
  * Sample `k` is taken at `t0 + k * freqSec`. Rows depend only on (seed,
  * srvid, k), so the same seed gives byte-identical staged inputs.
  */
final class Gen(val seed: Long, val shape: Shape, val freqSec: Long) {
  import Gen._

  def ts(k: Int): Timestamp = new Timestamp(T0 + k * freqSec * 1000L)

  /** Per-entity increment in [1, 97]. */
  def inc(ds: String, srvid: Int, e: Int): Long = {
    var h = seed ^ 0x9E3779B97F4A7C15L
    for (x <- Seq(ds.hashCode.toLong, srvid.toLong, e.toLong)) h = mix(h ^ x)
    1L + java.lang.Long.remainderUnsigned(h, 97L)
  }

  /** Entities of a datasource, as indices into its key space. */
  def entities(ds: String): Int = ds match {
    case Statements => shape.queries * shape.dbs
    case Qualstats => shape.quals * shape.variants
    case Activity => shape.backends
    case Bgwriter => 1
  }

  def queryOf(e: Int): Int = e / shape.dbs
  def dbOf(e: Int): Int = e % shape.dbs
  def queryid(q: Int): Long = 1000L + q
  def dbid(d: Int): Long = 16384L + d

  private def counterValue(dt: DataType, v: Long, k: Int, name: String,
      e: Int): Any = dt match {
    case LongType => v
    case DoubleType => v.toDouble
    case IntegerType => (v % 1000000L).toInt
    case _: DecimalType => new java.math.BigDecimal(v)
    case TimestampType => ts(k)
    case BooleanType => k % 2 == 0
    case StringType => s"$name-$e-${k % 7}"
    case other => throw new IllegalArgumentException(s"no generator for $other")
  }

  /** Value of counter number `fi` of entity `e` at sample `k`. */
  def counter(ds: String, srvid: Int, e: Int, fi: Int, k: Int): Long =
    inc(ds, srvid, e) * (fi % 5 + 1) * k

  /** One staged row of `ds` for entity `e` at sample `k`, in `schema`. */
  private def row(ds: String, schema: StructType, srvid: Int, e: Int,
      k: Int): Row = {
    val counters = ds match {
      case Statements => Specs.statements.counterCols
      case Qualstats => Specs.qualstats.counterCols
      case Activity => Specs.statActivity.counterCols
      case Bgwriter => Specs.statBgwriter.counterCols
    }
    val ci = counters.map(_.name).zipWithIndex.toMap
    Row.fromSeq(schema.fields.toSeq.map { f =>
      f.name match {
        case "srvid" => srvid
        case "ts" => ts(k)
        case n if ci.contains(n) =>
          counterValue(f.dataType, counter(ds, srvid, e, ci(n), k), k, n, e)
        case n => key(ds, n, e)
      }
    })
  }

  private def key(ds: String, name: String, e: Int): Any = (ds, name) match {
    case (Statements, "queryid") => queryid(queryOf(e))
    case (Statements, "dbid") => dbid(dbOf(e))
    case (Statements, "toplevel") => true
    case (Statements, "userid") => 10L
    case (Statements, "query") => s"SELECT /* q${queryOf(e)} */ * FROM t${queryOf(e)} WHERE id = $$1"
    case (Qualstats, "qualid") => 5000L + e / shape.variants
    case (Qualstats, "queryid") => queryid((e / shape.variants) % shape.queries)
    case (Qualstats, "dbid") => dbid((e / shape.variants) % shape.dbs)
    case (Qualstats, "userid") => 10L
    case (Qualstats, "quals") => Seq(Row(200L + e / shape.variants, 1, 96L, "f"))
    case (Qualstats, "constvalues") => Seq(s"'c${e % shape.variants}'")
    case _ => throw new IllegalArgumentException(s"no key $name for $ds")
  }

  /** Staged rows of `ds` for one server over samples `ks`. */
  def rows(ds: String, srvid: Int, ks: Seq[Int]): Seq[Row] = {
    val schema = stagingSchema(ds)
    for (k <- ks; e <- 0 until entities(ds)) yield row(ds, schema, srvid, e, k)
  }

  /** The staged batches of one collector step, as local DataFrames
    * (built here, outside any timed region). */
  def batches(spark: SparkSession, srvid: Int,
      ks: Seq[Int]): Seq[(String, DataFrame, Int)] =
    Staged.map { ds =>
      val rs = rows(ds, srvid, ks)
      (ds, spark.createDataFrame(rs.asJava, stagingSchema(ds)), rs.size)
    }

  /** SHA-256 over every staged row of `srvids` x `ks`, in order. */
  def digest(srvids: Seq[Int], ks: Seq[Int]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    for (s <- srvids; ds <- Staged; r <- rows(ds, s, ks))
      md.update((r.toString + "\n").getBytes("UTF-8"))
    md.digest().map(b => f"$b%02x").mkString
  }

  // ---- closed forms the checks compare against ----

  /** Sum of counter `fi` of `ds` over retained samples `ks`. */
  def counterSum(ds: String, srvid: Int, fi: Int, ks: Seq[Int]): Long = {
    val sk = ks.map(_.toLong).sum
    (0 until entities(ds)).map(e => inc(ds, srvid, e) * (fi % 5 + 1) * sk).sum
  }

  /** Per-entity increment of counter `fi` between consecutive samples. */
  def step(ds: String, srvid: Int, e: Int, fi: Int): Long =
    inc(ds, srvid, e) * (fi % 5 + 1)
}

object Gen {
  val Statements = "powa_statements"
  val Qualstats = "powa_qualstats"
  val Bgwriter = "powa_stat_bgwriter"
  val Activity = "powa_stat_activity"
  val Staged: Seq[String] = Seq(Statements, Qualstats, Bgwriter, Activity)

  /** 2024-01-01 00:00:00 UTC. */
  val T0: Long = 1704067200000L

  def stagingSchema(ds: String): StructType = ds match {
    case Statements => (new StatementsDatasource).stagingWithQuery
    case Qualstats => (new QualstatsDatasource).stagingFull
    case other => Specs.byName(other).stagingSchema
  }

  /** Counter index of a column within its datasource's counters. */
  def counterIndex(ds: String, name: String): Int =
    Specs.byName(ds).counterCols.indexWhere(_.name == name)

  private def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
}
