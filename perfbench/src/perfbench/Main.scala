package perfbench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession
import graft.core.Engine

/** Benchmark entry point, started by `perfbench/run.py`:
  *
  *   Main --workload W --seed N --seconds S --trace 0|1 --work DIR
  *        [--data DIR] [--scale full|tiny]
  *
  * Prints run information, then one result line `{"correct": ...}`.
  * With `--trace 0` the metrics are the end-to-end ones. With `--trace 1`
  * the whole run is traced and the metrics are the per-layer ones; its
  * `trace.op_ms_p50` against `op_ms_p50` of an untraced run of the same
  * seed is the tracing overhead.
  */
object Main {
  val Workloads: Seq[String] =
    Seq("tick_cadence", "pipeline_batch")
  val SetupReps = 5
  /** Entities per datasource of the tick_cadence server: 25 queries in 2
    * databases, 10 quals with 3 constvalues each, 8 backends. FIXTURES.md
    * (F1, F4) leaves these counts open; they are kept small so that a
    * tick's fixed cost, not its rows, dominates its time. */
  val TickShape: Shape = Shape(25, 2, 10, 3, 8)
  val TinyShape: Shape = Shape(3, 2, 2, 2, 2)

  final case class Opts(workload: String, seed: Long, seconds: Double,
      trace: Boolean, work: Path, data: Option[String], tiny: Boolean)

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    val w = need("workload")
    require(Workloads.contains(w), s"unknown workload $w; one of ${Workloads.mkString(", ")}")
    Opts(w, need("seed").toLong, need("seconds").toDouble, need("trace") == "1",
      Paths.get(need("work")).toAbsolutePath, m.get("data"),
      m.getOrElse("scale", "full") == "tiny")
  }

  def session(cores: Int, work: Path): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      // the library's own bench settings (graft.Bench)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.constraintPropagation.enabled", "false")
      // keep every file the run writes inside its work directory
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val cores = Runtime.getRuntime.availableProcessors()
    Files.createDirectories(o.work)
    val spark = session(cores, o.work)
    val tr = new Tracer(spark)
    val checks = new Checks
    val steal0 = Stats.stealSeconds()
    val t0 = System.nanoTime()
    val out = try run(o, spark, tr, checks)
      catch { case e: Throwable =>
        checks.fail(s"run aborted: $e")
        Outcome(Nil, new Samples, 0L, 0.0, 0.0, 0L)
      }
    val wallS = (System.nanoTime() - t0) / 1e9
    val info = Map(
      "workload" -> o.workload, "seed" -> o.seed, "seconds" -> o.seconds,
      "trace" -> o.trace, "cores" -> cores,
      "steal_s" -> (Stats.stealSeconds() - steal0), "wall_s" -> wallS,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory() / (1 << 20),
      "heap_used_mb" -> (Runtime.getRuntime.totalMemory() -
        Runtime.getRuntime.freeMemory()) / (1 << 20),
      "spark_conf" -> spark.conf.getAll,
      "failures" -> checks.failures.take(20))
    println("perfbench-run-info " + Stats.json(info))
    val metrics =
      if (o.trace) {
        tr.drain()
        val layer = Layers.compute(o.workload, out, tr)
        tr.write(o.work.resolve("trace.json"), Map("run" -> info))
        layer
      } else endToEnd(o.workload, out)
    val failed = checks.failures.size.toLong
    val result = Map(
      "correct" -> (failed == 0),
      "attempted" -> math.max(1L, checks.attempted),
      "failed" -> failed,
      "metrics" -> metrics.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) })
    spark.stop()
    println(Stats.json(result))
    sys.exit(0)
  }

  /** What a workload hands back: the set-up times, the samples of the
    * measured part of the run, the store size, the operation count and
    * busy seconds behind `ops_per_s`, and the size of the registry. */
  final case class Outcome(setupS: Seq[Double], samples: Samples,
      storeBytes: Long, ops: Double, busyS: Double, registryBytes: Long)

  /** The sample list holding each workload's foreground operation. */
  def opKey(w: String): String = w match {
    case "tick_cadence" => "tick_ms"
    case "pipeline_batch" => "query_ms"
  }

  /** Median latency of the workload's operation. A pipeline pass runs
    * different queries, so there it is the median over the queries of
    * each query's median across passes: the median of all samples would
    * fall between the fast and the slow queries and swing with either. */
  def opMsP50(w: String, s: Samples): Double = w match {
    case "pipeline_batch" =>
      Stats.median(Layers.Batch.map(q => Stats.median(s.get(s"batch.$q")) * 1000.0))
    case _ => Stats.median(s.get(opKey(w)))
  }

  def endToEnd(w: String, o: Outcome): Map[String, (Double, String)] = {
    val ops = o.samples.get(opKey(w))
    Map(
      "setup_s" -> (Stats.median(o.setupS), "s"),
      "op_ms_p50" -> (opMsP50(w, o.samples), "ms"),
      "op_ms_geomean" -> (Stats.geomean(ops), "ms"),
      "ops_per_s" -> (Stats.ratio(o.ops, o.busyS), "1/s"),
      "store_mb" -> (o.storeBytes / 1e6, "MB"))
  }

  /** Repeat `unit` (a cadence cycle or two query passes) for
    * the run's seconds: a unit starts only while the previous one's
    * duration still fits before the deadline, and at least one runs. The
    * listeners are installed first when the run is traced. */
  def measure(o: Opts, tr: Tracer)(unit: Samples => Unit): Samples = {
    if (o.trace) tr.enable()
    val s = new Samples
    val deadline = System.nanoTime() + (o.seconds * 1e9).toLong
    var last = 0L
    do {
      val t0 = System.nanoTime()
      unit(s)
      last = System.nanoTime() - t0
    } while (System.nanoTime() + last <= deadline)
    s
  }

  private def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Set up `SetupReps` times, each on a fresh store; the last one is used. */
  private def setups[T](make: Int => T): (T, Seq[Double]) = {
    val rs = (0 until SetupReps).map(i => timed(make(i)))
    (rs.last._1, rs.map(_._2))
  }

  def run(o: Opts, spark: SparkSession, tr: Tracer, checks: Checks): Outcome =
    o.workload match {
      case "tick_cadence" =>
        val gen = new Gen(o.seed, if (o.tiny) TinyShape else TickShape, EngineLoad.FreqSec)
        // set-up: open an engine on an empty store and register the server
        val (c, setupS) = setups(i => new Collector(spark,
          new Engine(spark, o.work.resolve(s"store-$i").toString), gen,
          EngineLoad.Srvid, tr, checks, o.seed))
        c.warmUp(new Samples)
        val s = measure(o, tr)(c.cycle)
        // the dashboard over the final store feeds only per-layer metrics,
        // so it runs in the traced run; the full readback check runs always
        if (o.trace) c.dashboard(s)
        c.verify()
        Outcome(setupS, s, s.n("store_bytes").toLong, s.n("ticks"), s.n("busy_ns") / 1e9,
          Stats.dirBytes(Paths.get(c.eng.store.root, "_registry")))

      case "pipeline_batch" =>
        val data = o.data.getOrElse(sys.error("pipeline_batch needs --data"))
        // set-up: open and scan the input tables
        val (_, setupS) = setups(_ => PipelineLoad.load(spark, data))
        // warm-up pass that also dumps every result for the oracle check
        PipelineLoad.dump(spark, data, o.work.resolve("results"), checks)
        val tmp = Paths.get(System.getProperty("java.io.tmpdir"))
        val s = measure(o, tr) { s =>
          (1 to PipelineLoad.PassesPerUnit).foreach { _ =>
            val b0 = Stats.dirBytes(tmp)
            PipelineLoad.pass(spark, data, tr, checks, s)
            s.add("pass_bytes", (Stats.dirBytes(tmp) - b0).toDouble)
          }
        }
        Outcome(setupS, s, Stats.median(s.get("pass_bytes")).toLong,
          s.get("query_ms").size, s.get("pass_s").sum, 0L)
    }
}
