package perfbench

import java.nio.file.Paths
import graft.core.Engine

/** Class-loading run made once after the build, started by `perfbench/run.py`:
  *
  *   Train WORK_DIR DATA_DIR
  *
  * It runs both workloads once at tiny size (two ticks and the dashboard
  * on a fresh engine, then the pipeline queries dumped and noop-written
  * over the tiny tables in DATA_DIR), traced, so that the JVM started with
  * `-XX:ArchiveClassesAtExit` dumps every class a run loads into a
  * class-data-sharing archive. Runs map that archive instead of loading
  * and verifying each class from the jars. Its timings are discarded; it
  * exits non-zero when a check fails.
  */
object Train {
  def main(args: Array[String]): Unit = {
    val Array(workArg, data) = args
    val work = Paths.get(workArg).toAbsolutePath
    val spark = Main.session(Runtime.getRuntime.availableProcessors(), work)
    val tr = new Tracer(spark)
    val checks = new Checks
    tr.enable()
    val gen = new Gen(1L, Main.TinyShape, EngineLoad.FreqSec)
    val c = new Collector(spark, new Engine(spark, work.resolve("store").toString),
      gen, EngineLoad.Srvid, tr, checks, 1L)
    (1 to 2).foreach(_ => c.runRound(new Samples))
    c.dashboard(new Samples)
    c.verify()
    PipelineLoad.load(spark, data)
    PipelineLoad.dump(spark, data, work.resolve("results"), checks)
    PipelineLoad.pass(spark, data, tr, checks, new Samples)
    tr.drain()
    spark.stop()
    checks.failures.foreach(f => System.err.println(s"perfbench train: $f"))
    sys.exit(if (checks.failures.isEmpty) 0 else 1)
  }
}
