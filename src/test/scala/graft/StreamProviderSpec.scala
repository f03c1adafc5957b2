package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.StreamTuning

/** The state-store provider knob (`spark.graft.stream.stateStoreProvider`)
  * — r14's conf-parameterized streaming-floor lever. Three pins:
  * scoping (set during query construction, restored after), the
  * restart seam (an EXISTING checkpoint keeps the provider recorded in
  * its offset log, so flipping the knob never forces a state-format
  * migration on a live checkpoint), and end-to-end correctness of a
  * fresh RocksDB-backed stateful stream.
  */
class StreamProviderSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val ProviderClassConf =
    "spark.sql.streaming.stateStore.providerClass"
  private val RocksDbClass =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
  private val HdfsClass =
    "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider"
  private val ChangelogConf =
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"

  private def withConf[T](key: String, v: Option[String])(body: => T): T = {
    val prev = spark.conf.getOption(key)
    v match {
      case Some(x) => spark.conf.set(key, x)
      case None => spark.conf.unset(key)
    }
    try body
    finally prev match {
      case Some(x) => spark.conf.set(key, x)
      case None => spark.conf.unset(key)
    }
  }

  test("scoped pins provider + changelog conf during the body and " +
      "restores both after; unset knob leaves the session untouched") {
    // knob unset: scoped must not touch the provider conf at all
    val before = spark.conf.getOption(ProviderClassConf)
    StreamTuning.scoped(spark) {
      assert(spark.conf.getOption(ProviderClassConf) === before)
    }
    // knob set: pinned inside, restored outside. getOption on a SQL
    // conf WITH a built-in default returns Some(default), so "restored"
    // is value-equality with the pre-scope reading, not emptiness. The
    // pre-scope provider is pinned, so the check does not depend on
    // whatever the shared session's default happens to be.
    withConf(StreamTuning.ProviderKey, Some("rocksdb")) {
      withConf(ProviderClassConf, Some(HdfsClass)) {
        StreamTuning.scoped(spark) {
          assert(spark.conf.get(ProviderClassConf) === RocksDbClass)
          assert(spark.conf.get(ChangelogConf) === "true")
        }
        assert(spark.conf.get(ProviderClassConf) === HdfsClass)
      }
    }
  }

  test("restart seam: an existing checkpoint keeps its recorded " +
      "provider when the knob flips; a fresh checkpoint picks the " +
      "knob up — rows exactly-once across the seam in both") {
    val root = java.nio.file.Files.createTempDirectory("graft_provider")
    val src = root.resolve("src"); val out = root.resolve("out")
    val ckpt = root.resolve("ckpt")
    java.nio.file.Files.createDirectories(src)
    val schema = StructType(Seq(StructField("k", LongType)))

    def land(name: String, ks: Long*): Unit = {
      val tmp = root.resolve(s"tmp_$name")
      spark.createDataFrame(
        spark.sparkContext.parallelize(
          ks.map(org.apache.spark.sql.Row(_)), 1), schema)
        .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = java.nio.file.Files.list(tmp).filter(p =>
        p.getFileName.toString.startsWith("part-")).findFirst().get()
      java.nio.file.Files.copy(part, src.resolve(s"$name.parquet"))
    }

    def drain(outDir: java.nio.file.Path,
        ckptDir: java.nio.file.Path): Unit = {
      val q = StreamTuning.startScoped(spark) {
        spark.readStream.schema(schema).parquet(src.toString)
          .dropDuplicates("k") // stateful: the dedup state store
          .writeStream.outputMode("append").format("parquet")
          .option("path", outDir.toString)
          .option("checkpointLocation", ckptDir.toString)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
      }
      try q.awaitTermination() finally q.stop()
    }

    land("a", 1L, 2L, 3L)
    drain(out, ckpt) // checkpoint created under the session default (HDFS)

    withConf(StreamTuning.ProviderKey, Some("rocksdb")) {
      // RESUME the same checkpoint with the knob flipped: Spark
      // re-applies the provider recorded in the offset log, the dedup
      // state (1,2,3) is read back, and only the new key emits
      land("b", 2L, 3L, 4L)
      drain(out, ckpt)
      val got = spark.read.parquet(out.toString)
        .select(col("k")).collect().map(_.getLong(0)).sorted
      assert(got.toSeq === Seq(1L, 2L, 3L, 4L),
        "exactly-once across the provider-knob restart seam")

      // FRESH checkpoint under the knob: the whole stream runs on
      // RocksDB (both files scanned, dedup across them)
      val out2 = root.resolve("out2"); val ckpt2 = root.resolve("ckpt2")
      drain(out2, ckpt2)
      val got2 = spark.read.parquet(out2.toString)
        .select(col("k")).collect().map(_.getLong(0)).sorted
      assert(got2.toSeq === Seq(1L, 2L, 3L, 4L))
    }
  }
}
