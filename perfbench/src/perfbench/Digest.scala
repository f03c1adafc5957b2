package perfbench

/** Prints the SHA-256 of the staged inputs the tick_cadence generator
  * makes for a seed: `Digest <seed> <ticks>`. Used by the self-test to
  * show that a seed fixes the inputs byte for byte. */
object Digest {
  def main(args: Array[String]): Unit = {
    val gen = new Gen(args(0).toLong, Main.TickShape, EngineLoad.FreqSec)
    println(gen.digest(Seq(EngineLoad.Srvid), 1 to args(1).toInt))
  }
}
