package graft.tools

import graft.core.GraftSession

/** Isolated driver for the bench's c12g salted-skew rehearsal — lets
  * the straggler-collapse numbers be tuned/validated without a full
  * suite run. Args: [rows] (default 20M). */
object SkewRehearse {
  def main(args: Array[String]): Unit = {
    val rows = args.headOption.map(_.toLong).getOrElse(20000000L)
    val spark = GraftSession.local()
    println(graft.Bench.skewRehearsal(spark, rows, GraftSession.defaultCpus))
    spark.stop()
  }
}
