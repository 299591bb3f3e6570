package graft

/** Smoke probe for the driver's `SparkEntry.entry` contract: runs the
  * flagship query at the smallest scale factor on [[Verify]]'s session
  * ([[GraftSession]]) and exits non-zero unless it returns rows.
  * Checked in permanently so the verify recipe can `runMain` it instead
  * of recreating a throwaway main each round. */
object EntryProbe {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession("graft-entry-probe")
    try {
      val n = SparkEntry.entry(spark).count()
      println(s"[entry-probe] rows=$n")
      if (n <= 0) sys.exit(1)
    } finally spark.stop()
  }
}
