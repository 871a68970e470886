package graft.tools

import graft.GraftSession

/** Prints the formatted physical plan of named SparkEntry queries — the
  * per-round plan-audit loop (`.explain("formatted")` on demand without
  * writing throwaway drivers).
  *
  * Usage: `sbt "runMain graft.tools.ExplainDump <sfDir> <q1,q2,...>"`
  */
object ExplainDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = args.lift(1).map(_.split(",").toSeq)
      .getOrElse(graft.SparkEntry.queries.keys.toSeq.sorted)
    val spark = GraftSession.getOrCreate("explain-dump")
    names.foreach { n =>
      println(s"\n===== $n =====")
      graft.SparkEntry.queries(n)(spark, sfDir).explain("formatted")
      graft.CacheRegistry.clear()
    }
    graft.CacheRegistry.clearAll()
    spark.stop()
  }
}
