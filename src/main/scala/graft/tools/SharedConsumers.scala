package graft.tools

import graft.{CacheRegistry, GraftSession, SparkEntry}

/** Derives Bench's shared-frame RELEASE SCHEDULE empirically: runs every
  * registered query (sorted-name order — Bench's order) with
  * [[CacheRegistry]] access attribution on, then prints, per shared key,
  * the set of consuming queries and the LAST consumer in sorted order.
  * Bench releases each frame family right after that last consumer, so
  * long-lived shared frames stop competing for executor storage with the
  * families still to come. If a code change adds a later consumer without
  * updating Bench's schedule, the bench capture's `shared_rebuilds` field
  * turns non-empty — rerun this tool and refresh the map.
  *
  * Usage: `sbt "runMain graft.tools.SharedConsumers <sfDir>"`
  * (sf0.001 — only the access pattern matters, not the data volume).
  */
object SharedConsumers {

  def main(args: Array[String]): Unit = {
    val Array(sfDir) = args
    val spark = GraftSession.getOrCreate("shared-consumers")
    val names = SparkEntry.queries.toSeq.sortBy(_._1)
    names.foreach { case (name, fn) =>
      CacheRegistry.beginQuery(name)
      try { fn(spark, sfDir).count(); () }
      catch { case e: Throwable =>
        System.err.println(s"shared-consumers: $name failed: ${e.getMessage}")
      }
      finally { CacheRegistry.endQuery(); CacheRegistry.clear() }
    }
    val order = names.map(_._1).zipWithIndex.toMap
    // strip the sfDir suffix so the printed key is the stable family
    // prefix Bench matches on ("pq_sub:8", not "pq_sub:8:/root/...")
    def prefix(k: String) =
      if (k.endsWith(":" + sfDir)) k.dropRight(sfDir.length + 1) else k
    val byKey = CacheRegistry.sharedAccesses.toSeq
      .map { case (k, qs) => (prefix(k), qs) }
      .sortBy(_._1)
    byKey.foreach { case (k, qs) =>
      val last = qs.maxBy(order.getOrElse(_, -1))
      println(s"""{"key":"$k","last":"$last","consumers":[${
        qs.toSeq.sorted.map("\"" + _ + "\"").mkString(",")}]}""")
    }
    // the schedule Bench embeds: last consumer -> released key prefixes
    val sched = byKey.groupBy(_._2.maxBy(order.getOrElse(_, -1)))
      .toSeq.sortBy(s => order.getOrElse(s._1, -1))
    println("// releaseAfter map for graft.Bench:")
    sched.foreach { case (last, ks) =>
      println(s"""    "$last" -> Seq(${
        ks.map("\"" + _._1 + "\"").mkString(", ")}),""")
    }
    CacheRegistry.clearAll()
    spark.stop()
  }
}
