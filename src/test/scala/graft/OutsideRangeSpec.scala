package graft

import graft.sources.SnapshotTable
import org.apache.spark.sql.functions._

/** [[SnapshotTable.Prune.Outside]] — the complement prune the
  * incremental residual-push design needs for active-set discovery
  * (PLANS.md): skip only files whose stats PROVE every row lies inside
  * the band; everything outside the band must always load.
  */
class OutsideRangeSpec extends SparkSpec {
  import spark.implicits._

  private def readOutside(root: String, lo: Any, hi: Any) =
    SnapshotTable.readFiles(spark, root, SnapshotTable.plan(spark, root, "v1",
      "r", SnapshotTable.Prune.Outside("r", lo, hi)))

  test("complement prune keeps every outside row and skips all-inside files") {
    val root =
      java.nio.file.Files.createTempDirectory("outside_range").toString
    // residual-shaped table: mostly near-zero values clustered by node,
    // a few spikes at the tails — clustered into 8 stats-ranged files
    // on r so the near-zero mass lands in prunable all-inside files
    val t = spark.range(400).select(col("id").as("node"),
      (when(col("id") < 8, col("id") * 1000L - 4000L)
        .otherwise(col("id") % 5 - 2L)).as("r"))
    SnapshotTable.publish(t, root, "v1",
      statsCols = Seq("r"), clusterFiles = Some(8))
    val read = readOutside(root,
      java.lang.Long.valueOf(-10L), java.lang.Long.valueOf(10L))
    val expectOutside = t.filter(abs(col("r")) > 10).collect()
      .map(_.getLong(0)).toSet
    val gotRows = read.collect()
    val gotNodes = gotRows.map(_.getLong(0)).toSet
    // completeness: no outside row may be pruned away
    assert(expectOutside.subsetOf(gotNodes),
      s"missing outside rows: ${expectOutside -- gotNodes}")
    // effectiveness: the all-inside files actually pruned — far fewer
    // rows load than the table holds (file-granular, so SOME inside
    // rows ride along in the spike files)
    assert(gotRows.length < 400,
      "no files were pruned — the complement prune did nothing")
    // soundness of the fallback: a version with no stats returns all
    val root2 =
      java.nio.file.Files.createTempDirectory("outside_range2").toString
    SnapshotTable.publish(t, root2, "v1")
    assert(readOutside(root2,
      java.lang.Long.valueOf(-10L), java.lang.Long.valueOf(10L))
      .count() == 400L)
    graft.operators.SnapshotDiff.rmTree(root)
    graft.operators.SnapshotDiff.rmTree(root2)
  }
}
