package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.parquet.GraftParquet
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType, TimestampType}

/** Parquet reads without a schema-inference job: every `SnapshotTable`
  * and `Tables` read takes its schema from one driver-side footer read,
  * starts no Spark job before its action, and lands on exactly the schema
  * Spark's own inference gives the same paths. Where the footer cannot
  * decide (no data file, subdirectories), the read is Spark's plain one,
  * errors and partition columns included.
  */
class ParquetReadSpec extends SparkSpec {
  import graft.sources.SnapshotTable

  private def freshDir(tag: String): String = {
    val dir = s"${sys.props("java.io.tmpdir")}/graft_pread_$tag"
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).getOrElse(Array.empty).foreach(rm); f.delete()
    }
    rm(new java.io.File(dir))
    dir
  }

  /** The schema a plain `spark.read.parquet` infers for `files`. */
  private def inferred(files: Seq[String]): StructType =
    spark.read.parquet(files: _*).schema

  /** Both reads fail the same way, or both succeed with one schema. */
  private def assertSameOutcome(ours: => StructType, plain: => StructType): Unit =
    (scala.util.Try(ours), scala.util.Try(plain)) match {
      case (scala.util.Success(a), scala.util.Success(b)) => assert(a == b)
      case (scala.util.Failure(a), scala.util.Failure(b)) =>
        assert(a.getClass == b.getClass, s"$a vs $b")
        assert(a.getMessage == b.getMessage)
      case (a, b) => fail(s"outcomes differ: ours $a, plain $b")
    }

  test("the job counter sees plain parquet inference's job") {
    val (_, jobs) = jobsStartedBy(
      spark.read.parquet(Tables.path(sf, "region")))
    assert(jobs >= 1, "a plain read infers its schema with a Spark job")
  }

  test("Tables.load starts no job and keeps inference's schema on every fixture table") {
    Tables.all.foreach { name =>
      val (loaded, jobs) = jobsStartedBy(Tables.load(spark, sf, name))
      assert(jobs == 0, s"$name: Tables.load started $jobs Spark job(s)")
      val plain = spark.read.parquet(Tables.path(sf, name))
      assert(GraftParquet.read(spark, Tables.path(sf, name)).schema ==
        plain.schema, s"$name: footer schema differs from inference")
      val expected =
        if (name == "events") Tables.normalizeEvents(plain) else plain
      assert(loaded.schema == expected.schema, s"$name: schema differs")
    }
    assert(Tables.load(spark, sf, "embeddings").schema("embedding")
      .dataType.typeName == "array")
  }

  test("SnapshotTable readers build their frames without a Spark job (long, string, double stats)") {
    val base = spark.range(400L).select(col("id"),
      format_string("k%04d", col("id")).as("s"), (col("id") * 0.5).as("d"),
      array(col("id"), col("id") + 1).as("arr"))
    Seq[(String, Any)]("id" -> 123L, "s" -> "k0123", "d" -> 61.5).foreach {
      case (pk, probe) =>
        val root = freshDir(s"st_$pk")
        SnapshotTable.publish(base, root, "v1",
          statsCols = Seq(pk), clusterFiles = Some(4))
        val reads = Seq[(String, () => Option[DataFrame])](
          "readVersion" -> (() =>
            Some(SnapshotTable.readVersion(spark, root, "v1"))),
          "Ranges plan" -> (() => Some(SnapshotTable.readFiles(spark, root,
            SnapshotTable.plan(spark, root, "v1", pk,
              SnapshotTable.Prune.Ranges(pk, Seq("k0100" -> "k0120")))))),
          "local Keys plan" -> (() => Some(SnapshotTable.readFiles(spark,
            root, SnapshotTable.plan(spark, root, "v1", pk,
              SnapshotTable.Prune.Keys(base.filter(col(pk) === lit(probe))
                .select(pk), Some(Seq(probe))))))),
          "pointLookup" -> (() =>
            SnapshotTable.pointLookup(spark, root, pk, probe)))
        // a lookup's frame is a local relation without input files: its
        // schema is checked against the files of the plan it reads
        val lookupFiles = SnapshotTable.plan(spark, root, "v1", pk,
          SnapshotTable.Prune.Range(pk, probe, probe)).files.get
          .map(f => s"$root/v1/$f")
        reads.foreach { case (name, read) =>
          val (frame, jobs) = jobsStartedBy(read())
          assert(jobs == 0, s"$pk/$name started $jobs Spark job(s)")
          frame.foreach { f =>
            val files =
              if (name == "pointLookup") lookupFiles else f.inputFiles.toSeq
            assert(f.schema == inferred(files),
              s"$pk/$name: schema differs from inference")
          }
        }
        val hit = SnapshotTable.pointLookup(spark, root, pk, probe).get
        assert(hit.select("id").collect().map(_.getLong(0)).toSeq == Seq(123L))
    }
  }

  test("a TIMESTAMP(NANOS) column reads as inference reads it, either nanosAsLong") {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val dir = freshDir("nanos")
    new java.io.File(dir).mkdirs()
    val file = s"$dir/events.parquet"
    val schema = MessageTypeParser.parseMessageType(
      "message events { required int64 event_id; " +
        "required int64 ts (TIMESTAMP(NANOS,true)); }")
    val w = ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(file)).withType(schema)
      .withConf(spark.sparkContext.hadoopConfiguration).build()
    val rows = new SimpleGroupFactory(schema)
    w.write(rows.newGroup().append("event_id", 1L)
      .append("ts", 1700000000123456789L))
    w.close()
    val (loaded, jobs) = jobsStartedBy(Tables.load(spark, dir, "events"))
    assert(jobs == 0, s"Tables.load started $jobs Spark job(s)")
    assert(GraftParquet.read(spark, file).schema("ts").dataType == LongType)
    assert(loaded.schema ==
      Tables.normalizeEvents(spark.read.parquet(file)).schema)
    assert(loaded.schema("ts").dataType == TimestampType)
    assert(loaded.select("ts_ns").head().getLong(0) == 1700000000123456789L)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
    try assertSameOutcome(GraftParquet.read(spark, file).schema,
      spark.read.parquet(file).schema)
    finally spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
  }

  test("a version published from an empty frame reads back empty with its schema") {
    val root = freshDir("empty")
    val empty = spark.range(0L).select(col("id"),
      col("id").cast("string").as("s"))
    SnapshotTable.publish(empty, root, "v1", statsCols = Seq("id"))
    val (got, jobs) = jobsStartedBy(SnapshotTable.readVersion(spark, root, "v1"))
    assert(jobs == 0, s"readVersion started $jobs Spark job(s)")
    assert(got.schema == spark.read.parquet(s"$root/v1").schema)
    assert(got.schema.fieldNames.toSeq == Seq("id", "s"))
    assert(got.count() == 0L)
    val lookup = SnapshotTable.pointLookup(spark, root, "id", 5L).get
    assert(lookup.schema == got.schema && lookup.count() == 0L)
  }

  test("a directory with sidecars but no data file fails as a plain read does") {
    val root = freshDir("sidecars")
    val dir = s"$root/v1"
    new java.io.File(dir).mkdirs()
    Seq("_STATS", "_BLOOM", "_LATEST", ".part-0.parquet.crc").foreach(n =>
      java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/$n"), "x"))
    assertSameOutcome(GraftParquet.read(spark, dir).schema,
      spark.read.parquet(dir).schema)
    assertSameOutcome(SnapshotTable.readVersion(spark, root, "v1").schema,
      spark.read.parquet(dir).schema)
    assert(scala.util.Try(spark.read.parquet(dir)).isFailure,
      "precondition: Spark cannot infer a schema from sidecars alone")
  }

  test("a sidecar is never chosen as the footer source") {
    val dir = freshDir("pick")
    spark.range(5L).select(col("id"), lit("x").as("s")).coalesce(1)
      .write.parquet(dir)
    // a VALID parquet file of another schema under each hidden name, all
    // sorting before the data file: choosing one would change the schema
    val other = freshDir("pick_other")
    spark.range(1L).select(lit(1.5).as("zz")).coalesce(1).write.parquet(other)
    val otherFile = new java.io.File(other).listFiles()
      .find(_.getName.endsWith(".parquet")).get.toPath
    Seq("_STATS", "_BLOOM", "_aaa.parquet", ".aaa.parquet").foreach(n =>
      java.nio.file.Files.copy(otherFile, java.nio.file.Paths.get(s"$dir/$n")))
    val (got, jobs) = jobsStartedBy(GraftParquet.read(spark, dir))
    assert(jobs == 0, s"read started $jobs Spark job(s)")
    assert(got.schema.fieldNames.toSeq == Seq("id", "s"))
    assert(got.schema == spark.read.parquet(dir).schema)
    assert(got.count() == 5L)
  }

  test("a partitioned directory (the CDC route's kafka/<sink>/batch=N) keeps its partition column") {
    val dir = s"${freshDir("part")}/kafka/dwd_order_info"
    Seq(0L, 1L).foreach(b => spark.range(3L).select(col("id"))
      .write.mode("overwrite").parquet(s"$dir/batch=$b"))
    val got = GraftParquet.read(spark, dir)
    assert(got.schema == spark.read.parquet(dir).schema)
    assert(got.schema.fieldNames.contains("batch"))
    assert(got.select("batch").distinct().count() == 2L)
  }
}
