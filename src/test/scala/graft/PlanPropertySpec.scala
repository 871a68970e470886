package graft

import graft.sources.SnapshotTable
import graft.sources.SnapshotTable.Prune
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, DateType, DecimalType, DoubleType, LongType, StringType, StructField, StructType}
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.Prop.propBoolean
import org.scalacheck.rng.Seed

/** Random-key properties of the pruning planner ([[SnapshotTable.plan]])
  * on both tiled layouts a table can carry: range-clustered ([[SnapshotTable.publish]]
  * with `clusterFiles`) and value-aligned ([[SnapshotTable.publishAligned]]).
  * Keys are longs, doubles or strings: the doubles mix integers,
  * fractions, NaN and ±Infinity (probes also draw -0.0 and 0.0), the
  * strings ASCII, U+FF21.. and supplementary-plane code points (where
  * UTF-16 order and Spark's UTF-8 order disagree); probe sets also carry
  * nulls.
  *
  *  - A Keys plan from driver-side keys equals the Keys plan from a frame
  *    of the same keys: the binary search agrees with the codegen kernel.
  *  - That plan's files, filtered to the keys, hold exactly the rows a
  *    full-version filter finds.
  *  - Range and Outside plans keep every file a row filter needs.
  *  - A driver-served [[SnapshotTable.pointLookup]] returns exactly the
  *    rows and schema of the scan it replaces, `readFiles` of its Range
  *    plan filtered to `k = probe` (the table also carries a decimal and a
  *    date column).
  *
  * Fixed seed and bounded sizes: a run costs a few hundred small jobs.
  */
class PlanPropertySpec extends SparkSpec {

  private val params = Test.Parameters.default
    .withMinSuccessfulTests(20).withWorkers(1)
    .withInitialSeed(Seed(601L))

  private val longKey: Gen[Any] = Gen.choose(-1000L, 1000L)
  private val stringKey: Gen[Any] = {
    val char = Gen.frequency(
      3 -> Gen.choose('a', 'e').map(_.toString),
      2 -> Gen.choose('Ａ', 'Ｅ').map(_.toString),
      2 -> Gen.choose(0x1F600, 0x1F604).map(cp => new String(Character.toChars(cp))))
    Gen.choose(1, 3).flatMap(n => Gen.listOfN(n, char)).map(_.mkString)
  }
  // integers, fractions and the values Spark orders specially; `+ 0.0`
  // keeps -0.0 out of the keys (Spark equates it with 0.0, so it would
  // duplicate a key), while the probes draw both zeros
  private val doubleKey: Gen[Any] = Gen.frequency(
    3 -> Gen.choose(-50, 50).map(_.toDouble),
    3 -> Gen.choose(-50.0, 50.0).map(_ + 0.0),
    1 -> Gen.oneOf(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity))

  private def freshRoot(tag: String): String = {
    val root = s"${sys.props("java.io.tmpdir")}/graft_planprop_$tag"
    graft.operators.SnapshotDiff.rmTree(root)
    root
  }

  /** One `k` column of type `dt` holding `keys`, plus `cols`' values. */
  private def keyFrame(dt: DataType, keys: Seq[Any],
      cols: (String, Int => Any, DataType)*): DataFrame =
    spark.createDataFrame(
      java.util.Arrays.asList(keys.zipWithIndex.map { case (k, i) =>
        Row.fromSeq(k +: cols.map(_._2(i))) }: _*),
      StructType(StructField("k", dt) +:
        cols.map { case (n, _, t) => StructField(n, t) }))

  private def fileName(c: org.apache.spark.sql.Column) =
    substring_index(c, "/", -1)

  private def check(name: String, prop: Prop): Unit = {
    val res = Test.check(params, prop)
    assert(res.passed, s"$name: ${org.scalacheck.util.Pretty.pretty(res)}")
  }

  /** `extraProbes` joins the probe and bound draws; `cutAt` is both a key
    * and a cutpoint of the aligned layout, so probes can land on it.
    */
  private def family(tag: String, dt: DataType, gen: Gen[Any],
      extraProbes: Seq[Any] = Nil, cutAt: Seq[Any] = Nil): Unit = {
    val keys = (cutAt ++ Gen.listOfN(400, gen).pureApply(Gen.Parameters.default,
      Seed(601L))).distinct.take(200)
    val table = keyFrame(dt, keys, ("v", i => i.toLong, LongType),
      ("amount", i => java.math.BigDecimal.valueOf(i * 37L - 500L, 2),
        DecimalType(12, 2)),
      ("day", i => java.sql.Date.valueOf(
        java.time.LocalDate.of(2020, 1, 1).plusDays(i.toLong)), DateType))
    val cuts = (cutAt ++ Gen.pick(5, keys).pureApply(Gen.Parameters.default,
      Seed(602L))).distinct
    val clustered = freshRoot(s"${tag}_clustered")
    SnapshotTable.publish(table, clustered, "v1",
      statsCols = Seq("k"), clusterFiles = Some(6))
    val aligned = freshRoot(s"${tag}_aligned")
    SnapshotTable.publishAligned(table, aligned, "v1", "k", cuts)
    Seq(clustered, aligned).foreach { root =>
      assert(SnapshotTable.tileMergeable(root, "v1", "k"),
        s"$root: precondition: the layout must have pk tiles")
      val full = SnapshotTable.readVersion(spark, root, "v1")
      // a double key compares by its string form: Scala's `==` on a boxed
      // NaN is false, so a set holding NaN would never equal itself
      def rows(df: DataFrame) = df.collect().map(_.toSeq.map {
        case d: Double => d.toString
        case v => v
      }).toSet

      val probeGen = Gen.frequency(4 -> Gen.oneOf(keys), 3 -> gen,
        1 -> Gen.const(null))
      val probes = Gen.choose(0, 8).flatMap(n => Gen.listOfN(n,
        if (extraProbes.isEmpty) probeGen
        else Gen.frequency(4 -> probeGen, 1 -> Gen.oneOf(extraProbes))))
      check(s"$root keys", Prop.forAllNoShrink(probes) { probe =>
        val frame = keyFrame(dt, probe)
        val local = SnapshotTable.plan(spark, root, "v1", "k",
          Prune.Keys(frame, Some(probe)))
        val distributed = SnapshotTable.plan(spark, root, "v1", "k",
          Prune.Keys(frame))
        val hit = probe.filter(_ != null)
        val got = rows(SnapshotTable.readFiles(spark, root, local)
          .filter(col("k").isin(hit: _*)))
        val want = rows(full.filter(col("k").isin(hit: _*)))
        // each probe's lookup against the scan it replaces
        val lookups = probe.map { k =>
          val served = SnapshotTable.pointLookup(spark, root, "k", k).get
          val scan = SnapshotTable.readFiles(spark, root, SnapshotTable.plan(
            spark, root, "v1", "k", Prune.Range("k", k, k)))
            .filter(col("k") === lit(k))
          (k, served.schema == scan.schema, rows(served), rows(scan))
        }
        val wrong = lookups.filterNot { case (_, sameSchema, a, b) =>
          sameSchema && a == b }
        (local == distributed) :| s"local $local != distributed $distributed" &&
          (got == want) :| s"pruned rows $got != full rows $want" &&
          wrong.isEmpty :| s"lookup differs from its scan: $wrong"
      })

      def needs(prune: Prune, rowFilter: org.apache.spark.sql.Column) = {
        val plan = SnapshotTable.plan(spark, root, "v1", "k", prune)
        val needed = full.filter(rowFilter)
          .select(fileName(input_file_name())).distinct()
          .collect().map(_.getString(0)).toSet
        plan.files.forall(fs => needed.subsetOf(fs.toSet)) :|
          s"$prune dropped ${needed -- plan.files.getOrElse(Nil)}"
      }
      // bounds favour the files' own min/max keys, where an off-by-one
      // in a stats comparison would drop a needed file
      val edges = full.groupBy(input_file_name())
        .agg(min(col("k")), max(col("k"))).collect()
        .flatMap(r => Seq(r.get(1), r.get(2))).toSeq
      val bound = Gen.frequency(Seq(3 -> Gen.oneOf(edges),
        1 -> Gen.oneOf(keys), 1 -> gen) ++
        extraProbes.headOption.map(_ => 1 -> Gen.oneOf(extraProbes)): _*)
      val bounds = Gen.zip(bound, bound)
      check(s"$root range", Prop.forAllNoShrink(bounds) { case (lo, hi) =>
        needs(Prune.Range("k", lo, hi), col("k").between(lo, hi))
      })
      check(s"$root outside", Prop.forAllNoShrink(bounds) { case (lo, hi) =>
        needs(Prune.Outside("k", lo, hi), col("k") < lo || col("k") > hi)
      })
      graft.operators.SnapshotDiff.rmTree(root)
    }
  }

  test("planner: local and frame Keys plans agree and keep every key's rows; Range/Outside keep every needed file (long keys)") {
    family("long", LongType, longKey)
  }

  test("planner: local and frame Keys plans agree and keep every key's rows; Range/Outside keep every needed file (unicode string keys)") {
    family("string", StringType, stringKey)
  }

  test("planner: local and frame Keys plans agree and keep every key's rows; Range/Outside keep every needed file (double keys with NaN, ±Infinity and ±0.0 probes)") {
    family("double", DoubleType, doubleKey, extraProbes = Seq(-0.0, 0.0),
      cutAt = Seq(0.0))
  }
}
