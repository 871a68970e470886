package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Stats-table sink helpers — the reference's reflective JDBC batch sink
  * (`RT/utils/ClickHouseUtil.java:22-75`) wrote every bean field EXCEPT
  * those annotated `@TransientSink` (`RT/bean/TransientSink.java:17-20`,
  * used for the in-flight distinct-order HashSets), and stamped a
  * processing-time `ts`. In Spark both concerns are projections.
  */
object Sinks {

  /** Drop transient (in-flight-only) columns and stamp the processing-time
    * column, mirroring the reference's sink contract. `ts` is epoch millis
    * (`UNIX_TIMESTAMP()*1000`, SURVEY §2 F4 — excluded from oracle hashing
    * as nondeterministic).
    */
  def forStatsSink(df: DataFrame, transientCols: Seq[String]): DataFrame =
    df.drop(transientCols: _*)
      .withColumn("ts", (unix_timestamp() * 1000).cast("long"))
}
