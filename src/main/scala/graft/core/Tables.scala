package graft.core

import org.apache.parquet.schema.LogicalTypeAnnotation.{TimeUnit, TimestampLogicalTypeAnnotation}
import org.apache.parquet.schema.MessageType
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr}
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Loaders for the driver-generated parquet fixtures (TESTDATA.md).
  *
  * Every query receives the scale-factor directory at call time, so the
  * same code runs on sf0.001 smoke, sf0.01 oracle, and sf0.1 bench — and,
  * unchanged, on a 100 TB table: parquet scans are partition-parallel,
  * filters and projections are pushed to the parquet reader by Catalyst,
  * and the driver reads one bounded thing per load: the footer of one
  * file, for the schema (`ParquetFooter.read`, cached per file version),
  * in place of Spark's one-task schema-inference job.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    // Fixture timestamp encodings have drifted across driver regenerations:
    //  - older events.ts was parquet TIMESTAMP(NANOS), which Spark's
    //    vectorized reader rejects outright — read it as a nanos long and
    //    truncate to micros with integer division (matches DuckDB's
    //    nanos→micros truncation; a double division loses precision at 1e18);
    //  - newer fixtures write plain timestamp[us] with no UTC-adjust flag,
    //    which Spark reads as TIMESTAMP_NTZ. Normalize every NTZ column to
    //    TIMESTAMP here, once, at the boundary: the session timezone is
    //    pinned to UTC, so the cast is value-preserving and matches DuckDB's
    //    naive-timestamp semantics, and downstream `unix_micros`/window code
    //    never has to care which encoding the fixture used.
    // The legacy flag is session-wide and sticky, so it is set only when
    // the footer really stores `ts` as TIMESTAMP(NANOS) (the scan consults
    // the conf at execution, so set-and-restore would break the deferred
    // read). No current fixture does.
    val path = s"$dir/$name.parquet"
    if (name == "events" && ParquetFooter.parquetType(spark, path).exists(nanosTs))
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = ParquetFooter.read(spark, path)
    val df =
      if (name == "events" && raw.schema("ts").dataType == LongType)
        raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      else raw
    val ntz = df.schema.fields.filter(_.dataType == TimestampNTZType)
    if (ntz.isEmpty) df
    else {
      val cols: Seq[Column] = df.schema.fields.toSeq.map { f =>
        if (f.dataType == TimestampNTZType) col(f.name).cast(TimestampType).as(f.name)
        else col(f.name)
      }
      df.select(cols: _*)
    }
  }

  private def nanosTs(m: MessageType): Boolean =
    m.containsField("ts") && (m.getType(m.getFieldIndex("ts")).getLogicalTypeAnnotation match {
      case t: TimestampLogicalTypeAnnotation => t.getUnit == TimeUnit.NANOS
      case _ => false
    })

  /** Register every fixture table as a temp view (for spark.sql paths). */
  def registerAll(spark: SparkSession, dir: String): Unit =
    names.foreach(n => load(spark, dir, n).createOrReplaceTempView(n))
}
