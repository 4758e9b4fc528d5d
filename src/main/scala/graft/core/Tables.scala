package graft.core

import java.io.FileNotFoundException
import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType}

/** Parquet table loader for the driver test layout (`TESTDATA.md`):
  * one parquet file/dir per table under an sf directory. Centralizing the
  * read keeps scan options (and, at cluster scale, bucketing / FS config)
  * in one place.
  *
  * The driver's `events` table stores TIMESTAMP(NANOS), which Spark's
  * parquet reader rejects; sessions set
  * `spark.sql.legacy.parquet.nanosAsLong=true` and this loader converts
  * the long back to a timestamp. The data is micro-aligned (verified:
  * nanos % 1000 == 0 at every sf), and `div 1000` is exact integer
  * division (a double division would lose precision above 2^53), so the
  * round-trip is lossless.
  *
  * '''Schema memo.''' `spark.read.parquet(path)` infers the schema by
  * reading a parquet footer in a Spark job (one task, ~40-60 ms), on
  * every call. The loader infers each table's schema once per JVM:
  *  - the first read of a path is a plain `spark.read.parquet(path)`, and
  *    its `df.schema` is remembered;
  *  - every later read is `spark.read.schema(remembered).parquet(path)`,
  *    which still lists the files (~1-5 ms) but starts no Spark job. The
  *    analyzed plans of the two reads are `sameResult`, so a session-cache
  *    pin built on either one serves both.
  *
  * An entry is keyed on the path, on the leaf files (path, length and
  * modification time, from one Hadoop listing) and on the session confs
  * that change parquet inference ([[inferenceConfs]]). A file added,
  * removed or rewritten under the path, or one of those confs set
  * differently, makes the next read infer again and replace the entry:
  * there is one entry per path, so the memo is bounded by the number of
  * table paths. The schema belongs to the files, not to a session's
  * cache, so `spark.catalog.clearCache()` does not clear the memo.
  */
object Tables {
  /** Session confs that change what `spark.read.parquet` infers. */
  private val inferenceConfs: Seq[String] = Seq(
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.caseSensitive")

  /** What an inferred schema was read from: the leaf files as
    * (path, length, modification time) and the [[inferenceConfs]]
    * values. */
  private final case class Key(files: Seq[(String, Long, Long)],
      confs: Seq[Option[String]])

  private val schemas = new ConcurrentHashMap[String, (Key, StructType)]()

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val key = Key(leafFiles(spark, path), inferenceConfs.map(spark.conf.getOption))
    val df = schemas.get(path) match {
      case (k, schema) if k == key => spark.read.schema(schema).parquet(path)
      case _ =>
        val read = spark.read.parquet(path)
        schemas.put(path, (key, read.schema))
        read
    }
    df.schema.fields.find(f => f.name == "ts" && f.dataType == LongType) match {
      case Some(_) => df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case None => df
    }
  }

  /** Every file under `path` (or `path` itself), sorted; empty when the
    * path does not exist, so the read raises Spark's own error. */
  private def leafFiles(spark: SparkSession, path: String): Seq[(String, Long, Long)] = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = Vector.newBuilder[(String, Long, Long)]
    try {
      val it = fs.listFiles(p, true)
      while (it.hasNext) {
        val f = it.next()
        files += ((f.getPath.toString, f.getLen, f.getModificationTime))
      }
    } catch { case _: FileNotFoundException => }
    files.result().sorted
  }
}
