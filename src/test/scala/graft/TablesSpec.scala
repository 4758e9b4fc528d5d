package graft

import java.io.File
import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.Tables

/** `Tables.load` infers each table's schema once: a later read of the
  * same files passes the remembered schema and starts no Spark job, and
  * reads exactly what an inferring read would; changed files or changed
  * inference confs infer again.
  */
class TablesSpec extends SparkSpec {
  import spark.implicits._

  private def tmpDir(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  private def loadJobs(dir: String, name: String): (DataFrame, Int) = {
    var df: DataFrame = null
    val jobs = jobsStartedBy { df = Tables.load(spark, dir, name) }
    (df, jobs)
  }

  test("every sf table: a remembered-schema read equals the inferring read and starts no job") {
    val names = new File(sf).list().filter(_.endsWith(".parquet"))
      .map(_.stripSuffix(".parquet")).sorted
    assert(names.length == 10, names.mkString(","))
    names.foreach { name =>
      Tables.load(spark, sf, name)
      val (memo, jobs) = loadJobs(sf, name)
      assert(jobs == 0, name)
      val inferred = {
        val df = spark.read.parquet(s"$sf/$name.parquet")
        if (df.schema.exists(f => f.name == "ts" && f.dataType == LongType))
          df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
        else df
      }
      assert(memo.schema.json == inferred.schema.json, name)
      assert(memo.queryExecution.analyzed.sameResult(inferred.queryExecution.analyzed), name)
    }
  }

  test("a table overwritten at the same path with other columns is inferred again") {
    val dir = tmpDir("graft_tables_over")
    Seq((1L, "a")).toDF("k", "v").write.parquet(s"$dir/t.parquet")
    assert(Tables.load(spark, dir, "t").columns.toSeq == Seq("k", "v"))
    assert(loadJobs(dir, "t")._2 == 0)
    Seq((1.5, 2, "x")).toDF("x", "y", "z")
      .write.mode("overwrite").parquet(s"$dir/t.parquet")
    val (df, jobs) = loadJobs(dir, "t")
    assert(jobs >= 1)
    assert(df.schema.map(f => f.name -> f.dataType) ==
      Seq("x" -> DoubleType, "y" -> IntegerType, "z" -> StringType))
    assert(df.as[(Double, Int, String)].collect().toSeq == Seq((1.5, 2, "x")))
  }

  test("a part-directory table loads, and a file added to it re-keys the entry") {
    val dir = tmpDir("graft_tables_parts")
    spark.range(30).repartition(3).write.parquet(s"$dir/p.parquet")
    val parts = new File(s"$dir/p.parquet").list().count(_.endsWith(".parquet"))
    assert(parts == 3)
    assert(Tables.load(spark, dir, "p").count() == 30)
    assert(loadJobs(dir, "p")._2 == 0)
    spark.range(30, 40).coalesce(1).write.mode("append").parquet(s"$dir/p.parquet")
    val (added, jobs) = loadJobs(dir, "p")
    assert(jobs >= 1)
    assert(added.count() == 40)
    assert(loadJobs(dir, "p")._2 == 0)
  }

  test("an inference conf set differently yields that conf's schema, not the remembered one") {
    // written without Spark's schema metadata, so the reader's
    // binaryAsString decides the column type
    val dir = tmpDir("graft_tables_conf")
    val schema = MessageTypeParser.parseMessageType("message m { required binary b; }")
    val writer = ExampleParquetWriter.builder(new Path(s"$dir/b.parquet"))
      .withType(schema).build()
    try writer.write(new SimpleGroupFactory(schema).newGroup().append("b", "hi"))
    finally writer.close()
    def bType = Tables.load(spark, dir, "b").schema("b").dataType
    assert(bType == BinaryType)
    val asString = withConf("spark.sql.parquet.binaryAsString" -> "true") {
      val df = Tables.load(spark, dir, "b")
      assert(df.schema("b").dataType == StringType)
      df.as[String].collect().toSeq
    }
    assert(asString == Seq("hi"))
    assert(bType == BinaryType)
  }
}
