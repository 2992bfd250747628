package graft

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.BusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.{BinaryType, StringType}

/** `Tables.load` infers each file's schema once per JVM and reads with
  * it afterwards, so building a read submits no job — but only while
  * the file and the schema-shaping session settings are unchanged.
  */
class TablesSchemaSpec extends SparkSpec {

  private def jobsDuring(body: => Unit): Int = {
    val sc = spark.sparkContext
    val n = new AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        n.incrementAndGet()
    }
    BusDrain(sc)
    sc.addSparkListener(l)
    try { body; BusDrain(sc) } finally sc.removeSparkListener(l)
    n.get
  }

  /** Write `df` as the single-file `<dir>/<name>.parquet` layout. */
  private def writeTable(dir: String, name: String, df: DataFrame): Unit = {
    val tmp = s"$dir/_tmp_$name"
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = new java.io.File(tmp).listFiles()
      .find(_.getName.endsWith(".parquet")).get
    Files.move(part.toPath, Paths.get(dir, s"$name.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
  }

  private def scratchDir(): String =
    Files.createTempDirectory("graft_tables_schema").toString

  test("a second read of a table, in a fresh session, submits no job") {
    Tables.lineitem(spark, sfDir)
    val s = spark.newSession()
    assert(jobsDuring(Tables.lineitem(s, sfDir)) == 0)
  }

  test("a file rewritten at the same path is inferred again") {
    val dir = scratchDir()
    writeTable(dir, "t", spark.range(3).selectExpr("id AS a", "'x' AS b"))
    assert(Tables.load(spark, dir, "t").columns.toSeq == Seq("a", "b"))
    writeTable(dir, "t", spark.range(5).selectExpr("cast(id AS int) AS c"))
    val df = Tables.load(spark, dir, "t")
    assert(df.columns.toSeq == Seq("c"))
    assert(df.count() == 5)
  }

  test("a schema-shaping setting is part of the key") {
    // written without Spark's schema in the footer, as an outside
    // generator would: inference then reads the parquet types, and an
    // unannotated binary column is a string under binaryAsString
    val dir = scratchDir()
    val schema = MessageTypeParser.parseMessageType(
      "message t { required binary b; }")
    val w = ExampleParquetWriter.builder(new Path(s"$dir/t.parquet"))
      .withType(schema).withConf(spark.sparkContext.hadoopConfiguration)
      .build()
    try w.write(new SimpleGroupFactory(schema).newGroup().append("b", "x"))
    finally w.close()
    assert(Tables.load(spark, dir, "t").schema("b").dataType == BinaryType)
    val s = spark.newSession()
    s.conf.set("spark.sql.parquet.binaryAsString", "true")
    assert(Tables.load(s, dir, "t").schema("b").dataType == StringType)
  }
}
