package graft

import java.nio.file.{Files, Path, StandardCopyOption}
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BinaryType, StringType}
import graft.catalog.Shared.T

/** [[graft.catalog.Shared.T]] resolves a table file once per session and
  * version and hands every call a fresh plan over that relation. */
class TableOpenSpec extends SparkSpec {
  import spark.implicits._

  private def rows(df: DataFrame) = df.collect().map(_.toString).sorted.toSeq

  /** `df` as the one parquet FILE `tmp/name.parquet`: Spark writes a
    * directory, so its single part file is copied over that path. */
  private def writeFile(tmp: Path, name: String, df: DataFrame): Unit = {
    val out = tmp.resolve(s"$name.out")
    df.coalesce(1).write.mode("overwrite").parquet(out.toString)
    val part = Files.list(out).filter(_.getFileName.toString.endsWith(".parquet"))
      .findFirst().get
    Files.copy(part, tmp.resolve(s"$name.parquet"), StandardCopyOption.REPLACE_EXISTING)
  }

  private def temp(): Path = java.nio.file.Paths.get(tempDir("graft_open"))

  /** A temp data dir holding an `orders` table file. */
  private def withOrders(f: String => Unit): Unit = {
    val tmp = temp()
    writeFile(tmp, "orders", spark.range(1000)
      .select(col("id").as("o_orderkey"), (col("id") % 37).as("o_custkey")))
    f(tmp.toString)
  }

  test("a second open of a table starts no Spark job and returns the same rows") {
    withOrders { dir =>
      assert(jobsStarted(T(spark, dir, "orders")) == 1) // the footer read
      val first = rows(T(spark, dir, "orders"))
      assert(jobsStarted(T(spark, dir, "orders")) == 0)
      assert(rows(T(spark, dir, "orders")) == first)
    }
  }

  test("a self-join of two opens resolves, with distinct expression ids") {
    withOrders { dir =>
      val a = T(spark, dir, "orders"); val b = T(spark, dir, "orders")
      val ids = (d: DataFrame) => d.queryExecution.analyzed.output.map(_.exprId).toSet
      assert((ids(a) intersect ids(b)).isEmpty)
      val joined = a.join(b, a("o_orderkey") === b("o_orderkey"))
        .select(a("o_orderkey"), b("o_custkey"))
      assert(joined.count() == 1000)
    }
  }

  test("a table file rewritten in place is read anew") {
    val tmp = temp()
    writeFile(tmp, "t", Seq(1L, 2L).toDF("k"))
    assert(rows(T(spark, tmp.toString, "t")) == Seq("[1]", "[2]"))
    writeFile(tmp, "t", Seq(7L, 8L, 9L).toDF("k").withColumn("v", lit("x")))
    assert(rows(T(spark, tmp.toString, "t")) == Seq("[7,x]", "[8,x]", "[9,x]"))
  }

  test("a schema-inference conf change re-resolves the table") {
    val tmp = temp()
    // a Spark-written file carries its Spark schema, which inference
    // prefers to every conf: write a bare BINARY column instead
    val schema = MessageTypeParser.parseMessageType("message b { required binary s; }")
    val out = HadoopOutputFile.fromPath(new org.apache.hadoop.fs.Path(s"$tmp/b.parquet"),
      spark.sparkContext.hadoopConfiguration)
    val w = ExampleParquetWriter.builder(out).withType(schema).build()
    try Seq("a", "b").foreach(v => w.write(new SimpleGroupFactory(schema).newGroup().append("s", v)))
    finally w.close()
    val key = "spark.sql.parquet.binaryAsString"
    val prev = spark.conf.getOption(key)
    assert(T(spark, tmp.toString, "b").schema("s").dataType == BinaryType)
    spark.conf.set(key, "true")
    try {
      val asString = T(spark, tmp.toString, "b")
      assert(asString.schema("s").dataType == StringType)
      assert(rows(asString) == Seq("[a]", "[b]"))
    } finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    assert(T(spark, tmp.toString, "b").schema("s").dataType == BinaryType)
  }

  test("a directory table is read, and read again after it gains a file") {
    val tmp = temp()
    val path = tmp.resolve("d.parquet").toString
    Seq(1L, 2L).toDF("k").write.parquet(path)
    assert(rows(T(spark, tmp.toString, "d")) == Seq("[1]", "[2]"))
    Seq(3L).toDF("k").write.mode("append").parquet(path)
    assert(rows(T(spark, tmp.toString, "d")) == Seq("[1]", "[2]", "[3]"))
  }
}
