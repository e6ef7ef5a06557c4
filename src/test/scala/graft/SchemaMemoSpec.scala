package graft

import java.nio.file.{Files, StandardCopyOption}

import org.apache.hadoop.conf.Configuration
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import scala.util.Try

/** `Q.t` / `Q.events` memoize inferred input-table schemas; a memoized
  * schema must never outlive the files or the confs it was inferred from. */
class SchemaMemoSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private def tmp(): String = Files.createTempDirectory("graft-schema-memo").toString

  /** Runs `body` with `conf` set to `value`, then restores the session. */
  private def withConf[A](conf: String, value: String)(body: => A): A = {
    val old = spark.conf.getOption(conf)
    spark.conf.set(conf, value)
    try body finally old.fold(spark.conf.unset(conf))(spark.conf.set(conf, _))
  }

  private def names(dir: String, table: String): Seq[String] =
    Q.t(spark, dir, table).schema.fieldNames.toSeq

  test("the second read of an unchanged table reuses its schema") {
    val dir = tmp()
    spark.range(3).selectExpr("id AS a").write.parquet(s"$dir/t.parquet")
    assert(!Q.schemaMemoized(spark, s"$dir/t.parquet"))
    assert(names(dir, "t") == Seq("a"))
    assert(Q.schemaMemoized(spark, s"$dir/t.parquet"))
    val df = Q.t(spark, dir, "t")
    assert(df.schema == spark.read.parquet(s"$dir/t.parquet").schema)
    assert(df.collect().map(_.getLong(0)).sorted.toSeq == Seq(0L, 1L, 2L))
  }

  test("a table rewritten at the same path with a new schema is inferred again") {
    val dir = tmp()
    spark.range(3).selectExpr("id AS a").write.parquet(s"$dir/t.parquet")
    assert(names(dir, "t") == Seq("a"))
    spark.range(4).selectExpr("CAST(id AS STRING) AS b", "id * 2 AS c")
      .write.mode("overwrite").parquet(s"$dir/t.parquet")
    assert(!Q.schemaMemoized(spark, s"$dir/t.parquet"))
    val df = Q.t(spark, dir, "t")
    assert(df.schema.fieldNames.toSeq == Seq("b", "c"))
    assert(df.collect().length == 4)

    // single-file tables (the generated data sets' layout): new bytes under
    // the same file name
    def partFile(d: String) =
      new java.io.File(d).listFiles().filter(_.getName.endsWith(".parquet")).head.toPath
    val (one, two) = (tmp(), tmp())
    spark.range(2).selectExpr("id AS x").coalesce(1).write.parquet(s"$one/p")
    spark.range(2).selectExpr("id AS x", "CAST(id AS DOUBLE) AS y").coalesce(1)
      .write.parquet(s"$two/p")
    val table = s"$dir/single.parquet"
    Files.copy(partFile(s"$one/p"), java.nio.file.Paths.get(table))
    assert(names(dir, "single") == Seq("x"))
    Files.copy(partFile(s"$two/p"), java.nio.file.Paths.get(table),
      StandardCopyOption.REPLACE_EXISTING)
    assert(!Q.schemaMemoized(spark, table))
    assert(names(dir, "single") == Seq("x", "y"))
  }

  test("flipping nanosAsLong or binaryAsString infers again") {
    val dir = tmp()
    /** One row through parquet's own writer: no Spark schema in the footer,
      * so inference reads the parquet types (as for the generated data). */
    def writeRaw(path: String, message: String, value: Any): Unit = {
      val schema = MessageTypeParser.parseMessageType(message)
      val w = ExampleParquetWriter.builder(HadoopOutputFile.fromPath(
        new org.apache.hadoop.fs.Path(path), new Configuration())).withType(schema).build()
      val row = new SimpleGroupFactory(schema).newGroup()
      value match {
        case l: Long => row.append("v", l)
        case s: String => row.append("v", s)
      }
      try w.write(row) finally w.close()
    }
    val events = s"$dir/events.parquet"
    writeRaw(events, "message m { required int64 v (TIMESTAMP(NANOS,true)); }",
      1709280930123456789L)
    val nanos = "spark.sql.legacy.parquet.nanosAsLong"
    withConf(nanos, "true") {
      assert(Q.readParquet(spark, events).schema("v").dataType == LongType)
      assert(Q.schemaMemoized(spark, events))
    }
    withConf(nanos, "false") {
      assert(!Q.schemaMemoized(spark, events))
      // inferred again: Spark's own answer for a nanos column, never the
      // LongType memoized under the other value
      assert(Try(Q.readParquet(spark, events).schema("v").dataType).toOption
        .forall(_ != LongType))
    }

    val bin = s"$dir/bin.parquet"
    writeRaw(bin, "message m { required binary v; }", "graft")
    val binaryAsString = "spark.sql.parquet.binaryAsString"
    withConf(binaryAsString, "false") {
      assert(Q.readParquet(spark, bin).schema("v").dataType == BinaryType)
    }
    withConf(binaryAsString, "true") {
      assert(!Q.schemaMemoized(spark, bin))
      assert(Q.readParquet(spark, bin).schema("v").dataType == StringType)
    }
  }
}
