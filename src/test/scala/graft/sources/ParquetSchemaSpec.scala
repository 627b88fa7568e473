package graft.sources

import java.nio.file.{Files, Path => JPath}

import graft.SparkSpec
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.execution.datasources.parquet.GraftParquetSchema

/** [[GraftParquetSchema]] gives the schema `spark.read.parquet` infers,
  * read from one footer on the driver where it can and from Spark's own
  * inference elsewhere, and [[Tables]] registers tables with no Spark job.
  */
class ParquetSchemaSpec extends SparkSpec {
  import spark.implicits._

  private val sfDir = "/root/testdata/sf0.001"

  private def withConf[A](kv: (String, String)*)(body: => A): A = {
    val prev = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private def sparkSchema(paths: String*) = spark.read.parquet(paths: _*).schema

  /** Spark's schema, and the footer read took it (no fallback). */
  private def assertFromFooter(paths: String*): Unit = {
    val want = sparkSchema(paths: _*)
    assert(GraftParquetSchema.fromFooter(spark, paths).contains(want), paths)
    assert(GraftParquetSchema.infer(spark, paths) == want, paths)
  }

  private def tmp(prefix: String): JPath = Files.createTempDirectory(prefix)

  test("every sf table and its Spark-written copy read with Spark's schema") {
    withConf("spark.sql.legacy.parquet.nanosAsLong" -> "true") {
      val copy = tmp("parquet_schema_copy").toString
      Tables.names.foreach { n =>
        val path = s"$sfDir/$n.parquet"
        assertFromFooter(path)
        assert(Tables(spark, sfDir, n).schema == sparkSchema(path), n)
        spark.read.parquet(path).repartition(2).write.parquet(s"$copy/$n.parquet")
        assertFromFooter(s"$copy/$n.parquet")
        assert(Tables(spark, copy, n).schema == sparkSchema(s"$copy/$n.parquet"), n)
      }
    }
  }

  test("the footer conversion follows the session's parquet read conf") {
    // a file with no Spark schema in its footer, so the converter decides
    val file = tmp("parquet_schema_conf").resolve("raw.parquet").toString
    val schema = MessageTypeParser.parseMessageType(
      """message raw {
        |  required int64 id;
        |  optional binary b;
        |  optional int96 t96;
        |  optional int64 ntz (TIMESTAMP(MICROS,false));
        |}""".stripMargin)
    val writer = ExampleParquetWriter.builder(new Path(file))
      .withType(schema).withConf(spark.sparkContext.hadoopConfiguration).build()
    try writer.write(new SimpleGroupFactory(schema).newGroup()
      .append("id", 1L).append("b", Binary.fromString("x"))
      .append("t96", Binary.fromConstantByteArray(new Array[Byte](12)))
      .append("ntz", 0L))
    finally writer.close()
    assertFromFooter(file)
    Seq("spark.sql.parquet.binaryAsString" -> "true",
      "spark.sql.parquet.inferTimestampNTZ.enabled" -> "false").foreach { kv =>
      val before = sparkSchema(file)
      withConf(kv) {
        assert(sparkSchema(file) != before, kv)
        assertFromFooter(file)
      }
    }
  }

  test("registering the tables starts no Spark job") {
    val dir = tmp("parquet_schema_register")
    Tables.names.foreach(n => Files.copy(
      java.nio.file.Paths.get(s"$sfDir/$n.parquet"), dir.resolve(s"$n.parquet")))
    assert(jobsOf(Tables.registerAll(spark, dir.toString)) == 0)
    assert(jobsOf(Tables.registerAll(spark, dir.toString)) == 0)
    assert(spark.table("nation").count() == 25)
  }

  test("fallback inputs read with Spark's schema") {
    val root = tmp("parquet_schema_fallback")
    val parted = root.resolve("parted").toString
    (0 until 6).map(i => (i, s"v$i", i % 2)).toDF("a", "b", "p")
      .write.partitionBy("p").parquet(parted)
    assert(GraftParquetSchema.fromFooter(spark, Seq(parted)).isEmpty)
    assert(GraftParquetSchema.infer(spark, Seq(parted)) == sparkSchema(parted))
    assert(Tables.parquet(spark, parted).schema == sparkSchema(parted))

    // two files with different columns in one directory
    val mixed = root.resolve("mixed").toString
    Seq((1, "x")).toDF("a", "b").write.parquet(mixed)
    Seq((2, 3L)).toDF("a", "c").write.mode("append").parquet(mixed)
    assertFromFooter(mixed)
    withConf("spark.sql.parquet.mergeSchema" -> "true") {
      assert(sparkSchema(mixed).fieldNames.toSet == Set("a", "b", "c"))
      assert(GraftParquetSchema.fromFooter(spark, Seq(mixed)).isEmpty)
      assert(GraftParquetSchema.infer(spark, Seq(mixed)) == sparkSchema(mixed))
      assert(Tables.parquet(spark, mixed).schema == sparkSchema(mixed))
    }

    // epoch directories read together: the first file across all paths
    val e0 = root.resolve("state/epoch_0").toString
    val e1 = root.resolve("state/epoch_1").toString
    Seq((1L, "d0")).toDF("n", "digest").write.parquet(e0)
    Seq(("d1", 1L, 2.0)).toDF("digest", "n", "w").write.parquet(e1)
    assertFromFooter(e0, e1)
    assertFromFooter(e1, e0)
    assert(Tables.parquet(spark, e1, e0).schema == sparkSchema(e1, e0))
    assert(Tables.parquet(spark, e0, e1).as[(Long, String)].collect().toSet ==
      spark.read.parquet(e0, e1).as[(Long, String)].collect().toSet)

    // a glob takes Spark's own expansion
    assert(GraftParquetSchema.fromFooter(spark, Seq(s"$root/state/epoch_*")).isEmpty)
    assert(GraftParquetSchema.infer(spark, Seq(s"$root/state/epoch_*")) ==
      sparkSchema(s"$root/state/epoch_*"))

    // an empty directory raises Spark's own error
    val empty = Files.createDirectory(root.resolve("empty")).toString
    val want = intercept[AnalysisException](sparkSchema(empty))
    val got = intercept[AnalysisException](GraftParquetSchema.infer(spark, Seq(empty)))
    assert(got.getCondition == want.getCondition && got.getMessage == want.getMessage)
    assert(intercept[AnalysisException](Tables.parquet(spark, empty)).getCondition ==
      want.getCondition)
  }
}
