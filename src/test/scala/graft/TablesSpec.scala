package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.types.{BinaryType, StringType}
import org.scalatest.funsuite.AnyFunSuite

/** `Tables.apply`'s schema cache: a repeat read runs no Spark job, and
  * every input the inference depends on (file listing, SQL conf,
  * session) makes the next read infer again. */
class TablesSpec extends AnyFunSuite {

  lazy val spark = TestSpark.init()
  import TestSpark.countJobs

  private def tmp(prefix: String): Path = Files.createTempDirectory(prefix)

  test("a repeat read runs no Spark job; the first read runs the footer job") {
    val dir = tmp("graft-tables-repeat")
    Files.copy(Path.of(TestSpark.sf, "lineitem.parquet"), dir.resolve("lineitem.parquet"))
    val (first, firstJobs) = countJobs(Tables.lineitem(spark, dir.toString))
    val (again, againJobs) = countJobs(Tables.lineitem(spark, dir.toString))
    assert(firstJobs == 1 && againJobs == 0)
    assert(again.schema == first.schema)
    assert(again.count() == first.count())
  }

  test("overwriting a table with another schema returns the new schema and rows") {
    import spark.implicits._
    val dir = tmp("graft-tables-overwrite").toString
    Seq((1L, "a"), (2L, "b")).toDF("k", "v").write.parquet(s"$dir/t.parquet")
    assert(Tables(spark, dir, "t").columns.toSeq == Seq("k", "v"))
    Seq((7, 1.5, "x")).toDF("id", "w", "tag").write.mode("overwrite").parquet(s"$dir/t.parquet")
    val back = Tables(spark, dir, "t")
    assert(back.columns.toSeq == Seq("id", "w", "tag"))
    assert(back.collect().map(r => (r.getInt(0), r.getDouble(1), r.getString(2))).toSeq ==
      Seq((7, 1.5, "x")))
  }

  test("appending a file makes the next read infer again and see the new rows") {
    import spark.implicits._
    val dir = tmp("graft-tables-append").toString
    Seq(1L, 2L).toDF("k").write.parquet(s"$dir/t.parquet")
    assert(Tables(spark, dir, "t").count() == 2)
    Seq(3L).toDF("k").write.mode("append").parquet(s"$dir/t.parquet")
    val (appended, jobs) = countJobs(Tables(spark, dir, "t"))
    assert(jobs == 1)
    assert(appended.select("k").as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L))
    assert(countJobs(Tables(spark, dir, "t"))._2 == 0)
  }

  test("changing a parquet-inference setting makes the next read infer again") {
    import spark.implicits._
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val dir = tmp("graft-tables-conf").toString
    // written without Spark's schema metadata: a Spark-written footer
    // carries its own schema, which inference prefers over the setting
    val schema = MessageTypeParser.parseMessageType("message t { required int32 k; required binary b; }")
    val w = ExampleParquetWriter.builder(new org.apache.hadoop.fs.Path(s"$dir/t.parquet/part-0.parquet"))
      .withType(schema).withConf(spark.sessionState.newHadoopConf()).build()
    try w.write(new SimpleGroupFactory(schema).newGroup().append("k", 1).append("b", "ab"))
    finally w.close()
    val key = "spark.sql.parquet.binaryAsString"
    assert(Tables(spark, dir, "t").schema("b").dataType == BinaryType)
    spark.conf.set(key, "true")
    try {
      val (asString, jobs) = countJobs(Tables(spark, dir, "t"))
      assert(jobs == 1 && asString.schema("b").dataType == StringType)
      assert(asString.select("b").as[String].collect().toSeq == Seq("ab"))
    } finally spark.conf.unset(key)
    assert(Tables(spark, dir, "t").schema("b").dataType == BinaryType)
  }

  test("an entry made by another session is not served") {
    val dir = tmp("graft-tables-session")
    Files.copy(Path.of(TestSpark.sf, "nation.parquet"), dir.resolve("nation.parquet"))
    val other = spark.newSession()
    // same SQL conf, so only the session differs
    spark.sessionState.conf.getAllConfs.foreach { case (k, v) =>
      if (other.conf.isModifiable(k)) other.conf.set(k, v)
    }
    assert(other.sessionState.conf.getAllConfs == spark.sessionState.conf.getAllConfs)
    Tables.nation(spark, dir.toString)
    val (mine, jobs) = countJobs(Tables.nation(other, dir.toString))
    assert(jobs == 1 && (mine.sparkSession eq other))
    assert(mine.count() == 25)
  }

  test("a self-join of two reads of one table still resolves") {
    val a = Tables.nation(spark, TestSpark.sf)
    val b = Tables.nation(spark, TestSpark.sf)
    val ids = (df: org.apache.spark.sql.DataFrame) =>
      df.queryExecution.analyzed.output.map(_.exprId).toSet
    assert(ids(a).intersect(ids(b)).isEmpty)
    val pairs = a.join(b, a("n_regionkey") === b("n_regionkey") &&
        a("n_nationkey") < b("n_nationkey"))
      .select(a("n_nationkey"), b("n_nationkey"))
    // 25 nations in 5 regions of 5: 5 × C(5, 2) ordered pairs
    assert(pairs.count() == 50)
  }
}
