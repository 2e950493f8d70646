package graft

import java.lang.ref.WeakReference

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation, PartitioningAwareFileIndex}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType}

/** Parquet table loader for the driver-generated TPC-H-ish testdata
  * (see TESTDATA.md). Centralizing the reads keeps every query's scan
  * a plain parquet scan so Catalyst can push filters and prune columns
  * into the file source.
  *
  * Schema cache. `spark.read.parquet` infers the schema from the
  * footers, and that inference runs one Spark job per read. [[apply]]
  * keeps the schema it inferred for each path and reads later with
  * `spark.read.schema(cached)`, which runs no job. An entry is served
  * only while everything the inference depended on is unchanged:
  *  - the session is the one that made it (`eq`, the `Memo.cached`
  *    rule), so a stopped or sibling session infers again. The entry
  *    holds the session weakly, and a miss drops every entry whose
  *    session is collected or stopped;
  *  - that session's SQL conf equals the conf at inference (e.g.
  *    `spark.sql.parquet.binaryAsString`, `nanosAsLong`);
  *  - the table's file listing (leaf paths, sizes, modification times)
  *    equals the listing inference saw. It is read from the file index
  *    the new relation already built, so a hit lists the files once.
  *
  * Any mismatch reads with plain `spark.read.parquet` and replaces the
  * entry. Every call returns a fresh relation with fresh attribute
  * ids, so self-joins and scan pushdown are as without the cache.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  private final case class Inferred(session: WeakReference[SparkSession], conf: Map[String, String],
      files: Seq[(String, Long, Long)], schema: StructType)

  private val inferred = TrieMap.empty[String, Inferred]

  def apply(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val conf = spark.sessionState.conf.getAllConfs
    val hit = inferred.get(path).filter(e => (e.session.get eq spark) && e.conf == conf).flatMap { e =>
      val df = spark.read.schema(e.schema).parquet(path)
      if (listing(df).contains(e.files)) Some(df) else None
    }
    hit.getOrElse {
      val df = spark.read.parquet(path)
      inferred.filterInPlace((_, e) => Option(e.session.get).exists(!_.sparkContext.isStopped))
      listing(df).foreach(files =>
        inferred.update(path, Inferred(new WeakReference(spark), conf, files, df.schema)))
      df
    }
  }

  /** The leaf files of a file-source relation, as its file index listed
    * them; None for a plan without one. */
  private def listing(df: DataFrame): Option[Seq[(String, Long, Long)]] =
    df.queryExecution.analyzed.collectFirst {
      case r: LogicalRelation if r.relation.isInstanceOf[HadoopFsRelation] =>
        r.relation.asInstanceOf[HadoopFsRelation].location
    }.collect { case index: PartitioningAwareFileIndex =>
      index.allFiles().map(f => (f.getPath.toString, f.getLen, f.getModificationTime)).sorted
    }

  def region(s: SparkSession, d: String): DataFrame     = apply(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame     = apply(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame   = apply(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = apply(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = apply(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame     = apply(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame   = apply(s, d, "lineitem")
  /** events.ts is parquet TIMESTAMP(NANOS), which Spark 4 refuses to
    * read as a timestamp. Sessions set
    * spark.sql.legacy.parquet.nanosAsLong=true, and this loader
    * converts the raw nanos to a µs TimestampType column (integer
    * `div` — double math would lose precision above 2^53 ns). */
  def events(s: SparkSession, d: String): DataFrame = {
    val df = apply(s, d, "events")
    if (df.schema("ts").dataType == LongType)
      df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
    else df
  }
  def documents(s: SparkSession, d: String): DataFrame  = apply(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = apply(s, d, "embeddings")
}
