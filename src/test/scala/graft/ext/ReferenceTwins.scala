package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Column-composition twins of native or mapPartitions operators: the
  * semantics references the specs pin those operators against. No
  * query path calls them. */
object ReferenceTwins {

  /** Word k-shingles from a PRE-MATERIALIZED token-array column
    * (distinct, order-free). HOF reference composition — a position
    * sequence, an interpreted lambda frame and a sliced copy per
    * shingle. Kept ONLY as the semantics oracle the native expression
    * is spec'd identical against; query paths use
    * [[Dedup.shinglesFromTokens]]. */
  def shinglesFromTokensHof(toks: Column, k: Int): Column =
    array_distinct(
      when(size(toks) < k, array(concat_ws(" ", toks)))
        .otherwise(transform(sequence(lit(0), size(toks) - k),
          i => concat_ws(" ", slice(toks, i + lit(1), lit(k))))))

  /** Column-math TWIN of [[Multimodal.resizeStubOf]] (the q61 twin pattern):
    * latin-1 split turns bytes into code points, the bucket index
    * and bucket mean are the same double arithmetic — exists so the
    * parity spec can pin the mapPartitions path bit-equal on
    * arbitrary (including non-UTF8) payloads. */
  def resizeTwinOf(media: DataFrame, target: Int = 32): DataFrame = {
    val staged = media.select(col("media_id"), col("payload"),
      transform(split(decode(col("payload"), "ISO-8859-1"), ""),
        c => ascii(c).cast("long")).as("bs"))
      // BYTE length, not split size: split of an empty string yields
      // [""] — a stray ascii("")=0 pseudo-byte. greatest(n,1) keeps
      // ANSI division happy; the pseudo-byte then lands in bucket 0
      // contributing 0/1, whose floor-mean is 0 — exactly the
      // mapPartitions all-zero output for an empty payload
      .withColumn("n", length(col("payload")))
      .withColumn("bk",
        transform(col("bs"), (_, i) =>
          floor(i.cast("double") * target /
            greatest(col("n"), lit(1)).cast("double")).cast("int")))
    def bucketAgg(j: Int, value: (Column, Column) => Column): Column =
      aggregate(
        zip_with(col("bs"), col("bk"), (b, k) =>
          when(k === j, value(b, k)).otherwise(0L)),
        lit(0L), (acc, x) => acc + x)
    val outs = (0 until target).map { j =>
      val s = bucketAgg(j, (b, _) => b)
      val c = bucketAgg(j, (_, _) => lit(1L))
      when(c === 0L, lit(0))
        .otherwise(floor(s.cast("double") / c.cast("double")).cast("int"))
    }
    staged.select(col("media_id"), col("n").as("n_bytes"),
      array(outs: _*).as("resized"))
  }

  /** The explode+substr+window COMPOSITION of the perceptual hash —
    * kept ONLY as the semantics reference the native
    * [[graft.functions.PHash]] expression is spec'd bit-identical
    * against (it is also the DuckDB oracle's literal shape). Query
    * paths use [[Multimodal.perceptualHash]]: one pass, no row explosion, no
    * per-media window shuffle, and stateless ⇒ stream-safe. */
  def perceptualHashComposed(media: DataFrame, blocks: Int = 32): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(blocks > 0 && blocks <= 63, "blocks must fit a long's bits")
    val blk = media
      .select(col("media_id"), decode(col("payload"), "UTF-8").as("txt"))
      .select(col("media_id"), col("txt"), length(col("txt")).as("n"),
        explode(sequence(lit(0), lit(blocks - 1))).as("b"))
      // region b = chars (floor(b·n/blocks), floor((b+1)·n/blocks)]
      .withColumn("start",
        floor(col("b") * col("n") / lit(blocks)).cast("int") + 1)
      .withColumn("blen",
        floor((col("b") + 1) * col("n") / lit(blocks)).cast("int")
          - floor(col("b") * col("n") / lit(blocks)).cast("int"))
      .withColumn("it",
        length(regexp_replace(col("txt").substr(col("start"), col("blen")),
          " ", "")).cast("long"))
    val w = Window.partitionBy(col("media_id"))
    blk
      .withColumn("tot", sum(col("it")).over(w))
      .groupBy(col("media_id"))
      .agg(sum(when(col("it") * blocks > col("tot"),
        expr("shiftleft(CAST(1 AS BIGINT), CAST(b AS INT))"))
        .otherwise(lit(0L)))
        .cast("long").as("phash"))
  }
}
