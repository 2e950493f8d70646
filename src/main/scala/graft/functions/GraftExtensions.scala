package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.graft.{CosineSim, JaccardSim, LshBucket, MinHashSig, PHash, SimHash, WordShingles}
import org.apache.spark.sql.types.IntegerType

/** SparkSessionExtensions wiring: exposes the native expressions to
  * SQL users (`SELECT cosine_sim(a, b)`, `SELECT minhash_sig(sh, 32)`).
  *
  * [[graft.GraftSession]] registers them; a session built elsewhere
  * sets `spark.sql.extensions=graft.functions.GraftExtensions`.
  * The Column API (graft.functions.exprs) works without registration.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectFunction((
      new FunctionIdentifier("cosine_sim"),
      new ExpressionInfo(classOf[CosineSim].getName, "cosine_sim"),
      (children: Seq[Expression]) => {
        require(children.size == 2, "cosine_sim(arrayA, arrayB)")
        CosineSim(children.head, children(1))
      }))
    e.injectFunction((
      new FunctionIdentifier("jaccard_sim"),
      new ExpressionInfo(classOf[JaccardSim].getName, "jaccard_sim"),
      (children: Seq[Expression]) => {
        require(children.size == 2, "jaccard_sim(arrayA, arrayB)")
        JaccardSim(children.head, children(1))
      }))
    e.injectFunction((
      new FunctionIdentifier("minhash_sig"),
      new ExpressionInfo(classOf[MinHashSig].getName, "minhash_sig"),
      (children: Seq[Expression]) => {
        require(children.size == 2, "minhash_sig(shingles, perms)")
        val perms = children(1) match {
          case Literal(i: Int, IntegerType) => i
          case other => throw new IllegalArgumentException(
            s"minhash_sig perms must be an int literal, got $other")
        }
        MinHashSig(children.head, perms)
      }))
    e.injectFunction((
      new FunctionIdentifier("simhash"),
      new ExpressionInfo(classOf[SimHash].getName, "simhash"),
      (children: Seq[Expression]) => {
        require(children.size == 2, "simhash(tokenHashes, bits)")
        SimHash(children.head, intLit(children(1), "simhash bits"))
      }))
    e.injectFunction((
      new FunctionIdentifier("lsh_bucket"),
      new ExpressionInfo(classOf[LshBucket].getName, "lsh_bucket"),
      (children: Seq[Expression]) => {
        require(children.size == 3, "lsh_bucket(embedding, dim, bits)")
        LshBucket(children.head,
          intLit(children(1), "lsh_bucket dim"), intLit(children(2), "lsh_bucket bits"))
      }))
    e.injectFunction((
      new FunctionIdentifier("phash"),
      new ExpressionInfo(classOf[PHash].getName, "phash"),
      (children: Seq[Expression]) => {
        require(children.size == 2, "phash(text, blocks)")
        PHash(children.head, intLit(children(1), "phash blocks"))
      }))
    e.injectFunction((
      new FunctionIdentifier("word_shingles"),
      new ExpressionInfo(classOf[WordShingles].getName, "word_shingles"),
      (children: Seq[Expression]) => {
        require(children.size == 2, "word_shingles(tokens, k)")
        WordShingles(children.head, intLit(children(1), "word_shingles k"))
      }))
  }

  private def intLit(e: Expression, what: String): Int = e match {
    case Literal(i: Int, IntegerType) => i
    case other => throw new IllegalArgumentException(
      s"$what must be an int literal, got $other")
  }
}
