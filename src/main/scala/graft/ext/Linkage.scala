package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Record linkage / entity resolution: blocking → pairwise fuzzy
  * match → transitive closure. The classic three-stage shape every
  * large-scale dedup-by-identity pipeline uses (customer MDM, author
  * disambiguation, product catalog merge), built from the same
  * scale-safe pieces as the text-dedup family:
  *
  *   - BLOCKING replaces the O(n²) all-pairs comparison with
  *     per-block self-joins — an equi-join on the block key, so
  *     Spark shuffles each record once and compares only within
  *     blocks. At 100 TB the block key choice is the whole game:
  *     block sizes must stay bounded (a degenerate block re-creates
  *     the quadratic). `maxBlock` makes that contract explicit —
  *     the stats pass computes block sizes and FAILS FAST if any
  *     block exceeds the cap, pointing at finer blocking, rather
  *     than silently running a quadratic join (mirrors the
  *     lshCandidatePairs guard philosophy in [[Dedup]]).
  *   - MATCHING is codegen'd `levenshtein` inside the joined rows —
  *     no UDF, stays in Tungsten.
  *   - CLUSTERING reuses [[Dedup.connectedComponents]] (label
  *     propagation with lineage truncation), so transitive identity
  *     (a≈b, b≈c ⇒ {a,b,c} one entity) holds exactly.
  */
object Linkage {

  /** Candidate pairs within (blockCols) blocks, ordered a < b on
    * `idCol` so each unordered pair appears once. Throws if any
    * block exceeds `maxBlock` — the caller must refine blocking, not
    * eat a quadratic join. */
  def blockedPairs(records: DataFrame, idCol: String,
      blockCols: Seq[String], maxBlock: Int): DataFrame = {
    val biggest = records.groupBy(blockCols.map(col): _*)
      .agg(count(lit(1)).as("n"))
      .agg(coalesce(max(col("n")), lit(0L))).head().getLong(0)
    require(biggest <= maxBlock,
      s"largest block has $biggest records (> maxBlock=$maxBlock): " +
        "refine the blocking key instead of running a quadratic join")
    val a = records.columns.foldLeft(records)((d, c) =>
      d.withColumnRenamed(c, s"${c}_a"))
    val b = records.columns.foldLeft(records)((d, c) =>
      d.withColumnRenamed(c, s"${c}_b"))
    val cond = blockCols.map(c => col(s"${c}_a") === col(s"${c}_b"))
      .reduce(_ && _) && col(s"${idCol}_a") < col(s"${idCol}_b")
    a.join(b, cond)
  }

  /** Deletion-neighborhood keys of `name`: the string itself plus
    * every single-character deletion (SymSpell's index). Two strings
    * at edit distance ≤ 1 ALWAYS share a key (substitution → the
    * deletion at the edited position coincides; insertion/deletion →
    * the longer string's deletion equals the shorter string), so an
    * equi-join on these keys is a RECALL-COMPLETE candidate generator
    * for lev ≤ 1 — unlike attribute blocking, whose recall is
    * whatever the block key happens to give.
    * `array_distinct`: a name with a repeated character emits the
    * same deletion twice ("aa" → "a" twice); key MULTIPLICITY never
    * affects matching (pair existence is what the equi-join needs,
    * and pairs are distinct'd), but each duplicate row multiplies
    * the candidate join's fan-out and made the bucket guard's
    * distinct-record count an under-estimate of shuffle cost (r14
    * ADVICE). Distinct keys per record ⇒ rows-per-(record, bucket)
    * ≤ 1, so the guard's distinct-record bound IS the join fan-out
    * bound. */
  def deletionKeys(name: Column): Column =
    array_distinct(concat(array(name),
      transform(sequence(lit(1), length(name)), i =>
        concat(name.substr(lit(1), i - 1),
          name.substr(i + 1, length(name))))))

  /** q184 core: resolve customer records into entities. Candidates
    * come from an equi-join on (attribute block × deletion-
    * neighborhood key): the name blows up into ~len(name) keys, each
    * shared only by near-identical names, so candidate blocks stay
    * O(alphabet)-sized no matter how many records share a coarse
    * attribute block — the property that survives 10× data where a
    * plain (nation, segment) block join grows its per-block work
    * quadratically (the sf1 probe's q184 row measures exactly this).
    * The `maxBucket` stats pass still fails fast on a degenerate
    * corpus (everyone named the same). Matches verify with codegen'd
    * levenshtein ≤ maxDist and close transitively via connected
    * components; output is one row per customer in a multi-record
    * entity with its canonical representative (min custkey) and
    * entity size. Deterministic end to end, so the recursive-CTE
    * oracle hash-gates candidates, verify, and closure. */
  /** (record columns + k) deletion-key rows — THE appendable ER
    * blocking index payload, one row per record per deletion key
    * (refactored out of [[entityResolution]] so the one-shot path
    * and the appendable-index path key identically). `recs` needs
    * (c_custkey, c_name, c_nationkey, c_mktsegment). */
  def deletionKeyTable(recs: DataFrame): DataFrame =
    recs.select(col("c_custkey"), col("c_name"), col("c_nationkey"),
      col("c_mktsegment"), explode(deletionKeys(col("c_name"))).as("k"))

  private def customerRecords(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_name"),
        col("c_nationkey"), col("c_mktsegment"))

  def entityResolution(spark: SparkSession, dir: String,
      maxDist: Int = 1, maxBucket: Int = 256): DataFrame = {
    // the single-deletion neighborhood is recall-complete ONLY for
    // lev ≤ 1; a maxDist ≥ 2 caller would get silently dropped
    // matches (order-k neighborhoods or q-gram blocking are the
    // generalizations) — refuse rather than under-recall
    require(maxDist >= 0 && maxDist <= 1,
      s"deletion-neighborhood candidates are recall-complete only for " +
        s"maxDist <= 1 (got $maxDist)")
    // persisted: three consumers (the guard stats pass and both legs
    // of the candidate self-join) would otherwise each re-scan the
    // records and re-explode ~len(name) deletion keys per row
    val keys = deletionKeyTable(customerRecords(spark, dir))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val biggest = keys
      .groupBy(col("c_nationkey"), col("c_mktsegment"), col("k"))
      .agg(count(lit(1)).as("n"))
      .agg(coalesce(max(col("n")), lit(0L))).head().getLong(0)
    require(biggest <= maxBucket,
      s"hottest deletion-key bucket has $biggest records (> maxBucket=" +
        s"$maxBucket): a mass-duplicate name corpus — dedup exact names " +
        "first instead of joining the hot bucket")
    val a = keys.select(col("c_custkey").as("ca"), col("c_name").as("na"),
      col("c_nationkey").as("nk"), col("c_mktsegment").as("seg"), col("k"))
    val b = keys.select(col("c_custkey").as("cb"), col("c_name").as("nb"),
      col("c_nationkey").as("nk"), col("c_mktsegment").as("seg"), col("k"))
    // verify BEFORE distinct: a true pair reaches the join once per
    // SHARED deletion key (~len(name) duplicate rows), so running
    // the codegen'd levenshtein on each duplicate is cheap per-row
    // CPU, while the dedup shuffle then carries only the surviving
    // 2-column pairs instead of every candidate row with both names
    val edges = a.join(b, Seq("nk", "seg", "k"))
      .filter(col("ca") < col("cb"))
      .filter(levenshtein(col("na"), col("nb"), maxDist) >= 0)
      .select(col("ca").as("doc_a"), col("cb").as("doc_b")).distinct()
    // "auto": a pathological entity chain (A≈B≈C≈… each within edit
    // distance) exceeds any fixed diameter budget; escalation to
    // pointer doubling means resolution finishes instead of throwing
    val comps = Dedup.connectedComponents(edges, algorithm = "auto")
    entityOutput(comps)
  }

  /** (id, label) component rows → the q184 output contract:
    * (c_custkey, entity_id, n_members). Shared by the one-shot,
    * incremental, and streaming ER paths so their outputs compare
    * row-for-row. */
  def entityOutput(comps: DataFrame): DataFrame = {
    // ONE exchange (r15 opt): a count window over the label partition
    // replaces the groupBy + join-back (aggregate shuffle plus a
    // second join pass over the component table). Partition sizes are
    // component sizes — matched-entity cliques, never corpus-sized —
    // so the window is skew-safe at any scale.
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("label"))
    comps.select(col("id").as("c_custkey"), col("label").as("entity_id"),
      count(lit(1)).over(w).as("n_members"))
  }

  /** Matched edges a NEW record batch introduces against a standing
    * deletion-key index (which must already contain the batch's own
    * keys): candidates are new-keys ⋈ index on (nation, segment,
    * deletion key) — ONLY buckets the batch touches are joined or
    * even size-checked, so per-batch cost tracks the batch's bucket
    * sizes, never corpus history — verified with codegen'd
    * levenshtein BEFORE the pair-dedup shuffle (the q184 r12
    * ordering). Over any batch replay the union of these per-batch
    * edge sets equals the one-shot [[entityResolution]] edge set:
    * each matched pair is emitted exactly when its later record
    * arrives.
    *
    * GUARD FUSION (r15 — the r14 verdict's dominant ER marginal
    * term): the old form paid TWO passes over the touched index per
    * batch — a join + countDistinct aggregation for the maxBucket
    * cap, then the candidate join itself (22 of 26.7 s of the sf10
    * bulk fold was this doubled pass). The verdict sketched a
    * standing per-bucket count table instead; MEASURED at sf10 that
    * is structurally wrong for this family — deletion-key buckets
    * are near-unique (≈ one bucket per key row), so the count table
    * is INDEX-SIZED and its per-batch merge+checkpoint is itself
    * O(index) with memory pressure to match (per-batch times crept
    * 24 → 153 s across 10 batches). The shipped fix is ONE fused
    * pass, no standing state: rank records within bucket
    * (row_number over the bucket key — one shuffle), TRUNCATE at
    * maxBucket+1 (the pass stays bounded even against a degenerate
    * everyone-same-name bucket), and feed the ranked frame to the
    * candidate join — its window partitioning IS the join key
    * partitioning, so the join re-shuffles nothing on the index
    * side. The rank-(maxBucket+1) rows are the guard's witness
    * markers ([[Guards.witnessed]]: one action checks the cap and
    * materializes the edges), so the throw still precedes any
    * caller and the violating join was bounded by the truncation.
    * Rank counts distinct
    * records because [[deletionKeys]] emits distinct keys per record
    * (array_distinct — which also makes the distinct-record bound
    * the join fan-out bound, the r14 ADVICE note), and a replayed
    * batch-deterministic append overwrites rather than duplicates
    * (r13 ADVICE). */
  def erAppendEdges(newKeys: DataFrame, indexKeys: DataFrame,
      maxDist: Int = 1, maxBucket: Int = 256,
      pruneTouched: Boolean = false): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window
      .partitionBy(col("c_nationkey"), col("c_mktsegment"), col("k"))
      .orderBy(col("c_custkey"))
    // pruneTouched (r15 opt, TRICKLE paths only): semi-join the index
    // on the batch's bucket set BEFORE ranking — only buckets the
    // batch touches can contribute candidates or witness rows, so
    // rows of untouched buckets never enter the rank shuffle
    // (O(touched) instead of O(index); the bucket-exact refinement of
    // the pb-cell pruned READ, and the discipline
    // [[graft.ext.Dedup.simhashAppendValuePairs]] already applies).
    // Ranks within a touched bucket are unchanged — the filter drops
    // whole buckets, never rows within one — so candidates, witness
    // semantics and the fail-fast are byte-identical either way
    // (parity spec'd). DEFAULT OFF because the prefilter pays a
    // distinct + semi-join stage per batch: measured at sf0.1 on the
    // bulk replays (batch ≈ index/nBatches, most buckets touched)
    // that overhead exceeds the saved shuffle (q323 4.4 → 7.7 s);
    // on a point/trickle probe (batch ≪ index) the saved index
    // shuffle dominates, so the probe paths opt in.
    val probed =
      if (pruneTouched)
        indexKeys
          .select(col("c_nationkey"), col("c_mktsegment"), col("k"),
            col("c_custkey"), col("c_name"))
          .join(newKeys.select(col("c_nationkey"), col("c_mktsegment"),
            col("k")).distinct(),
            Seq("c_nationkey", "c_mktsegment", "k"), "left_semi")
      else indexKeys
        .select(col("c_nationkey"), col("c_mktsegment"), col("k"),
          col("c_custkey"), col("c_name"))
    // rank + truncate at cap+1: the pass stays bounded even against a
    // degenerate everyone-same-name bucket (at most cap+1 rows per
    // bucket survive into the join), and the surviving rank column
    // doubles as the guard witness below.
    val bounded = probed
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= maxBucket + 1)
    // the rank-(cap+1) rows bypass the pair filters as marker rows,
    // so the guard rides the candidate join ([[Guards.witnessed]])
    val edges = newKeys.select(col("c_nationkey"), col("c_mktsegment"),
        col("k"), col("c_custkey").as("ca"), col("c_name").as("na"))
      .join(bounded.select(col("c_nationkey"), col("c_mktsegment"),
        col("k"), col("c_custkey").as("cb"), col("c_name").as("nb"),
        col("rn")),
        Seq("c_nationkey", "c_mktsegment", "k"))
      .filter(col("rn") === maxBucket + 1 ||
        (col("ca") =!= col("cb") &&
          levenshtein(col("na"), col("nb"), maxDist) >= 0))
      .select(least(col("ca"), col("cb")).as("doc_a"),
        greatest(col("ca"), col("cb")).as("doc_b"),
        (col("rn") === maxBucket + 1).as("w"))
      .distinct()
    Guards.witnessed(edges,
      s"erAppendEdges: a touched deletion-key bucket holds > " +
        s"maxBucket=$maxBucket records — dedup exact names first " +
        "instead of joining the hot bucket")
  }

  /** [[entityResolution]] (q184) maintained INCREMENTALLY — q323:
    * the deletion-key candidate index gets the q322 treatment.
    * Replays the customer table in deterministic custkey-modulo
    * batches; per batch: explode the NEW records' deletion keys
    * (row-local), APPEND them to the standing key index, emit the
    * batch's matched edges via [[erAppendEdges]] (touched buckets
    * only), and fold them into the standing entity table via
    * [[Dedup.ccIncrement]]. Hash-proven equal to one-shot q184 by
    * the SAME recursive-CTE oracle — one oracle, two maintenance
    * disciplines. This is the production answer to q184's 100× cold
    * number (491 s): the index builds once; each ingest batch costs
    * its own keys + touched buckets. */
  def entityResolutionIncremental(spark: SparkSession, dir: String,
      maxDist: Int = 1, maxBucket: Int = 256,
      nBatches: Int = 3): DataFrame =
    erReplay(spark, dir, maxDist, maxBucket, nBatches, None)

  /** The deletion-key index's probe-bucket column: pb over the FULL
    * candidate equi-join key (nation, segment, deletion key) — the
    * key [[erAppendEdges]] probes on — so a pruned read can never
    * lose a candidate (pb is a function of the join key). */
  private def dkPb(numPb: Int): Column =
    graft.sources.Bucketed.probeBucket(numPb,
      col("c_nationkey").cast("long"), col("c_mktsegment"), col("k"))

  /** [[entityResolutionIncremental]] plus the DELETE half of the
    * lifecycle — q327 (r13 verdict item 3: every maintenance path
    * was append-only; takedowns and expired licenses delete), on the
    * [[Replay]] add/delete/add schedule with custkey ≡ deleteRes
    * (mod deleteMod) tombstoned:
    *
    *   - the standing key index drops the removed records' rows
    *     (anti-join — the tombstone applied to the candidate index,
    *     so later appends cannot pair against ghosts);
    *   - the edge store drops edges incident to a removed id;
    *   - the labels fold through [[Dedup.ccDecrement]] (touched
    *     components recomputed over surviving edges; survivors left
    *     partnerless become singletons).
    *
    * Output drops singleton components to match the one-shot
    * contract (an unmatched id never appears in
    * [[entityResolution]]'s output). Hash-gated by the q184
    * recursive-CTE oracle over the SHRUNK corpus. */
  def entityResolutionWithDeletes(spark: SparkSession, dir: String,
      maxDist: Int = 1, maxBucket: Int = 256, nBatches: Int = 3,
      deleteMod: Int = 7, deleteRes: Int = 3): DataFrame =
    erReplay(spark, dir, maxDist, maxBucket, nBatches,
      Some(Replay.Deletes(deleteMod, deleteRes, reAdd = false)))

  /** [[entityResolutionWithDeletes]] plus the RE-ADD verb — q329
    * (r14 verdict item 2's batch gate): after the add/delete/add
    * replay the DELETED records arrive AGAIN as one final batch
    * (un-takedowns, re-licensing). The delete dropped their rows
    * from the standing key index and edge store, so the re-add is a
    * fresh ingest, and edges the delete had severed re-form because
    * the re-added record probes the index its old partners still
    * live in. The final corpus is the FULL customer table, so q184's
    * one-shot oracle hash-gates the add/delete/re-add discipline:
    * re-added entities must land in EXACTLY the clusters a
    * never-deleted corpus produces. (The streaming twin is
    * [[graft.streaming.StreamOps.erMaintainCdcStream]]'s versioned
    * tombstone mask.) */
  def entityResolutionWithReAdds(spark: SparkSession, dir: String,
      maxDist: Int = 1, maxBucket: Int = 256, nBatches: Int = 3,
      deleteMod: Int = 7, deleteRes: Int = 3): DataFrame =
    erReplay(spark, dir, maxDist, maxBucket, nBatches,
      Some(Replay.Deletes(deleteMod, deleteRes, reAdd = true)))

  /** The ER family's replay body (q323, q327, q329). Standing stores
    * are unions of checkpointed batch pieces (re-checkpointing the
    * union would cost O(corpus) per batch; the plan stays a few
    * leaves deep); [[erAppendEdges]] already returns a filter over a
    * materialized checkpoint, so the edge pieces are kept as they
    * are. The labels checkpoint is lazy: it materializes inside the
    * next batch's first action. */
  private def erReplay(spark: SparkSession, dir: String, maxDist: Int,
      maxBucket: Int, nBatches: Int,
      deletes: Option[Replay.Deletes]): DataFrame = {
    require(maxDist >= 0 && maxDist <= 1,
      s"deletion-neighborhood candidates are recall-complete only for " +
        s"maxDist <= 1 (got $maxDist)")
    val recs = customerRecords(spark, dir)
    var keyPieces = Seq.empty[DataFrame]
    var edgePieces = Seq.empty[DataFrame]
    var labels = recs
      .select(col("c_custkey").as("id"), col("c_custkey").as("label"))
      .limit(0)
    Replay.run(recs, "c_custkey", nBatches, deletes)(
      add = { batch =>
        val newKeys = deletionKeyTable(batch).localCheckpoint(eager = false)
        keyPieces :+= newKeys
        val edges = erAppendEdges(newKeys,
          keyPieces.reduce(_ unionByName _), maxDist, maxBucket)
        edgePieces :+= edges
        labels = Dedup.ccIncrement(labels, edges)
          .localCheckpoint(eager = false)
      },
      delete = { removed =>
        keyPieces = Seq(Replay.drop(keyPieces.reduce(_ unionByName _),
          removed, "c_custkey").localCheckpoint(eager = false))
        val edgeStore = edgePieces.reduce(_ unionByName _)
        labels = Dedup.ccDecrement(labels, edgeStore, removed)
          .localCheckpoint(eager = false)
        edgePieces = Seq(Replay.drop(edgeStore, removed, "doc_a", "doc_b")
          .localCheckpoint(eager = false))
      })
    // singleton components are delete survivors; an add-only replay
    // has none
    entityOutput(labels.select(col("id"), col("label")))
      .filter(col("n_members") > 1)
  }

  /** Full build of the materialized deletion-key index, laid out
    * `partitionBy(pb)` — a hash of the (nation, segment, deletion
    * key) probe key folded into `numPb` cells — so a batch's
    * candidate probe reads ONLY the cells its own keys hash into
    * ([[readDeletionKeyIndexPruned]]) instead of scanning the whole
    * standing index per ingest batch (the r13 I/O-posture fix). */
  def writeDeletionKeyIndex(spark: SparkSession, dir: String,
      outPath: String,
      numPb: Int = graft.sources.Bucketed.defaultProbeParts): Unit =
    graft.sources.Io.writeParquet(
      deletionKeyTable(customerRecords(spark, dir))
        .withColumn("pb", dkPb(numPb))
        .transform(graft.sources.Bucketed.clusterByPb(_, numPb)),
      outPath, Seq("pb"))

  /** Row-local append of a new record batch to a materialized
    * [[writeDeletionKeyIndex]] table (same `numPb` as the build —
    * the layout contract). */
  def appendToDeletionKeyIndex(newRecs: DataFrame, indexPath: String,
      numPb: Int = graft.sources.Bucketed.defaultProbeParts): Unit =
    deletionKeyTable(newRecs).withColumn("pb", dkPb(numPb))
      .transform(graft.sources.Bucketed.clusterByPb(_, numPb))
      .write.mode("append").partitionBy("pb").parquet(indexPath)

  /** BATCH-DETERMINISTIC append for exactly-once-challenged writers
    * (the streaming maintenance loop): the batch's keys land under
    * `ingest_batch=<id>/` with overwrite semantics, so a REPLAYED
    * micro-batch overwrites its own previous files instead of
    * appending duplicates — the r13 ADVICE fix for the
    * index-append-before-checkpoint-commit window (duplicated keys
    * inflated the erAppendEdges guard and broke grown==full
    * parity after any retry). */
  def appendToDeletionKeyIndexBatch(newRecs: DataFrame,
      indexPath: String, batchId: Long,
      numPb: Int = graft.sources.Bucketed.defaultProbeParts): Unit =
    deletionKeyTable(newRecs).withColumn("pb", dkPb(numPb))
      .transform(graft.sources.Bucketed.clusterByPb(_, numPb))
      .write.mode("overwrite").partitionBy("pb")
      .parquet(s"$indexPath/ingest_batch=$batchId")

  /** Partition-pruned read of a [[writeDeletionKeyIndex]] layout:
    * only the pb cells `newKeys`' probe keys hash into are read
    * (static `isin` partition filter — spec-asserted). Recall-safe
    * by construction: an index row outside the read cells cannot
    * share a (nation, segment, k) key with any new row. */
  def readDeletionKeyIndexPruned(spark: SparkSession, indexPath: String,
      newKeys: DataFrame,
      numPb: Int = graft.sources.Bucketed.defaultProbeParts): DataFrame =
    graft.sources.Bucketed.readPruned(spark, indexPath,
      newKeys.select(dkPb(numPb).as("pb")))

  /** Re-layout a [[writeDeletionKeyIndex]] store at a new cell count
    * ([[graft.sources.Bucketed.repartitionPbStore]] with this
    * family's probe-key hash — same hash, new modulus, so pruned
    * probes at `newNumPb` lose zero recall). All readers/writers
    * must switch to `newNumPb` with the path swap — numPb is a
    * layout contract shared by both sides, like a bucket count. */
  def migrateDeletionKeyIndexLayout(spark: SparkSession, inPath: String,
      outPath: String, newNumPb: Int): Long =
    graft.sources.Bucketed.repartitionPbStore(spark, inPath, outPath,
      newNumPb, dkPb)
}
