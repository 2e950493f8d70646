package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.ext.TextAnalysis.tokens

/** Deduplication operators for a training-data pipeline: exact
  * (hash-groupBy), MinHash+LSH banded near-dup, SimHash, and n-gram
  * Jaccard verification. Everything is column expressions over one
  * scan plus the minimal shuffles:
  *
  *  - exact dedup: one shuffle on the content hash (not the content
  *    itself — at 100 TB you group on a 64-bit/256-bit digest, never
  *    on multi-KB text keys);
  *  - MinHash LSH: signatures are computed scan-side, then one
  *    explode-per-band + shuffle on (band, bucket) — candidate pairs
  *    only ever join within a bucket, which is what makes near-dup
  *    sub-quadratic;
  *  - verification joins re-read only candidate doc_ids.
  *
  * Evaluation-cost note: tokenize/shingle/signature are staged as
  * separate projections (`withColumn`-style selects) so each level is
  * computed ONCE per row. Inlining `tokens()` inside a higher-order
  * lambda re-evaluates the split per lambda element — at 64 seeds ×
  * ~250 positions that is a 16,000× blowup we measured and removed.
  */
object Dedup {

  /** Lowercase + collapse whitespace: normalization before hashing. */
  def normText(c: Column): Column = regexp_replace(lower(trim(c)), "\\s+", " ")

  /** Exact dedup via content hash: keep min doc_id per normalized
    * text, count the cluster. Grouping key is sha2 of the text, so
    * shuffle rows carry a 64-char digest instead of the document. */
  def exactDedup(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), sha2(normText(col("text")), 256).as("content_hash"))
      .groupBy(col("content_hash"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("cluster_size"))
      .select(col("keep_id"), col("cluster_size"), col("content_hash"))

  /** The end product every pair/cluster operator above feeds: the
    * corpus with duplicates REMOVED. Exact stage keeps the min doc_id
    * per content digest (semi-join against [[exactDedup]]'s
    * survivors); `nearDups = true` additionally drops every
    * non-representative member of an LSH near-dup cluster
    * ([[lshDedupClusters]] anti-join). Both joins move only ids and
    * digests — the text column rides through untouched projections. */
  def dedupedCorpus(spark: SparkSession, dir: String,
      nearDups: Boolean = false, portable: Boolean = false): DataFrame = {
    val survivors = Tables.documents(spark, dir)
      .join(exactDedup(spark, dir).select(col("keep_id").as("doc_id")),
        Seq("doc_id"), "semi")
      .select(col("doc_id"), col("lang"))
    if (!nearDups) survivors
    else {
      val clusters =
        if (portable) lshDedupClustersPortable(spark, dir)
        else lshDedupClusters(spark, dir)
      survivors.join(
        clusters.filter(col("rep_id") =!= col("doc_id"))
          .select(col("doc_id")),
        Seq("doc_id"), "left_anti")
    }
  }

  /** Incremental exact dedup — the daily-ingest pattern: dedupe a new
    * batch WITHIN itself (min doc_id per digest) and against the
    * accumulated digest table, without touching historical documents.
    * State is one 64-char digest row per distinct document ever seen;
    * after the batch is accepted, append its `content_hash` column to
    * the digest table. The anti-join shuffles only digests, and at
    * scale the digest table bucket-joins against batch hashes (or
    * broadcasts while small) — the corpus itself is never re-read.
    * This is the batch twin of [[graft.streaming.StreamOps.dedupStream]]
    * (same digest ⇒ the two agree on identity). */
  def exactDedupIncremental(batch: DataFrame, knownHashes: DataFrame): DataFrame =
    batch
      .select(col("doc_id"), sha2(normText(col("text")), 256).as("content_hash"))
      .groupBy(col("content_hash"))
      .agg(min(col("doc_id")).as("doc_id"))
      .join(knownHashes.select(col("content_hash")), Seq("content_hash"), "left_anti")
      .select(col("doc_id"), col("content_hash"))

  /** Word k-shingles — native single-pass expression
    * (graft.functions.WordShingles): the whole distinct shingle set
    * in one traversal of the token array. */
  def shinglesFromTokens(toks: Column, k: Int): Column =
    graft.functions.exprs.word_shingles(toks, k)

  /** MinHash signature from a pre-materialized shingle column: for
    * each seed p, min over XXH64(shingle, seed=p). Native expression
    * (graft.functions.MinHashSig): the whole signature in one pass
    * per row vs perms × |shingles| interpreted lambda calls for the
    * equivalent transform/array_min composition. */
  def minhashFromShingles(sh: Column, perms: Int): Column =
    graft.functions.exprs.minhash_sig(sh, perms)

  /** doc_id → shingle set, MATERIALIZED (persist). The cache is the
    * barrier that stops `CollapseProject` from inlining the shingle
    * expression into every downstream lambda — without it Catalyst
    * re-evaluates tokenize+shingle once per minhash seed (a measured
    * 40× slowdown). Spark's CacheManager dedupes by plan equality, so
    * minhashLsh and jaccardVerify share this cache within a session.
    * At 100 TB this is the standard compute-once signature table
    * (persisted to storage, reused across bands and verification). */
  private val shingleCache =
    scala.collection.concurrent.TrieMap.empty[(String, Int), DataFrame]
  private val sigCache =
    scala.collection.concurrent.TrieMap.empty[(String, Int, Int), DataFrame]

  def shingleTable(spark: SparkSession, dir: String, k: Int): DataFrame =
    Memo.cached(shingleCache, (dir, k), spark) {
      shingleRowsFor(Tables.documents(spark, dir), k)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }

  /** doc_id → minhash signature (from the cached shingle table).
    * Memoized per (dir, k, perms) so long-lived sessions don't
    * accrete a dead persist per parameterization; entries are
    * session-validated (see [[Memo]]) and [[clearCaches]] unpersists
    * everything. */
  def signatures(spark: SparkSession, dir: String, k: Int, perms: Int): DataFrame =
    Memo.cached(sigCache, (dir, k, perms), spark) {
      shingleTable(spark, dir, k)
        .select(col("doc_id"), minhashFromShingles(col("sh"), perms).as("sig"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }

  /** Best-effort unpersist: entries may be bound to a stopped
    * SparkSession, and one throwing sweep must not abort the rest of
    * the cleanup. */
  private def sweep(dfs: Iterable[DataFrame]): Unit =
    dfs.foreach(df =>
      try df.unpersist(blocking = false) catch { case _: Throwable => () })

  /** Unpersist + drop all memoized tables (long-session hygiene). */
  def clearCaches(): Unit = {
    sweep(verifiedCache.values); verifiedCache.clear()
    sweep(verifiedPortableCache.values); verifiedPortableCache.clear()
    sweep(sigCache.values); sigCache.clear()
    sweep(sigPortableCache.values); sigPortableCache.clear()
    sweep(shingleCache.values); shingleCache.clear()
    bandSlicePersists.synchronized {
      sweep(bandSlicePersists); bandSlicePersists.clear()
    }
  }

  /** MinHash + LSH banding: near-duplicate candidate pairs.
    * bands × rowsPerBand = perms; a pair lands in a bucket iff one
    * band of their signatures agrees exactly. Join happens per
    * (band, bucket-hash) — never all-pairs.
    *
    * Skew guard (the mass-duplicate corpus case — every doc identical
    * ⇒ ONE bucket holds all N docs ⇒ an N² clique on one shuffle
    * key): buckets larger than `maxBucket` emit a STAR against the
    * bucket's min doc_id PLUS exhaustive pairs within salt groups of
    * expected size ≤ maxBucket (members hashed into ⌈n/maxBucket⌉
    * groups). Per-bucket work drops from O(n²) to O(n·maxBucket).
    *
    * Recall accounting (be precise — the CANDIDATE graph's connected
    * components are unchanged because the star keeps every member
    * attached, but the VERIFIED graph after [[jaccardVerify]] filters
    * edges is not): a true near-dup pair (B, C) inside an oversized
    * bucket is verified directly iff B and C share a salt group;
    * otherwise it is recovered only transitively when both verify
    * against the anchor. The residual loss — cross-salt-group pairs
    * where at least one endpoint fails the anchor check — is the
    * price of the O(n·maxBucket) bound; raise `maxBucket` to shrink
    * it. Small buckets (the normal case) still emit every pair, so
    * recall is unchanged wherever the clique is affordable. The
    * bucket-size aggregation shuffles on the same (band, bucket) key
    * the join uses, so it adds no new shuffle pattern, and AQE's
    * skew-join splitting handles residual imbalance below the cap. */
  def minhashLsh(spark: SparkSession, dir: String,
      k: Int = 3, bands: Int = 8, rowsPerBand: Int = 4,
      maxBucket: Int = 256): DataFrame =
    lshCandidatePairs(signatures(spark, dir, k, bands * rowsPerBand),
      bands, rowsPerBand, maxBucket)

  // --- bucket-cap observability -----------------------------------
  // Every banded-pair ORACLE (q42/q43/q46/q59/q78/q103/q157/q160) is
  // the full-clique form, exact only while no (band, bucket) exceeds
  // maxBucket — past the cap, lshCandidatePairs silently switches
  // that bucket to star+salt pairs and the hash gate diverges. The
  // bucket-stats aggregate already computes every bucket's n, so the
  // cap check rides the SAME action via Dataset.observe (zero extra
  // jobs, zero per-row cost) and a once-per-session listener prints a
  // loud warning the moment any bucket crosses the cap: oracle
  // divergence becomes a named condition in the log, never a mystery
  // hash mismatch.
  private val guardObsId = new java.util.concurrent.atomic.AtomicLong()
  // weak keys: registration is once per session, and a stopped
  // session must not be pinned in a static set for the JVM's lifetime
  private val guardListenerSessions =
    java.util.Collections.synchronizedSet(
      java.util.Collections.newSetFromMap(
        new java.util.WeakHashMap[SparkSession, java.lang.Boolean]()))

  private def guardObserved(stats: DataFrame, maxBucket: Int): DataFrame = {
    val spark = stats.sparkSession
    if (guardListenerSessions.add(spark)) {
      spark.listenerManager.register(
        new org.apache.spark.sql.util.QueryExecutionListener {
          override def onSuccess(funcName: String,
              qe: org.apache.spark.sql.execution.QueryExecution,
              durationNs: Long): Unit =
            qe.observedMetrics.foreach { case (name, row) =>
              if (name.startsWith("lsh_guard_")) {
                val cap = name.substring(name.lastIndexOf('_') + 1).toLong
                val maxN = if (row.isNullAt(0)) 0L else row.getLong(0)
                if (maxN > cap) System.err.println(
                  s"[graft] LSH bucket cap exceeded: largest (band,bucket) " +
                    s"holds $maxN docs > maxBucket=$cap — the skew guard " +
                    "switched that bucket to star+salt pairs; any " +
                    "full-clique DuckDB oracle over this query now " +
                    "DIVERGES by design (raise maxBucket there, or " +
                    "expect the hash gate to flag it).")
              }
            }
          override def onFailure(funcName: String,
              qe: org.apache.spark.sql.execution.QueryExecution,
              exception: Exception): Unit = ()
        })
    }
    // unique per call: a composed query (e.g. q160) may band twice
    stats.observe(s"lsh_guard_${guardObsId.incrementAndGet()}_$maxBucket",
      max(col("n")).as("max_bucket_n"))
  }

  /** The banding + bucket-join core over any (doc_id, sig) table —
    * split out so the skew guard is testable on synthetic corpora.
    *
    * `compressBuckets`: candidate pairing depends only on EQUALITY of
    * a band's signature slice; the production path compresses the
    * slice to one xxhash64 long (8-byte shuffle keys). The portable
    * path (q42/q43/q59 catalog entries) keeps the RAW comma-joined
    * slice string so the bucket key is exactly what an external
    * engine computes — no hash-collision daylight between engines
    * (~2⁻⁶⁴ per key pair, but the gate should be airtight) at the
    * cost of wider keys. */
  def lshCandidatePairs(sig: DataFrame, bands: Int, rowsPerBand: Int,
      maxBucket: Int, compressBuckets: Boolean = true): DataFrame = {
    val banded = lshBandKeys(sig, bands, rowsPerBand, compressBuckets)
    // NOTE (r16, measured-and-rejected): rewriting the stats as
    // window aggregates over the (band, bucket) partition — to
    // establish the partitioning once and let the self-join branches
    // reuse it — DUPLICATED the exchange+sort+window subtree into
    // every branch (5 copies) and flipped the self-joins to broadcast
    // builds over the windowed copies: the family measured 1.1–1.9×
    // SLOWER at sf0.1 (q103 0.64→1.14 s, q290 0.47→0.88 s). The
    // groupBy + broadcast-join-back below keeps one aggregate pass
    // and one banded subtree per branch; kept.
    val stats = guardObserved(
      banded.groupBy(col("band"), col("bucket"))
        .agg(count(lit(1)).as("n"), min(col("doc_id")).as("anchor")),
      maxBucket)
    val tagged = banded.join(stats, Seq("band", "bucket"))
    val small = tagged.filter(col("n") <= maxBucket)
      .select(col("band"), col("bucket"), col("doc_id"))
    val cliquePairs = small.as("a").join(small.as("b"),
        col("a.band") === col("b.band") &&
        col("a.bucket") === col("b.bucket") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
    // oversized buckets: star (connectivity) + salted sub-cliques
    // (direct-pair recall degrades gracefully instead of collapsing
    // to anchor-only — see the recall accounting on minhashLsh)
    val big = tagged.filter(col("n") > maxBucket)
      .withColumn("salt",
        pmod(xxhash64(col("doc_id"), col("band"), col("bucket")),
          ceil(col("n").cast("double") / maxBucket).cast("long")))
    val starPairs = big.filter(col("doc_id") =!= col("anchor"))
      .select(col("anchor").as("doc_a"), col("doc_id").as("doc_b"))
    val bigSel = big.select(col("band"), col("bucket"), col("salt"), col("doc_id"))
    val saltedCliques = bigSel.as("a").join(bigSel.as("b"),
        col("a.band") === col("b.band") &&
        col("a.bucket") === col("b.bucket") &&
        col("a.salt") === col("b.salt") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
    cliquePairs.unionByName(starPairs).unionByName(saltedCliques).distinct()
  }

  /** (doc_id, band, bucket) banded key rows for a signature table —
    * THE LSH index payload, split out of [[lshCandidatePairs]] so the
    * one-shot path and the appendable-index path band IDENTICALLY
    * (any divergence here would silently change candidate recall
    * between maintenance disciplines). */
  def lshBandKeys(sig: DataFrame, bands: Int, rowsPerBand: Int,
      compressBuckets: Boolean = true): DataFrame = {
    val bandStructs = (0 until bands).map { b =>
      val sliceKey = concat_ws(",",
        slice(col("sig"), lit(b * rowsPerBand + 1), lit(rowsPerBand)))
      struct(lit(b).as("band"),
        (if (compressBuckets) xxhash64(sliceKey, lit(b)) else sliceKey)
          .as("bucket"))
    }
    sig.select(col("doc_id"), explode(array(bandStructs: _*)).as("bb"))
      .select(col("doc_id"), col("bb.band").as("band"),
        col("bb.bucket").as("bucket"))
  }

  /** Candidate pairs introduced by a NEW batch against a standing LSH
    * index (which must already CONTAIN the batch's own keys): every
    * within-bucket pair with at least one endpoint in `newKeys`. Over
    * any batch replay the union of these per-batch sets equals the
    * one shot [[lshCandidatePairs]] candidate set (each pair is
    * emitted exactly when its LATER endpoint arrives) — CONDITIONAL
    * on no bucket outgrowing `maxBucket`, which this generator
    * FAIL-FASTS on (it has no star/salt fallback; an oversized
    * bucket would emit an N² clique on one shuffle key). NOTE the
    * asymmetry with the one-shot path: [[lshCandidatePairs]] DEGRADES
    * an oversized bucket to star+salted-clique pairs and keeps
    * running, so on a corpus whose buckets exceed the cap the
    * incremental twin THROWS where the one-shot silently degrades —
    * parity (and the q324/q326 oracle gates built on it) holds only
    * while every touched bucket stays under the cap. That is the
    * deliberate trade: the append path can never know a bucket's
    * FINAL size mid-replay, so a salt keyed on the final count is
    * unavailable, and emitting differently-salted sub-cliques per
    * batch would silently change recall between maintenance
    * disciplines — the one failure mode worse than an error. Callers
    * on skew-degraded corpora should exact-dedup first (the guard
    * message) or run the one-shot path. The guard only sizes buckets the
    * batch TOUCHES, so the guard job — like the candidate join
    * itself — is bounded by the batch's bucket sizes, never by
    * corpus history: the property that makes per-batch ingest viable
    * at 100 TB where a nightly full [[lshCandidatePairs]] rebuild is
    * not. */
  def lshAppendCandidates(newKeys: DataFrame, indexKeys: DataFrame,
      maxBucket: Int, pruneTouched: Boolean = false): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // GUARD FUSION (r15, the erAppendEdges design): rank docs within
    // each touched (band, bucket), truncate at maxBucket+1 so the pass
    // stays bounded even against a degenerate bucket, and feed the
    // ranked frame — already partitioned on the join key by the
    // window — to the candidate join.
    val w = Window.partitionBy(col("band"), col("bucket"))
      .orderBy(col("doc_id"))
    // pruneTouched (r15 opt, TRICKLE paths only): restrict the index
    // to the batch's bucket set BEFORE ranking — untouched buckets
    // cannot contribute candidates or witness rows, so they never
    // enter the rank shuffle (O(touched) instead of O(index); ranks
    // within touched buckets are unchanged — whole buckets drop,
    // never rows within one). Default OFF: on bulk replay batches
    // the extra distinct + semi-join stages cost more than the saved
    // shuffle (see the erAppendEdges measurement note); probe paths
    // (batch ≪ index) opt in.
    val probed =
      if (pruneTouched)
        indexKeys.select(col("band"), col("bucket"), col("doc_id"))
          .join(newKeys.select(col("band"), col("bucket")).distinct(),
            Seq("band", "bucket"), "left_semi")
      else indexKeys.select(col("band"), col("bucket"), col("doc_id"))
    val bounded = probed
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= maxBucket + 1)
    // the rank-(cap+1) rows bypass the pair filter as marker rows,
    // so the guard rides the candidate join ([[Guards.witnessed]])
    val cands = newKeys.select(col("band"), col("bucket"),
        col("doc_id").as("na"))
      .join(bounded.select(col("band"), col("bucket"),
        col("doc_id").as("nb"), col("rn")), Seq("band", "bucket"))
      .filter(col("rn") === maxBucket + 1 || col("na") =!= col("nb"))
      .select(least(col("na"), col("nb")).as("doc_a"),
        greatest(col("na"), col("nb")).as("doc_b"),
        (col("rn") === maxBucket + 1).as("w"))
      .distinct()
    Guards.witnessed(cands,
      s"lshAppendCandidates: a touched (band, bucket) holds > " +
        s"maxBucket=$maxBucket docs — the append path has no " +
        "star/salt fallback; dedup exact content first or raise the cap")
  }

  private val verifiedCache =
    scala.collection.concurrent.TrieMap.empty[(String, Int, Double), DataFrame]

  /** Exact k-shingle Jaccard for LSH candidate pairs (the
    * verification stage): |A∩B| / |A∪B|. MATERIALIZED + memoized —
    * the verified edge table feeds reporting (q43), cluster
    * expansion (q59) and corpus filtering (q78); at scale it is
    * written once and every consumer reads the table instead of
    * re-running the candidate join. */
  def jaccardVerify(spark: SparkSession, dir: String, k: Int = 3,
      threshold: Double = 0.7): DataFrame =
    Memo.cached(verifiedCache, (dir, k, threshold), spark) {
      verifyPairs(shingleTable(spark, dir, k), minhashLsh(spark, dir, k),
          threshold)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }

  /** The verification core shared by [[jaccardVerify]] and
    * [[jaccardVerifyWindow]]: join a (doc_a, doc_b) candidate table
    * against the shingle table on both endpoints and keep pairs with
    * exact shingle Jaccard ≥ `threshold`. Id-keyed equi-joins — the
    * candidate table never carries text. */
  def verifyPairs(docs: DataFrame, cands: DataFrame,
      threshold: Double): DataFrame =
    cands
      .join(docs.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")), Seq("doc_a"))
      .join(docs.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        round(graft.functions.exprs.jaccard_sim(col("sh_a"), col("sh_b")), 4)
          .as("jaccard"))
      .filter(col("jaccard") >= threshold)

  /** [[jaccardVerify]]'s SQL-oracle-able twin: same shingle table,
    * same [[verifyPairs]] code, but the candidate set is every pair
    * inside a bounded id window instead of the xxhash64-seeded LSH
    * candidates DuckDB cannot reproduce. This is the hash-matched
    * gate for the verification stage's MATH (shingling + exact
    * Jaccard + threshold); the LSH path stays the scale path and is
    * covered rows-only. The id bound keeps the all-pairs join
    * quadratic only in a small slice (the q41 pattern). */
  def jaccardVerifyWindow(spark: SparkSession, dir: String, k: Int = 3,
      threshold: Double = 0.7, maxId: Long = 100L): DataFrame = {
    val ids = Tables.documents(spark, dir)
      .filter(col("doc_id") < maxId).select(col("doc_id"))
    val cands = ids.select(col("doc_id").as("doc_a"))
      .join(ids.select(col("doc_id").as("doc_b")),
        col("doc_a") < col("doc_b"))
    verifyPairs(shingleTable(spark, dir, k).filter(col("doc_id") < maxId),
      cands, threshold)
  }

  // -----------------------------------------------------------------
  // PORTABLE minhash pipeline (q42/q43/q59): the SAME banding, verify
  // and clustering code as the xxhash64 production path, but over
  // [[signaturesPortable]] md5-derived signatures with RAW band-slice
  // bucket keys — every stage's arithmetic reproducible in DuckDB, so
  // the ENTIRE LSH dedup pipeline is hash-gated end to end (candidates
  // → verified edges → connected components). The xxhash64 path stays
  // the production default (faster hash, 8-byte bucket keys) and keeps
  // catalog coverage via q78/q103 plus the banding/verify specs.
  // -----------------------------------------------------------------

  private val sigPortableCache =
    scala.collection.concurrent.TrieMap.empty[(String, Int, Int), DataFrame]
  private val verifiedPortableCache =
    scala.collection.concurrent.TrieMap.empty[(String, Int, Double), DataFrame]

  /** doc_id → PORTABLE minhash signature (md5-derived permutation
    * hashes — see [[graft.functions.MinHashSig]] portable mode),
    * memoized + persisted exactly like [[signatures]]. */
  def signaturesPortable(spark: SparkSession, dir: String, k: Int,
      perms: Int): DataFrame =
    Memo.cached(sigPortableCache, (dir, k, perms), spark) {
      shingleTable(spark, dir, k)
        .select(col("doc_id"),
          graft.functions.exprs.minhash_sig_portable(col("sh"), perms).as("sig"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }

  /** [[minhashLsh]] over portable signatures + raw slice buckets. */
  def minhashLshPortable(spark: SparkSession, dir: String,
      k: Int = 3, bands: Int = 8, rowsPerBand: Int = 4,
      maxBucket: Int = 256): DataFrame =
    lshCandidatePairs(signaturesPortable(spark, dir, k, bands * rowsPerBand),
      bands, rowsPerBand, maxBucket, compressBuckets = false)

  /** [[jaccardVerify]] over the portable candidate set — same
    * [[verifyPairs]] code, memoized like the production edge table. */
  def jaccardVerifyPortable(spark: SparkSession, dir: String, k: Int = 3,
      threshold: Double = 0.7): DataFrame =
    Memo.cached(verifiedPortableCache, (dir, k, threshold), spark) {
      verifyPairs(shingleTable(spark, dir, k),
          minhashLshPortable(spark, dir, k), threshold)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }

  /** [[lshDedupClusters]] over the portable verified edges. */
  def lshDedupClustersPortable(spark: SparkSession, dir: String,
      k: Int = 3, threshold: Double = 0.7): DataFrame =
    connectedComponents(jaccardVerifyPortable(spark, dir, k, threshold),
        algorithm = "auto")
      .select(col("id").as("doc_id"), col("label").as("rep_id"))

  /** Row-local encode of a document batch into its (doc_id, sh)
    * shingle rows — the unit of work every append below runs on the
    * NEW rows only. */
  def shingleRowsFor(docs: DataFrame, k: Int): DataFrame =
    docs.select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"), shinglesFromTokens(col("toks"), k).as("sh"))

  /** [[lshDedupClustersPortable]] (q59) maintained INCREMENTALLY —
    * q324: the whole candidate pipeline upstream of CC gets the q322
    * treatment. Replays the corpus in deterministic doc_id-modulo
    * batches; per batch the loop does exactly what a production
    * per-epoch ingest does:
    *   1. shingle + minhash the NEW docs only (row-local — the
    *      signature math never touches history);
    *   2. APPEND their band keys to the standing LSH index and their
    *      shingle rows to the standing verify store;
    *   3. candidates = [[lshAppendCandidates]] (new keys ⋈ index,
    *      touched buckets only — cost tracks the batch's bucket
    *      sizes, never corpus²);
    *   4. exact-Jaccard verify against the standing shingle store
    *      (id-keyed joins);
    *   5. fold surviving edges into the component table via
    *      [[ccIncrement]].
    * Hash-proven equal to one-shot q59 by the SAME oracle (one
    * oracle, two maintenance disciplines): per-pair, the candidate
    * union over batches equals the one-shot banding, verification is
    * the same [[verifyPairs]] code, and ccIncrement's fixpoint
    * equals one-shot CC. This is the answer to the r12 cold-build
    * rows (signature table 247.7 s at 100×): the cold build happens
    * ONCE; every epoch after is step 1–5 over the new docs. */
  def lshDedupClustersIncremental(spark: SparkSession, dir: String,
      k: Int = 3, threshold: Double = 0.7, bands: Int = 8,
      rowsPerBand: Int = 4, maxBucket: Int = 256,
      nBatches: Int = 3): DataFrame =
    lshReplay(Tables.documents(spark, dir), k, threshold, bands,
      rowsPerBand, maxBucket, nBatches, None)

  /** [[lshDedupClustersIncremental]] plus the DELETE half of the
    * lifecycle — q328, the [[graft.ext.Linkage
    * .entityResolutionWithDeletes]] discipline applied to the LSH
    * near-dup family on the [[Replay]] add/delete/add schedule: the
    * tombstone batch drops every already-ingested doc_id ≡ deleteRes
    * (mod deleteMod) from the shingle store, the band-key index and
    * the (retained) edge store, and folds the labels through
    * [[ccDecrement]]; the last batch's candidates cannot resurrect
    * ghosts, and its new docs may re-match singleton survivors.
    * Output drops singleton components to match the one-shot
    * contract. Hash-gated by q59's oracle over
    * the SHRUNK corpus. */
  def lshDedupClustersWithDeletes(spark: SparkSession, dir: String,
      k: Int = 3, threshold: Double = 0.7, bands: Int = 8,
      rowsPerBand: Int = 4, maxBucket: Int = 256, nBatches: Int = 3,
      deleteMod: Int = 7, deleteRes: Int = 3): DataFrame =
    lshReplay(Tables.documents(spark, dir), k, threshold, bands,
      rowsPerBand, maxBucket, nBatches,
      Some(Replay.Deletes(deleteMod, deleteRes, reAdd = false)))

  /** [[lshDedupClustersWithDeletes]] plus the RE-ADD verb — q330,
    * the LSH twin of [[graft.ext.Linkage.entityResolutionWithReAdds]]
    * (r14 verdict item 2): after the delete batch and the post-delete
    * adds, the DELETED documents arrive AGAIN as one final batch.
    * The delete dropped their rows from the shingle store, band-key
    * index, and edge store, so the re-add is a fresh ingest: shingle
    * + sign row-locally, candidates against the live index, exact
    * verify, ccIncrement fold — severed near-dup edges re-form
    * because the re-added doc probes the index its old partners
    * still live in. Final corpus = the FULL documents table, so
    * q59's one-shot oracle hash-gates the add/delete/re-add
    * discipline end to end. */
  def lshDedupClustersWithReAdds(spark: SparkSession, dir: String,
      k: Int = 3, threshold: Double = 0.7, bands: Int = 8,
      rowsPerBand: Int = 4, maxBucket: Int = 256, nBatches: Int = 3,
      deleteMod: Int = 7, deleteRes: Int = 3): DataFrame =
    lshReplay(Tables.documents(spark, dir), k, threshold, bands,
      rowsPerBand, maxBucket, nBatches,
      Some(Replay.Deletes(deleteMod, deleteRes, reAdd = true)))

  /** The LSH family's replay body (q324, q328, q330). Standing
    * stores are unions of checkpointed batch pieces — never a
    * re-checkpoint of the union, which would re-materialize the
    * WHOLE store every batch (O(corpus) per batch instead of
    * O(batch); the parquet-store production form appends the same
    * way). Checkpoints are lazy: each materializes inside its first
    * consumer's action (the labels inside the next batch's quotient
    * collect). The verified edges are checkpointed only when the
    * schedule deletes, since only a delete reads them again. */
  private def lshReplay(docs: DataFrame, k: Int, threshold: Double,
      bands: Int, rowsPerBand: Int, maxBucket: Int, nBatches: Int,
      deletes: Option[Replay.Deletes]): DataFrame = {
    var shPieces = Seq.empty[DataFrame]
    var keyPieces = Seq.empty[DataFrame]
    var edgePieces = Seq.empty[DataFrame]
    var labels = docs
      .select(col("doc_id").as("id"), col("doc_id").as("label")).limit(0)
    Replay.run(docs, "doc_id", nBatches, deletes)(
      add = { batch =>
        val newSh = shingleRowsFor(batch, k).localCheckpoint(eager = false)
        val newKeys = lshBandKeys(
          newSh.select(col("doc_id"),
            graft.functions.exprs.minhash_sig_portable(col("sh"),
              bands * rowsPerBand).as("sig")),
          bands, rowsPerBand, compressBuckets = false)
          .localCheckpoint(eager = false)
        shPieces :+= newSh
        keyPieces :+= newKeys
        val verified = verifyPairs(shPieces.reduce(_ unionByName _),
          lshAppendCandidates(newKeys, keyPieces.reduce(_ unionByName _),
            maxBucket), threshold)
        val edges =
          if (deletes.isDefined) verified.localCheckpoint(eager = false)
          else verified
        edgePieces :+= edges
        labels = ccIncrement(labels, edges).localCheckpoint(eager = false)
      },
      delete = { removed =>
        shPieces = Seq(Replay.drop(shPieces.reduce(_ unionByName _),
          removed, "doc_id").localCheckpoint(eager = false))
        keyPieces = Seq(Replay.drop(keyPieces.reduce(_ unionByName _),
          removed, "doc_id").localCheckpoint(eager = false))
        val edgeStore = edgePieces.reduce(_ unionByName _)
        labels = ccDecrement(labels, edgeStore, removed)
          .localCheckpoint(eager = false)
        edgePieces = Seq(Replay.drop(edgeStore, removed, "doc_a", "doc_b")
          .localCheckpoint(eager = false))
      })
    val out = labels.select(col("id").as("doc_id"), col("label").as("rep_id"))
    if (deletes.isEmpty) out
    else {
      // drop the singleton survivors of the delete in ONE exchange
      // (r16 opt, the entityOutput r15 recipe): a count window over
      // the label partition, whose partitions are near-dup cliques,
      // never corpus-sized, so the window is skew-safe at any scale
      val wn = org.apache.spark.sql.expressions.Window.partitionBy(col("rep_id"))
      out.withColumn("n", count(lit(1)).over(wn))
        .filter(col("n") > 1).drop("n")
    }
  }

  // -----------------------------------------------------------------
  // Materialized index lifecycle (the appendToIvfPqIndex precedent):
  // the standing LSH index and shingle store as PARQUET TABLES a
  // fresh session reads back — full build once, per-batch appends
  // forever. Parity spec: grown-by-appends == full rebuild, row for
  // row, and candidates drawn from the grown index equal the
  // one-shot candidate set.
  // -----------------------------------------------------------------

  /** The LSH index's probe-bucket column: pb over the full (band,
    * bucket) probe key, so a pruned read can never lose a candidate
    * (pb is a function of the join key — the [[graft.sources
    * .Bucketed.probeBucket]] recall argument). */
  private def lshPb(numPb: Int): Column =
    graft.sources.Bucketed.probeBucket(numPb,
      col("band").cast("long"), col("bucket"))

  /** Full build of the (band, bucket, doc_id) LSH index, laid out
    * `partitionBy(pb)` — a hash of the (band, bucket) probe key
    * folded into `numPb` cells — so a batch's candidate probe reads
    * ONLY the cells its own band keys hash into
    * ([[readLshIndexPruned]]) instead of scanning the whole standing
    * index per ingest batch (the r13 I/O-posture fix: compute was
    * touched-bucket-bounded, the read was O(index)). */
  def writeLshIndex(spark: SparkSession, dir: String, outPath: String,
      k: Int = 3, bands: Int = 8, rowsPerBand: Int = 4,
      numPb: Int = graft.sources.Bucketed.defaultProbeParts): Unit =
    graft.sources.Io.writeParquet(
      lshBandKeys(signatures(spark, dir, k, bands * rowsPerBand),
        bands, rowsPerBand).withColumn("pb", lshPb(numPb))
        .transform(graft.sources.Bucketed.clusterByPb(_, numPb)),
      outPath, Seq("pb"))

  /** APPEND new documents to a materialized [[writeLshIndex]] table
    * WITHOUT rebuilding: shingle + sign + band the new rows only and
    * append into their pb cells (same `numPb` as the build — the
    * layout contract). The banding is seed-stable (xxhash64 with
    * fixed per-band seeds), so old keys never change — the property
    * that makes append ≡ rebuild. */
  def appendToLshIndex(newDocs: DataFrame, indexPath: String,
      k: Int = 3, bands: Int = 8, rowsPerBand: Int = 4,
      numPb: Int = graft.sources.Bucketed.defaultProbeParts): Unit =
    lshBandKeys(
      shingleRowsFor(newDocs, k).select(col("doc_id"),
        minhashFromShingles(col("sh"), bands * rowsPerBand).as("sig")),
      bands, rowsPerBand).withColumn("pb", lshPb(numPb))
      .transform(graft.sources.Bucketed.clusterByPb(_, numPb))
      .write.mode("append").partitionBy("pb").parquet(indexPath)

  /** BATCH-DETERMINISTIC variants of the LSH-family appends for
    * exactly-once-challenged writers (the
    * [[graft.ext.Linkage.appendToDeletionKeyIndexBatch]] retry
    * contract: a replayed micro-batch overwrites its own previous
    * files instead of duplicating them). */
  def appendToLshIndexBatch(newDocs: DataFrame, indexPath: String,
      batchId: Long, k: Int = 3, bands: Int = 8, rowsPerBand: Int = 4,
      numPb: Int = graft.sources.Bucketed.defaultProbeParts): Unit =
    lshBandKeys(
      shingleRowsFor(newDocs, k).select(col("doc_id"),
        minhashFromShingles(col("sh"), bands * rowsPerBand).as("sig")),
      bands, rowsPerBand).withColumn("pb", lshPb(numPb))
      .transform(graft.sources.Bucketed.clusterByPb(_, numPb))
      .write.mode("overwrite").partitionBy("pb")
      .parquet(s"$indexPath/ingest_batch=$batchId")

  def appendToShingleStoreBatch(newDocs: DataFrame, storePath: String,
      batchId: Long, k: Int = 3,
      numPb: Int = graft.sources.Bucketed.defaultProbeParts): Unit =
    shingleRowsFor(newDocs, k).withColumn("pb", idPb(numPb))
      .transform(graft.sources.Bucketed.clusterByPb(_, numPb))
      .write.mode("overwrite").partitionBy("pb")
      .parquet(s"$storePath/ingest_batch=$batchId")

  /** Partition-pruned read of a [[writeLshIndex]] layout: only the
    * pb cells `newKeys`' (band, bucket) keys hash into are read
    * (static `isin` partition filter — spec-asserted). Feed the
    * result to [[lshAppendCandidates]] as `indexKeys`: per-batch
    * probe I/O then tracks the batch's touched cells, never the
    * standing index's size. */
  def readLshIndexPruned(spark: SparkSession, indexPath: String,
      newKeys: DataFrame,
      numPb: Int = graft.sources.Bucketed.defaultProbeParts): DataFrame =
    graft.sources.Bucketed.readPruned(spark, indexPath,
      newKeys.select(lshPb(numPb).as("pb")))

  /** The shingle/signature stores' probe-bucket column: pb over
    * doc_id — the verify stage probes these stores by ID-equi-join
    * from the (bounded) candidate pairs, so pruning to the
    * candidates' id cells is recall-safe. */
  private def idPb(numPb: Int): Column =
    graft.sources.Bucketed.probeBucket(numPb, col("doc_id"))

  /** Full build of the doc_id → shingle-set store (the verify
    * stage's side table), laid out `partitionBy(pb)` over doc_id so
    * the per-batch verify join reads only the cells the batch's
    * candidate endpoints hash into ([[readShingleStorePruned]]). */
  def writeShingleStore(spark: SparkSession, dir: String,
      outPath: String, k: Int = 3,
      numPb: Int = graft.sources.Bucketed.defaultProbeParts): Unit =
    graft.sources.Io.writeParquet(
      shingleTable(spark, dir, k).withColumn("pb", idPb(numPb))
        .transform(graft.sources.Bucketed.clusterByPb(_, numPb)),
      outPath, Seq("pb"))

  /** Row-local append to a materialized [[writeShingleStore]] (same
    * `numPb` as the build — the layout contract). */
  def appendToShingleStore(newDocs: DataFrame, storePath: String,
      k: Int = 3,
      numPb: Int = graft.sources.Bucketed.defaultProbeParts): Unit =
    shingleRowsFor(newDocs, k).withColumn("pb", idPb(numPb))
      .transform(graft.sources.Bucketed.clusterByPb(_, numPb))
      .write.mode("append").partitionBy("pb").parquet(storePath)

  /** Partition-pruned read of a [[writeShingleStore]] layout: only
    * the pb cells touched by `cands`' endpoints (doc_a ∪ doc_b) are
    * read — the verify stage's I/O then tracks the batch's candidate
    * set, never the standing corpus. */
  def readShingleStorePruned(spark: SparkSession, storePath: String,
      cands: DataFrame,
      numPb: Int = graft.sources.Bucketed.defaultProbeParts): DataFrame =
    graft.sources.Bucketed.readPruned(spark, storePath,
      cands.select(col("doc_a").as("doc_id"))
        .unionByName(cands.select(col("doc_b").as("doc_id")))
        .select(idPb(numPb).as("pb")))

  /** The simhash store's probe-bucket column: pb over the signature
    * VALUE — the member-expansion stage probes the store by
    * vb-equi-join from the (bounded) value pairs, so pruning to the
    * values' cells is recall-safe. */
  private def shPb(numPb: Int): Column =
    graft.sources.Bucketed.probeBucket(numPb, col("sh"))

  /** Full build / row-local append of the (doc_id, sh) simhash
    * signature store, laid out `partitionBy(pb)` over the signature
    * value — band keys derive row-locally at read
    * ([[simhashBandKeys]]), so one store serves both the candidate
    * index and the hamming verify, and the member expansion reads
    * only the cells its value pairs touch
    * ([[readSimhashStorePruned]]). */
  def writeSimhashStore(spark: SparkSession, dir: String,
      outPath: String, bits: Int = 48,
      numPb: Int = graft.sources.Bucketed.defaultProbeParts): Unit =
    graft.sources.Io.writeParquet(
      simhashRowsPortable(Tables.documents(spark, dir), bits)
        .withColumn("pb", shPb(numPb))
        .transform(graft.sources.Bucketed.clusterByPb(_, numPb)),
      outPath, Seq("pb"))

  def appendToSimhashStore(newDocs: DataFrame, storePath: String,
      bits: Int = 48,
      numPb: Int = graft.sources.Bucketed.defaultProbeParts): Unit =
    simhashRowsPortable(newDocs, bits).withColumn("pb", shPb(numPb))
      .transform(graft.sources.Bucketed.clusterByPb(_, numPb))
      .write.mode("append").partitionBy("pb").parquet(storePath)

  /** Partition-pruned read of a [[writeSimhashStore]] layout: only
    * the pb cells of the given signature VALUES (one column, "sh")
    * are read. */
  def readSimhashStorePruned(spark: SparkSession, storePath: String,
      values: DataFrame,
      numPb: Int = graft.sources.Bucketed.defaultProbeParts): DataFrame =
    graft.sources.Bucketed.readPruned(spark, storePath,
      values.select(shPb(numPb).as("pb")))

  /** BATCH-DETERMINISTIC appends for the streaming simhash
    * maintainer (the [[graft.ext.Linkage
    * .appendToDeletionKeyIndexBatch]] retry contract: a replayed
    * micro-batch overwrites its own previous files). The signature
    * store takes (doc_id, sh) rows under pb-over-value; the
    * value-key store takes (v, band, bucket) rows under
    * pb-over-(band, bucket). */
  def appendToSimhashStoreBatch(newSigs: DataFrame, storePath: String,
      batchId: Long,
      numPb: Int = graft.sources.Bucketed.defaultProbeParts): Unit =
    newSigs.withColumn("pb", shPb(numPb))
      .transform(graft.sources.Bucketed.clusterByPb(_, numPb))
      .write.mode("overwrite").partitionBy("pb")
      .parquet(s"$storePath/ingest_batch=$batchId")

  def appendToSimhashVKeyStoreBatch(newVKeys: DataFrame,
      storePath: String, batchId: Long,
      numPb: Int = graft.sources.Bucketed.defaultProbeParts): Unit =
    newVKeys.withColumn("pb", lshPb(numPb))
      .transform(graft.sources.Bucketed.clusterByPb(_, numPb))
      .write.mode("overwrite").partitionBy("pb")
      .parquet(s"$storePath/ingest_batch=$batchId")

  /** Partition-pruned read of an [[appendToSimhashVKeyStoreBatch]]
    * store: only the pb cells the batch's (band, bucket) keys hash
    * into are read. */
  def readSimhashVKeyStorePruned(spark: SparkSession, storePath: String,
      newVKeys: DataFrame,
      numPb: Int = graft.sources.Bucketed.defaultProbeParts): DataFrame =
    graft.sources.Bucketed.readPruned(spark, storePath,
      newVKeys.select(lshPb(numPb).as("pb")))

  /** Asymmetric CONTAINMENT dedup: C = |S(A)∩S(B)| / min(|S(A)|,
    * |S(B)|) over the same portable-LSH candidate pairs — catches the
    * subset-duplicate Jaccard misses (a paragraph quoted whole inside
    * a longer doc scores near-1 containment but low Jaccard, because
    * the union is dominated by the host). The standard companion
    * check to symmetric near-dup in web-corpus curation (Broder's
    * containment). Same scale shape as [[jaccardVerifyPortable]]:
    * banded candidates (skew-guarded), id-keyed verify joins, no
    * text movement — and the same caveat that LSH recall is tuned
    * for Jaccard, so low-Jaccard/high-containment pairs only surface
    * when the small doc's shingles still dominate enough bands; a
    * recall-complete containment index would band on the SMALL set's
    * shingles only (documented trade, not needed at gate scale). */
  def containmentPairs(docs: DataFrame, cands: DataFrame,
      threshold: Double): DataFrame =
    cands
      .join(docs.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")),
        Seq("doc_a"))
      .join(docs.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")),
        Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        round(size(array_intersect(col("sh_a"), col("sh_b"))).cast("double")
          / least(size(col("sh_a")), size(col("sh_b"))), 4).as("containment"),
        when(size(col("sh_a")) <= size(col("sh_b")), col("doc_a"))
          .otherwise(col("doc_b")).as("contained_id"))
      .filter(col("containment") >= threshold)

  /** MinHash estimate-error audit (q261) — the sketch-accuracy
    * companion to the KMV/CMS audits (q243/q244) for the dedup
    * pipeline's own estimator: over the banded candidate pairs, the
    * signature-agreement Jaccard estimate (matching minima / 32
    * permutations — the quantity LSH banding implicitly thresholds
    * on) against the exact shingle-set Jaccard the verify stage
    * computes anyway. The audit quantifies what the verify stage is
    * FOR: est−exact spread at 32 perms is ±~0.09 (1/√32), exactly
    * why banding alone cannot replace verification. Reuses the
    * memoized portable signature and shingle tables — id-keyed joins
    * only, no text movement, no new corpus scan. */
  def minhashErrorAudit(spark: SparkSession, dir: String,
      k: Int = 3): DataFrame = {
    val perms = 32
    val sigs = signaturesPortable(spark, dir, k, perms)
    val sh = shingleTable(spark, dir, k)
    val nAgree = size(filter(
      zip_with(col("sig_a"), col("sig_b"), (a, b) => a === b),
      x => x)).cast("long")
    val exact = size(array_intersect(col("sh_a"), col("sh_b")))
      .cast("double") / size(array_union(col("sh_a"), col("sh_b")))
    minhashLshPortable(spark, dir, k)
      .join(sigs.select(col("doc_id").as("doc_a"), col("sig").as("sig_a")),
        Seq("doc_a"))
      .join(sigs.select(col("doc_id").as("doc_b"), col("sig").as("sig_b")),
        Seq("doc_b"))
      .join(sh.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")),
        Seq("doc_a"))
      .join(sh.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")),
        Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"), nAgree.as("n_agree"),
        round(nAgree.cast("double") / perms, 6).as("est_jaccard"),
        round(exact, 6).as("exact_jaccard"),
        round(abs(nAgree.cast("double") / perms - exact), 6).as("abs_err"))
  }

  /** LSH recall-calibration audit (q266) — the analytic banding
    * S-curve P(candidate | s) = 1−(1−s^r)^b against the MEASURED
    * capture rate, per similarity band: ground truth is the
    * deterministic all-pairs window (q137's device — every pair
    * under `maxId` with its exact Jaccard), and a pair is "captured"
    * if the portable LSH banding emitted it as a candidate. This is
    * the chart that validates a (bands, rows) choice: empirical
    * capture hugging the analytic curve means banding behaves like
    * theory on THIS corpus's shingle distribution; divergence means
    * skew/caps are distorting recall. The analytic power is an
    * explicit square-and-multiply chain (x⁴ = (x²)², (1−s⁴)⁸ by
    * three squarings) — never libm pow, whose rounding varies across
    * engines. The id window keeps ground truth quadratic only in a
    * bounded slice; the candidate join is id-keyed. */
  def lshCalibration(spark: SparkSession, dir: String, k: Int = 3,
      maxId: Long = 400L): DataFrame = {
    val ids = Tables.documents(spark, dir)
      .filter(col("doc_id") < maxId).select(col("doc_id"))
    val allPairs = ids.select(col("doc_id").as("doc_a"))
      .join(ids.select(col("doc_id").as("doc_b")),
        col("doc_a") < col("doc_b"))
    val jac = verifyPairs(shingleTable(spark, dir, k)
      .filter(col("doc_id") < maxId), allPairs, 0.0)
    val caps = minhashLshPortable(spark, dir, k)
      .filter(col("doc_a") < maxId && col("doc_b") < maxId)
      .withColumn("cap", lit(1L))
    val bucket = least(lit(9),
      (round(col("jaccard") * 10000.0, 0).cast("long") / 1000L)
        .cast("long"))
    val counts = jac.join(caps, Seq("doc_a", "doc_b"), "left")
      .select(bucket.as("bucket"), coalesce(col("cap"), lit(0L)).as("cap"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_pairs"), sum(col("cap")).as("n_captured"))
    val grid = jac.sparkSession.range(0, 10).select(col("id").as("bucket"))
    val g = grid.join(counts, Seq("bucket"), "left")
      .select(col("bucket"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        coalesce(col("n_captured"), lit(0L)).as("n_captured"))
      .withColumn("smid", (col("bucket").cast("double") + 0.5) / 10.0)
      .withColumn("s2", col("smid") * col("smid"))
      .withColumn("s4", col("s2") * col("s2"))
      .withColumn("qq", lit(1.0) - col("s4"))
      .withColumn("qq2", col("qq") * col("qq"))
      .withColumn("qq4", col("qq2") * col("qq2"))
      .withColumn("qq8", col("qq4") * col("qq4"))
    g.select((col("bucket").cast("double") / 10.0).as("s_lo"),
      col("n_pairs"), col("n_captured"),
      when(col("n_pairs") > 0,
        round(col("n_captured").cast("double") /
          col("n_pairs").cast("double"), 6)).as("empirical_capture"),
      round(lit(1.0) - col("qq8"), 6).as("analytic_capture"))
  }

  /** Dedup threshold sweep (q242) — the tuning REPORT for the
    * verify stage: over the portable-LSH candidate pairs, how many
    * survive each Jaccard threshold 0.0 … 0.9 (per-bucket counts and
    * the cumulative keep-count) — the curve an operator reads before
    * pinning the production threshold, computed in ONE extra tiny
    * aggregate over the already-built pair table (candidates are
    * verified ONCE at threshold 0; the sweep is bucketing, not ten
    * re-verifications). Bucket indices come from the exact
    * 4-decimal-scaled integer (a float ×10 floor would sit on
    * representation edges); the 10-row grid always emits every
    * threshold, empty buckets included. */
  def thresholdSweep(spark: SparkSession, dir: String, k: Int = 3)
      : DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pairs = verifyPairs(shingleTable(spark, dir, k),
      minhashLshPortable(spark, dir, k), 0.0)
    val bucket = least(lit(9),
      (round(col("jaccard") * 10000.0, 0).cast("long") / 1000L)
        .cast("long"))
    val counts = pairs.select(bucket.as("bucket"))
      .groupBy(col("bucket")).agg(count(lit(1)).as("n_in_bucket"))
    val grid = pairs.sparkSession.range(0, 10)
      .select(col("id").as("bucket"))
    val wCum = Window.orderBy(col("bucket").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid.join(counts, Seq("bucket"), "left")
      .select(col("bucket"),
        coalesce(col("n_in_bucket"), lit(0L)).as("n_in_bucket"))
      .withColumn("n_kept", sum(col("n_in_bucket")).over(wCum))
      .select((col("bucket").cast("double") / 10.0).as("threshold"),
        col("n_in_bucket"), col("n_kept"))
  }

  /** Dedup impact report (q247) — the budget number curation
    * actually negotiates with: per source, documents and TOKENS
    * removed by near-dup dedup (keep one representative per
    * cluster), as a fraction of the source's token mass. Pure reuse
    * of the portable hash-gated cluster pipeline plus ONE token
    * aggregate; the removed-id set joins back id-keyed (never text).
    * Sources with heavy templating show their true cost here —
    * doc counts under-state it when the dups are the long docs. */
  def dedupImpact(spark: SparkSession, dir: String, k: Int = 3,
      threshold: Double = 0.7): DataFrame = {
    val removed = lshDedupClustersPortable(spark, dir, k, threshold)
      .filter(col("doc_id") =!= col("rep_id"))
      .select(col("doc_id"), lit(true).as("removed"))
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"),
        size(graft.ext.TextAnalysis.tokens(col("text"))).cast("long")
          .as("n_tok"))
      .join(removed, Seq("doc_id"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("removed"), 1L).otherwise(0L)).as("n_removed"),
        sum(col("n_tok")).as("tokens_total"),
        sum(when(col("removed"), col("n_tok")).otherwise(0L))
          .as("tokens_removed"))
      .select(col("source"), col("n_docs"), col("n_removed"),
        col("tokens_total"), col("tokens_removed"),
        round(col("tokens_removed").cast("double")
          / col("tokens_total").cast("double"), 6).as("pct_tokens_saved"))
  }

  /** Duplicate-cluster size histogram — the curation REPORT on top of
    * the cluster machinery: how much of the corpus sits in dup
    * clusters of size 2, 3, …, and how many rows dedup would remove
    * at each size (cluster_size − 1 survivors removed per cluster).
    * Pure reuse of the portable hash-gated pipeline; the histogram
    * itself is two tiny aggregates over the components table. */
  def clusterSizeHistogram(spark: SparkSession, dir: String,
      k: Int = 3, threshold: Double = 0.7): DataFrame =
    lshDedupClustersPortable(spark, dir, k, threshold)
      .groupBy(col("rep_id")).agg(count(lit(1)).as("cluster_size"))
      .groupBy(col("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"),
        sum(col("cluster_size")).as("n_docs"),
        sum(col("cluster_size") - 1).as("n_removable"))

  /** q188: containment-verified pairs over the portable candidates
    * (hash-gated end to end — candidates, intersection, asymmetric
    * denominator, contained-side pick). */
  def containmentVerifyPortable(spark: SparkSession, dir: String,
      k: Int = 3, threshold: Double = 0.8): DataFrame =
    containmentPairs(shingleTable(spark, dir, k),
      minhashLshPortable(spark, dir, k), threshold)

  /** Connected components over an undirected edge list by iterative
    * min-label propagation: every node starts labelled with its own
    * id; each round a node takes the min of its label and its
    * neighbours' labels; at the fixpoint a component's label is its
    * min member id (the canonical dedup representative).
    *
    * Scale posture: one shuffle per round (edge join + min-agg),
    * rounds ≤ component diameter — near-dup clusters are
    * shallow (dups of dups of one original), so this converges in a
    * handful of rounds where a 100 TB corpus is concerned; pathological
    * chains are bounded by `maxIter`. Labels only decrease, so
    * `sum(label)` is a strictly-decreasing convergence witness — the
    * loop stops on the first round that changes nothing. Each round is
    * `localCheckpoint`ed to truncate lineage (the iterative-join plan
    * would otherwise grow exponentially); a multi-executor deployment
    * would use reliable `checkpoint` on the cluster FS instead.
    *
    * This is also the expansion pass that closes the oversized-bucket
    * recall gap in [[minhashLsh]]'s star guard: run it over the
    * VERIFIED edge set and every doc transitively connected through a
    * star anchor lands in one cluster without materializing the
    * O(n²) clique edges.
    *
    * One Spark action per round: the round's new label table is
    * truncation-marked LAZILY (`localCheckpoint(false)` /
    * `checkpoint(false)`) and the convergence-witness aggregate is the
    * action that materializes it — the label-update job and the
    * witness are the same job, not two (driver-side job-launch
    * chattiness was most of the recorded q45 cost).
    *
    * `checkpointDir`: a multi-executor deployment loses executors;
    * `localCheckpoint` stores partitions on executor disk/memory and a
    * lost executor kills the (truncated-lineage) job. Passing a
    * cluster-FS directory switches every truncation to reliable
    * `checkpoint` so the iteration survives executor loss. Default
    * stays local: right for local[N] and for the bench.
    *
    * `driverGridMax`: the most RAW input rows of `edges` (duplicates
    * and both directions of an edge each count) that take the
    * driver-side union-find path under `"auto"`, an empty edge frame
    * included (it returns the empty (id, label) frame after the one
    * probe job); a larger edge frame runs distributed, and 0 forces
    * distributed.
    *
    * `algorithm`: `"labelprop"` (one-hop min propagation,
    * O(diameter) rounds, one shuffle join per round) or `"doubling"`
    * (pointer doubling: each round ALSO shortcuts l(x) ← l(l(x)) via
    * a label self-join, so the propagation horizon doubles per round
    * — O(log diameter) rounds at two joins each; Shiloach-Vishkin /
    * Rastogi et al. 2013 hash-to-min family). Both land on the same
    * fixpoint (labels decrease monotonically to the component min;
    * parity-spec'd on path/star/clique fixtures), so gated callers
    * keep the default while a chain-shaped 100 TB dup cluster — where
    * label-prop would hit `maxIter` and THROW — switches to
    * `"doubling"` and finishes: ~2^19 diameter within default
    * maxIter=20 (reach after round r is 2^(r+1)−2, and the
    * unchanged-sum convergence witness costs ONE extra no-change
    * round beyond label coverage — ADVICE r10). `"auto"` runs
    * labelprop and, on hitting `maxIter` unconverged, RESUMES with
    * doubling rounds from the partial labels (safe: labels are node
    * ids that only decrease, so the self-join stays total and the
    * fixpoint is unchanged) — and is the DEFAULT (VERDICT r11
    * item 2): no caller can fail on component diameter unless it
    * opts into plain labelprop explicitly. The fixpoint is
    * algorithm-independent (labels are node ids, monotone
    * decreasing), so gated oracles are unaffected; the default
    * policy is spec-pinned in OperatorsSpec. */
  def connectedComponents(edges: DataFrame, src: String = "doc_a",
      dst: String = "doc_b", maxIter: Int = 20,
      checkpointDir: Option[String] = None,
      failOnNonConvergence: Boolean = true,
      algorithm: String = "auto",
      driverGridMax: Int = graft.ext.Guards.defaultDriverGridMax): DataFrame = {
    require(algorithm == "labelprop" || algorithm == "doubling" ||
        algorithm == "auto",
      s"connectedComponents: unknown algorithm '$algorithm'")
    checkpointDir.foreach(d =>
      edges.sparkSession.sparkContext.setCheckpointDir(d))
    def truncate(df: DataFrame, eager: Boolean): DataFrame =
      if (checkpointDir.isDefined) df.checkpoint(eager)
      else df.localCheckpoint(eager)
    // Altitude switch (the hits/pageRank/textRank rule, applied to
    // the one operator every dedup composition pays for): under the
    // DEFAULT "auto" policy, an edge set small enough to collect
    // (boundedGrid-guarded) runs as a driver-side union-find with
    // min-root labeling — the fixpoint is algorithm-independent
    // (label = min component member under the column's ordering;
    // strings compare as UTF-8 bytes, matching Spark's binary
    // collation), so the hash gates are untouched (parity spec).
    // Each distributed round costs a join + agg + a witness action;
    // on a few-hundred-edge verified-pair graph that was the bulk of
    // q45/q103/q184's tail. EXPLICIT algorithm="labelprop"/"doubling"
    // always run distributed (they gate those algorithms — q317),
    // as does any grid over the cap or with an exotic key type.
    val rawEdges = edges.select(col(src).as("a"), col(dst).as("b"))
    val dt = rawEdges.schema("a").dataType
    // ONE action decides the altitude AND fetches the grid (r15 opt:
    // the old shape paid an eager lineage truncation plus a count
    // plus the collect — three driver jobs — before the first
    // union-find step; a limit(cap+1) collect is the same size guard
    // with the data in hand, and every replay batch's ccIncrement
    // pays this path). The probe collects the RAW edge rows (r16 opt):
    // union-find needs neither symmetrization nor dedup (union(a,b) is
    // direction-free and idempotent), so the driver path skips the
    // symmetrize-union AND the distinct exchange the distributed loop
    // needs — the altitude action is then pure narrow work over the
    // edge frame. The altitude MEASURE changes with it (raw input rows
    // ≤ cap, instead of |symmetrized distinct| ≤ cap): what is
    // BOUNDED — the collected row count — is capped identically, and
    // the fixpoint is measure-independent, so only which graphs take
    // which path shifts (a duplicate-heavy frame now falls through to
    // the distributed loop, whose distinct absorbs the duplicates; an
    // already-distinct frame reaches the driver at up to 2× the old
    // effective edge count). An EMPTY grid is under the cap too: it
    // returns the empty (id, label) frame after the probe, where the
    // distributed loop would pay a truncation, a witness and a round
    // to find nothing. driverGridMax = 0 skips the probe, so it stays
    // a true force-distributed escape hatch; an over-cap grid falls
    // through to the distributed loop, whose eager truncation then
    // happens exactly as before.
    if (algorithm == "auto" && ccDriverType(dt) && driverGridMax > 0) {
      val grid = collectUnder(rawEdges, driverGridMax)
      if (grid.isDefined)
        return labelFrame(minRoots(grid.get.map(r => (r.get(0), r.get(1))),
          dt), dt, rawEdges.sparkSession)
    }
    val e0 = rawEdges
      .unionByName(edges.select(col(dst).as("a"), col(src).as("b")))
      .distinct()
    val e = truncate(e0, eager = true)
    // Witness = DECIMAL-exact sum of xxhash64(label): type-agnostic
    // (labels may be strings — the q297 source graph), overflow-proof
    // under ANSI, and faithful because labels only DECREASE — any
    // label change alters the hash multiset, so an unchanged sum ⇔
    // an unchanged fixpoint (modulo a 2⁻⁶⁴ collision). coalesce: an
    // empty edge list must not NPE the witness.
    def labelSum(df: DataFrame): java.math.BigDecimal =
      df.agg(coalesce(sum(xxhash64(col("label")).cast("decimal(38,0)")),
        lit(0).cast("decimal(38,0)"))).head().getDecimal(0)
    var labels = truncate(
      e.select(col("a").as("id")).distinct()
        .select(col("id"), col("id").as("label")), eager = false)
    var lastSum = labelSum(labels) // materializes the initial table
    var it = 0
    var converged = false
    // "auto" = labelprop until the round budget runs out, then RESUME
    // with doubling rounds from the partial labels and a fresh budget.
    // The resume is safe because labels are always node ids and only
    // decrease: the doubling self-join stays total over any partial
    // label table, and monotonicity means the fixpoint (and the sum
    // witness) are algorithm-independent — so the cheap one-join
    // rounds handle the shallow clusters real corpora have, and the
    // O(log diameter) machinery only turns on when the data proves
    // it's needed, without restarting from scratch.
    var mode = if (algorithm == "doubling") "doubling" else "labelprop"
    var budget = maxIter
    while (it < budget && !converged) {
      val msgs = labels.join(e, col("id") === col("a"))
        .select(col("b").as("id"), col("label"))
      val hop = labels.unionByName(msgs)
        .groupBy(col("id")).agg(min(col("label")).as("label"))
      labels =
        if (mode == "doubling") {
          // pointer-doubling shortcut: l(x) ← l(l(x)). Labels are
          // always node ids, so every label resolves in the hop table
          // (the inner self-join is total); the hop table is truncated
          // EAGERLY first so the self-join reads materialized
          // partitions instead of executing its lineage twice. l is
          // monotone (l(m) ≤ m ∀m), so the shortcut only ever
          // decreases a label and the sum witness stays valid.
          val m = truncate(hop, eager = true)
          val parent = m.select(col("id").as("pid"),
            col("label").as("plabel"))
          truncate(
            m.join(parent, m("label") === parent("pid"))
              .select(m("id"), col("plabel").as("label")),
            eager = false)
        } else truncate(hop, eager = false)
      // the witness action materializes the checkpoint: labels only
      // decrease, so an unchanged sum ⇔ an unchanged fixpoint
      val s = labelSum(labels)
      converged = s == lastSum
      lastSum = s
      it += 1
      if (!converged && it == budget && algorithm == "auto" &&
          mode == "labelprop") {
        mode = "doubling"
        budget += maxIter
        System.err.println(
          s"[graft] connectedComponents: labelprop hit maxIter=$maxIter " +
            "without converging (component diameter exceeds the round " +
            "budget); escalating to pointer doubling from the partial " +
            "labels.")
      }
    }
    // FAIL, not warn: a cluster chain with diameter > maxIter leaves
    // labels PARTIALLY propagated — correct-looking output, wrong
    // components — and every downstream consumer (the recursive-CTE
    // oracles q59/q78/q103, the q168 leakage-safe split) silently
    // inherits the wrong ids. Partially-propagated labels are a wrong
    // answer, so the default is to throw; callers that can tolerate
    // approximate components (none in this repo) opt out explicitly.
    // One-hop propagation needs maxIter ≥ the cluster diameter; raise
    // it (or switch to pointer-doubling) if this ever fires.
    if (!converged) {
      // the advice must match the path taken: under auto the doubling
      // escalation ALREADY ran, so "switch to doubling" would tell the
      // reader to do the thing that just failed — and the round count
      // reported must be the budget actually consumed
      val msg =
        if (algorithm == "auto" && mode == "doubling")
          s"connectedComponents (auto) exited after $it rounds " +
            s"(labelprop $maxIter + doubling ${it - maxIter}, escalation " +
            "already applied) WITHOUT converging: labels are partially " +
            "propagated and component ids are NOT final. Raise maxIter " +
            "— doubling covers diameter ~2^rounds, so a small increase " +
            "goes far."
        else
          s"connectedComponents exited via maxIter=$maxIter WITHOUT " +
            "converging: labels are partially propagated and component " +
            "ids are NOT final. Raise maxIter or switch to " +
            "algorithm=\"doubling\" (O(log diameter) rounds)."
      if (failOnNonConvergence) throw new IllegalStateException(msg)
      else System.err.println(s"[graft] $msg")
    }
    labels
  }

  /** Key types the driver-altitude CC paths fold: their collected
    * values are boxed Long/Integer/String, which [[minRoots]] orders
    * the way Spark's `min` does. */
  private def ccDriverType(dt: org.apache.spark.sql.types.DataType): Boolean =
    dt match {
      case org.apache.spark.sql.types.StringType |
           org.apache.spark.sql.types.LongType |
           org.apache.spark.sql.types.IntegerType => true
      case _ => false
    }

  /** `df`'s rows if it has at most `cap` of them, else None: the
    * bounded collect every driver step of the CC paths takes — one
    * job that fetches at most `cap + 1` rows, the size guard and the
    * data in one action. */
  private def collectUnder(df: DataFrame,
      cap: Int): Option[Array[org.apache.spark.sql.Row]] = {
    // collect-ok: bounded by limit(cap + 1) — this IS the altitude
    // guard (the boundedGrid discipline, fused)
    val rows = df.limit(cap + 1).collect()
    if (rows.length <= cap) Some(rows) else None
  }

  /** Spark's order on collected [[ccDriverType]] keys: unsigned UTF-8
    * bytes for strings, numeric order otherwise. */
  private def keyOrdering(
      dt: org.apache.spark.sql.types.DataType): Ordering[Any] = dt match {
    case org.apache.spark.sql.types.StringType =>
      graft.ext.Guards.utf8Ordering.on[Any](_.asInstanceOf[String])
    case _ => Ordering.by[Any, Long](_.asInstanceOf[Number].longValue)
  }

  /** Driver-altitude connected components: union-find with path
    * halving over `pairs`, every node → the MINIMUM member of its
    * component under [[keyOrdering]]. Duplicates, self-loops and
    * direction are all absorbed (union is idempotent and
    * direction-free), so callers skip the symmetrize+distinct the
    * distributed loop needs, and the result is the same fixpoint
    * every distributed algorithm converges to (label = min member).
    * Pure exact set logic: bit-identity with the distributed loop is
    * structural, pinned by a parity spec anyway. String keys compare
    * as unsigned UTF-8 bytes (Spark's binary string ordering), so a
    * q297-shaped string graph gets the same minimum Spark's `min`
    * would pick. */
  private def minRoots(pairs: Iterable[(Any, Any)],
      dt: org.apache.spark.sql.types.DataType): Map[Any, Any] = {
    val ord = keyOrdering(dt)
    val parent = scala.collection.mutable.HashMap.empty[Any, Any]
    pairs.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
    }
    def find(x0: Any): Any = {
      var x = x0
      while (parent(x) != x) {
        parent(x) = parent(parent(x))  // path halving
        x = parent(x)
      }
      x
    }
    pairs.foreach { case (a, b) =>
      val ra = find(a); val rb = find(b)
      if (ra != rb) {
        if (ord.lt(ra, rb)) parent(rb) = ra else parent(ra) = rb
      }
    }
    parent.keys.map(id => id -> find(id)).toMap
  }

  /** A local (id, label) relation of `dt` keys, rows in id order. */
  private def labelFrame(labels: Map[Any, Any],
      dt: org.apache.spark.sql.types.DataType,
      spark: SparkSession): DataFrame = {
    val rows = labels.toSeq.sortBy(_._1)(keyOrdering(dt))
      .map { case (id, label) => org.apache.spark.sql.Row(id, label) }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", dt),
      org.apache.spark.sql.types.StructField("label", dt)))
    spark.createDataFrame(
      java.util.Arrays.asList(rows: _*), schema)
  }

  /** Weighted PageRank over an undirected edge list — the other
    * iterative graph primitive a corpus-provenance pipeline wants
    * (rank sources/documents by how centrally they sit in the
    * overlap graph; [[connectedComponents]] answers "which", this
    * answers "how much"). Power iteration with a FIXED iteration
    * count: each round is one join (ranks into normalized edges) and
    * one aggregation, lineage truncated per round exactly like CC so
    * the plan never grows. Contributions accumulate through
    * DECIMAL(38,28) so the per-node sum — and therefore the whole
    * trajectory — is partitioning-independent; edge normalization
    * (weight / out-weight) is a per-row double op, deterministic
    * everywhere. Dangling nodes can't exist (every node of an
    * undirected edge has out-edges), so mass only leaks through the
    * (1-d) teleport, same as the textbook formulation. Nodes are
    * DERIVED from the edge list — a fully isolated node (no edges at
    * all) is not ranked; union such nodes in with rank (1-d)/n
    * afterwards if the population matters.
    *
    * `checkpointDir`: same contract as [[connectedComponents]] — a
    * long rank job on a real cluster must survive executor loss, and
    * `localCheckpoint` data dies with its executor. Pass a
    * cluster-FS directory to make every lineage truncation a
    * reliable `checkpoint`; default stays local for local[N]. */
  def pageRank(edges: DataFrame, src: String = "src", dst: String = "dst",
      weight: String = "weight", iters: Int = 10,
      damping: Double = 0.85, checkpointDir: Option[String] = None,
      driverGridMax: Int = graft.ext.Guards.defaultDriverGridMax): DataFrame = {
    checkpointDir.foreach(d =>
      edges.sparkSession.sparkContext.setCheckpointDir(d))
    def truncate(df: DataFrame): DataFrame =
      if (checkpointDir.isDefined) df.checkpoint(eager = true)
      else df.localCheckpoint(eager = true)
    def dsum28(c: Column): Column = sum(c.cast("decimal(38,28)")).cast("double")
    // drop null-weight edges BEFORE the altitude switch: the
    // distributed sums silently ignore nulls while the driver grid's
    // getDouble would throw — dirty input must behave identically on
    // both paths (a null weight is a non-edge on either altitude)
    val e0 = edges.select(col(src).as("a"), col(dst).as("b"),
        col(weight).cast("double").as("w"))
      .filter(col("w").isNotNull)
    val e = truncate(
      e0.unionByName(e0.select(col("b").as("a"), col("a").as("b"), col("w"))))
    // Altitude switch (the [[hits]]/q315/q316 rule): when the
    // SYMMETRIZED aggregated edge list is vocabulary-bounded (q116's
    // source-overlap graph is sources² — ~tens of rows at any corpus
    // size), `iters` join+agg+truncate Spark jobs over a tiny table
    // are pure scheduler overhead. Run the identical decimal-snapped
    // chain driver-side instead; big graphs keep the distributed
    // loop below (driverGridMax = 0 forces it — the parity spec's
    // device, and the checkpointDir recovery spec's).
    val prCount = e.count()
    if (prCount > 0 && prCount <= driverGridMax)
      return pageRankDriver(e, iters, damping, driverGridMax)
    val outW = e.groupBy(col("a")).agg(dsum28(col("w")).as("out_w"))
    val eNorm = truncate(e.join(outW, Seq("a"))
      .select(col("a"), col("b"), (col("w") / col("out_w")).as("p")))
    val nodes = truncate(e.select(col("a").as("node")).distinct())
    val n = nodes.count()
    var ranks = truncate(nodes.select(col("node"), lit(1.0 / n).as("rank")))
    for (i <- 1 to iters) {
      val contrib = eNorm.join(ranks, eNorm("a") === ranks("node"))
        .groupBy(col("b")).agg(dsum28(col("p") * col("rank")).as("c"))
      ranks = nodes.join(contrib, nodes("node") === contrib("b"), "left")
        .select(col("node"),
          (lit((1.0 - damping) / n) +
            lit(damping) * coalesce(col("c"), lit(0.0))).as("rank"))
      // truncate lineage every third round (and at the end): each
      // checkpoint is a full materialization, and a 3-join-deep plan
      // is still tiny — cuts fixed per-round overhead ~3× without
      // letting the plan grow unboundedly
      if (i % 3 == 0 || i == iters)
        ranks = truncate(ranks)
    }
    ranks.select(col("node"), round(col("rank"), 6).as("rank"))
  }

  /** Driver-altitude [[pageRank]] loop over the collected symmetrized
    * edge grid — the q251/q315/q316 altitude applied to the decimal
    * chain. Bit-identity contract (spec-pinned against the
    * distributed loop): `dsum28` ⇒ each term snaps to
    * BigDecimal.valueOf(x).setScale(28, HALF_UP) — Spark's
    * double→decimal(38,28) cast goes through the Double.toString
    * shortest representation (the snap12/SnappedGram lesson), which
    * is exactly java BigDecimal.valueOf — summed exactly (order-free)
    * and cast back via doubleValue; out-weight normalization, the
    * (1−d)/n teleport, the d·c damping and the final round(·, 6)
    * are the same IEEE / HALF_UP ops in the same order. */
  private def pageRankDriver(e: DataFrame, iters: Int, damping: Double,
      driverGridMax: Int): DataFrame = {
    val spark = e.sparkSession
    val grid = graft.ext.Guards
      .boundedGrid(e, math.max(driverGridMax, 1), "pageRank edge grid")
      .map(r => (r.get(0), r.get(1), r.getDouble(2)))
    def d28(x: Double): java.math.BigDecimal =
      java.math.BigDecimal.valueOf(x)
        .setScale(28, java.math.RoundingMode.HALF_UP)
    def dsum28d(xs: Iterator[Double]): Double = {
      var acc = java.math.BigDecimal.ZERO
      xs.foreach(x => acc = acc.add(d28(x)))
      acc.doubleValue()
    }
    def r6(x: Double): Double = java.math.BigDecimal.valueOf(x)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
    val bySrc = grid.groupBy(_._1)
    val outW: Map[Any, Double] =
      bySrc.map { case (a, es) => a -> dsum28d(es.iterator.map(_._3)) }
    val eNorm = grid.map { case (a, b, w) => (a, b, w / outW(a)) }
    // the symmetrized table has every node on the a-side (matches
    // the distributed `e.select("a").distinct()`)
    val nodeSeq: Seq[Any] = {
      val seen = scala.collection.mutable.LinkedHashSet.empty[Any]
      grid.foreach(e => seen += e._1)
      seen.toSeq
    }
    val n = nodeSeq.size
    val byDst = eNorm.groupBy(_._2)
    val base = (1.0 - damping) / n
    var ranks: Map[Any, Double] = nodeSeq.map(_ -> 1.0 / n).toMap
    for (_ <- 1 to iters) {
      val r = ranks
      ranks = nodeSeq.map { nd =>
        val c = byDst.get(nd)
          .map(es => dsum28d(es.iterator.map(e => e._3 * r(e._1))))
          .getOrElse(0.0)
        nd -> (base + damping * c)
      }.toMap
    }
    val rows = nodeSeq.map(nd => org.apache.spark.sql.Row(nd, r6(ranks(nd))))
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("node", e.schema("a").dataType),
      org.apache.spark.sql.types.StructField("rank",
        org.apache.spark.sql.types.DoubleType)))
    spark.createDataFrame(
      java.util.Arrays.asList(rows: _*), schema)
  }

  /** HITS hubs-and-authorities (q251) over a DIRECTED weighted edge
    * list — the companion centrality to [[pageRank]] for graphs where
    * pointing and being-pointed-at mean different things (here the
    * event-transition graph: a high-hub state funnels users toward
    * important states; a high-authority state is where flows land).
    * Fixed-iteration power loop, L1-normalized each half-step.
    *
    * Determinism device (stronger than pageRank's decimal sums, so
    * the DuckDB oracle can UNROLL the same loop): every reduction —
    * the two matrix-vector products and the two norms — snaps to a
    * round-12 integer surrogate (Σ round(x·10¹²) as exact longs,
    * /10¹² back), so each iteration's vectors are identical
    * bit-for-bit in any engine and any partitioning, and the oracle
    * is the same arithmetic written as `iters` unrolled CTE blocks.
    * Scale shape: per-iteration cost is two edge-list joins grouped
    * by node (shuffles keyed on node ids — linear in |E|); norms are
    * 1-row aggregates broadcast back (the intentional 1-row cross
    * join); lineage truncates every third round like pageRank.
    *
    * Altitude switch (`driverGridMax`): the edge grid of the shipped
    * caller (q251's event-TYPE transition graph) is bounded by the
    * event-type vocabulary squared — never by data volume — so when
    * the AGGREGATED edge list is ≤ `driverGridMax` rows, the power
    * loop runs driver-side over the collected grid (the q315/q316
    * altitude: at 5 nodes, `iters` × 2 half-step Spark jobs were pure
    * scheduler overhead — the distributed form measured ~4 s per run
    * on a grid the driver loop finishes in microseconds). The
    * arithmetic is the SAME snapped chain — every rounding, cast and
    * IEEE divide replicated step for step — so the altitude never
    * touches the hash gate (spec-pinned bit-identical in
    * OperatorsSpec). Grids larger than the cap keep the distributed
    * loop; `driverGridMax = 0` forces it (the spec's device). The
    * collect is Guards.boundedGrid-guarded: a grid that silently
    * outgrows the vocabulary assumption fails fast, not OOMs. */
  def hits(edges: DataFrame, src: String = "src", dst: String = "dst",
      weight: String = "weight", iters: Int = 8,
      checkpointDir: Option[String] = None,
      driverGridMax: Int = graft.ext.Guards.defaultDriverGridMax): DataFrame = {
    checkpointDir.foreach(d =>
      edges.sparkSession.sparkContext.setCheckpointDir(d))
    def truncate(df: DataFrame): DataFrame =
      if (checkpointDir.isDefined) df.checkpoint(eager = true)
      else df.localCheckpoint(eager = true)
    def sur12sum(c: Column): Column =
      sum(round(c * 1e12, 0).cast("long")).cast("double") / 1e12
    // Materialize the edge lineage ONCE before anything branches:
    // node derivation, the node count, and the loop all read the
    // truncated table (the caller's edge plan — e.g. q251's full
    // events window — must not re-execute per consumer).
    // null-weight edges dropped before the altitude switch (same
    // rationale as [[pageRank]]: both altitudes must agree on dirty
    // input — distributed sums skip nulls, the driver grid would throw)
    val e1 = truncate(edges.select(col(src).as("esrc"),
        col(dst).as("edst"), col(weight).cast("double").as("w"))
      .filter(col("w").isNotNull))
    val eCount = e1.count()
    // empty grids stay distributed: driverGridMax = 0 must be a true
    // force-distributed escape hatch (the parity specs' device)
    if (eCount > 0 && eCount <= driverGridMax)
      return hitsDriver(e1, iters, driverGridMax)
    val nodes1 = truncate(e1.select(col("esrc").as("node"))
      .unionByName(e1.select(col("edst").as("node"))).distinct())
    val n = nodes1.count()
    // Tiny-graph fast path: a bounded node grid (event types, source
    // names) does not deserve spark.sql.shuffle.partitions tasks per
    // power-iteration job — 32 near-empty partitions × ~6 jobs ×
    // `iters` was pure scheduler overhead (measured 16.8 s at
    // q251's 5-node graph). Big graphs keep their parallelism.
    // (This rule is now the shared Guards.coalesceTiny — textRank
    // and modularity adopt the same threshold.) The edge frame gates
    // on its OWN count: <10k nodes can still mean a dense
    // millions-of-edges graph, and the edges are the per-iteration
    // join work (ADVICE r10; the kcore rule). e1 is truncated, so
    // the count reads materialized partitions.
    val e = graft.ext.Guards.coalesceTiny(e1, eCount)
    val nodes = graft.ext.Guards.coalesceTiny(nodes1, n)
    // Norm via a whole-frame window (NOT crossJoin(broadcast(agg))):
    // the broadcast form forces TWO materialization jobs per
    // iteration (the agg for the broadcast + the main plan, each
    // re-executing the join lineage); the window form keeps each
    // iteration a single linear plan segment, so the whole power
    // loop collapses into ONE job at evaluation time. Same exact
    // arithmetic — the sum of round-12 surrogates over all rows.
    // The global window is safe at this altitude: the frame is the
    // bounded node grid, already coalesced.
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy(lit(1))
    def norm12(c: Column): Column =
      sum(round(c * 1e12, 0).cast("long")).over(wAll).cast("double") / 1e12
    var hub = nodes.select(col("node"), lit(1.0 / n).as("h"))
    var auth = hub.select(col("node"), col("h").as("a"))
    for (i <- 1 to iters) {
      val araw = nodes
        .join(e.join(hub, e("esrc") === hub("node"))
            .groupBy(col("edst")).agg(sur12sum(col("w") * col("h")).as("raw")),
          nodes("node") === col("edst"), "left")
        .select(col("node"), coalesce(col("raw"), lit(0.0)).as("raw"))
      auth = araw
        .select(col("node"), (col("raw") / norm12(col("raw"))).as("a"))
      val hraw = nodes
        .join(e.join(auth, e("edst") === auth("node"))
            .groupBy(col("esrc")).agg(sur12sum(col("w") * col("a")).as("raw")),
          nodes("node") === col("esrc"), "left")
        .select(col("node"), coalesce(col("raw"), lit(0.0)).as("raw"))
      hub = hraw
        .select(col("node"), (col("raw") / norm12(col("raw"))).as("h"))
      // bound plan depth for the optimizer, not for recompute (the
      // DAG is linear); one truncate job every 4th round
      if (i % 4 == 0 && i < iters) {
        hub = truncate(graft.ext.Guards.coalesceTiny(hub, n))
        auth = truncate(graft.ext.Guards.coalesceTiny(auth, n))
      }
    }
    hub.join(auth, Seq("node"))
      .select(col("node"), round(col("h"), 6).as("hub"),
        round(col("a"), 6).as("authority"))
  }

  /** Driver-altitude [[hits]] loop over a collected bounded edge
    * grid. Every step replicates the distributed chain EXACTLY so
    * the two altitudes are bit-identical (spec-pinned):
    *   - `sur12sum(w·x)` ⇒ per-group Σ of
    *     round((w·x)·1e12, 0).cast(long) — Spark's `round` on a
    *     double is BigDecimal.valueOf (Double.toString shortest
    *     repr) setScale(0, HALF_UP) back to double, then the long
    *     cast truncates; the group sum of exact longs casts to
    *     double and divides by 1e12 (both IEEE);
    *   - `norm12` ⇒ the same surrogate per NODE row (zero-raw nodes
    *     contribute round(0.0) = 0), summed as longs;
    *   - the half-step division, the 1/n init, and the final
    *     round(·, 6) are the same IEEE / HALF_UP ops.
    * Group sums are order-free (exact longs), so neither collect
    * order nor partitioning can shift a bit — the q251 oracle's
    * unrolled CTE blocks hash-match either altitude. */
  private def hitsDriver(e1: DataFrame, iters: Int,
      driverGridMax: Int): DataFrame = {
    val spark = e1.sparkSession
    val grid = graft.ext.Guards
      .boundedGrid(e1, math.max(driverGridMax, 1), "hits edge grid")
      .map(r => (r.get(0), r.get(1), r.getDouble(2)))
    def rnd12(x: Double): Long =
      java.math.BigDecimal.valueOf(x * 1e12)
        .setScale(0, java.math.RoundingMode.HALF_UP).doubleValue().toLong
    def r6(x: Double): Double = java.math.BigDecimal.valueOf(x)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
    val nodeSeq: Seq[Any] = {
      val seen = scala.collection.mutable.LinkedHashSet.empty[Any]
      grid.foreach { case (s, d, _) => seen += s; seen += d }
      seen.toSeq
    }
    val n = nodeSeq.size
    val bySrc = grid.groupBy(_._1)
    val byDst = grid.groupBy(_._2)
    // one half-step: raw per node from the grouped edges (missing
    // group ⇒ the distributed left join's coalesce(0.0)), L1 norm
    // over ALL node rows, then the elementwise divide
    def halfStep(in: Map[Any, Double],
        grouped: Map[Any, Array[(Any, Any, Double)]],
        otherEnd: ((Any, Any, Double)) => Any): Map[Any, Double] = {
      val raw = nodeSeq.map { nd =>
        nd -> grouped.get(nd)
          .map(_.map(e => rnd12(e._3 * in(otherEnd(e)))).sum.toDouble / 1e12)
          .getOrElse(0.0)
      }
      val norm = raw.map(x => rnd12(x._2)).sum.toDouble / 1e12
      raw.map { case (nd, r) => nd -> r / norm }.toMap
    }
    var hub: Map[Any, Double] = nodeSeq.map(_ -> 1.0 / n).toMap
    var auth: Map[Any, Double] = hub
    for (_ <- 1 to iters) {
      auth = halfStep(hub, byDst, _._1)  // into node: w · hub(esrc)
      hub = halfStep(auth, bySrc, _._2)  // out of node: w · auth(edst)
    }
    val rows = nodeSeq.map(nd =>
      org.apache.spark.sql.Row(nd, r6(hub(nd)), r6(auth(nd))))
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("node",
        e1.schema("esrc").dataType),
      org.apache.spark.sql.types.StructField("hub",
        org.apache.spark.sql.types.DoubleType),
      org.apache.spark.sql.types.StructField("authority",
        org.apache.spark.sql.types.DoubleType)))
    spark.createDataFrame(
      java.util.Arrays.asList(rows: _*), schema)
  }

  /** PageRank of the cross-source shingle-overlap graph (q100's edge
    * list): which sources sit centrally in the re-crawl/provenance
    * web. Rows-only at the gate (a fixed-iteration power loop is not
    * one SQL query); the spec checks closed-form graphs. */
  def sourceRank(spark: SparkSession, dir: String): DataFrame =
    pageRank(graft.ext.TextAnalysis.sourceOverlap(spark, dir)
      .select(col("source_a").as("src"), col("source_b").as("dst"),
        col("n_shared").cast("double").as("weight")))
      .orderBy(col("rank").desc, col("node"))

  /** [[hits]] over the event-transition graph (q189's Markov edge
    * counts as weights) — q251. The one directed graph in the data:
    * hub = "state whose outflow feeds important states", authority =
    * "state flows land on". Hash-gated: the oracle unrolls the same
    * surrogate-snapped loop as `iters` CTE blocks. */
  def eventHits(spark: SparkSession, dir: String): DataFrame =
    hits(graft.rel.Relational.markovTransitions(spark, dir)
      .select(col("event_type").as("src"), col("next_type").as("dst"),
        col("n").cast("double").as("weight")))

  /** INCREMENTAL connected-components maintenance — the production
    * shape for a GROWING corpus: never re-run global CC over the full
    * 100 TB edge history; fold each day's new edges into the standing
    * (id, label) component table. One step:
    *   1. QUOTIENT the new edges through the current labels — each
    *      endpoint maps to its component label (or itself if unseen).
    *      Components behave as single nodes, so the graph CC must
    *      solve is |new edges|-sized, never history-sized.
    *   2. [[connectedComponents]] on the quotient graph (inherits the
    *      altitude switch: a day's touched-component graph usually
    *      collects; a giant one runs distributed).
    *   3. Relabel: old rows re-map through the (old label → new
    *      label) table — broadcast-sized (only TOUCHED components
    *      appear) — and brand-new ids take their quotient label.
    * Correctness: an old label is the min id of its members, so the
    * min over merged quotient nodes IS the min over all merged
    * members — the fixpoint equals a from-scratch CC over the union
    * of all edges ever seen (hash-proven: q322 replays q45's edge
    * set in batches against q45's recursive-CTE oracle; the
    * cut-invariance spec proves ANY batch split converges
    * identically, the q114/q171 incremental-maintenance contract).
    * Seed with an empty (id, label) frame for the first batch.
    *
    * Driver altitude (`driverGridMax > 0`, Long/Integer/String keys):
    * the fold takes three bounded collects instead — the new edges,
    * `prev`'s labels of their endpoints (the touched components) and
    * the touched components' members — each one narrow job fetching
    * at most `driverGridMax + 1` rows, and no job when there is
    * nothing to look up. A driver union-find over the new edges plus
    * each member's (id, old label) pair gives every touched member
    * and new id its min-member label. The result is `prev` minus the
    * touched components, unioned with that local relation: no join,
    * so the caller's checkpoint of it is one narrow job, and an empty
    * batch costs the one edge collect. Any collect over the cap falls
    * back to the distributed steps above, and `driverGridMax = 0`
    * forces them.
    *
    * CONTRACT on `prev`: labels must be the min member id of their
    * component — in particular labels ⊆ ids and disjoint from ids
    * the table has never seen. A caller seeding an arbitrary
    * synthetic (id, label) table (e.g. a label colliding with a
    * not-yet-seen node id) gets silently wrong fixpoints. Tables
    * produced by [[connectedComponents]] or by ccIncrement itself
    * satisfy it by construction; external seeds can pass
    * `validatePrev = true` to pay one aggregate job for a fail-fast
    * check instead. */
  def ccIncrement(prev: DataFrame, newEdges: DataFrame,
      src: String = "doc_a", dst: String = "doc_b",
      driverGridMax: Int = graft.ext.Guards.defaultDriverGridMax,
      validatePrev: Boolean = false): DataFrame = {
    if (validatePrev) {
      val orphan = prev.select(col("label").as("id")).distinct()
        .join(prev.select(col("id")).distinct(), Seq("id"), "left_anti")
        .count()
      require(orphan == 0L,
        s"ccIncrement: prev violates the label-invariant (labels must " +
          s"be member ids; $orphan label value(s) are not ids). Seed " +
          "with connectedComponents output or an empty frame.")
    }
    val e = newEdges.select(col(src).as("na"), col(dst).as("nb"))
    val dt = prev.schema("id").dataType
    if (driverGridMax > 0 && ccDriverType(dt)) {
      val p = prev.select(col("id"), col("label"))
      val onDriver = for {
        grid <- collectUnder(
          e.select(col("na").cast(dt), col("nb").cast(dt)), driverGridMax)
        pairs = grid.map(r => (r.get(0), r.get(1))).toSeq
        known <- collectFor(pairs.flatMap(q => Seq(q._1, q._2)).distinct,
          driverGridMax)(ends =>
            p.filter(col("id").isInCollection(ends)).select(col("label")))
        touched = known.map(_.get(0)).distinct.toSeq
        members <- collectFor(touched, driverGridMax)(ls =>
          p.filter(col("label").isInCollection(ls)))
      } yield foldTouched(p, touched,
        minRoots(pairs ++ members.map(r => (r.get(0), r.get(1))), dt), dt)
      if (onDriver.isDefined) return onDriver.get
    }
    // Both label lookups join the SAME unprojected frame (r16 opt):
    // with per-side alias projections (id→na / id→nb) the two
    // broadcast children canonicalize differently and Spark built the
    // prev-labels broadcast TWICE per batch; joining `p` itself twice
    // lets ReuseExchange collapse them to one build.
    val p = prev.select(col("id"), col("label"))
    val pa = p.as("cc_pa")
    val pb = p.as("cc_pb")
    val quotient = e
      .join(pa, col("na") === col("cc_pa.id"), "left")
      .join(pb, col("nb") === col("cc_pb.id"), "left")
      .select(coalesce(col("cc_pa.label"), col("na")).as("qa"),
        coalesce(col("cc_pb.label"), col("nb")).as("qb"))
    val merged = connectedComponents(quotient, "qa", "qb",
      driverGridMax = driverGridMax)
    // only TOUCHED components appear here, so the relabel table is
    // bounded by the batch (≤ 2·|new edges| rows) — usually
    // broadcast-sized, but the hint is left to AQE: a backfill batch
    // touching everything must be allowed to shuffle instead of
    // forcing an OOM broadcast
    val remap = merged.select(col("id").as("label"),
      col("label").as("new_label"))
    val updatedOld = prev.join(remap, Seq("label"), "left")
      .select(col("id"),
        coalesce(col("new_label"), col("label")).as("label"))
    val added = e.select(col("na").as("id"))
      .unionByName(e.select(col("nb").as("id"))).distinct()
      .join(prev.select(col("id")), Seq("id"), "left_anti")
      .join(merged, Seq("id"))
    updatedOld.unionByName(added)
  }

  /** DELETION for a standing component table — [[ccIncrement]]'s
    * inverse (r13 verdict item 3: every maintenance path was
    * append-only; a real curation pipeline deletes — takedowns,
    * expired licenses). Removing an id can SPLIT its component, and
    * a split cannot be derived from (id, label) alone, so deletion-
    * capable state keeps the standing VERIFIED EDGE table alongside
    * the labels (the verify stage materializes it anyway — q43's
    * reporting table). The recompute is bounded by the TOUCHED
    * components, which are small by construction (near-dup cliques,
    * matched entities — never corpus-sized):
    *
    *   1. touched labels = labels of any removed id (id-keyed semi
    *      join — |removed|-bounded);
    *   2. untouched rows pass through UNCHANGED (their components
    *      lost no member, so their min-id labels stay valid);
    *   3. touched components re-run [[connectedComponents]] over the
    *      standing edges restricted to their SURVIVING members —
    *      restricting to survivors of touched components is exact
    *      because prev is a CC fixpoint: no standing edge can link a
    *      touched component to an untouched one (it would have
    *      merged them);
    *   4. survivors left with no surviving edge become SINGLETON
    *      rows (label = own id): the standing state must remember
    *      the id — a later [[ccIncrement]] batch may re-match it
    *      (the q327 replay exercises exactly this resurrection).
    *
    * Output satisfies the ccIncrement label invariant (labels =
    * min surviving member id), so decrements and increments compose
    * in any order. Callers must also drop the removed ids from the
    * standing candidate indexes and the edge store itself (the q327
    * tombstone step) so later appends cannot pair against ghosts.
    * `removed` is a one-column ("id") frame; ids absent from prev
    * are ignored.
    *
    * Driver altitude (`driverGridMax > 0`, Long/Integer/String keys):
    * steps 1–4 run as up to four bounded collects — the removed ids,
    * their labels in `prev` (the touched labels), the touched
    * components' members and the standing edges among the survivors
    * — each one narrow job fetching at most `driverGridMax + 1` rows,
    * and no job when there is nothing to look up. A driver union-find
    * folds the survivor edges, with isolated survivors as singletons,
    * and the result is `prev` minus the touched labels, unioned with
    * that local relation. A delete that touches no component (most
    * deleted ids are in none) costs the first two collects — the
    * first runs no job on a local `removed` — and returns `prev`'s
    * rows. Any collect over the cap falls back to the distributed
    * steps, and `driverGridMax = 0` forces them. */
  def ccDecrement(prev: DataFrame, edges: DataFrame, removed: DataFrame,
      src: String = "doc_a", dst: String = "doc_b",
      driverGridMax: Int = graft.ext.Guards.defaultDriverGridMax): DataFrame = {
    val dt = prev.schema("id").dataType
    if (driverGridMax > 0 && ccDriverType(dt)) {
      val p = prev.select(col("id"), col("label"))
      val onDriver = for {
        remRows <- collectUnder(removed.select(col("id").cast(dt)),
          driverGridMax)
        gone = remRows.map(_.get(0)).toSet
        known <- collectFor(gone.toSeq, driverGridMax)(ids =>
          p.filter(col("id").isInCollection(ids)).select(col("label")))
        touched = known.map(_.get(0)).distinct.toSeq
        members <- collectFor(touched, driverGridMax)(ls =>
          p.filter(col("label").isInCollection(ls)).select(col("id")))
        survivors = members.map(_.get(0)).distinct.filterNot(gone).toSeq
        sub <- collectFor(survivors, driverGridMax)(ids =>
          edges.select(col(src).cast(dt).as("a"), col(dst).cast(dt).as("b"))
            .filter(col("a").isInCollection(ids) &&
              col("b").isInCollection(ids)))
      } yield foldTouched(p, touched,
        minRoots(sub.map(r => (r.get(0), r.get(1))).toSeq ++
          survivors.map(id => (id, id)), dt), dt)
      if (onDriver.isDefined) return onDriver.get
    }
    val rem = removed.select(col("id"))
    val touchedLabels = prev.join(rem, Seq("id"), "left_semi")
      .select(col("label")).distinct()
    val keep = prev.join(rem, Seq("id"), "left_anti")
    val untouched = keep.join(touchedLabels, Seq("label"), "left_anti")
      .select(col("id"), col("label"))
    val survivors = keep.join(touchedLabels, Seq("label"), "left_semi")
      .select(col("id"))
    val subEdges = edges.select(col(src).as("na"), col(dst).as("nb"))
      .join(survivors.select(col("id").as("na")), Seq("na"), "left_semi")
      .join(survivors.select(col("id").as("nb")), Seq("nb"), "left_semi")
    val recomputed = connectedComponents(subEdges, "na", "nb",
      driverGridMax = driverGridMax)
    val isolated = survivors
      .join(recomputed.select(col("id")), Seq("id"), "left_anti")
      .select(col("id"), col("id").as("label"))
    untouched.unionByName(recomputed).unionByName(isolated)
  }

  /** [[collectUnder]] over `rows(keys)`; no job when `keys` is empty
    * (a driver fold step with nothing to look up). */
  private def collectFor(keys: Seq[Any], cap: Int)(
      rows: Seq[Any] => DataFrame): Option[Array[org.apache.spark.sql.Row]] =
    if (keys.isEmpty) Some(Array.empty) else collectUnder(rows(keys), cap)

  /** `p` (id, label) with the `touched` components replaced by the
    * driver-folded `roots` (id → new label): a filter over `p` and a
    * local relation, so materializing it is one narrow job. The union
    * is coalesced to at most `spark.sql.shuffle.partitions`
    * partitions: a standing table folded batch after batch would
    * otherwise gain the local relation's partitions every batch, and
    * each bounded collect over it scans `limit.initialNumPartitions`
    * partitions per job. */
  private def foldTouched(p: DataFrame, touched: Seq[Any],
      roots: Map[Any, Any],
      dt: org.apache.spark.sql.types.DataType): DataFrame = {
    val kept =
      if (touched.isEmpty) p else p.filter(!col("label").isInCollection(touched))
    if (roots.isEmpty) kept
    else kept.unionByName(labelFrame(roots, dt, p.sparkSession))
      .coalesce(p.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt)
  }

  /** [[ccIncrement]] replayed over [[jaccardPairs]]'s edge set in
    * deterministic doc_a-modulo batches — q322. Output is identical
    * to [[nearDupClusters]] (q45), and the SAME recursive-CTE oracle
    * hash-proves it: incremental maintenance ≡ one-shot CC on real
    * corpus data (the q45/q317 one-oracle-N-algorithms pattern). */
  def ccIncrementalClusters(spark: SparkSession, dir: String,
      maxId: Long = 100L, threshold: Double = 0.5,
      nBatches: Int = 3): DataFrame = {
    import spark.implicits._
    val edges = jaccardPairs(spark, dir, maxId, threshold)
      .localCheckpoint(eager = false)
    var labels = Seq.empty[(Long, Long)].toDF("id", "label")
    // lazy: each checkpoint materializes inside the next batch's
    // first action
    Replay.run(edges, "doc_a", nBatches, None)(
      add = batch =>
        labels = ccIncrement(labels, batch).localCheckpoint(eager = false),
      delete = _ => ())
    labels.select(col("id").as("doc_id"), col("label").as("rep_id"))
  }

  /** Near-duplicate clusters: connected components of the verified
    * token-Jaccard pair graph — each doc mapped to its cluster's min
    * doc_id. Built on the oracle-able [[jaccardPairs]] edge set so the
    * whole operator (pairing AND transitive clustering) is checked
    * against a DuckDB recursive-CTE oracle; the scale path is the same
    * call over [[jaccardVerify]]'s LSH-verified edges. */
  def nearDupClusters(spark: SparkSession, dir: String, maxId: Long = 100L,
      threshold: Double = 0.5, algorithm: String = "auto"): DataFrame =
    connectedComponents(jaccardPairs(spark, dir, maxId, threshold),
      algorithm = algorithm)
      .select(col("id").as("doc_id"), col("label").as("rep_id"))

  /** Near-dup clusters on the LSH SCALE PATH: connected components
    * over [[jaccardVerify]]'s verified candidate edges. This is the
    * expansion pass that closes the oversized-bucket recall gap of
    * the star/salt skew guard: docs B and C that each verified only
    * against their bucket's anchor land in one component through the
    * anchor without the O(n²) clique edges ever existing. Output is
    * (doc_id, rep_id = min member id), duplicates = rows where
    * rep_id != doc_id. */
  def lshDedupClusters(spark: SparkSession, dir: String, k: Int = 3,
      threshold: Double = 0.7): DataFrame =
    connectedComponents(jaccardVerify(spark, dir, k, threshold),
        algorithm = "auto")
      .select(col("id").as("doc_id"), col("label").as("rep_id"))

  /** EXACT similarity join by PREFIX FILTERING (PPJoin-style,
    * Xiao/Wang/Lin/Yu WWW'08): all pairs with token-set Jaccard ≥
    * `threshold`, sub-quadratic and with NO recall loss — the
    * deterministic alternative to MinHash/LSH when the answer must
    * be exact. Each doc's tokens are ordered by GLOBAL frequency
    * (rarest first, ties by token); for Jaccard ≥ t a pair must
    * share a token within each side's first |s| − ⌈t·|s|⌉ + 1
    * tokens (if all common tokens hid in a's suffix, overlap ≤
    * ⌈t·|a|⌉ − 1 < t·|a| ≤ |a∩b| — contradiction), so candidates
    * come from an equi-join on PREFIX tokens only. The set elements
    * are k-SHINGLES (the [[shingleTable]] the LSH paths share —
    * 1-gram sets are degenerate on small-vocabulary corpora: nearly
    * every pair passes, so the filter would block nothing), and
    * blocking on the rarest shingles keeps join groups small.
    * Candidates additionally pass PPJoin's two exact pruning
    * predicates evaluated on the equi-join row itself — both are
    * NECESSARY conditions for Jaccard ≥ tEff = t − 6e-5 (the slack
    * mirrors the verify/oracle predicate, which accepts
    * round(J, 4) ≥ t — see the soundness comment in the body), so
    * recall is untouched:
    *   - LENGTH filter: J ≤ min(|a|,|b|)/max(|a|,|b|), so a true
    *     pair needs min ≥ t·max — a column compare that kills
    *     cross-size candidates before the shuffle.
    *   - POSITIONAL filter: a pair with J ≥ t needs overlap
    *     α = ⌈t·(|a|+|b|)/(1+t)⌉; its FIRST common token (global
    *     order) sits at positions (pa, pb) inside both prefixes and
    *     bounds the overlap by 1 + min(|a|−pa, |b|−pb) ≥ α. Rows
    *     for later common tokens may fail the bound spuriously, but
    *     the first-token row always survives for a true pair, and
    *     `distinct()` needs only one surviving row per pair.
    * Both predicates additionally take an ε = 1e-9 slack against
    * double rounding (over-keeping a borderline candidate is safe;
    * the verify step recomputes exact Jaccard). Candidates then verify exact Jaccard
    * (the same [[jaccard_sim]]/threshold math as [[jaccardVerify]]).
    *
    * Scale notes: correctness needs only a CONSISTENT total order,
    * so the per-doc ordering sorts by (global count, shingle)
    * directly — no global rank window funneling the shingle
    * vocabulary through one partition; the frequency table joins to
    * the exploded shingles on the shingle key (AQE picks
    * broadcast/shuffle by its actual size). No all-pairs anywhere,
    * and the result is EXACTLY the brute-force join's — the oracle
    * is the FULL corpus, not a bounded window. The length+positional
    * filters are what hold the candidate count near-linear on
    * mass-duplicated corpora: prefix-token groups grow with sf, and
    * without them every in-group pair (quadratic) reaches the
    * verify join. */
  def jaccardJoinPrefix(spark: SparkSession, dir: String, k: Int = 3,
      threshold: Double = 0.7): DataFrame =
    jaccardJoinPrefixOn(shingleTable(spark, dir, k), threshold)
  // At 100 TB, prefer [[jaccardJoinPrefixFrozen]] when a top-N
  // frequency snapshot exists (fit once per epoch): identical output
  // (hash-gated, q321 vs q150's oracle), but the row-local projection
  // replaces this path's freq join + per-doc rank window — measured
  // 3.9× cheaper at 100× in a paired window (BASELINE r12).

  /** [[jaccardJoinPrefix]]'s core over an explicit (doc_id, sh)
    * shingle table — split out so the boundary spec can feed
    * adversarial fixtures (pairs at EXACTLY J = t, sizes at exactly
    * the min = t·max length-filter edge) without a parquet corpus. */
  def jaccardJoinPrefixOn(docs: DataFrame,
      threshold: Double): DataFrame =
    verifyPairs(docs, prefixCandidatesOn(docs, threshold), threshold)

  /** The pruning-bound constants the batch join and the streaming
    * prefilter ([[graft.streaming.StreamOps.prefixCandidateStream]])
    * must share — factored so the two paths cannot drift: tEff is
    * the ROUNDED-verify-matched effective threshold (see the
    * soundness comment in [[prefixCandidatesOn]]), eps the
    * double-rounding slack (over-keeping is safe; verify recomputes
    * exact Jaccard). The scala-side predicate twins of the batch
    * Column filters live here too; the stream/batch candidate-set
    * EQUALITY is spec-pinned (StreamOpsSpec), which is what keeps
    * the duplicated arithmetic honest. */
  private[graft] def prefixTEff(threshold: Double): Double =
    threshold - 6e-5
  private[graft] val prefixEps = 1e-9
  private[graft] def prefixLengthOk(sa: Int, sb: Int,
      tEff: Double): Boolean =
    math.min(sa, sb) >= tEff * math.max(sa, sb) - prefixEps
  private[graft] def prefixPositionalOk(sa: Int, pa: Int, sb: Int,
      pb: Int, tEff: Double): Boolean =
    1 + math.min(sa - pa, sb - pb) >=
      tEff * (sa + sb) / (1.0 + tEff) - prefixEps

  /** [[jaccardJoinPrefixOn]]'s CANDIDATE stage (pre-verify) — split
    * out so the streaming prefilter's parity spec can pin candidate-
    * set equality without paying verification. */
  private[graft] def prefixCandidatesOn(docs: DataFrame,
      threshold: Double): DataFrame =
    prefixPairJoin(prefixTableOn(docs, threshold), prefixTEff(threshold))

  /** The corpus-frequency (t, doc_id, sz, pos) PREFIX TABLE —
    * soundness base for EVERY pruning bound (prefix length, length
    * filter, positional α): the verify predicate — and the DuckDB
    * oracle — accept round(J, 4) >= t, i.e. true J down to
    * t − 5e-5. Bounds derived from "J ≥ t" would prune a pair at
    * J = t − 3e-5 that the rounded verify keeps (silent output
    * loss the bimodal test corpus cannot catch). All bounds
    * therefore use tEff = t − 6e-5: necessary conditions for
    * J ≥ tEff, which every round-4-accepted pair satisfies; the
    * handful of extra candidates die in verify. Split out so the
    * frozen row-local projection ([[prefixProjectFrozen]]) can be
    * spec-pinned ROW-EQUAL to this table under the same
    * frequencies. */
  private[graft] def prefixTableOn(docs: DataFrame,
      threshold: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tEff = prefixTEff(threshold)
    val exploded = docs
      .select(col("doc_id"), size(col("sh")).as("sz"),
        explode(col("sh")).as("t"))
    val freq = exploded.groupBy(col("t")).agg(count(lit(1)).as("n"))
    exploded
      .join(freq, Seq("t"))
      .withColumn("pos", row_number().over(
        Window.partitionBy(col("doc_id")).orderBy(col("n"), col("t"))))
      .filter(col("pos") <=
        col("sz") - ceil(lit(tEff) * col("sz")) + 1)
      .select(col("t"), col("doc_id"), col("sz"), col("pos"))
  }

  /** The candidate SELF-JOIN over a (t, doc_id, sz, pos) prefix
    * table — equi-join on the prefix token plus PPJoin's length and
    * positional filters (both necessary conditions for J ≥ tEff; see
    * [[prefixCandidatesOn]]'s soundness comment). Shared by the
    * corpus-frequency path and the frozen-map path
    * ([[jaccardJoinPrefixFrozen]]) so the pruning arithmetic exists
    * ONCE. */
  private[graft] def prefixPairJoin(prefix: DataFrame,
      tEff: Double): DataFrame = {
    val eps = prefixEps
    val overlapNeeded = // α: exact-rational form of ⌈tEff(sa+sb)/(1+tEff)⌉
      lit(tEff) * (col("a.sz") + col("b.sz")) / (1.0 + tEff)
    prefix.as("a").join(prefix.as("b"),
        col("a.t") === col("b.t") && col("a.doc_id") < col("b.doc_id") &&
          least(col("a.sz"), col("b.sz")) >=
            lit(tEff) * greatest(col("a.sz"), col("b.sz")) - eps &&
          lit(1) + least(col("a.sz") - col("a.pos"),
            col("b.sz") - col("b.pos")) >= overlapNeeded - eps)
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
  }

  /** ROW-LOCAL prefix projection against a FROZEN shingle-frequency
    * map — the stateless half of the STREAMING PPJoin prefilter
    * ([[graft.streaming.StreamOps.prefixCandidateStream]]), shared
    * here so the batch parity spec can drive it without a stream.
    * Emits exactly [[prefixCandidatesOn]]'s prefix rows
    * (t, doc_id, sz, pos + every non-text input column): shingles
    * are ordered by (freq(t), t) — absent tokens count 0, i.e. sort
    * RAREST-first — the prefix keeps the first
    * sz − ⌈tEff·sz⌉ + 1 entries, positions are 1-based ranks in the
    * sorted order.
    *
    * Why a frozen map is SOUND, not just convenient: every pruning
    * bound in the PPJoin family needs only a CONSISTENT total order
    * over tokens (the prefix-length/positional arguments never use
    * what the frequencies MEAN, only that both sides of a pair
    * ordered their shingles identically). Any fixed map — stale,
    * top-N-capped (absent ⇒ 0 ⇒ rarest-first), even empty — yields
    * a consistent (freq, token) order, so recall stays EXACT;
    * staleness only costs pruning efficiency (common tokens
    * mistaken for rare inflate candidate counts). Spec-pinned both
    * ways: candidate-set EQUALITY vs the batch join under the true
    * corpus frequencies, and recall (verified-pair superset) under a
    * deliberately EMPTY map. At 100 TB the map is the standard
    * frozen model artifact (DSIR ratios, IVF codebooks, PSI bounds):
    * capture top-N document frequencies offline, broadcast. */
  def prefixProjectFrozen(docs: DataFrame, freq: Map[String, Long],
      threshold: Double, k: Int = 3): DataFrame = {
    val tEff = prefixTEff(threshold)
    // One scala UDF call per DOC, not per shingle. The pure-expression
    // alternative (element_at on a typedlit map inside a transform
    // lambda) was measured at 47 s for q321's sf0.1 scan: a Spark map
    // LITERAL is ArrayBasedMapData, so element_at is a LINEAR scan of
    // all topN entries per lookup (~12M lookups × 10k compares). A
    // hash lookup over a frozen model map is the documented UDF
    // exception (no built-in expresses it); the closure ships with
    // the broadcast task binary, and the per-doc work is one
    // O(sh·log sh) sort with O(1) lookups.
    prefixProjectFrozenOn(
      docs.withColumn("sh", shinglesFromTokens(tokens(col("text")), k))
        .drop("text"),
      freq, tEff)
  }

  /** [[prefixProjectFrozen]] over an ALREADY-SHINGLED (doc_id, sh,
    * …extras) frame — the entry point for callers that hold the
    * persisted shingle table (q321's fit/verify already scan it;
    * re-tokenizing raw text there would pay a second full corpus
    * scan). `tEff` is the effective threshold
    * ([[prefixTEff]]-derived). */
  private def prefixProjectFrozenOn(shingled: DataFrame,
      freq: Map[String, Long], tEff: Double): DataFrame = {
    val udfFn = prefixRowsUdf(freq, tEff)
    val keep = shingled.columns.filterNot(_ == "sh").map(col).toSeq
    shingled
      .withColumn("pr", udfFn(col("sh")))
      .select(keep :+ explode(col("pr")).as("e"): _*)
      .select(keep :+ col("e._1").as("t") :+ col("e._2").as("sz") :+
        col("e._3").as("pos"): _*)
  }

  /** (shingles) → prefix rows (t, sz, pos): sort by (freq(t), t) —
    * absent ⇒ 0, string ties broken on UTF-8 BYTES (the identical
    * total order Spark's `orderBy(n, t)` uses — UTF8String compares
    * binary, which differs from Java's UTF-16 compareTo on
    * supplementary characters), keep the first sz − ⌈tEff·sz⌉ + 1,
    * emit 1-based positions. Row-equality vs the window-built batch
    * prefix table is spec-pinned. */
  private def prefixRowsUdf(freq: Map[String, Long], tEff: Double) =
    udf { (sh: Seq[String]) =>
      // null-text rows project to no prefix rows — the same no-rows
      // outcome the batch path's explode(null) produces
      val sz = if (sh == null) 0 else sh.size
      if (sz == 0) Seq.empty[(String, Int, Int)]
      else {
        val plen = sz - math.ceil(tEff * sz).toInt + 1
        val keyed = sh.map { t =>
          (freq.getOrElse(t, 0L),
            t.getBytes(java.nio.charset.StandardCharsets.UTF_8), t)
        }
        val sorted = keyed.sortWith { (a, b) =>
          if (a._1 != b._1) a._1 < b._1
          else {
            val (x, y) = (a._2, b._2)
            var i = 0
            val n = math.min(x.length, y.length)
            var r = 0
            while (r == 0 && i < n) {
              r = (x(i) & 0xff) - (y(i) & 0xff); i += 1
            }
            if (r != 0) r < 0 else x.length < y.length
          }
        }
        sorted.take(plen).zipWithIndex.map { case (e, i) =>
          (e._3, sz, i + 1)
        }
      }
    }

  /** The exact prefix join through the FROZEN-MAP path (q321): fit a
    * BOUNDED top-N shingle document-frequency map (the streaming
    * prefilter's frozen artifact — one bounded collect), prefix-
    * project every doc row-locally against it, and run the same
    * [[prefixPairJoin]] + verify as q150. By the order-consistency
    * argument ([[prefixProjectFrozen]]) the output is IDENTICAL to
    * [[jaccardJoinPrefix]]'s — absent shingles sort rarest-first,
    * which costs candidates, never pairs — so the query hash-gates
    * against q150's full-corpus brute-force oracle: a recall bug in
    * the frozen path (the class a streaming prefilter could silently
    * carry) is a CORRECTNESS failure here, on real data. Scale
    * shape: the fit is one groupBy + top-N (bounded artifact, the
    * DSIR/IVF/PSI frozen-model pattern); the projection is
    * row-local (no window, no per-doc shuffle — CHEAPER than the
    * corpus-frequency path's freq join + rank window at the cost of
    * the fit pass); the join is the shared sub-quadratic
    * prefix join. */
  def jaccardJoinPrefixFrozen(spark: SparkSession, dir: String,
      k: Int = 3, threshold: Double = 0.7,
      topN: Int = 10000): DataFrame = {
    val st = shingleTable(spark, dir, k)
    val freq = st.select(explode(col("sh")).as("t"))
      .groupBy(col("t")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("t")).limit(topN)
      // collect-ok: bounded by topN (the limit above) — the frozen
      // artifact is top-N BY CONSTRUCTION, never vocab-sized
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // project from the PERSISTED shingle table, not raw text — the
    // fit and verify already scan it, and re-tokenizing documents
    // here would pay a second full tokenize+shingle pass
    val prefix = prefixProjectFrozenOn(
        st.select(col("doc_id"), col("sh")), freq, prefixTEff(threshold))
      .select(col("t"), col("doc_id"), col("sz"), col("pos"))
    verifyPairs(st, prefixPairJoin(prefix, prefixTEff(threshold)),
      threshold)
  }

  /** Token-set (1-gram) Jaccard over a bounded id range — the
    * SQL-oracle-able all-pairs variant (the LSH path above is the
    * scale path; this one verifies the similarity math). The id
    * bound keeps the pair join quadratic only in a small slice. */
  def jaccardPairs(spark: SparkSession, dir: String, maxId: Long = 100L,
      threshold: Double = 0.5): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .filter(col("doc_id") < maxId)
      .select(col("doc_id"), array_distinct(tokens(col("text"))).as("tok"))
    val a = docs.select(col("doc_id").as("doc_a"), col("tok").as("tok_a"))
    val b = docs.select(col("doc_id").as("doc_b"), col("tok").as("tok_b"))
    a.join(b, col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        round(graft.functions.exprs.jaccard_sim(col("tok_a"), col("tok_b")), 4)
          .as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** SimHash from a token-hash (long array) column: for each bit i,
    * sum ±1 votes of the hash bits; bit set iff the vote is positive.
    * HOF reference composition — `bits` interpreted `aggregate`
    * lambdas per row. Kept ONLY as the semantics oracle the native
    * expression is spec'd bit-identical against; query paths use
    * [[simhashFromHashes]]. */
  def simhashFromHashesHof(hashes: Column, bits: Int = 16): Column =
    (0 until bits).map { i =>
      val vote = aggregate(hashes, lit(0L),
        (s, h) => s + when(pmod(shiftright(h, i), lit(2L)) === 1L, lit(1L))
          .otherwise(lit(-1L)))
      when(vote > 0, lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** SimHash signature — native single-pass expression
    * (graft.functions.SimHash): whole signature in one traversal of
    * the hash array vs bits × |tokens| interpreted lambda calls. */
  def simhashFromHashes(hashes: Column, bits: Int = 16): Column =
    graft.functions.exprs.simhash(hashes, bits)

  /** SQL-oracle-able twin of the SimHash signature (the q149
    * pattern, with a twist: no fixed substitute is even needed —
    * the native [[graft.functions.SimHash]] expression consumes
    * whatever hash array it is given, so feeding it PORTABLE
    * md5-derived token hashes runs the REAL vote/threshold code
    * under a hash gate; the production paths differ only in using
    * xxhash64 inputs DuckDB lacks). Output: per-doc 16-bit signature
    * plus its popcount. */
  def simhashPortable(spark: SparkSession, dir: String,
      bits: Int = 16): DataFrame = {
    val h = (t: Column) =>
      conv(substring(md5(t), 1, 8), 16, 10).cast("long")
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        graft.ext.TextAnalysis.tokens(col("text")).as("ws"))
      .select(col("doc_id"), transform(col("ws"), t => h(t)).as("hs"))
      .select(col("doc_id"),
        simhashFromHashes(col("hs"), bits).as("simhash"))
      .withColumn("n_bits_set", bit_count(col("simhash")))
  }

  /** SQL-oracle-able twin of the MinHash signature (q156, closing the
    * LAST un-gated custom-expression math core): the REAL
    * [[graft.functions.MinHashSig]] single-pass min loop runs in
    * `portable` mode — ONE md5 per shingle, then the universal-hash
    * permutation family (a_p·hm + p·40503) mod (2³¹−1) with Knuth
    * multipliers a_p (see the expression's scaladoc) — arithmetic
    * DuckDB reproduces with a list_min/list_transform lambda per
    * permutation.
    * Production paths ([[signatures]] → q42/q43/q59) differ ONLY in
    * using xxhash64 inputs DuckDB lacks; the selection math is shared
    * code, now hash-gated. Output: doc_id + each signature element as
    * a scalar column (the driver compare cannot hash array cells). */
  def minhashPortable(spark: SparkSession, dir: String, k: Int = 3,
      perms: Int = 8): DataFrame = {
    val sig = Tables.documents(spark, dir)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"), shinglesFromTokens(col("toks"), k).as("sh"))
      .select(col("doc_id"),
        graft.functions.exprs.minhash_sig_portable(col("sh"), perms).as("sig"))
    sig.select(col("doc_id") +:
      (0 until perms).map(p => element_at(col("sig"), p + 1).as(s"m$p")): _*)
  }

  /** SimHash near-dup with HAMMING TOLERANCE: pairs whose `bits`-bit
    * signatures differ in at most `maxDist` bit positions. Pigeonhole
    * banding makes it sub-quadratic: split the signature into `bands`
    * disjoint bit-slices — a pair within distance d ≤ bands-1 must
    * agree EXACTLY on at least one slice, so candidates are generated
    * only inside (band, slice-value) buckets and verified with one
    * XOR+popcount. Reuses [[lshCandidatePairs]] (rowsPerBand = 1 over
    * the slice array), so the oversized-bucket star/salt skew guard
    * applies unchanged — a mass-duplicate corpus stays linear.
    *
    * Defaults: 48-bit signatures in 4 bands of 12 bits ⇒ 4096 slice
    * values per band (bounded buckets at corpus scale), guaranteed
    * recall for maxDist ≤ 3 wherever buckets stay under `maxBucket`. */
  /** Persisted band-slice tables from [[simhashBandPairs]] — the
    * input is an arbitrary caller DataFrame (no (dir, params) key to
    * memoize on), so each call's persist is REGISTERED here and
    * [[clearCaches]] releases them; Spark's CacheManager dedupes
    * repeated calls on an equal plan, so re-running the same query
    * costs no extra storage. */
  private val bandSlicePersists =
    scala.collection.mutable.ArrayBuffer.empty[DataFrame]

  /** The per-band bit slices of a simhash long — shared by
    * [[simhashBandPairs]] and [[simhashBandKeys]] so the one-shot and
    * appendable-index paths bucket IDENTICALLY. */
  private def simhashSlices(sh: Column, bits: Int, bands: Int): Column = {
    val w = bits / bands
    array((0 until bands).map(b =>
      pmod(shiftright(sh, b * w), lit(1L << w))): _*)
  }

  /** (doc_id, band, bucket) banded key rows for a (doc_id, sh: long)
    * simhash table — the simhash analog of [[lshBandKeys]], and the
    * payload of an appendable simhash candidate index. */
  def simhashBandKeys(sigs: DataFrame, bits: Int = 48, bands: Int = 4,
      compressBuckets: Boolean = true): DataFrame = {
    require(bits % bands == 0, "bits must divide evenly into bands")
    lshBandKeys(sigs.select(col("doc_id"),
      simhashSlices(col("sh"), bits, bands).as("sig")),
      bands, 1, compressBuckets)
  }

  def simhashBandPairs(sigs: DataFrame, bits: Int = 48, bands: Int = 4,
      maxDist: Int = 3, maxBucket: Int = 256,
      compressBuckets: Boolean = true): DataFrame = {
    require(bands > maxDist, "need bands >= maxDist+1 for pigeonhole recall")
    require(bits % bands == 0, "bits must divide evenly into bands")
    val sliced = sigs.select(col("doc_id"), col("sh"),
      simhashSlices(col("sh"), bits, bands).as("sig"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    bandSlicePersists.synchronized { bandSlicePersists += sliced }
    val cands = lshCandidatePairs(
      sliced.select(col("doc_id"), col("sig")), bands, 1, maxBucket,
      compressBuckets)
    cands
      .join(sliced.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")), Seq("doc_a"))
      .join(sliced.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        expr("CAST(bit_count(sh_a ^ sh_b) AS INT)").as("hamming"))
      .filter(col("hamming") <= maxDist)
  }

  /** Portable md5-derived token hash: the first `hexChars` hex chars
    * of md5(token) parsed base-16 — the q153 determinism hash,
    * width-parameterized (8 hex → 32-bit, 12 hex → 48-bit). */
  private def md5TokenHash(t: Column, hexChars: Int): Column =
    conv(substring(md5(t), 1, hexChars), 16, 10).cast("long")

  /** [[simhashNearDup]]'s portable twin (q46): 48-bit signatures from
    * md5-derived token hashes, band slices kept RAW (no xxhash bucket
    * compression) — the banding + hamming-verify math hash-gated end
    * to end; the xxhash64 production family keeps the banding specs. */
  def simhashNearDupPortable(spark: SparkSession, dir: String,
      bits: Int = 48, maxDist: Int = 3): DataFrame =
    simhashBandPairs(simhashRowsPortable(Tables.documents(spark, dir), bits),
      bits, bands = 4, maxDist = maxDist, compressBuckets = false)

  /** Row-local portable simhash signature rows for a document batch —
    * the unit of work the appendable simhash index runs on NEW rows
    * only (the [[shingleRowsFor]] analog). */
  def simhashRowsPortable(docs: DataFrame, bits: Int = 48): DataFrame =
    docs.select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"),
        transform(col("toks"), t => md5TokenHash(t, 12)).as("th"))
      .select(col("doc_id"), simhashFromHashes(col("th"), bits).as("sh"))

  /** Band keys of a signature frame's DISTINCT simhash values — the
    * VALUE-QUOTIENT index payload shared by q326 and
    * [[graft.streaming.StreamOps.simhashMaintainStream]]: banding
    * over distinct values keeps bucket sizes tracking content
    * variety, not duplicate volume (the q325 lesson — see
    * [[simhashNearDupIncremental]]'s plan comment). Output columns:
    * (v, band, bucket). */
  def simhashValueKeys(sigs: DataFrame, bits: Int = 48,
      bands: Int = 4): DataFrame =
    simhashBandKeys(sigs.select(col("sh")).distinct()
        .select(col("sh").as("doc_id"), col("sh")),
      bits, bands, compressBuckets = false)
      .withColumnRenamed("doc_id", "v")

  /** Value pairs a NEW batch's value keys introduce against a
    * standing value-key store (which must already contain the
    * batch's own keys), hamming-filtered BEFORE any member
    * expansion: (va, vb, hamming) with va from the batch, vb from
    * the store, including va == vb (same-value groups pair at
    * hamming 0). Guard and join touch only buckets the batch's keys
    * land in; `maxBucket` caps DISTINCT VALUES per touched bucket
    * (per-bucket value-pair work is n²). */
  def simhashAppendValuePairs(newVKeys: DataFrame, vkeyStore: DataFrame,
      maxDist: Int = 3, maxBucket: Int = 4096): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // dense_rank over the bucket partition ranks DISTINCT values
    // directly on the raw store rows (a value re-appearing across
    // batches keeps its rank), so one pass both bounds the join
    // (rank <= cap+1 — a degenerate bucket stays O(cap)) and carries
    // the [[Guards.witnessed]] markers: the rank-(cap+1) rows bypass
    // the hamming filter. Dedupe before the hamming filter is dedupe
    // after it (hamming is a function of the pair).
    val w = Window.partitionBy(col("band"), col("bucket"))
      .orderBy(col("v"))
    val bounded = vkeyStore.select(col("band"), col("bucket"), col("v"))
      .withColumn("rn", dense_rank().over(w))
      .filter(col("rn") <= maxBucket + 1)
    val pairs = newVKeys.select(col("band"), col("bucket"),
        col("v").as("va"))
      .join(bounded.select(col("band"), col("bucket"),
        col("v").as("vb"), col("rn")), Seq("band", "bucket"))
      .withColumn("hamming", expr("CAST(bit_count(va ^ vb) AS INT)"))
      .filter(col("rn") === maxBucket + 1 || col("hamming") <= maxDist)
      .select(col("va"), col("vb"), col("hamming"),
        (col("rn") === maxBucket + 1).as("w"))
      .distinct()
    Guards.witnessed(pairs,
      s"simhash append: a touched (band, bucket) holds more than " +
        s"maxBucket=$maxBucket DISTINCT simhash values " +
        "— raise the cap or widen the bands")
  }

  /** Member expansion of [[simhashAppendValuePairs]] output: new
    * docs of va × stored docs of vb — OUTPUT-sized (those pairs are
    * answer rows, not intermediate state). `sigStore` must already
    * contain the batch's own rows. */
  def simhashExpandPairs(vPairs: DataFrame, newSigs: DataFrame,
      sigStore: DataFrame): DataFrame =
    newSigs.select(col("doc_id").as("da"), col("sh").as("va"))
      .join(vPairs, Seq("va"))
      .join(sigStore.select(col("doc_id").as("db"), col("sh").as("vb")),
        Seq("vb"))
      .filter(col("da") =!= col("db"))
      .select(least(col("da"), col("db")).as("doc_a"),
        greatest(col("da"), col("db")).as("doc_b"), col("hamming"))
      .distinct()

  /** [[simhashNearDupPortable]] (q46) maintained INCREMENTALLY —
    * q326, closing the last family named in the r12 cold-build
    * ledger (q46's 247.7 s signature build at 100×): per batch,
    * simhash the NEW docs only (row-local), append their band keys
    * and signatures to the standing stores, generate candidates as
    * new-keys ⋈ index over touched buckets only
    * ([[lshAppendCandidates]] — the shared appendable-index core),
    * and hamming-verify against the standing signature store. The
    * per-batch pair sets are disjoint by construction (a pair emits
    * exactly when its later member arrives), and their union equals
    * the one-shot banding — q46's full-clique hamming oracle
    * hash-gates the whole grown pipeline. The standing stores are
    * UNIONS OF CHECKPOINTED BATCH PIECES (never a re-checkpoint of
    * the union): appending to the store costs O(batch)
    * materialization, the q324 replay lesson. */
  def simhashNearDupIncremental(spark: SparkSession, dir: String,
      bits: Int = 48, bands: Int = 4, maxDist: Int = 3,
      maxBucket: Int = 4096, nBatches: Int = 3): DataFrame =
    simhashReplay(Tables.documents(spark, dir), bits, bands, maxDist,
      maxBucket, nBatches, None)

  /** [[simhashNearDupIncremental]] plus the DELETE verb — q331: the
    * q327/q328 add/delete/add discipline on the LAST heavy family
    * without it (r15 — simhash had incremental maintenance and a
    * maintain stream but no takedown story). Adds for the first
    * (nBatches−1) doc batches, then a tombstone batch, then one more
    * add batch against the tombstoned stores:
    *
    *   - the SIGNATURE store drops the removed docs' rows — later
    *     member expansions cannot pair against ghosts;
    *   - already-emitted pairs with a removed endpoint drop from the
    *     output;
    *   - the VALUE-KEY store may keep a value whose members are all
    *     gone — HARMLESS by the quotient argument: a ghost value can
    *     still form value pairs, but expansion runs through the
    *     tombstoned signature store and yields no member pairs
    *     (candidates-only cost, reclaimed at the next compaction).
    *
    * Hash-gated by q46's full-clique hamming oracle over the SHRUNK
    * corpus — the same one-oracle-per-family recipe as q327/q328. */
  def simhashNearDupWithDeletes(spark: SparkSession, dir: String,
      bits: Int = 48, bands: Int = 4, maxDist: Int = 3,
      maxBucket: Int = 4096, nBatches: Int = 3,
      deleteMod: Int = 7, deleteRes: Int = 3): DataFrame =
    simhashReplay(Tables.documents(spark, dir), bits, bands, maxDist,
      maxBucket, nBatches,
      Some(Replay.Deletes(deleteMod, deleteRes, reAdd = false)))

  /** The simhash family's replay body (q326, q331).
    *
    * `maxBucket` caps DISTINCT VALUES per band bucket (not docs — the
    * quotient already absorbed duplicate volume): per-bucket
    * value-pair work is n², so 4096 bounds a touched bucket at ~17M
    * cheap (long, long) comparisons before the hamming filter; the
    * 12-bit band slices are token-bias-skewed enough that a 5k-doc
    * corpus already puts 331 distinct values in its hottest bucket.
    *
    * VALUE-QUOTIENT (the q325 lesson, which this family needs even
    * more: a dup-heavy corpus piles one simhash VALUE into a band
    * bucket — 338 docs in one bucket at sf0.1 already — and the
    * append path has no star/salt fallback, so doc-level banding
    * fail-fasts where the one-shot silently degrades). A doc's bands
    * are fully determined by its sh value, so banding over DISTINCT
    * values is the SAME pairing relation, quotiented:
    *   - value pairs (va, vb) sharing a band, hamming ≤ maxDist —
    *     bucket sizes are distinct-value counts, duplicate volume
    *     can't blow them up;
    *   - member expansion (new docs of va × stored docs of vb, plus
    *     same-value pairs at hamming 0) is OUTPUT-sized — those pairs
    *     are answer rows, not intermediate state.
    * Union over batches = the one-shot pair set (each pair emits when
    * its later member arrives) — q46's oracle gates it. */
  private def simhashReplay(docs: DataFrame, bits: Int, bands: Int,
      maxDist: Int, maxBucket: Int, nBatches: Int,
      deletes: Option[Replay.Deletes]): DataFrame = {
    var sigPieces = Seq.empty[DataFrame]
    var vkeyPieces = Seq.empty[DataFrame]
    var out: DataFrame = null
    Replay.run(docs, "doc_id", nBatches, deletes)(
      add = { batch =>
        val newSigs = simhashRowsPortable(batch, bits)
          .localCheckpoint(eager = false)
        // band keys of the batch's DISTINCT values (a value
        // re-appearing across batches duplicates keys in the store —
        // the value-pair distinct in [[simhashAppendValuePairs]]
        // absorbs it)
        val newVKeys = simhashValueKeys(newSigs, bits, bands)
          .localCheckpoint(eager = false)
        sigPieces :+= newSigs
        vkeyPieces :+= newVKeys
        // touched value-buckets only (quotient guard), hamming filter
        // before member expansion — the append cores the streaming
        // maintainer runs too
        val pairs = simhashExpandPairs(
            simhashAppendValuePairs(newVKeys,
              vkeyPieces.reduce(_ unionByName _), maxDist, maxBucket),
            newSigs, sigPieces.reduce(_ unionByName _))
          .localCheckpoint(eager = false)
        out = if (out == null) pairs else out.unionByName(pairs)
      },
      delete = { removed =>
        sigPieces = Seq(Replay.drop(sigPieces.reduce(_ unionByName _),
          removed, "doc_id").localCheckpoint(eager = false))
        out = Replay.drop(out, removed, "doc_a", "doc_b")
          .localCheckpoint(eager = false)
      })
    out
  }

  /** [[simhashDedup]]'s portable twin (q44): identical-signature
    * clusters over the q153 md5 token-hash family. */
  def simhashDedupPortable(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"),
        transform(col("toks"), t => md5TokenHash(t, 8)).as("th"))
      .select(col("doc_id"), simhashFromHashes(col("th")).as("sh"))
      .groupBy(col("sh"))
      .agg(count(lit(1)).as("cluster_size"), min(col("doc_id")).as("keep_id"))
      .filter(col("cluster_size") > 1)
      .select(col("keep_id"), col("cluster_size"), col("sh"))

  /** Hamming-tolerant simhash near-dup over the documents corpus
    * (48-bit signature of the token-hash votes, distance ≤ 3). */
  def simhashNearDup(spark: SparkSession, dir: String, bits: Int = 48,
      maxDist: Int = 3): DataFrame = {
    val sigs = Tables.documents(spark, dir)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"), transform(col("toks"), t => xxhash64(t)).as("th"))
      .select(col("doc_id"), simhashFromHashes(col("th"), bits).as("sh"))
    simhashBandPairs(sigs, bits, bands = 4, maxDist = maxDist)
  }

  /** SimHash near-dup: docs sharing an identical simhash value.
    * With the native single-pass signature the hash array is consumed
    * exactly once, so this is a pure one-scan query — no persist
    * barrier needed (the old HOF form referenced the array 16× and
    * required one). */
  def simhashDedup(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"), transform(col("toks"), t => xxhash64(t)).as("th"))
      .select(col("doc_id"), simhashFromHashes(col("th")).as("sh"))
      .groupBy(col("sh"))
      .agg(count(lit(1)).as("cluster_size"), min(col("doc_id")).as("keep_id"))
      .filter(col("cluster_size") > 1)
      .select(col("keep_id"), col("cluster_size"), col("sh"))

  /** Train/test split-leakage audit (q279) — the contamination
    * check LLM eval hygiene actually demands: a random document-
    * level split leaks whenever two NEAR-DUPLICATES land on opposite
    * sides (the test doc is then effectively in the training set —
    * Lee et al. 2022, "Deduplicating Training Data Makes Language
    * Models Better", measured exactly this). Classifies every
    * verified near-dup pair ([[jaccardVerifyPortable]]'s memoized
    * edge table — banded LSH candidates, exact-Jaccard verified)
    * against the deterministic hash split ([[Sampling.hashBucket]]
    * < testPct → test): cross-split pairs are leaks. Zero new
    * corpus work — the edge table is reused, the split is computed
    * from doc ids in-line, and the audit is one global fold.
    * The actionable fix the numbers motivate: split by CLUSTER
    * representative (q59's components), never by raw doc id. */
  def splitLeakage(spark: SparkSession, dir: String,
      testPct: Int = 10): DataFrame = {
    def isTest(c: Column) = graft.ext.Sampling.hashBucket(c) < testPct
    jaccardVerifyPortable(spark, dir)
      .select(isTest(col("doc_a")).as("ta"), isTest(col("doc_b")).as("tb"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(when(!col("ta") && !col("tb"), 1L).otherwise(0L))
          .as("n_both_train"),
        sum(when(col("ta") && col("tb"), 1L).otherwise(0L))
          .as("n_both_test"),
        sum(when(col("ta") =!= col("tb"), 1L).otherwise(0L)).as("n_cross"))
      .select(col("n_pairs"), col("n_both_train"), col("n_both_test"),
        col("n_cross"),
        round(col("n_cross").cast("double")
          / col("n_pairs").cast("double"), 6).as("leak_rate"))
  }
}
