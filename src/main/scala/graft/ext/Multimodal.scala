package graft.ext

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables

/** Multimodal-column plumbing: media (image/audio/video) carried as
  * opaque `binary` columns next to a typed metadata struct, processed
  * batch-wise per partition. The container has no image/audio codecs,
  * so the decode step is a clearly-marked deterministic fake —
  * everything Spark-side (schema, batching, partitioning, UDF
  * signature) is real and tested.
  *
  * At 100 TB the pattern is: media bytes in parquet binary columns
  * (or pointers to object-store blobs), metadata as a struct column;
  * decode/feature-extract runs inside `mapPartitions` so codec
  * contexts are initialized once per partition, never per row.
  */
object Multimodal {

  /** Build a media table from documents: payload = UTF-8 bytes of the
    * text standing in for an encoded media blob, plus typed metadata. */
  def mediaTable(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id").as("media_id"),
        col("text").cast("binary").as("payload"),
        struct(
          lit("image/fake").as("mime"),
          col("source").as("origin"),
          col("n_chars").cast("long").as("payload_hint")).as("meta"))

  /** Metadata/shape extraction over the binary payload — pure column
    * expressions (no decode): byte length, leading-bytes signature,
    * content hash. SQL-oracle-able. */
  def mediaMeta(spark: SparkSession, dir: String): DataFrame =
    mediaTable(spark, dir)
      .select(col("media_id"),
        length(col("payload")).as("n_bytes"),
        hex(substring(col("payload"), 1, 8)).as("magic_hex"),
        col("meta.mime").as("mime"),
        col("meta.origin").as("origin"))

  private val featSchema = StructType(Seq(
    StructField("media_id", LongType),
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("feature", ArrayType(FloatType))))

  /** STUB DECODE: a real build would call an image codec here (e.g.
    * javax.imageio / ffmpeg) inside this per-partition loop. The fake
    * derives deterministic "dimensions" and a feature vector from the
    * bytes so tests are stable offline — in PORTABLE arithmetic
    * (unsigned-byte weighted sums mod small primes; float values via
    * double division then a float cast, so both engines round
    * identically), which is what lets the mapPartitions path itself
    * be DuckDB-hash-gated (q61) and lets [[decodeFeaturesTwinOf]]
    * reproduce it in pure column math under a parity spec:
    *  - width  = 64 + (Σ (i+1)·b_i mod 1000000007) mod 64
    *  - height = 64 + (n mod 64)
    *  - feature_j = ((Σ_{i ≡ j (mod 8)} b_i) mod 997) / 997.0
    * with b_i the UNSIGNED byte at 0-based position i. */
  private def fakeDecode(id: Long, payload: Array[Byte]): Row = {
    val n = payload.length
    var ws = 0L
    val sums = new Array[Long](8)
    var i = 0
    while (i < n) {
      val b = payload(i) & 0xFF
      ws += (i + 1).toLong * b
      sums(i % 8) += b
      i += 1
    }
    val width = 64 + ((ws % 1000000007L) % 64).toInt
    val height = 64 + (n % 64)
    val feature = Array.tabulate(8)(j => ((sums(j) % 997).toDouble / 997.0).toFloat)
    Row(id, width, height, feature)
  }

  /** Decode + feature-extract via mapPartitions: batch shape is
    * one-partition-at-a-time, codec context per partition. */
  def decodeFeatures(spark: SparkSession, dir: String): DataFrame =
    decodeFeaturesOf(
      mediaTable(spark, dir).select(col("media_id"), col("payload")))

  /** The mapPartitions core over any (media_id, payload: binary)
    * frame — split out so the twin parity is testable on raw
    * non-UTF8 fixtures (same pattern as [[frameSampleOf]]). */
  def decodeFeaturesOf(media: DataFrame): DataFrame = {
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(featSchema)
    media
      .select(col("media_id"), col("payload"))
      .mapPartitions { rows =>
        // per-partition "codec" init would go here
        rows.map(r => fakeDecode(r.getLong(0), r.getAs[Array[Byte]](1)))
      }(enc)
  }

  /** Column-math TWIN of [[decodeFeatures]] — the same portable
    * [[fakeDecode]] arithmetic as declarative expressions (latin-1
    * decode = byte ↔ code-point bijection, so `ascii` per char IS the
    * unsigned byte). The mapPartitions form stays the production path
    * (per-partition codec init is the real contract); this twin
    * exists so DecodeParitySpec can pin the two bit-equal on
    * arbitrary — including non-UTF8 — payloads, which is what makes
    * the q61 oracle's character arithmetic a faithful byte oracle. */
  def decodeFeaturesTwinOf(media: DataFrame): DataFrame = {
    // one staged char→byte column (never inline an array build inside
    // the consuming lambdas — the repo-wide HOF staging rule)
    val staged = media.select(col("media_id"), col("payload"),
      transform(split(decode(col("payload"), "ISO-8859-1"), ""),
        c => ascii(c).cast("long")).as("bs"))
    val ws = aggregate(
      transform(col("bs"), (b, i) => b * (i.cast("long") + 1L)),
      lit(0L), (acc, x) => acc + x)
    val featCols = (0 until 8).map { j =>
      val s = aggregate(
        transform(col("bs"), (b, i) => when(i % 8 === j, b).otherwise(0L)),
        lit(0L), (acc, x) => acc + x)
      ((s % 997L).cast("double") / 997.0).cast("float").as(s"f$j")
    }
    staged.select(
      (col("media_id") +:
        (lit(64) + ((ws % 1000000007L) % 64L).cast("int")).as("width") +:
        (lit(64) + (length(col("payload")) % 64)).cast("int").as("height") +:
        featCols): _*)
  }

  private val resizeSchema = StructType(Seq(
    StructField("media_id", LongType),
    StructField("n_bytes", IntegerType),
    StructField("resized", ArrayType(IntegerType))))

  /** STUB RESIZE core: the payload as a 1-D intensity stream
    * downsampled to `target` values — byte p (0-based) lands in
    * bucket floor(p·target / n), each output is the floor of its
    * bucket's mean (an empty bucket, possible only when n < target,
    * emits 0). All boundary and mean arithmetic evaluates in IEEE
    * double (p·target integer-valued hence exact; divisions
    * correctly rounded) so the JVM loop, the column twin, and the
    * DuckDB oracle agree bit for bit. A real build would call the
    * codec's scaler here, per-partition init as in
    * [[decodeFeaturesOf]]. */
  private def fakeResize(id: Long, payload: Array[Byte],
      target: Int): Row = {
    val n = payload.length
    val sums = new Array[Long](target)
    val cnts = new Array[Long](target)
    var p = 0
    while (p < n) {
      val k = math.floor(p.toDouble * target / n).toInt
      sums(k) += (payload(p) & 0xFF)
      cnts(k) += 1
      p += 1
    }
    val out = Array.tabulate(target)(k =>
      if (cnts(k) == 0) 0
      else math.floor(sums(k).toDouble / cnts(k)).toInt)
    Row(id, n, out)
  }

  /** Resize via mapPartitions (q173) — the missing member of the
    * decode / feature-extract / RESIZE / frame-sample family: same
    * production contract as [[decodeFeaturesOf]] (binary in,
    * per-partition codec init point, fixed-shape output), stub
    * arithmetic portable enough to hash-gate the mapPartitions path
    * itself. */
  def resizeStub(spark: SparkSession, dir: String,
      target: Int = 32): DataFrame =
    resizeStubOf(
      mediaTable(spark, dir).select(col("media_id"), col("payload")),
      target)
      // gate form: arrays serialize to a comma-joined string (the q64
      // convention — the compare harness sorts rows by every column)
      .select(col("media_id"), col("n_bytes"),
        array_join(col("resized"), ",").as("resized"))

  def resizeStubOf(media: DataFrame, target: Int = 32): DataFrame = {
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(resizeSchema)
    media
      .select(col("media_id"), col("payload"))
      .mapPartitions { rows =>
        // per-partition scaler init would go here
        rows.map(r => fakeResize(r.getLong(0), r.getAs[Array[Byte]](1), target))
      }(enc)
  }

  /** Block-intensity PERCEPTUAL HASH of the media payload — the
    * block-mean-hash family (split the "image" into `blocks` equal
    * regions, threshold each region's mean intensity against the
    * global mean, one bit per region): robust to small local edits,
    * unlike the content md5. Runs the native [[graft.functions.PHash]]
    * DIRECTLY ON THE BINARY payload — region intensity = non-0x20 byte
    * count per byte range, NO charset decode anywhere — so a real
    * non-UTF8 blob (JPEG, PCM) hashes byte-exactly; on the gate
    * corpus's pure-ASCII payloads this is bit-identical to the
    * code-point form (PHashSpec pins both properties), which is why
    * the character-arithmetic DuckDB oracle keeps matching.
    * Thresholding uses the integer cross-product form
    * `intensity·blocks > total` (≡ intensity > mean) so the bit is
    * exact integer arithmetic in any engine — no float mean. */
  def perceptualHash(spark: SparkSession, dir: String,
      blocks: Int = 32): DataFrame =
    mediaTable(spark, dir)
      .select(col("media_id"),
        graft.functions.exprs.phash(col("payload"), blocks).as("phash"))

  /** Perceptual-hash media NEAR-DUP pairs: [[perceptualHash]] +
    * pigeonhole hamming banding (the [[Dedup.simhashBandPairs]]
    * discipline — a pair within hamming ≤ bands−1 must agree exactly
    * on ≥1 of the `bands` disjoint bit slices, so candidates come
    * from (band, slice) equi-joins, never all-pairs) + exact
    * XOR-popcount verify. Fully portable arithmetic end to end —
    * hash-gated (q157). 32 bits in 4 bands of 8 ⇒ guaranteed recall
    * for maxDist ≤ 3 with 256-value band keys — a 16-bit hash's
    * 16-value bands turn into mega-buckets (≈N/16 docs each) on a
    * large corpus and the candidate join goes quadratic; 8-bit bands
    * keep expected bucket size at N/256 per band.
    *
    * Delegates to [[Dedup.simhashBandPairs]] (raw slice keys), which
    * carries the star/salt SKEW GUARD: a mass-duplicate media corpus
    * (every re-encode perceptually identical — exactly what the sf1
    * scaling probe synthesizes) piles one band bucket past `maxBucket`
    * and an unguarded self-join goes quadratic in the duplicate count
    * (measured 327× pair growth at 10× data); the guard emits
    * star-plus-salted-clique pairs instead — linear in bucket size,
    * same recall accounting as the text LSH family. The DuckDB oracle
    * is the full-clique form, exact while no bucket exceeds the cap
    * (true at gate scale). */
  def phashNearDup(spark: SparkSession, dir: String, blocks: Int = 32,
      bands: Int = 4, maxDist: Int = 3, maxBucket: Int = 256): DataFrame =
    phashNearDupOf(mediaTable(spark, dir), blocks, bands, maxDist, maxBucket)

  /** The banding core over any (media_id, payload: binary) frame —
    * split out so PhashSkewGuardSpec can drive a synthetic
    * mass-duplicate corpus through THIS exact code path and pin the
    * guard (pair count ≤ n·maxBucket, star connectivity): nothing in
    * CI would otherwise fail if the call were reverted to an
    * unguarded bucket self-join. */
  def phashNearDupOf(media: DataFrame, blocks: Int = 32, bands: Int = 4,
      maxDist: Int = 3, maxBucket: Int = 256): DataFrame = {
    require(blocks % bands == 0, "bands must evenly slice the hash bits")
    val sigs = media.select(col("media_id").as("doc_id"),
      graft.functions.exprs.phash(col("payload"), blocks).as("sh"))
    Dedup.simhashBandPairs(sigs, blocks, bands, maxDist, maxBucket,
        compressBuckets = false)
      .select(col("doc_a").as("media_a"), col("doc_b").as("media_b"),
        col("hamming"))
  }

  /** Cluster-REPRESENTATIVE output for the mass-dup media family —
    * q325. [[phashNearDup]]'s pair emission is linear in the ANSWER:
    * on a perceptually mass-duplicated corpus (the sf10 replica) the
    * pair table is the 44× cost in BENCH_SF10, because that IS how
    * many near-dup pairs exist. The curation consumer usually wants
    * "one representative per perceptual cluster + how many it stands
    * for" (the q103 non-rep-exclusion shape), which is CLUSTER-count
    * sized: this runs the same guarded banding + verify, closes the
    * verified pairs transitively ([[Dedup.connectedComponents]],
    * auto altitude), and emits (rep_id = min member id, n_members)
    * per multi-member cluster. Under the skew guard the star pairs
    * keep every bucket member attached to its anchor, so cluster
    * membership — unlike the pair list — degrades only through
    * failed anchor verifies; for the mass-duplicate case (identical
    * payloads) anchors always verify, which is why the rep form is
    * the output contract that survives the corpus that breaks the
    * pair form's oracle. */
  def phashClusters(spark: SparkSession, dir: String, blocks: Int = 32,
      bands: Int = 4, maxDist: Int = 3, maxBucket: Int = 256): DataFrame = {
    // VALUE-QUOTIENT optimization, exact by construction: two media
    // with EQUAL phash are hamming-0 ≤ maxDist and share every band,
    // so the one-shot pair graph contains their clique — any
    // equal-phash group is entirely inside one cluster. Group first
    // (one linear groupBy), then band + verify + close over DISTINCT
    // phash VALUES only, and expand group sizes at the end:
    //   - value-level candidates/edges are identical to the
    //     member-level ones (the phash alone determines bands and
    //     hamming), so CC over values IS CC over members, quotiented;
    //   - the cluster rep (min member id) = min over group reps
    //     (each group's rep is its min member) = the value-level CC
    //     label; n_members = Σ group sizes.
    // On a perceptually mass-duplicated corpus this collapses the
    // duplicate factor BEFORE any pair work — the first measurement
    // of the naive pairs+CC composition read 41× at 100× (the pair
    // table dominating, exactly q157's cost); the quotient form's
    // pair work is distinct-value-sized, so cost tracks content
    // variety + cluster count, not duplicate volume.
    val groups = mediaTable(spark, dir)
      .select(col("media_id"),
        graft.functions.exprs.phash(col("payload"), blocks).as("ph"))
      .groupBy(col("ph"))
      .agg(min(col("media_id")).as("rep"), count(lit(1)).as("n"))
      .localCheckpoint(eager = true) // two consumers: banding + expansion
    val comps = Dedup.connectedComponents(
      Dedup.simhashBandPairs(
        groups.select(col("rep").as("doc_id"), col("ph").as("sh")),
        blocks, bands, maxDist, maxBucket, compressBuckets = false)
        .select(col("doc_a"), col("doc_b")),
      algorithm = "auto")
    // membership contract matches the pair-form closure: a group is
    // in the output iff it pairs cross-value (label non-null) or is
    // itself a ≥2 clique (same-phash duplicates verify trivially);
    // an unpaired singleton is not a near-dup of anything
    groups
      .join(comps.withColumnRenamed("id", "rep"), Seq("rep"), "left")
      .filter(col("label").isNotNull || col("n") >= 2)
      .select(coalesce(col("label"), col("rep")).as("rep_id"), col("n"))
      .groupBy(col("rep_id"))
      .agg(sum(col("n")).as("n_members"))
  }

  /** SCENE-CHANGE detection — the video-shot-boundary analog (frame
    * differencing): split the decoded payload into fixed-size frames,
    * take per-frame intensity (non-space chars, the q157 stub-decode
    * convention), and mark a boundary wherever the frame-to-frame
    * delta is ≥ half the previous frame's intensity — in the exact
    * integer form `2·|Δ| ≥ max(prev, 1)`, no float ratio, so the
    * predicate is engine-portable. Per media: frame count, scene
    * count (boundaries + 1), max delta. One scan, a bounded explode
    * and ONE per-media ordered window (frames per media are bounded
    * by payload size — the window never sees the corpus).
    *
    * Byte-safety: the payload is decoded as ISO-8859-1, a BIJECTION
    * byte ↔ code point U+00-U+FF — every blob round-trips exactly, so
    * the substr/length frame arithmetic IS byte arithmetic (a UTF-8
    * decode would mangle non-text bytes); on the gate corpus's ASCII
    * payloads it is also identical to the UTF-8 reading, which keeps
    * the character-arithmetic oracle matching. */
  def sceneChanges(spark: SparkSession, dir: String,
      frameChars: Int = 64): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val fr = mediaTable(spark, dir)
      .select(col("media_id"), decode(col("payload"), "ISO-8859-1").as("txt"))
      .select(col("media_id"), col("txt"),
        posexplode(sequence(lit(1), greatest(length(col("txt")), lit(1)),
          lit(frameChars))).as(Seq("frame_no", "start")))
      .select(col("media_id"), col("frame_no"),
        length(regexp_replace(
          col("txt").substr(col("start"), lit(frameChars)), " ", ""))
          .cast("long").as("it"))
    val w = Window.partitionBy(col("media_id")).orderBy(col("frame_no"))
    fr.withColumn("prev", lag(col("it"), 1).over(w))
      .withColumn("delta",
        when(col("prev").isNull, lit(0L)).otherwise(abs(col("it") - col("prev"))))
      .withColumn("boundary",
        when(col("prev").isNotNull &&
          col("delta") * 2 >= greatest(col("prev"), lit(1L)), 1L)
          .otherwise(0L))
      .groupBy(col("media_id"))
      .agg(count(lit(1)).as("n_frames"),
        (sum(col("boundary")) + 1L).cast("long").as("n_scenes"),
        max(col("delta")).cast("long").as("max_delta"))
  }

  /** CROSS-MODAL retrieval, end to end as ONE query (q158): media →
    * its embedding (`embeddings` keyed by the same id space) →
    * fixed-plane LSH probe ([[Similarity.annProbeFixed]]: bucket-
    * pruned candidates, exact cosine top-k) → back to the media's
    * byte-level metadata and the document's source/lang. The probe
    * output is k rows, so the metadata joins broadcast the HIT SET
    * into the scans — at 100 TB the big tables are never shuffled,
    * each contributes one pruned probe/lookup. */
  def crossModalRetrieve(spark: SparkSession, dir: String,
      queryId: Long = 0L, bits: Int = 6, k: Int = 10): DataFrame = {
    val hits = Similarity.annProbeFixed(spark, dir, queryId, bits, k)
      .select(col("vec_id"), col("cos_sim"))
    val meta = mediaMeta(spark, dir)
      .select(col("media_id"), col("n_bytes"), col("origin"))
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"))
    meta.join(broadcast(hits), col("media_id") === col("vec_id"))
      .join(docs, col("doc_id") === col("media_id"))
      .select(col("media_id"), col("origin"), col("lang"),
        col("n_bytes"), col("cos_sim"))
  }

  /** CROSS-MODAL near-dup (q160): the multi-signal form a media dedup
    * pipeline actually ships — a pair is a near-dup candidate if the
    * content-side perceptual hashes band together ([[phashNearDup]])
    * OR the embedding-side cosines clear the threshold
    * ([[Similarity.embeddingNearDupFixed]]), with the agreeing subset
    * labeled. Both inputs are the already-hash-gated sub-pipelines
    * over the SAME id space, full-outer-joined on the pair key — each
    * leg stays sub-quadratic (banding / bucketing), and the join runs
    * on the tiny pair sets, not the corpora. */
  def crossModalNearDup(spark: SparkSession, dir: String): DataFrame = {
    val ph = phashNearDup(spark, dir)
      .select(col("media_a").as("id_a"), col("media_b").as("id_b"),
        lit(true).as("ph"))
    val em = Similarity.embeddingNearDupFixed(spark, dir)
      .select(col("id_a"), col("id_b"), lit(true).as("em"))
    ph.join(em, Seq("id_a", "id_b"), "full_outer")
      .select(col("id_a"), col("id_b"),
        when(col("ph").isNotNull && col("em").isNotNull, "both")
          .when(col("ph").isNotNull, "phash")
          .otherwise("cosine").as("evidence"))
  }

  /** Frame-sample analog: slice the payload into fixed-size "frames"
    * and keep every k-th — pure column expressions over binary. The
    * slicing stays in BINARY the whole way (`substr` on a binary
    * column yields a binary slice, `length` counts bytes): a UTF-8
    * string cast would mangle real — non-text — media bytes the day
    * an actual blob arrives. */
  def frameSample(spark: SparkSession, dir: String, frameBytes: Int = 32,
      everyK: Int = 4): DataFrame =
    frameSampleOf(mediaTable(spark, dir), frameBytes, everyK)

  /** The slicing core over any (media_id, payload: binary) frame —
    * split out so byte-exactness is testable on raw non-UTF8 bytes. */
  def frameSampleOf(media: DataFrame, frameBytes: Int,
      everyK: Int): DataFrame =
    media
      .select(col("media_id"), col("payload"),
        posexplode(sequence(lit(1),
          greatest(length(col("payload")), lit(1)), lit(frameBytes)))
          .as(Seq("frame_no", "start")))
      .select(col("media_id"), col("frame_no"),
        col("payload").substr(col("start"), lit(frameBytes)).as("frame"))
      .filter(col("frame_no") % everyK === 0 && length(col("frame")) > 0)
      .groupBy(col("media_id"))
      .agg(count(lit(1)).as("n_frames_kept"),
        sum(length(col("frame"))).as("bytes_kept"))
}
