package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Dev-only: synthesize an ~N× scaled copy of an sf directory for the
  * scaling probe behind BASELINE.md's time-vs-sf table. Output lives
  * INSIDE the repo (`testdata_sf1/` by default) — `/root/testdata` is
  * driver-owned and read-only.
  *
  * Replication that actually tests scaling: raw duplication would make
  * every copy of a doc an exact/near dup of every other copy, so
  * pair-producing queries (near-dup joins, overlap matrices) would
  * grow QUADRATICALLY in the copy count by construction and any
  * scaling measurement would be meaningless. Instead:
  *  - documents: copy c rewrites every token t → "t§c" (a per-copy
  *    vocabulary bijection). Shingle equality inside a copy is exactly
  *    the original's (dup groups, near-dup pairs, overlap counts all
  *    preserved per copy) while cross-copy Jaccard is 0 — pair counts
  *    scale LINEARLY with copies, like a genuinely bigger corpus.
  *    n_chars is recomputed from the rewritten text.
  *  - embeddings: deterministic per-(copy, dim) additive jitter so
  *    cross-copy vectors are neither identical nor perfectly aligned.
  *  - orders: key-shifted copies with a tiny deterministic price
  *    jitter (keeps quantile buckets non-degenerate).
  * Copy 0 is the unmodified original, so sf1 results remain
  * comparable to sf0.1's on the shared slice. */
object DevScaleGen {
  def main(args: Array[String]): Unit = {
    val src = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val out = if (args.length > 1) args(1) else "testdata_sf1"
    val copies = if (args.length > 2) args(2).toInt else 10
    val off = 10000000L
    val spark = GraftSession.builder("local[8]")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def replicate(name: String)(one: (DataFrame, Int) => DataFrame): Unit = {
      val base = spark.read.parquet(s"$src/$name.parquet")
      val all = (0 until copies).map(c => one(base, c)).reduce(_ unionByName _)
      all.repartition(16).write.mode("overwrite").parquet(s"$out/$name.parquet")
      println(s"[scalegen] $name x$copies -> $out")
    }

    replicate("documents") { (df, c) =>
      val txt =
        if (c == 0) col("text")
        else concat_ws(" ",
          transform(filter(split(col("text"), " "), t => length(t) > 0),
            t => concat(t, lit("§" + c))))
      df.select((col("doc_id") + lit(c * off)).as("doc_id"),
        txt.as("text"), col("lang"), col("source"),
        length(txt).as("n_chars"))
    }

    replicate("embeddings") { (df, c) =>
      val emb =
        if (c == 0) col("embedding")
        else zip_with(col("embedding"),
          sequence(lit(0), size(col("embedding")) - 1),
          (x, i) => (x.cast("double") +
            (pmod(lit(c * 31) + i * 17, lit(7)) - lit(3)).cast("double") * 0.01)
            .cast("float"))
      df.select((col("vec_id") + lit(c * off)).as("vec_id"),
        emb.as("embedding"), col("label"))
    }

    // customer, for the entity-resolution probe (q184): names in copy
    // c>0 get a TWO-char suffix "§cc", so any cross-copy name pair is
    // ≥2 edits apart and can never match at maxDist=1 — match pairs
    // (and CC components) scale linearly with copies, same philosophy
    // as the documents vocabulary bijection. Block keys are left
    // unchanged: blocks grow 10× (each block still joins within
    // itself), which is exactly the stress the blocked join should
    // absorb linearly in pair OUTPUT but quadratically in per-block
    // WORK — the thing the probe is there to measure.
    replicate("customer") { (df, c) =>
      val name =
        if (c == 0) col("c_name")
        else concat(col("c_name"), lit("§" + c + c))
      df.select((col("c_custkey") + lit(c * off)).as("c_custkey"),
        name.as("c_name"), col("c_nationkey"), col("c_acctbal"),
        col("c_mktsegment"))
    }

    replicate("orders") { (df, c) =>
      df.select((col("o_orderkey") + lit(c * off)).as("o_orderkey"),
        (col("o_custkey") + lit(c * off)).as("o_custkey"),
        col("o_orderstatus"),
        (col("o_totalprice") + lit(c.toDouble) * 0.013).as("o_totalprice"),
        col("o_orderdate"), col("o_orderpriority"))
    }

    // the fact table, for probes that ride lineitem (q172): key-shifted
    // copies with the same tiny deterministic price jitter as orders so
    // per-group histograms stay non-degenerate across copies
    replicate("lineitem") { (df, c) =>
      df.select((col("l_orderkey") + lit(c * off)).as("l_orderkey"),
        col("l_partkey"), col("l_suppkey"), col("l_linenumber"),
        col("l_quantity"),
        (col("l_extendedprice") + lit(c.toDouble) * 0.017).as("l_extendedprice"),
        col("l_discount"), col("l_tax"), col("l_returnflag"),
        col("l_linestatus"), col("l_shipdate"))
    }

    // small dims, copied VERBATIM: probes like q215 (inclusion deps)
    // read every key column, and dims don't grow with fact volume in
    // a real warehouse anyway — the scaling stress is the fact side
    Seq("supplier", "part", "nation", "region").foreach { name =>
      spark.read.parquet(s"$src/$name.parquet")
        .write.mode("overwrite").parquet(s"$out/$name.parquet")
      println(s"[scalegen] $name copied -> $out")
    }

    // events, key-shifted copies on a disjoint user-id space: the
    // behavioral probes (sessionization family) see 10× users with
    // the original per-user stream shape — linear by construction
    replicate("events") { (df, c) =>
      df.select((col("event_id") + lit(c * off)).as("event_id"),
        col("ts"), (col("user_id") + lit(c * off)).as("user_id"),
        col("event_type"), col("value"), col("props"))
    }

    spark.stop()
  }
}
