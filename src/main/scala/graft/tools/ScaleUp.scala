package graft.tools

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Key-shifted replication of the driver's TPC-H-ish fixture to a
  * larger scale factor, for spot-benching the heavy registry queries
  * beyond sf0.1 (the driver ships sf0.001/0.01/0.1 only). Each
  * replica shifts every join key by a per-table stride, so join
  * fan-outs and selectivities scale EXACTLY linearly: q5/q7/q18 at
  * factor 10 over sf0.1 see sf1.0-shaped cardinalities (6M-row
  * lineitem). Fixed dims (region, nation) copy as-is, like TPC-H
  * itself.
  *
  * Document replicas come in two modes, because no single fixture can
  * serve both measurement families honestly (BASELINE.md round-16/17):
  *
  *  - `suffix` (default): replica text gains a per-replica suffix.
  *    Tokens stay real words, so the LANGUAGE/QUALITY family (lang-id,
  *    Gopher, stopword ratios, DSIR, classifier gates) keeps its
  *    workload character — but 32-bit fingerprints and payload hashes
  *    COLLAPSE across replicas (a long doc's simhash barely moves for
  *    one trailing token, and the media fixture's `rpad(text, w*h)`
  *    pixel fill TRUNCATES the suffix away entirely), so the
  *    PAIR-emitting families measure a quadratic duplication artifact,
  *    not scale.
  *  - `salt`: every token of replica i>0 gains a `~i` salt — the text
  *    analogue of the embedding sign pattern below. A per-token
  *    injective map carries every k-token shingle injectively, so
  *    intra-replica shingle-SET relations (Jaccard values, minhash
  *    collisions, prefix structure) are preserved EXACTLY while
  *    cross-replica shingle sets become disjoint — fingerprints
  *    decorrelate and the pair families measure honest pair growth.
  *    The salt reaches the derived media payloads too (pixels come
  *    from the text's leading bytes, which now differ per replica).
  *    Tokens are no longer dictionary words, so lang/quality numbers
  *    from a salt fixture are NOT comparable to real-text runs.
  *
  * Usage: runMain graft.tools.ScaleUp <srcSfDir> <dstDir> <factor>
  *        [suffix|salt]
  */
object ScaleUp {

  /** Per-replica token salt: `w -> w~i` for every whitespace token.
    * Injective per token (and `~` never appears in the fixture's
    * vocabulary), hence injective per k-gram — see object doc.
    * Splits on runs of whitespace and drops empty fragments: salting
    * an empty fragment (double space, leading blank) would mint a
    * bare `~i` token that replica 0's tokenization never had,
    * breaking the exact intra-replica shingle-set isomorphism the
    * mode promises (ScaleUpSpec asserts it).
    */
  private[tools] def saltTokens(text: Column, replica: Int): Column =
    array_join(
      transform(
        filter(split(text, "\\s+"), w => length(w) > 0),
        w => concat(w, lit(s"~$replica"))),
      " ")

  def main(args: Array[String]): Unit = {
    require(args.length >= 3,
      "usage: ScaleUp <srcSfDir> <dstDir> <factor> [suffix|salt]")
    val (src, dst, factor) = (args(0), args(1), args(2).toInt)
    val docMode = if (args.length > 3) args(3) else "suffix"
    val spark = graft.Sessions.start(
      graft.Sessions.builder().appName("graft-scaleup"))
    run(spark, src, dst, factor, docMode)
    println(s"[scaleup] wrote factor-$factor fixture to $dst " +
      s"(docMode=$docMode, lineitem rows: " +
      s"${spark.read.parquet(s"$dst/lineitem.parquet").count()})")
    spark.stop()
  }

  def run(spark: SparkSession, src: String, dst: String, factor: Int,
          docMode: String = "suffix"): Unit = {
    require(factor >= 1, "factor must be >= 1")
    require(docMode == "suffix" || docMode == "salt",
      s"docMode must be suffix or salt, got $docMode")

    def read(name: String) = spark.read.parquet(s"$src/$name.parquet")
    def write(df: DataFrame, name: String): Unit =
      df.write.mode(SaveMode.Overwrite).parquet(s"$dst/$name.parquet")

    // per-table key strides: one above the source max, so replica i's
    // keys are disjoint and a key's replica is recoverable as key/stride
    def stride(df: DataFrame, key: String): Long =
      df.agg(max(col(key))).head().getLong(0) + 1

    val (cust, supp, ord, li, docs) = (read("customer"),
      read("supplier"), read("orders"), read("lineitem"),
      read("documents"))
    val (part, events, emb) = (read("part"), read("events"),
      read("embeddings"))
    // the part-key stride must clear BOTH tables' key spaces: a part
    // key above max(l_partkey) (a part no lineitem references) would
    // otherwise collide with the next replica's shifted keys,
    // duplicating p_partkey and fanning out every lineitem-part join
    val ps = math.max(stride(li, "l_partkey"),
      stride(part, "p_partkey"))
    val (cs, ss, os, ds) = (stride(cust, "c_custkey"),
      stride(supp, "s_suppkey"), stride(ord, "o_orderkey"),
      stride(docs, "doc_id"))
    val (es, us, vs) = (stride(events, "event_id"),
      stride(events, "user_id"), stride(emb, "vec_id"))

    def replicate(df: DataFrame)(shift: (DataFrame, Int) => DataFrame)
        : DataFrame =
      (0 until factor).map(i => shift(df, i)).reduce(_ unionByName _)

    write(read("region"), "region")
    write(read("nation"), "nation")
    write(replicate(cust) { (d, i) =>
      d.withColumn("c_custkey", col("c_custkey") + lit(i * cs))
    }, "customer")
    write(replicate(supp) { (d, i) =>
      d.withColumn("s_suppkey", col("s_suppkey") + lit(i * ss))
    }, "supplier")
    write(replicate(ord) { (d, i) =>
      d.withColumn("o_orderkey", col("o_orderkey") + lit(i * os))
        .withColumn("o_custkey", col("o_custkey") + lit(i * cs))
    }, "orders")
    write(replicate(li) { (d, i) =>
      d.withColumn("l_orderkey", col("l_orderkey") + lit(i * os))
        .withColumn("l_suppkey", col("l_suppkey") + lit(i * ss))
        .withColumn("l_partkey", col("l_partkey") + lit(i * ps))
    }, "lineitem")
    write(replicate(docs) { (d, i) =>
      val shifted = d.withColumn("doc_id", col("doc_id") + lit(i * ds))
      if (i == 0) shifted
      else if (docMode == "salt")
        shifted.withColumn("text", saltTokens(col("text"), i))
      else shifted.withColumn("text",
        concat(col("text"), lit(s" rep $i")))
    }, "documents")
    // r16 additions so the FULL headline set runs at scaled factors:
    // part shares lineitem's l_partkey stride (per-replica join keys
    // align exactly); events shift both ids (user-windowed shapes gain
    // users, not longer per-user histories — the scale direction real
    // traffic has); embeddings shift vec_id only.
    write(replicate(part) { (d, i) =>
      d.withColumn("p_partkey", col("p_partkey") + lit(i * ps))
    }, "part")
    write(replicate(events) { (d, i) =>
      d.withColumn("event_id", col("event_id") + lit(i * es))
        .withColumn("user_id", col("user_id") + lit(i * us))
    }, "events")
    // replica i applies a deterministic per-dimension SIGN PATTERN:
    // cos(s_i∘x, s_i∘y) = cos(x, y), so every replica carries the
    // source's exact near-dup/ANN structure, while cross-replica
    // similarities decorrelate — without this, replica vectors are
    // exact duplicates and every near-dup cluster's pair output grows
    // quadratically in the factor (a fixture artifact, not a workload:
    // the r16 factor-10 run measured dedup_incremental_embedding
    // x15.7 on duplicated replicas). Replica 0 is untouched.
    write(replicate(emb) { (d, i) =>
      val shifted = d.withColumn("vec_id", col("vec_id") + lit(i * vs))
      if (i == 0) shifted
      else shifted.withColumn("embedding",
        transform(col("embedding"), (x, dim) =>
          when(pmod(hash(lit(i), dim), lit(2)) === 0, x)
            .otherwise(-x)))
    }, "embeddings")
  }
}
