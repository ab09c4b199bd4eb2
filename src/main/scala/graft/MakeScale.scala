package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Dev tool: synthesize a FACTOR×-scaled copy of a testdata directory
  * for scale-behavior runs (SCALE_r07.md's ~sf1 from sf0.1), preserving
  * per-replica workload density instead of planting artificial
  * cross-replica duplicates:
  *
  *  - documents: doc_ids offset per replica; every TOKEN of a replica's
  *    text is prefixed with the replica tag, so shingle/term sets are
  *    DISJOINT across replicas — near-dup pair counts scale linearly
  *    with rows (10× data ⇒ ~10× pairs), the way fresh corpus data
  *    behaves, instead of every original pair exploding ×factor².
  *  - embeddings: vec_ids offset; each replica applies its own SIGNED
  *    PERMUTATION (a dimension rotation + deterministic ±1 flips) — an
  *    orthogonal transform, so WITHIN-replica cosines (and thus
  *    d5/d6/d11/s4 structure) are preserved exactly while cross-replica
  *    cosines scramble toward zero. Sign flips alone are not enough:
  *    for spiky vectors the aligned-dimension products leave a fat
  *    cosine tail that crosses d6's 0.4 threshold; the rotation
  *    misaligns the peaks first.
  *  - relational + event tables (customer/orders/lineitem/events) scale
  *    by KEY-OFFSET replication — join keys (c_custkey ↔ o_custkey,
  *    o_orderkey ↔ l_orderkey) offset per replica so within-replica join
  *    structure is intact and the mutation suite / TPC-H-shaped joins
  *    see genuinely FACTOR× keys; event timestamps keep their window
  *    (a 10× stream densifies, it does not lengthen);
  *  - the remaining tiny dimensions are copied as-is.
  *
  * Usage: runMain graft.MakeScale <baseDir> <outDir> <factor>
  */
object MakeScale {
  def main(args: Array[String]): Unit = {
    require(args.length == 3, "usage: MakeScale <baseDir> <outDir> <factor>")
    val Array(base, out, fs) = args
    val factor = fs.toInt
    require(factor >= 1)
    val spark = Tables.session(32)

    val IdStride = 100000000L

    def replicas(build: Int => DataFrame): DataFrame =
      (0 until factor).map(build).reduce(_ unionAll _)

    val docs = Tables.load(spark, base, "documents")
    replicas { r =>
      val text =
        if (r == 0) col("text")
        else regexp_replace(col("text"), "\\w+", s"x$r$$0")
      docs.select(
        (col("doc_id") + lit(r * IdStride)).as("doc_id"),
        text.as("text"), col("lang"), col("source"), col("n_chars"))
    }.repartition(32).write.mode("overwrite").parquet(s"$out/documents.parquet")

    val emb = Tables.load(spark, base, "embeddings")
    val dims = emb.select(size(col("embedding"))).head().getInt(0)
    replicas { r =>
      val vec =
        if (r == 0) col("embedding")
        else {
          val rotated = transform(col("embedding"), (_, j) =>
            element_at(col("embedding"),
              (pmod(j + lit(7 * r), lit(dims)) + 1).cast("int")))
          transform(rotated, (x, j) =>
            when(pmod(xxhash64(concat_ws("_", lit(r), j)), lit(2)) === 0, x)
              .otherwise(-x))
        }
      emb.select(
        (col("vec_id") + lit(r * IdStride)).as("vec_id"),
        vec.cast("array<float>").as("embedding"), col("label"))
    }.repartition(32).write.mode("overwrite").parquet(s"$out/embeddings.parquet")

    // relational + event tables scale by KEY-OFFSET replication, so the
    // mutation suite (customer scratch tables), the TPC-H-shaped joins,
    // and the event analytics see genuinely 10× keys/rows with intact
    // within-replica join structure (o_custkey ↔ c_custkey offsets
    // match). Events keep their timestamps: 10× data in the same time
    // window is how a 10× event stream actually densifies.
    val keyed = Map(
      "customer" -> Seq("c_custkey"),
      "orders" -> Seq("o_orderkey", "o_custkey"),
      "lineitem" -> Seq("l_orderkey"),
      "events" -> Seq("event_id", "user_id"))
    keyed.foreach { case (t, keys) =>
      val df = spark.read.parquet(s"$base/$t.parquet")
      replicas { r =>
        df.select(df.columns.toIndexedSeq.map { c =>
          if (keys.contains(c)) (col(c) + lit(r * IdStride)).as(c) else col(c)
        }: _*)
      }.repartition(32).write.mode("overwrite").parquet(s"$out/$t.parquet")
    }
    (Tables.all.toSet -- Set("documents", "embeddings") -- keyed.keySet)
      .foreach { t =>
        spark.read.parquet(s"$base/$t.parquet")
          .write.mode("overwrite").parquet(s"$out/$t.parquet")
      }
    println(s"[makescale] wrote $out at ${factor}x of $base")
    spark.stop()
  }
}
