package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.operators.Similarity
import graft.storage.GraftTable

/** Continuous RAG serving — p4's context-assembly path run against a
  * STREAM of query vectors with the COMMITTED IVF index as the
  * retrieval stage: per micro-batch, each query's candidate pool comes
  * from the persisted probe machinery
  * ([[Similarity.probeCandidatesIvf]] — assignment on the driver vs the
  * committed centroids, only the probed lists' zone-map-pruned files
  * scanned, optional stream-static `filterIds` semi join: the s12
  * composition), widened to [[Similarity.MmrPool]] candidates and
  * carried RAW into the SHARED MMR + token-pack tail
  * ([[Similarity.mmrPackStage]]) — so the continuous twin and the p4
  * batch entry cannot drift in serving semantics.
  *
  * vs p4: same semantics, different POOL — p4's oracle-exact entry
  * ranks the pool by brute-force scan; this twin reads ~nprobe/nlist of
  * the corpus through the index, the production trade (the pool is the
  * probed lists' best, not the global best). `nprobe` is the dial
  * between the two: scan cost grows ~linearly in it while the pool
  * converges to p4's global best at nprobe = nlist — recall tuning
  * without an index rebuild.
  *
  * Stream-static discipline, like [[AnnStream]]: a query's context
  * depends only on its own row, the COMMITTED index, and the static
  * docs frame — ZERO streaming state; the index is the state and it is
  * maintained transactionally. Results land exactly-once under the
  * checkpoint's txn id. Per trigger: one tiny centroid collect, one
  * ~1/nlist postings scan, one bounded-pool window, then ≤ MmrPool
  * rows per query through the greedy. Nothing grows with stream
  * history. Id-universe contract as [[AnnStream]]. */
object RagStream {

  /** Serve a streaming (vec_id, embedding) query frame from the index
    * at `indexRoot`, packing contexts from `docs` (a STATIC
    * (doc_id, text) frame — token counts use t1's whitespace
    * convention); packed picks append to `dest` exactly-once. */
  def start(incoming: DataFrame, indexRoot: String, docs: DataFrame,
      dest: GraftTable, checkpoint: String,
      trigger: Trigger = Trigger.AvailableNow(),
      filterIds: Option[DataFrame] = None,
      nprobe: Int = 1): StreamingQuery = {
    val id = GraftStreamIngest.txnId(checkpoint)
    val toks = Similarity.docTokenCounts(docs)
    incoming.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val s = batch.sparkSession
        val q = Similarity.normalizeQueryFrame(batch)
        val pool = Similarity.ragPoolFromIndex(s, indexRoot, q, toks,
          filterIds, nprobe)
        dest.appendStream(
          Similarity.mmrPackStage(s, pool).orderBy("q_id", "rank"),
          id, batchId)
        ()
      }
      .trigger(trigger)
      .start()
  }
}
