package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.operators.Similarity
import graft.storage.GraftTable

/** Continuous ANN — s7's persisted-IVF probe run against a STREAM of
  * query vectors: each micro-batch of (vec_id, embedding) rows is
  * assigned to its nearest committed centroid and scored against only
  * the probed lists' zone-map-pruned postings files, and the top-k
  * results land in a graft table exactly-once.
  *
  * Stream-static discipline, like [[DedupStream]]: a query's result
  * depends only on its own row and the COMMITTED index, so per-batch
  * scoring is exact with ZERO streaming state — the index is the state,
  * and it is maintained transactionally ([[Similarity.appendToIvfIndex]]
  * commits through the table protocol, so a batch sees a consistent
  * index version, never a torn one). `foreachBatch` rather than a
  * streaming join because top-k ranking needs a non-time window, which
  * streaming plans refuse; inside foreachBatch the batch is a bounded
  * DataFrame and the full API applies.
  *
  * At scale each trigger costs: one collect of the (tiny) centroid
  * table, one scan of ~(probed lists / nlist) of the corpus, one
  * window over candidates. Nothing grows with stream history.
  *
  * Id-universe contract: query `vec_id`s share the corpus id space (the
  * aligned-table convention every s1–s9 operator uses) — a probe
  * excludes the corpus row with the QUERY'S OWN id, which is exactly
  * right when queries are corpus rows and a silent one-vector exclusion
  * when they are not. Callers streaming EXTERNAL queries must use ids
  * outside the corpus range (e.g. negative). */
object AnnStream {

  /** Start scoring the streaming (vec_id, embedding) frame `incoming`
    * against the index at `indexRoot`; results append to `dest`
    * exactly-once under the checkpoint's txn id.
    *
    * `filterIds` (STATIC, one `id` column) scopes every batch's search
    * to a metadata id-universe — the streaming twin of s12: the set
    * rides [[Similarity.probeIvf]]'s semi join inside the probed-list
    * scan, adding no streaming state (stream-static, like the index
    * itself). `nprobe` widens each query to its n nearest lists (the
    * s20 recall/cost dial), on all three rungs. */
  def start(incoming: DataFrame, indexRoot: String, dest: GraftTable,
      checkpoint: String,
      trigger: Trigger = Trigger.AvailableNow(),
      filterIds: Option[DataFrame] = None,
      nprobe: Int = 1): StreamingQuery =
    startWith(incoming, dest, checkpoint, trigger,
      (s, q) => Similarity.probeIvf(s, indexRoot, q, filterIds, nprobe))

  /** The IVF-PQ twin: continuous probes through the COMPOSED index
    * ([[Similarity.probeIvfPq]] — committed codebook, ADC over the
    * probed lists' code files, exact re-rank). Per trigger the cost is
    * s9's probe cost; like [[start]], the index is the only state, and
    * `filterIds` pre-filters the ADC shortlist exactly as in s12. */
  def startPq(incoming: DataFrame, indexRoot: String, dest: GraftTable,
      checkpoint: String,
      trigger: Trigger = Trigger.AvailableNow(),
      filterIds: Option[DataFrame] = None,
      nprobe: Int = 1): StreamingQuery =
    startWith(incoming, dest, checkpoint, trigger,
      (s, q) => Similarity.probeIvfPq(s, indexRoot, q, filterIds, nprobe))

  /** The INT8 twin: continuous probes through the persisted int8 index
    * ([[Similarity.probeIvfInt8]] — committed scale, BIGINT-dot
    * shortlist over the probed lists' code files, exact re-rank). Per
    * trigger the cost is s17's probe cost; like [[start]], the index is
    * the only state, and `filterIds` pre-filters the shortlist exactly
    * as in s12. */
  def startInt8(incoming: DataFrame, indexRoot: String, dest: GraftTable,
      checkpoint: String,
      trigger: Trigger = Trigger.AvailableNow(),
      filterIds: Option[DataFrame] = None,
      nprobe: Int = 1): StreamingQuery =
    startWith(incoming, dest, checkpoint, trigger,
      (s, q) => Similarity.probeIvfInt8(s, indexRoot, q, filterIds, nprobe))

  /** The BINARY twin: continuous probes through the persisted 1-bit
    * index ([[Similarity.probeIvfBin]] — committed sign words,
    * XOR+popcount Hamming shortlist over the probed lists' code files,
    * exact re-rank). Per trigger the cost is s22's probe cost — the
    * ladder's cheapest serving tier; like [[start]], the index is the
    * only state, and `filterIds` pre-filters the shortlist exactly as
    * in s23. */
  def startBin(incoming: DataFrame, indexRoot: String, dest: GraftTable,
      checkpoint: String,
      trigger: Trigger = Trigger.AvailableNow(),
      filterIds: Option[DataFrame] = None,
      nprobe: Int = 1): StreamingQuery =
    startWith(incoming, dest, checkpoint, trigger,
      (s, q) => Similarity.probeIvfBin(s, indexRoot, q, filterIds, nprobe))

  private def startWith(incoming: DataFrame, dest: GraftTable,
      checkpoint: String, trigger: Trigger,
      probe: (org.apache.spark.sql.SparkSession, DataFrame) => DataFrame)
      : StreamingQuery = {
    val id = GraftStreamIngest.txnId(checkpoint)
    incoming.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val q = Similarity.normalizeQueryFrame(batch)
        dest.appendStream(probe(batch.sparkSession, q), id, batchId)
        ()
      }
      .trigger(trigger)
      .start()
  }
}
