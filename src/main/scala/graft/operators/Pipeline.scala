package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.TextFunctions._

/** p1: composed corpus-cleaning pipeline — the end-to-end shape of a
  * training-data preparation job, as one declarative plan:
  *
  *   1. near-dup removal: n-gram Jaccard ≥ 0.8 pairs (inverted-index
  *      join, as d2), drop the higher doc_id of each pair
  *   2. quality gate: ≥ 10 tokens and quality score ≥ 0.1 (t2 formula)
  *   3. annotation: language ID (t3 profiles)
  *
  * Everything stays inside Catalyst — the dedup victims come from a
  * left-anti join, so the pipeline is shuffles-on-keys only and scales
  * like its components. Oracle replicates all three stages. */
object Pipeline {

  def p1CleanCorpus(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(s, dir, "documents")
    // Shares d2's materialized pair cache: a run that executes both d2
    // and p1 computes the two dedup shuffles once, not twice.
    val victims = Dedup.ngramPairsCached(s, dir)
      .select(col("doc_b").as("doc_id")).distinct()
    val toks = tokens(col("text"))
    val nTok = size(toks).cast("long")
    val stopCnt = size(filter(toks, t =>
      Seq("the", "a", "of", "and", "to").map(w => t === w).reduce(_ || _))).cast("long")
    val stopRatio = stopCnt.cast("double") / nTok.cast("double")
    val quality = least(lit(1.0), nTok.cast("double") / 100.0) * (lit(1.0) - stopRatio)
    def hits(words: Seq[String]) =
      size(filter(toks, t => words.map(w => t === w).reduce(_ || _))).cast("long")
    val en = hits(Seq("the", "a", "of"))
    val de = hits(Seq("der", "die", "und"))
    val fr = hits(Seq("le", "la", "et"))
    val es = hits(Seq("el", "los", "y"))
    val lang = when(en > 0 && en >= de && en >= fr && en >= es, "en")
      .when(de > 0 && de >= fr && de >= es, "de")
      .when(fr > 0 && fr >= es, "fr")
      .when(es > 0, "es")
      .otherwise("und")
    docs
      .join(victims, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), nTok.as("n_tok"),
        round(quality, 4).as("quality"), lang.as("lang_pred"))
      .filter(col("n_tok") >= 10 && col("quality") >= 0.1)
      .orderBy("doc_id")
  }

  /** p2: end-to-end TRAINING-PREP pipeline — the full curation chain a
    * pretraining job runs, composed from the standalone operators as ONE
    * declarative plan:
    *
    *   1. exact dedup: md5 winners (d1's rule — smallest doc_id per hash)
    *   2. quality gate: t2's score ≥ 0.35
    *   3. PII scrub: t10's redaction over the real text (counts kept)
    *   4. sequence packing: c5's per-shard concat-and-chunk offsets over
    *      the SURVIVOR stream (token counts from the scrubbed text)
    *   5. split assignment: c7's stable hash bucket
    *
    * One window shuffle (dedup rank) + one per shard (pack offsets);
    * everything else is map-side. The oracle replays all five stages. */
  def p2TrainingPrep(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.functions.PolyHash.polyHashFast
    val docs = Tables.load(s, dir, "documents")
    val ranked = docs.withColumn("rn", row_number().over(
      Window.partitionBy(md5(col("text").cast("binary"))).orderBy("doc_id")))
    val kept = ranked
      .filter(col("rn") === 1 && TextAnalysis.qualityRaw(col("text")) >= 0.35)
    val scrubbed = TextAnalysis.scrubExpr(col("text"))
    val nPii = TextAnalysis.piiCountExpr(col("text"))
    val staged = kept.select(col("doc_id"),
      pmod(col("doc_id"), lit(Sampling.PackShards)).as("shard"),
      size(split(scrubbed, " ", -1)).cast("long").as("tok"),
      nPii.as("n_pii"),
      pmod(polyHashFast(col("doc_id").cast("string"), P31), lit(100L)).as("bucket"))
    val w = Window.partitionBy("shard").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    staged
      .withColumn("offs", coalesce(sum("tok").over(w), lit(0L)))
      .select(col("doc_id"), col("shard"), col("tok"),
        Sampling.chunkFirst(col("offs")).as("chunk_first"),
        Sampling.chunkLast(col("offs"), col("tok")).as("chunk_last"),
        Sampling.splitExpr(col("bucket")).as("split"),
        col("n_pii"))
      .orderBy("doc_id")
  }

  /** p3: INCREMENTAL corpus refresh — the daily production shape, with
    * the graft store in the loop:
    *
    *   1. a curated GRAFT TABLE is built from the base corpus
    *      (doc_id % 5 ≠ 4): exact-dedup winners (d1's md5 rule) that
    *      pass t2's quality gate and t3's English gate;
    *   2. today's batch (doc_id % 5 = 4) runs the same dedup+gates
    *      WITHIN the batch, then drops every document whose md5
    *      fingerprint already exists in the COMMITTED store (the d12
    *      incremental shape, exact flavor — the fingerprint join reads
    *      the store back, proving the round-trip);
    *   3. survivors APPEND through the transactional graft commit, and
    *      the entry returns the refreshed store's state.
    *
    * The oracle recomputes base-curation ∪ batch-survivors in SQL, so
    * the hash checks gates + both dedup levels + store round-trip +
    * append end-to-end. At 100 TB: one md5-window shuffle per side; the
    * committed-store side of the dedup join is the ACCUMULATING corpus
    * (unbounded), so it is never broadcast — instead the BATCH's
    * fingerprints (the small side by construction: one day's crawl) are
    * Bloom-sketched (d12's discipline, [[Dedup.PostingsIndex]]) and the
    * store's fingerprint scan is map-side pre-filtered with
    * `might_contain` before an exact anti join over the survivors: the
    * prune can only drop store rows the equality join would drop anyway
    * (no false negatives), and the surviving store side is ∝ batch size,
    * which AQE is then free to broadcast. The append's cost ∝ batch
    * survivors — nothing rescans the store's data files beyond the
    * fingerprint column. The store lives under the engine scratch root
    * (`spark.graft.scratchDir`, any Hadoop scheme; the local default is
    * reaped on JVM exit). */
  def p3IncrementalRefresh(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.load(s, dir, "documents").select(
      col("doc_id").cast("long").as("doc_id"),
      col("text"), col("source"), col("n_chars").cast("long").as("n_chars"))
    val isBatch = col("doc_id") % 5 === 4
    def curate(df: DataFrame): DataFrame = df
      .withColumn("rn", row_number().over(
        Window.partitionBy(md5(col("text").cast("binary"))).orderBy("doc_id")))
      .filter(col("rn") === 1 &&
        TextAnalysis.qualityRaw(col("text")) >= 0.35 &&
        TextAnalysis.langPred(col("text")) === "en")
      .drop("rn")
    // Both appends REBALANCE before the write (optimization round 18,
    // guide §6 output file sizing): the curated stream arrives in the
    // md5-window's shuffle partitioning — `spark.sql.shuffle.partitions`
    // near-empty partitions — and the append writes one file per
    // partition (AQE's coalescing keeps `parallelismFirst`'s
    // defaultParallelism floor for plain shuffles, so it never folded
    // them). Every later action then re-paid the file count: per-file
    // footer harvest at commit, a 33-path listing JOB in the read-back
    // (ProfJobs: 0.22 s), 32-split scans of a few thousand rows. The
    // rebalance hint is the scale-correct form — AQE sizes the write to
    // advisoryPartitionSizeInBytes, so the same plan writes ~one file
    // here and properly-sized files at the 100 TB design point. Rows
    // are identical; only the row→file assignment changes.
    val base = curate(docs.filter(!isBatch))
    val loc = Dedup.scratchRoot(s) +
      s"/p3-${java.util.UUID.randomUUID().toString.take(8)}/t"
    val store = graft.storage.GraftTable.create(s, loc, base.schema)
    store.append(base.hint("rebalance"))
    // Today's batch, curated once and reused by both the sketch action
    // and the join. localCheckpoint (eager) rather than persist: it
    // materializes the window shuffle once AND truncates the curate()
    // lineage, so the three downstream actions (sketch build, anti-join
    // append, read-back) re-analyze a scan, not the full window+text
    // expression tree (~165 ms of Catalyst per action, ProfJobs gaps).
    // Assumes local mode: the checkpointed blocks live in the executors'
    // block managers, are freed only when the ContextCleaner collects
    // the Dataset (no unpersist, also on exceptions), and the truncated
    // lineage cannot recompute a lost block — an executor loss fails the
    // entry instead of retrying it. A cluster deployment would need a
    // reliable checkpoint (checkpoint dir) here.
    val batchCur = curate(docs.filter(isBatch))
      .withColumn("fp", md5(col("text").cast("binary")))
      .localCheckpoint(true)
    graft.storage.GraftTable.open(s, loc)
      .append(refreshSurvivors(s, batchCur, loc).hint("rebalance"))
    graft.storage.GraftTable.open(s, loc).read()
      .select(col("doc_id"), col("source"), col("n_chars"))
      .orderBy("doc_id")
  }

  /** p3's batch-vs-store dedup join, exposed so PipelineOpsSpec can pin
    * the plan shape: the batch (`batchCur`, carrying an `fp` md5 column)
    * anti-joins the COMMITTED store's fingerprints with NO broadcast
    * hint on the store side — the store is unbounded; instead the
    * batch's fingerprints are Bloom-sketched and the store scan is
    * map-side pre-filtered with `might_contain` (no false negatives:
    * the prune only drops store rows the equality join would drop).
    * The one driver action here is the KB–MB sketch `head()`. */
  private[graft] def refreshSurvivors(s: SparkSession, batchCur: DataFrame,
      loc: String): DataFrame = {
    val bloomBytes = Bloom.sketchBytes(batchCur, col("fp"))
    val committedFp = graft.storage.GraftTable.open(s, loc).read()
      .select(md5(col("text").cast("binary")).as("fp"))
    val prunedFp =
      if (bloomBytes == null) committedFp // empty batch ⇒ join is empty anyway
      else committedFp.filter(Bloom.mightContain(bloomBytes, col("fp")))
    batchCur.join(prunedFp, Seq("fp"), "left_anti").drop("fp")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "p3_incremental_refresh" -> p3IncrementalRefresh _,
    "p1_clean_corpus" -> p1CleanCorpus _,
    "p2_training_prep" -> p2TrainingPrep _,
    // p4 lives beside the retrieval machinery it composes (filter →
    // pool → MMR → pack); registered here with its pipeline siblings
    "p4_rag_context" -> (Similarity.p4RagContext _),
    // p5: the same serving path with the COMMITTED index as the
    // retrieval stage (RagStream's batch body, now oracle-checked)
    "p5_rag_served" -> (Similarity.p5RagServed _),
  )

  import OracleSql._

  private def hitsSql(words: Seq[String]): String =
    s"len(list_filter(toks, t -> ${words.map(w => s"t = '$w'").mkString(" OR ")}))"

  val oracles: Map[String, String] = Map(
    // p4: the four stages replayed — s10's filtered pool, s13's
    // recursive-CTE greedy (same exactly-representable 7.0/3.0 factors
    // and left-fold dots), token counts, and the prefix-packing window
    // (first overflow closes the context)
    "p4_rag_context" -> Similarity.ragPackOracleSql(
      Similarity.mmrOracleCtes(
        extraCtes = """en AS (SELECT CAST(doc_id AS BIGINT) id FROM documents
                      |       WHERE lang = 'en'),
                      |""".stripMargin,
        scFilter = "\n    AND c.vec_id IN (SELECT id FROM en)")),
    // p5: p4's oracle with the pool RESTRICTED to each query's probed
    // list — assignedCteSql replays the quantizer assignment (s2's
    // arithmetic), the scJoin lands the list restriction inside the
    // pool CTE, and the greedy + packing tail is the SHARED
    // ragPackOracleSql (p4's verbatim, one definition)
    "p5_rag_served" -> Similarity.ragPackOracleSql(
      Similarity.mmrOracleCtes(
        extraCtes = Similarity.assignedCteSql(1) + ",\n",
        scFilter = "",
        scJoin = "\n    JOIN assigned a ON a.q_id = q.vec_id AND c.label = a.label")),
    // p3: base-curation ∪ batch-survivors recomputed declaratively —
    // gates reuse c4's SQL twins (one window handles both within-group
    // dedups via the (is_batch, md5) partition); the NOT IN is the
    // committed-store fingerprint join
    "p3_incremental_refresh" -> {
      import TextAnalysis.Stopwords
      def thits(ws: Seq[String]) = TextAnalysis.hitsSql(ws)
      s"""WITH d AS (SELECT CAST(doc_id AS BIGINT) doc_id, text, source,
         |      CAST(n_chars AS BIGINT) n_chars,
         |      string_split(text, ' ') toks, (doc_id % 5 = 4) is_batch,
         |      row_number() OVER (PARTITION BY (doc_id % 5 = 4), md5(text)
         |        ORDER BY doc_id) rn
         |    FROM documents),
         |g AS (SELECT doc_id, source, n_chars, is_batch, text,
         |    least(1.0, CAST(len(toks) AS DOUBLE) / 100.0)
         |      * (1.0 - CAST(${thits(Stopwords)} AS DOUBLE)
         |               / CAST(len(toks) AS DOUBLE)) qual,
         |    ${thits(Seq("the", "a", "of"))} en,
         |    ${thits(Seq("der", "die", "und"))} de,
         |    ${thits(Seq("le", "la", "et"))} fr,
         |    ${thits(Seq("el", "los", "y"))} es
         |  FROM d WHERE rn = 1),
         |k AS (SELECT doc_id, source, n_chars, is_batch, text FROM g
         |  WHERE qual >= 0.35 AND en > 0 AND en >= de AND en >= fr AND en >= es),
         |base AS (SELECT doc_id, source, n_chars, text FROM k WHERE NOT is_batch),
         |batch AS (SELECT doc_id, source, n_chars FROM k
         |  WHERE is_batch AND md5(text) NOT IN (SELECT md5(text) FROM base))
         |SELECT doc_id, source, n_chars FROM (
         |  SELECT doc_id, source, n_chars FROM base
         |  UNION ALL SELECT doc_id, source, n_chars FROM batch)
         |ORDER BY doc_id""".stripMargin
    },
    "p2_training_prep" -> {
      import TextAnalysis.{EmailRe, Ipv4Re, PhoneRe}
      val scrub = s"regexp_replace(regexp_replace(regexp_replace(text, " +
        s"'$EmailRe', '<EMAIL>', 'g'), '$Ipv4Re', '<IP>', 'g'), " +
        s"'$PhoneRe', '<PHONE>', 'g')"
      s"""WITH r AS (SELECT doc_id, text,
         |    row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) rn
         |  FROM documents),
         |k AS (SELECT doc_id, text FROM (
         |    SELECT doc_id, text, string_split(text, ' ') toks FROM r WHERE rn = 1)
         |  WHERE least(1.0, CAST(len(toks) AS DOUBLE) / 100.0)
         |      * (1.0 - CAST(${hitsSql(Seq("the", "a", "of", "and", "to"))} AS DOUBLE)
         |          / CAST(len(toks) AS DOUBLE)) >= 0.35),
         |st AS (SELECT doc_id, doc_id % ${Sampling.PackShards} shard,
         |    CAST(len(string_split($scrub, ' ')) AS BIGINT) tok,
         |    CAST(len(regexp_extract_all(text, '$EmailRe'))
         |      + len(regexp_extract_all(text, '$Ipv4Re'))
         |      + len(regexp_extract_all(text, '$PhoneRe')) AS BIGINT) n_pii,
         |    (${OracleSql.polyHashSql("CAST(doc_id AS VARCHAR)", P31)}) % 100 bucket
         |  FROM k),
         |o AS (SELECT doc_id, shard, tok, n_pii, bucket,
         |    coalesce(sum(tok) OVER (PARTITION BY shard ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) offs
         |  FROM st)
         |SELECT doc_id, shard, tok,
         |  CAST(floor(offs / ${Sampling.PackCtx}) AS BIGINT) chunk_first,
         |  CAST(floor((offs + tok - 1) / ${Sampling.PackCtx}) AS BIGINT) chunk_last,
         |  CASE WHEN bucket < 80 THEN 'train'
         |       WHEN bucket < 90 THEN 'val' ELSE 'test' END split,
         |  n_pii
         |FROM o ORDER BY doc_id""".stripMargin
    },
    "p1_clean_corpus" ->
      (s"""WITH $shingleCte,
         |cnt AS (SELECT doc_id, count(*) n FROM sh GROUP BY doc_id),
         |cm AS (SELECT a.doc_id doc_a, b.doc_id doc_b, count(*) common
         |       FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
         |       GROUP BY 1, 2),
         |victims AS (SELECT DISTINCT doc_b AS doc_id FROM cm
         |  JOIN cnt ca ON doc_a = ca.doc_id JOIN cnt cb ON doc_b = cb.doc_id
         |  WHERE CAST(common AS DOUBLE)/CAST(ca.n+cb.n-common AS DOUBLE) >= 0.8),
         |feat AS (SELECT d.doc_id, string_split(d.text, ' ') toks FROM documents d
         |  WHERE d.doc_id NOT IN (SELECT doc_id FROM victims)),
         |scored AS (SELECT doc_id, len(toks) n_tok,
         |    least(1.0, CAST(len(toks) AS DOUBLE) / 100.0) *
         |      (1.0 - CAST(${hitsSql(Seq("the", "a", "of", "and", "to"))} AS DOUBLE)
         |        / CAST(len(toks) AS DOUBLE)) q,
         |    ${hitsSql(Seq("the", "a", "of"))} en,
         |    ${hitsSql(Seq("der", "die", "und"))} de,
         |    ${hitsSql(Seq("le", "la", "et"))} fr,
         |    ${hitsSql(Seq("el", "los", "y"))} es
         |  FROM feat)
         |SELECT doc_id, n_tok, round(q, 4) quality,
         |  CASE WHEN en > 0 AND en >= de AND en >= fr AND en >= es THEN 'en'
         |       WHEN de > 0 AND de >= fr AND de >= es THEN 'de'
         |       WHEN fr > 0 AND fr >= es THEN 'fr'
         |       WHEN es > 0 THEN 'es'
         |       ELSE 'und' END lang_pred
         |FROM scored WHERE n_tok >= 10 AND round(q, 4) >= 0.1
         |ORDER BY doc_id""".stripMargin),
  )
}
