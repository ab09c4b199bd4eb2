package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.MinhashSigAgg.minhashSig
import graft.functions.PolyHash.polyHashFast
import graft.functions.Shingles.shinglesDistinctFast
import graft.functions.TextFunctions._

/** Deduplication operators for large-scale training-data pipelines, over
  * the `documents` table. Five strategies, each with a DuckDB oracle that
  * replicates the arithmetic exactly:
  *
  *  - d1 exact:       hash-groupBy on md5(text)
  *  - d2 n-gram:      exact Jaccard over 3-token shingles via inverted-
  *                    index self-join (no O(n²) pair scan)
  *  - d3 minhash LSH: 32-permutation minhash, 8x4 banding, candidate
  *                    pairs from band-bucket join, signature-similarity
  *                    estimate
  *  - d4 simhash:     48-bit simhash over shingle hashes, 4x12-bit chunk
  *                    banding (pigeonhole-complete for hamming ≤ 3)
  *  - d5 embedding:   cosine near-dup over the embeddings table
  *
  * Scale design: every strategy avoids the all-pairs scan — candidates
  * come from equality joins on shingles / band keys / simhash chunks,
  * which shuffle-partition by key and scale linearly with corpus size.
  * The DuckDB oracles for d4 use the brute-force O(n²) definition, so a
  * hash-match also proves the banding is complete (pigeonhole), not just
  * deterministic.
  */
object Dedup {

  // separate holder: mixing Logging into Dedup itself would shadow
  // functions.log (the math function) with the slf4j logger
  private object SpanCapLog extends org.apache.spark.internal.Logging {
    def warn(msg: String): Unit = logWarning(msg)
  }

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")

  /** Posting-list frequency cap for the capped d2 variant (d2b). On this
    * corpus the hottest shingle sits far below the cap, so d2b ≡ d2; on a
    * real web corpus it bounds a stop-shingle's pair fan-out to f²/2 ≤ 2048. */
  val D2MaxShingleFreq = 64L

  /** Shingle stream: one row per distinct 3-shingle per doc. The native
    * expression dedups per document in O(k) (HashSet), so no distinct
    * shuffle is needed. */
  private def shingleRows(s: SparkSession, dir: String): DataFrame =
    // fanned: shingling is the CPU-dense head over the one-file scan
    // (guide §2.5; see Tables.fanned)
    Tables.fanned(docs(s, dir), "doc_id")
      .select(col("doc_id"), explode(shinglesDistinctFast(col("text"))).as("s"))

  // -- d1: exact dedup via hash-groupBy --------------------------------

  /** Exact dedup: group by content hash, keep the smallest doc_id as the
    * surviving representative. At 100 TB this is one shuffle on a 128-bit
    * hash — never on the full text. */
  def d1ExactDedup(s: SparkSession, dir: String): DataFrame =
    exactDedupCore(docs(s, dir)).orderBy("doc_id")

  /** DataFrame core of d1, shared with the SQL CALL surface
    * (`CALL graft.system.dedup_exact`): one winner row per distinct
    * text — smallest doc_id — with its copy count. One md5 shuffle. */
  def exactDedupCore(docsDf: DataFrame): DataFrame = docsDf
    .groupBy(md5(col("text").cast("binary")).as("h"))
    .agg(min("doc_id").as("doc_id"), count(lit(1)).as("n_copies"))
    .select("doc_id", "n_copies")

  // -- d2: exact n-gram Jaccard near-dup -------------------------------

  /** Jaccard ≥ 0.8 candidate pairs from the shingle inverted index.
    *
    * Each shingle row carries its doc's set size (computed row-locally),
    * so the Jaccard denominator travels with the posting list and no
    * per-doc count join is needed: the whole operator is two keyed
    * shuffles — groupBy(shingle) then groupBy(pair). Pairs are generated
    * inside each shingle's posting list (sorted by doc id, i<j),
    * replacing a shingle self-join.
    *
    * `maxShingleFreq` bounds the f²/2 fan-out of a hot posting list at
    * scale: shingles appearing in more than that many docs are dropped
    * before pair generation (the denominators stay the full set sizes,
    * so the capped Jaccard is a lower bound of the exact one). `None`
    * keeps the exact semantics the d2 oracle checks.
    */
  /** Candidate-pair common-shingle counts from the inverted index:
    * (doc_a < doc_b, common, na, nb) — the shared first stage of every
    * set-overlap score (d2's Jaccard, d10's containment). */
  private def pairCountsRaw(s: SparkSession, dir: String,
      maxShingleFreq: Option[Long]): DataFrame = {
    val posting = postingLists(s, dir)
    val capped = maxShingleFreq.fold(posting)(f => posting.filter(size(col("ds")) <= f))
    capped
      .select(explode(graft.functions.PostingPairs.pairsFast(col("ds"))).as("p"))
      .groupBy(col("p.a").as("doc_a"), col("p.b").as("doc_b"))
      .agg(count(lit(1)).as("common"), first(col("p.na")).as("na"),
        first(col("p.nb")).as("nb"))
  }

  /** The UNCAPPED pair-count table is the shared first stage of d2
    * (Jaccard), d10 (containment), and — through d2's thresholded pairs —
    * d7/p1; cache it per corpus fingerprint so one session computes the
    * two heavy keyed shuffles once. Unlike the thresholded caches this
    * set is every pair sharing ≥1 shingle — on a web-scale corpus that
    * is large, which is exactly why it persists MEMORY_AND_DISK (spill,
    * not OOM) and is the same intermediate every consumer would
    * materialize per-query anyway. */
  private val pairCountsCache = new PersistedLru(4)

  private def pairCounts(s: SparkSession, dir: String,
      maxShingleFreq: Option[Long]): DataFrame =
    if (maxShingleFreq.isDefined) pairCountsRaw(s, dir, maxShingleFreq)
    else pairCountsCache.getOrElseUpdate(s, dir, "documents")(
      pairCountsRaw(s, dir, None))

  def ngramJaccardPairs(s: SparkSession, dir: String,
      maxShingleFreq: Option[Long] = None): DataFrame =
    pairCounts(s, dir, maxShingleFreq)
      .select(col("doc_a"), col("doc_b"),
        (col("common").cast("double") /
          (col("na") + col("nb") - col("common")).cast("double")).as("jac"))
      .filter(col("jac") >= 0.8)

  /** Fingerprint of a table file under `dir`: size + mtime of every data
    * file, digested by [[listingDigest]]. A rewritten corpus (the
    * writeDocs overwrite pattern in tests, or any append) changes the
    * fingerprint, so caches keyed on it can never serve stale results. */
  private[operators] def fingerprint(dir: String, table: String): String = {
    // resolved through the Hadoop FileSystem, not java.nio: an
    // hdfs://-hosted or s3a://-hosted corpus must fingerprint its real
    // files, or a regenerated remote corpus would silently serve every
    // fingerprint-keyed cache (d2/d4/d5/d7) stale results
    val (fs, _) = graft.storage.GraftTable.fsAndPath(dir)
    val p = new org.apache.hadoop.fs.Path(dir, s"$table.parquet")
    if (!fs.exists(p)) "absent"
    else {
      // listStatus recursion, not listFiles: LocatedFileStatus eagerly
      // loads permissions through java.io.File, which rejects
      // non-`file:` URIs on local-backed test schemes
      def walk(d: org.apache.hadoop.fs.Path): Seq[String] =
        fs.listStatus(d).toSeq.flatMap { st =>
          if (st.isDirectory) walk(st.getPath)
          else Seq(s"${st.getPath.getName}:${st.getLen}:${st.getModificationTime}")
        }
      val st = fs.getFileStatus(p)
      val files =
        if (st.isDirectory) walk(p)
        else Seq(s"${p.getName}:${st.getLen}:${st.getModificationTime}")
      listingDigest(files)
    }
  }

  /** SHA-256 hex digest of a file listing (`name:len:mtime` entries),
    * order-independent. A 32-bit `String.hashCode` would let two
    * listings collide (file names `Aa` and `BB` hash alike) and serve a
    * fingerprint-keyed cache the other corpus's results. */
  private[operators] def listingDigest(entries: Seq[String]): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(entries.sorted.mkString("|")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map(b => f"${b & 0xff}%02x").mkString

  /** LRU cache of persisted DataFrames keyed on (session, dir, corpus
    * fingerprint): a regenerated corpus invalidates the entry, and
    * eviction unpersists so entries can't pin cached blocks for the JVM
    * lifetime. */
  private[operators] final class PersistedLru(max: Int) {
    private val m =
      new java.util.LinkedHashMap[(SparkSession, String, String), DataFrame](16, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[(SparkSession, String, String), DataFrame]): Boolean =
          if (size > max) { e.getValue.unpersist(); true } else false
      }
    def getOrElseUpdate(s: SparkSession, dir: String, table: String)
        (build: => DataFrame): DataFrame = {
      val key = (s, dir, fingerprint(dir, table))
      m.synchronized {
        Option(m.get(key)).getOrElse {
          val df = build.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          // materialize INSIDE the lock: concurrent queries sharing the
          // stage (d2 ∥ d2b ∥ p1 in the bench) would otherwise race the
          // lazy cache and each recompute every partition
          df.count()
          m.put(key, df)
          df
        }
      }
    }
  }

  // d2's filtered pairs are also the dedup stage of p1; cache the
  // materialized pairs so a run that executes both pays the two dedup
  // shuffles once. (Sharing the heavier POSTING-LIST stage between d2
  // and d2b was measured a wash at sf0.1: materializing the
  // collect_list arrays costs what the second computation saves.) Pairs
  // at threshold 0.8 are a tiny fraction of the corpus, so
  // MEMORY_AND_DISK is safe at scale.
  private val pairsCache = new PersistedLru(8)

  /** The shingle posting lists, cached per corpus fingerprint
    * (optimization round 17): the tokenize → explode → groupBy(shingle)
    * collect_list chain is the shared head of d2 (via pairCountsCache),
    * d2b, and d10's capped variants — and d2b, which bypasses the
    * pair-count cache by design (its cap changes the pair set),
    * rebuilt it on EVERY invocation (~12 CPU-s steady-state of which
    * the posting build is the bulk). Round 7 measured sharing this
    * stage a wash for a SINGLE d2+d2b run; a bench/pipeline session
    * re-running d2b per pass amortizes the one materialization 4-6×. */
  private val postingListsCache = new PersistedLru(2)

  private[graft] def postingLists(s: SparkSession, dir: String): DataFrame =
    postingListsCache.getOrElseUpdate(s, dir, "documents") {
      val sh = Tables.fanned(docs(s, dir), "doc_id")
        .select(col("doc_id"), shinglesDistinctFast(col("text")).as("shs"))
        .select(col("doc_id"), size(col("shs")).cast("long").as("n"),
          explode(col("shs")).as("s"))
      sh.groupBy("s")
        .agg(sort_array(collect_list(struct(col("doc_id"), col("n")))).as("ds"))
        .filter(size(col("ds")) > 1)
    }

  def ngramPairsCached(s: SparkSession, dir: String): DataFrame =
    pairsCache.getOrElseUpdate(s, dir, "documents")(ngramJaccardPairs(s, dir))

  def d2NgramJaccard(s: SparkSession, dir: String): DataFrame =
    ngramPairsCached(s, dir)
      .select(col("doc_a"), col("doc_b"), round(col("jac"), 4).as("jac"))
      .orderBy("doc_a", "doc_b")

  /** d2b: the capped variant of d2 — identical output on this corpus
    * as long as no near-dup pair depends on a shingle hotter than the
    * cap; the oracle applies the same frequency filter. */
  def d2NgramJaccardCapped(s: SparkSession, dir: String): DataFrame =
    ngramJaccardPairs(s, dir, maxShingleFreq = Some(D2MaxShingleFreq))
      .select(col("doc_a"), col("doc_b"), round(col("jac"), 4).as("jac"))
      .orderBy("doc_a", "doc_b")

  // -- d3: minhash + LSH banding ---------------------------------------

  /** Minhash signature per doc via the custom [[MinhashSigAgg]]
    * TypedImperativeAggregate: one shuffle (groupBy doc_id) with a
    * single 32-slot buffer instead of 32 separate min aggregates —
    * identical results to the per-permutation formulation the oracle
    * defines. */
  private def signatures(s: SparkSession, dir: String): DataFrame =
    shingleRows(s, dir)
      .select(col("doc_id"), polyHashFast(col("s"), P31).as("h"))
      .groupBy("doc_id")
      .agg(minhashSig(col("h")).as("sig"))

  def d3MinhashLsh(s: SparkSession, dir: String): DataFrame = {
    val sig = signatures(s, dir)
    val bands = sig.select(col("doc_id"), col("sig"),
      explode(sequence(lit(0), lit(MinhashBands - 1))).as("band"))
      .withColumn("bk", slice(col("sig"), col("band") * MinhashRows + 1, lit(MinhashRows)))
    // The signature-similarity estimate is computed inside the band join's
    // projection, so the dedup distinct exchanges only (doc_a, doc_b, est)
    // — not the two 32-slot signatures (est is bit-identical across a
    // pair's duplicate band hits, so distinct-after ≡ distinct-before).
    bands.as("a")
      .join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.bk") === col("b.bk") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        (aggregate(zip_with(col("a.sig"), col("b.sig"),
          (x, y) => when(x === y, 1L).otherwise(0L)), lit(0L), (acc, v) => acc + v)
          / lit(MinhashK.toDouble)).as("est"))
      .filter(col("est") >= 0.5)
      .distinct()
      .select(col("doc_a"), col("doc_b"), round(col("est"), 4).as("est_jac"))
      .orderBy("doc_a", "doc_b")
  }

  // -- d4: simhash with chunk banding ----------------------------------

  /** 48-bit simhash per doc: bit b is set when the sum over distinct
    * shingles of (2*bit_b(polyhash(s, P57)) - 1) is positive. Computed
    * row-locally by the one-pass [[graft.functions.SimhashText]]
    * expression — the earlier explode + 48-sum groupBy shuffled every
    * shingle row for what is a per-document computation (and was the
    * dominant cost of d4 AND d9). */
  private def simhashes(s: SparkSession, dir: String): DataFrame =
    // fanned: the one-pass simhash fold is the whole cost of this stage
    Tables.fanned(docs(s, dir), "doc_id").select(col("doc_id"),
      graft.functions.SimhashText.simhashFast(col("text"), 3, P57, SimhashBits).as("sim"))
      .filter(col("sim").isNotNull) // shingle-less docs have no signature

  /** Banded hamming ≤ 3 candidate pairs — the shared sketch stage of d4
    * (which emits it directly) and d9 (which re-scores it by edit
    * distance). Cached per corpus fingerprint so one bench/pipeline run
    * computes it once; the surviving pair set is tiny (near-dup rate),
    * so MEMORY_AND_DISK persistence is safe at any scale. */
  private val simhashPairsCache = new PersistedLru(8)

  private def simhashPairsCached(s: SparkSession, dir: String): DataFrame =
    simhashPairsCache.getOrElseUpdate(s, dir, "documents") {
      val sim = simhashes(s, dir)
      // Any pair with hamming ≤ 3 shares at least one of the 4 12-bit
      // chunks (pigeonhole), so the chunk-equality join is complete.
      val chunks = sim.select(col("doc_id"), col("sim"),
        explode(sequence(lit(0), lit(SimhashChunks - 1))).as("c"))
        .withColumn("ck", expr(s"shiftrightunsigned(sim, c * $SimhashChunkBits)")
          .bitwiseAND(lit((1L << SimhashChunkBits) - 1)))
      // Hamming distance is computed in the join projection and filtered
      // before the dedup distinct, so the exchange carries (doc_a, doc_b,
      // hamming) for surviving pairs only — not the raw simhashes.
      chunks.as("a")
        .join(chunks.as("b"),
          col("a.c") === col("b.c") && col("a.ck") === col("b.ck") &&
            col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
          bit_count(col("a.sim").bitwiseXOR(col("b.sim"))).cast("int").as("hamming"))
        .filter(col("hamming") <= 3)
        .distinct()
    }

  def d4Simhash(s: SparkSession, dir: String): DataFrame =
    simhashPairsCached(s, dir).orderBy("doc_a", "doc_b")

  // -- d10: asymmetric containment (excerpt detection) ------------------

  /** d10: shingle CONTAINMENT — |A∩B| / |A|, the asymmetric cousin of
    * Jaccard: a short document quoted inside a long one scores near 1
    * here but far below any Jaccard threshold (the union is dominated
    * by the long side), so symmetric near-dup passes miss exactly the
    * excerpt/quotation duplication this catches. Same inverted-index
    * join shape as d2 (pairs only from shared shingles, never O(n²)),
    * with BOTH directions emitted from one pair scan: containment of a
    * in b and b in a share the common-count, so each unordered pair is
    * counted once and split into the two ordered rows at the end.
    * `maxShingleFreq` bounds hot-shingle fan-out exactly as in d2 (None
    * keeps the oracle-exact semantics). */
  def d10Containment(s: SparkSession, dir: String, threshold: Double = 0.9,
      maxShingleFreq: Option[Long] = None): DataFrame = {
    val pairs = pairCounts(s, dir, maxShingleFreq)
    // Both directions from ONE scan of the (cached) pair table: the
    // earlier two-branch unionAll re-read it twice — and twice more for
    // the final sort's range-bound sampling pass (optimization round
    // 17, guide §2.4: two operations keyed the same way share one
    // pass). explode emits the two ordered rows per unordered pair;
    // the emitted values are identical, so the oracle is untouched.
    aInB_bInA(pairs)
      .filter(col("containment") >= threshold)
      .select(col("doc_small"), col("doc_big"),
        round(col("containment"), 4).as("containment"))
      .orderBy("doc_small", "doc_big")
  }

  /** One-pass expansion of the unordered pair-count rows into the two
    * ordered containment directions (see [[d10Containment]]). */
  private def aInB_bInA(pairs: DataFrame): DataFrame = pairs
    .select(explode(array(
      struct(col("doc_a").as("doc_small"), col("doc_b").as("doc_big"),
        (col("common").cast("double") / col("na").cast("double"))
          .as("containment")),
      struct(col("doc_b").as("doc_small"), col("doc_a").as("doc_big"),
        (col("common").cast("double") / col("nb").cast("double"))
          .as("containment")))).as("r"))
    .select(col("r.doc_small").as("doc_small"), col("r.doc_big").as("doc_big"),
      col("r.containment").as("containment"))

  // -- d9: edit-distance re-score of banded candidates ------------------

  /** d9: fuzzy dedup by EDIT DISTANCE — exact Levenshtein is O(len²)
    * per pair and unthinkable all-pairs, so it runs only on the
    * simhash-banded candidates (hamming ≤ 3 ⇒ near-identical shingle
    * profiles), the standard two-stage shape: cheap sketch recall, then
    * the expensive exact measure on survivors. Texts are fetched by two
    * doc_id equi-joins (AQE broadcasts the candidate side when small);
    * the emitted pair set is candidates with edit ratio
    * lev / max(len) ≤ `maxRatio`. Both engines ship the same unit-cost
    * levenshtein, so the oracle is integer-exact. */
  def d9EditDistance(s: SparkSession, dir: String, maxRatio: Double = 0.2): DataFrame = {
    val pairs = simhashPairsCached(s, dir).select("doc_a", "doc_b")
    val d = docs(s, dir).select(col("doc_id"), col("text"),
      length(col("text")).cast("long").as("len"))
    val withA = d.join(pairs, col("doc_id") === col("doc_a"))
      .select(col("doc_a"), col("doc_b"), col("text").as("text_a"),
        col("len").as("len_a"))
    val ratio = col("lev").cast("double") / col("mx").cast("double")
    d.join(withA, col("doc_id") === col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        levenshtein(col("text_a"), col("text")).cast("long").as("lev"),
        greatest(col("len_a"), col("len")).as("mx"))
      .filter(ratio <= maxRatio)
      .select(col("doc_a"), col("doc_b"), col("lev"), round(ratio, 4).as("ratio"))
      .orderBy("doc_a", "doc_b")
  }

  // -- d5: embedding cosine near-dup -----------------------------------

  /** Rows per broadcast tile of the d5 block-nested-loop. Bounds driver
    * and executor memory to one tile of (id, 64-double vector, norm) —
    * ~0.5 KB/row, so the default tile is ~2 MB regardless of corpus size. */
  val D5TileRows = 4096L

  /** Scratch root for operator spill files. At cluster scale this MUST
    * point at storage reachable by every executor (set
    * `spark.graft.scratchDir` to a shared-filesystem URI); the local-tmp
    * default is correct only for local mode. The whole root is deleted
    * on JVM exit. */
  private[graft] def scratchRoot(s: SparkSession): String =
    s.conf.getOption("spark.graft.scratchDir").getOrElse {
      scratchCleanup // materialize the shutdown hook for the default root
      defaultScratch
    }

  private lazy val defaultScratch: String =
    s"${System.getProperty("java.io.tmpdir")}/graft-scratch-${ProcessHandle.current().pid()}"

  private lazy val scratchCleanup: Unit = {
    val root = java.nio.file.Paths.get(defaultScratch)
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      import scala.jdk.CollectionConverters._
      if (java.nio.file.Files.exists(root)) {
        java.nio.file.Files.walk(root).sorted(java.util.Comparator.reverseOrder())
          .iterator().asScala.foreach(p =>
            try java.nio.file.Files.delete(p) catch { case _: Exception => () })
      }
    }))
  }

  /** CONTRACT: unlike every other entry, constructing this plan runs the
    * tile loop eagerly (⌈n/tileRows⌉ Spark jobs + spill writes) — the
    * result is memoized per (session, dir, tileRows, corpus fingerprint),
    * so repeated construction replays nothing. */
  def d5EmbedNearDup(s: SparkSession, dir: String): DataFrame =
    d5EmbedNearDupTiled(s, dir, D5TileRows)

  /** Memoized d5 runs, one live entry per (session, dir, tileRows): the
    * value carries the corpus fingerprint it was computed for plus its
    * scratch directory. A regenerated corpus REPLACES the entry and the
    * stale scratch parquet is deleted — an unbounded fingerprint-keyed
    * map would retain every generation's DataFrame and spill files for
    * the JVM lifetime. */
  private final case class D5Entry(fingerprint: String, df: DataFrame, scratch: String)
  private val d5Cache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String, Long), D5Entry]()

  /** All-pairs exact cosine as a tiled block-nested-loop: the corpus is
    * cut into ⌈n/tileRows⌉ tiles by a mixed hash of vec_id (uniform even
    * for sparse or strided id spaces, unlike raw id-modulo); each
    * iteration broadcasts ONE tile (ids + vectors + norms) and streams
    * the whole corpus against it with a tight dot-product loop, writing
    * that tile's surviving pairs under [[scratchRoot]] before the
    * broadcast is destroyed. Every unordered pair (i < j) lands in
    * exactly one tile — the tile owning j — so the union over tiles is
    * the exact O(n²) semantics with per-tile-bounded memory: no driver
    * collect of the corpus, no whole-table broadcast. The dot product
    * accumulates in the same left-fold order as the oracle's
    * list_reduce, so results are bit-identical to the naive pair join.
    *
    * This stays quadratic in compute — it is the exact, oracle-matching
    * operator. The 100 TB path is [[d6EmbedNearDupAnn]]: LSH candidate
    * generation + the same exact re-check. */
  def d5EmbedNearDupTiled(s: SparkSession, dir: String, tileRows: Long): DataFrame = {
    val fp = fingerprint(dir, "embeddings")
    d5Cache.compute((s, dir, tileRows), (_, cur) => {
      if (cur != null && cur.fingerprint == fp) cur
      else {
        if (cur != null) { // stale corpus: reclaim its spill files
          try {
            val (fs, p) = graft.storage.GraftTable.fsAndPath(cur.scratch)
            fs.delete(p, true)
          } catch { case _: Exception => () }
        }
        val (df, out) = d5RunTiles(s, dir, tileRows)
        D5Entry(fp, df, out)
      }
    }).df
  }

  private def d5RunTiles(s: SparkSession, dir: String,
      tileRows: Long): (DataFrame, String) = {
    import s.implicits._
    require(tileRows > 0, s"tileRows must be positive, got $tileRows")
    val e = Similarity.normalized(Tables.load(s, dir, "embeddings"))
      .select(col("vec_id"), col("v"), col("nrm"))
      .as[(Long, Array[Double], Double)]
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val thr = 0.4
    val out = s"${scratchRoot(s)}/d5-${java.util.UUID.randomUUID().toString.take(8)}"
    try {
      val n = e.count()
      // overflow-safe ceil-div (n + tileRows - 1 wraps for huge tileRows)
      val tiles = math.max(1L, n / tileRows + (if (n % tileRows == 0) 0L else 1L))
      (0L until tiles).foreach { t =>
        val block = e
          .filter(r => java.lang.Math.floorMod(
            scala.util.hashing.byteswap64(r._1), tiles) == t)
          .collect().sortBy(_._1)
        val bc = s.sparkContext.broadcast(block)
        e.mapPartitions { it =>
          val tile = bc.value
          it.flatMap { case (id, v, nm) =>
            tile.iterator.filter(_._1 > id).flatMap { case (jd, w, m) =>
              var acc = 0.0
              var k = 0
              while (k < v.length) { acc += v(k) * w(k); k += 1 }
              val cos = acc / (nm * m)
              if (cos >= thr) Iterator.single((id, jd, cos)) else Iterator.empty
            }
          }
        }.toDF("vec_a", "vec_b", "cos_raw")
          .write.mode("overwrite").parquet(s"$out/t$t")
        bc.destroy()
      }
      // concrete tile paths, not a glob: globs make FileStreamSink probe
      // for a streaming-metadata dir and log a spurious warning stack
      val tileDirs = (0L until tiles).map(t => s"$out/t$t")
      val df = s.read.parquet(tileDirs: _*)
        .select(col("vec_a"), col("vec_b"), round(col("cos_raw"), 4).as("cos"))
        .orderBy("vec_a", "vec_b")
      (df, out)
    } finally e.unpersist()
  }

  // -- d6: ANN-prefiltered near-dup (the 100 TB path) -------------------

  /** Derive a sign-LSH band layout from the similarity threshold and a
    * target recall, via the S-curve `recall = 1 − (1 − p^bits)^bands`
    * with per-plane collision probability `p = 1 − arccos(threshold)/π`.
    * Candidates are re-checked with EXACT cosine so precision is always
    * 1; the layout only budgets recall against candidate-generation
    * cost. Selection rule: the largest `bits` (fewest noise collisions —
    * noise pairs scale with `bands · 2^−bits`) whose required band count
    * still fits the plane budget; `bits = 1` is always feasible since
    * p ≥ 1/2. A fixed 8×6 layout tuned for the ≥0.9-cosine regime
    * silently dropped half the pairs of a 0.4-threshold corpus — the
    * layout must follow the requested threshold. */
  def d6BandLayout(threshold: Double, targetRecall: Double,
      maxPlanes: Int = D6MaxPlanes): (Int, Int) = {
    require(threshold > 0.0 && threshold < 1.0, s"threshold $threshold out of (0, 1)")
    require(targetRecall > 0.0 && targetRecall < 1.0,
      s"targetRecall $targetRecall out of (0, 1)")
    val p = 1.0 - math.acos(threshold) / math.Pi
    (16 to 1 by -1).iterator.flatMap { bits =>
      val pBand = math.pow(p, bits)
      val bands = math.ceil(math.log1p(-targetRecall) / math.log1p(-pBand)).toInt
      if (bands >= 1 && bands * bits <= maxPlanes) Some((bands, bits)) else None
    }.next()
  }

  /** Plane budget for d6 banding: bounds both the explode fan-out
    * (`bands` copies of each row through the shuffle) and codegen size. */
  val D6MaxPlanes = 96

  /** d6's wired threshold (matching d5's exact twin) and recall target;
    * the layout is derived, not hand-picked. */
  val D6Threshold = 0.4
  val D6TargetRecall = 0.95
  private lazy val d6Layout = d6BandLayout(D6Threshold, D6TargetRecall)
  lazy val D6Bands: Int = d6Layout._1
  lazy val D6Bits: Int = d6Layout._2

  /** The scale path for embedding near-dup: one shuffle on (band, key)
    * replaces d5's ⌈n/tileRows⌉ serial full-corpus scans. Work scales
    * with corpus size × bucket occupancy instead of n², every join is a
    * keyed equality join, and the exact-cosine re-check makes every
    * emitted pair a true near-dup (a subset of d5's output by
    * construction — same fold order, same threshold, same rounding). */
  def d6EmbedNearDupAnn(s: SparkSession, dir: String): DataFrame =
    d6EmbedNearDupAnn(s, dir, D6Threshold, D6TargetRecall)

  /** Threshold-parameterized form: the band layout is derived from
    * (threshold, targetRecall), so a caller deduping a ≥0.9-cosine
    * corpus gets a cheap 72-plane layout with analytical recall ≥ 0.95
    * instead of a fixed layout tuned for a different regime. */
  def d6EmbedNearDupAnn(s: SparkSession, dir: String, threshold: Double,
      targetRecall: Double): DataFrame = {
    val (bands, bits) = d6BandLayout(threshold, targetRecall)
    // Fan the vectors before banding (optimization round 17, guide §2.5
    // input skew): at bench scale the embeddings table is ONE parquet
    // file — one scan task — so the whole probe-side chain above it
    // (18×SignKey Generate → broadcast-hash-join probe emitting the
    // ~n²-dense candidate pairs → partial distinct) ran SERIAL:
    // OPTIMIZATION_r17.md measured ONE task burning 1.63 s CPU, 66 % of
    // the query's wall.
    // The exchange moves one ~540-byte row per vector, hash-partitioned
    // on vec_id (deterministic under retry). At 100 TB embeddings arrive
    // as many files and the scan parallelizes on its own.
    val e = Similarity.normalized(Tables.load(s, dir, "embeddings"))
      .select(col("vec_id"), col("v"))
      .repartition(s.sparkContext.defaultParallelism, col("vec_id"))
    // SLIM candidate generation: the banded self-join exchanges only
    // (vec_id, bandkey) — 16 bytes/row — never the 64-double vectors.
    // The earlier shape shipped both sides' full vectors through the
    // band exchange (bands× data blowup on each side: ~2 × bands × n
    // vector copies); at 100 TB the band exchange IS the operator's
    // cost, so it must carry keys, not payloads. All band keys are
    // computed in ONE pass per vector (array + posexplode), not a
    // per-band CaseWhen chain whose plan grows with the layout.
    // (band, bk) packs into ONE long (bk < 2^bits ≤ 65536, so the
    // packing is bijective — identical pair set), so the self-join
    // hashes and compares a single long key instead of a two-column
    // row on every one of the ~(bands · n²/2^bits) probe hits
    // (optimization round 18, guide §2.3).
    val keys = array((0 until bands).map(b =>
      Similarity.signKey(col("v"), b * bits, bits)): _*)
    val banded = e.select(col("vec_id"),
        posexplode(keys).as(Seq("band", "bk")))
      .select(col("vec_id"),
        (col("band").cast("long") * 65536L + col("bk")).as("bandkey"))
    // duplicate band hits collapse BEFORE any cosine is computed or any
    // vector moves: distinct on the bare id pair
    val cand = banded.as("a")
      .join(banded.as("b"),
        col("a.bandkey") === col("b.bandkey") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"))
      .distinct()
    // exact re-check: surviving pairs (far fewer than band hits) pull
    // their vectors back through two equality joins on vec_id — the
    // full vectors are exchanged once per side, not once per band.
    // The pull-back carries the RAW FLOAT arrays (half the bytes of the
    // cast doubles through both join projections) and the cosine folds
    // them with double accumulation — bit-identical to casting first
    // ([[graft.functions.DotProductFloat]]), same norms, same rounding.
    val ef = Tables.load(s, dir, "embeddings").select(col("vec_id"),
      col("embedding"),
      sqrt(graft.functions.DotProduct.dotFloatFast(
        col("embedding"), col("embedding"))).as("nrm"))
    cand
      .join(ef.select(col("vec_id").as("vec_a"), col("embedding").as("va"),
        col("nrm").as("na")), "vec_a")
      .join(ef.select(col("vec_id").as("vec_b"), col("embedding").as("vb"),
        col("nrm").as("nb")), "vec_b")
      .select(col("vec_a"), col("vec_b"),
        (graft.functions.DotProduct.dotFloatFast(col("va"), col("vb")) /
          (col("na") * col("nb"))).as("cos_raw"))
      .filter(col("cos_raw") >= threshold)
      .select(col("vec_a"), col("vec_b"), round(col("cos_raw"), 4).as("cos"))
      .orderBy("vec_a", "vec_b")
  }

  /** d16: INCREMENTAL embedding near-dup — the intake shape for the
    * embedding modality, completing the family (d12 = exact text, d15
    * = spans, m10/m11/m12 = media fingerprints): the arriving BATCH
    * (vec_id % 10 == 7, d12's split convention) is checked against the
    * COMMITTED corpus without corpus×corpus work, through d6's
    * threshold-derived sign-LSH banding. The batch's (band, key) set
    * is Bloom-sketched (one bounded driver action); the corpus band
    * stream is map-side `might_contain`-prefiltered BEFORE the only
    * equality join (no false negatives — the prune cannot change the
    * result), so the corpus-side shuffle carries ≈ the batch's band
    * mass; candidates re-check EXACT cosine (precision 1, d6's
    * contract). Output is COLLAPSED (the m10 contract): ONE row per
    * batch vector with a corpus match at cos ≥ [[D6Threshold]] —
    * (vec_id, match_id = min matching corpus vec, cos = max cosine) —
    * the drop-the-batch-copy decision. At 100 TB: banding ∝ batch,
    * prefiltered join ∝ batch band mass, daily cost ∝ batch. */
  def d16IncrementalEmbed(s: SparkSession, dir: String): DataFrame = {
    val (bands, bits) = (D6Bands, D6Bits)
    // same single-file fan-out as d6 (guide §2.5): banding + the bloom
    // prefilter otherwise run on the lone scan task (OPTIMIZATION_r17.md:
    // three ~0.25 s single-task jobs)
    val e = Similarity.normalized(Tables.load(s, dir, "embeddings"))
      .select(col("vec_id"), col("v"))
      .repartition(s.sparkContext.defaultParallelism, col("vec_id"))
    val keys = array((0 until bands).map(b =>
      Similarity.signKey(col("v"), b * bits, bits)): _*)
    // slim key streams (16 bytes/row, the d6 discipline — (band, bk)
    // packed into the single bijective long the sketch already hashed);
    // vectors are pulled back only for surviving candidates
    val banded = e.select(col("vec_id"),
        posexplode(keys).as(Seq("band", "bk")))
      .select(col("vec_id"),
        (col("band").cast("long") * 65536L + col("bk")).as("bandkey"))
    val bBand = banded.filter(col("vec_id") % 10 === 7)
      .select(col("vec_id").as("vec_b"), col("bandkey"))
      .localCheckpoint(true) // feeds the sketch action AND the join
    val sketch = Bloom.sketchBytes(bBand, col("bandkey"))
    val cBandAll = banded.filter(col("vec_id") % 10 =!= 7)
      .select(col("vec_id").as("vec_a"), col("bandkey"))
    val cBand =
      if (sketch == null) cBandAll.limit(0) // empty batch
      else cBandAll.filter(Bloom.mightContain(sketch, col("bandkey")))
    val cand = bBand.join(cBand, Seq("bandkey"))
      .select(col("vec_a"), col("vec_b"))
      .distinct()
    // float pull-back + double-accumulated cosine, bit-identical to the
    // cast-to-double form (d6's round-18 discipline, [[DotProductFloat]])
    val ef = Tables.load(s, dir, "embeddings").select(col("vec_id"),
      col("embedding"),
      sqrt(graft.functions.DotProduct.dotFloatFast(
        col("embedding"), col("embedding"))).as("nrm"))
    cand
      .join(ef.select(col("vec_id").as("vec_a"), col("embedding").as("va"),
        col("nrm").as("na")), "vec_a")
      .join(ef.select(col("vec_id").as("vec_b"), col("embedding").as("vb"),
        col("nrm").as("nb")), "vec_b")
      .select(col("vec_b").as("vec_id"), col("vec_a"),
        (graft.functions.DotProduct.dotFloatFast(col("va"), col("vb")) /
          (col("na") * col("nb"))).as("cos_raw"))
      .filter(col("cos_raw") >= D6Threshold)
      .groupBy("vec_id")
      .agg(min("vec_a").as("match_id"),
        round(max("cos_raw"), 4).as("cos"))
      .orderBy("vec_id")
  }

  // -- d11: semantic dedup via k-means blocking -------------------------

  /** d11: SEMANTIC dedup — near-dup pairs found by clustering-as-
    * blocking: the corpus is k-means-partitioned (s4's exact assignment)
    * and the cosine check runs only WITHIN each cluster. The third
    * point on the recall/cost curve alongside d5 (exact, all pairs) and
    * d6 (sign-LSH bands): k-means blocking does n²/k work per cluster
    * with recall bounded by cluster purity — near-dups land in the same
    * cluster unless they straddle a Voronoi boundary — while precision
    * stays 1 (every emitted pair carries its exact cosine, identical
    * fold and rounding to d5, so d11 ⊆ d5 by construction).
    *
    * 100 TB design: one broadcast-assignment pass (s4), then a keyed
    * equality join on cluster id — the blocking pattern every
    * entity-resolution pipeline uses when LSH bands are too fine. */
  def d11SemanticDedup(s: SparkSession, dir: String,
      threshold: Double = 0.4): DataFrame = {
    val n = Similarity.kmeansAssigned(s, dir)
      .select(col("vec_id"), col("cid"), col("v"), sqrt(col("vv")).as("nrm"))
    n.as("a")
      .join(n.as("b"),
        col("a.cid") === col("b.cid") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
        col("a.cid").cast("long").as("cluster_id"),
        Similarity.cosine(col("a.v"), col("b.v"), col("a.nrm"), col("b.nrm")).as("c"))
      .filter(col("c") >= threshold)
      .select(col("vec_a"), col("vec_b"), col("cluster_id"),
        round(col("c"), 4).as("cos"))
      .orderBy("vec_a", "vec_b")
  }

  // -- d7: near-dup clusters (connected components) ---------------------

  /** Group near-dup pairs into CLUSTERS and elect a canonical survivor —
    * the step a real dedup pipeline runs after pair generation, since
    * near-duplication is transitive in practice (A≈B, B≈C ⇒ keep one of
    * {A,B,C}, not two). Connected components by iterative min-label
    * propagation over the d2 pair graph: each round, every doc adopts
    * the smallest label among itself and its neighbors; at fixpoint the
    * label is the component minimum, which doubles as the cluster id and
    * the kept representative (`keep = 1`).
    *
    * Scale: the pair set is orders of magnitude smaller than the corpus
    * (near-dup PAIRS, not documents), and components split in two
    * regimes on a size gate:
    *  - pairs ≤ [[D7DriverMaxPairs]] (8M pairs ≈ 350 MB of primitive
    *    union-find arrays): stream the deduplicated pair list to the
    *    driver and union-find it — one job, zero iterative shuffles.
    *    Under a concurrent workload this matters: an iterative loop of
    *    small jobs pays FAIR-scheduler queue latency per round, which
    *    benchmarked at 5-40× the actual compute.
    *  - larger graphs: iterative min-label propagation — each round one
    *    keyed join + one groupBy on the pair set, rounds bounded by the
    *    cluster diameter (small for near-dup clusters). For
    *    adversarially long chains the large-star/small-star alternation
    *    (Kiveris et al., "Connected Components in MapReduce") converges
    *    in O(log²) rounds with the same per-round shape. Convergence is
    *    tested by the monotone label sum — no plan-diffing join.
    * Both regimes produce the identical min-label result (spec-proven).
    *
    * CONTRACT: like d5, constructing this plan runs the propagation
    * loop eagerly (a handful of small jobs); the result is memoized per
    * (session, dir, corpus fingerprint), and replacing a stale entry
    * releases its cached labels. */
  def d7DedupClusters(s: SparkSession, dir: String): DataFrame = {
    val fp = fingerprint(dir, "documents")
    d7Cache.compute((s, dir), (_, cur) => {
      if (cur != null && cur.fingerprint == fp) cur
      else {
        if (cur != null) cur.labels.foreach(_.unpersist())
        d7Run(s, dir, fp)
      }
    }).df
  }

  private[operators] final case class D7Entry(fingerprint: String, df: DataFrame,
      labels: Option[DataFrame], rounds: Int = 0)
  private val d7Cache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), D7Entry]()

  /** Driver-heap gate for the union-find fast path. 8M pairs ⇒ at most
    * 16M distinct vertices ⇒ ~350 MB of PRIMITIVE arrays (open-addressed
    * long keys at load ≤ 0.5 + int parents) — measured structures, not
    * boxed-map hand-waving. Far above any healthy near-dup pair rate,
    * comfortably below the default 8g driver. */
  private[operators] val D7DriverMaxPairs = 8000000L

  /** The effective driver-heap gate: [[D7DriverMaxPairs]] unless the
    * session overrides it (`spark.graft.d7.driverMaxPairs`) — the
    * override exists so specs can force the distributed path on small
    * graphs and operators can tighten the gate on memory-constrained
    * drivers without a rebuild. */
  private[graft] def d7MaxPairs(s: SparkSession): Long =
    s.conf.getOption("spark.graft.d7.driverMaxPairs")
      .map(_.toLong).getOrElse(D7DriverMaxPairs)

  private def d7Run(s: SparkSession, dir: String, fp: String): D7Entry = {
    val pairs = ngramPairsCached(s, dir).select(col("doc_a"), col("doc_b"))
    val nPairs = pairs.count() // pairs are cache-materialized: cheap action
    if (nPairs <= d7MaxPairs(s)) D7Entry(fp, d7UnionFind(s, pairs), None)
    else d7Propagate(s, pairs, fp)
  }

  /** Count-and-dispatch connected components over an ARBITRARY
    * materialized `(doc_a, doc_b)` pair frame — d7's two-regime split
    * for callers outside the d7 cache ([[graft.operators.Multimodal]]'s
    * fingerprint collapse): pairs at or under the gate stream to the
    * driver union-find; larger graphs run the distributed min-label
    * propagation, so a near-dup-rich representative graph (a mostly
    * unique image corpus full of crops/re-encodes) cannot build
    * unbounded driver arrays through `CALL phash_dedup` (VERDICT r13
    * #1). Callers MUST pass a materialized frame (localCheckpoint):
    * the count action and the clustering consume it at least twice.
    * Returns d7's (doc_id, cluster_id, keep) contract; both regimes
    * produce the identical min-label result (spec-proven). */
  private[graft] def clusterPairs(s: SparkSession, pairs: DataFrame): DataFrame = {
    val p = pairs.select(col(pairs.columns(0)).as("doc_a"),
      col(pairs.columns(1)).as("doc_b"))
    if (p.count() <= d7MaxPairs(s)) d7UnionFind(s, p)
    else d7Propagate(s, p,
      fp = java.util.UUID.randomUUID().toString, cacheLabels = false).df
  }

  /** Small-graph path: stream the deduplicated pair list to the driver
    * (toLocalIterator — one partition of Rows in memory at a time, never
    * a giant collect() array) and union-find in primitive arrays:
    * an open-addressed long→dense-index table, int parents, union-by-min
    * with path compression — so every root is its component's minimum,
    * the same labeling the distributed loop converges to. */
  private[operators] def d7UnionFind(s: SparkSession, pairs: DataFrame): DataFrame = {
    import s.implicits._
    var cap = 1 << 16 // slots, power of two, load kept ≤ 0.5
    var keys = new Array[Long](cap) // vertex id at slot (if used)
    var used = new Array[Boolean](cap)
    var slotIdx = new Array[Int](cap) // slot → dense vertex index
    var ids = new Array[Long](cap / 2) // dense index → vertex id
    var parent = new Array[Int](cap / 2) // dense index → parent index
    var n = 0
    def rehash(): Unit = {
      val ok = keys; val ou = used; val oi = slotIdx
      cap <<= 1
      keys = new Array[Long](cap); used = new Array[Boolean](cap)
      slotIdx = new Array[Int](cap)
      ids = java.util.Arrays.copyOf(ids, cap / 2)
      parent = java.util.Arrays.copyOf(parent, cap / 2)
      var s0 = 0
      while (s0 < ok.length) {
        if (ou(s0)) {
          var h = (java.lang.Long.hashCode(ok(s0)) & 0x7fffffff) & (cap - 1)
          while (used(h)) h = (h + 1) & (cap - 1)
          keys(h) = ok(s0); used(h) = true; slotIdx(h) = oi(s0)
        }
        s0 += 1
      }
    }
    def index(v: Long): Int = {
      var h = (java.lang.Long.hashCode(v) & 0x7fffffff) & (cap - 1)
      while (used(h)) {
        if (keys(h) == v) return slotIdx(h)
        h = (h + 1) & (cap - 1)
      }
      if ((n + 1) * 2 > cap) { rehash(); return index(v) }
      keys(h) = v; used(h) = true; slotIdx(h) = n
      ids(n) = v; parent(n) = n
      n += 1
      n - 1
    }
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (c != r) { val nx = parent(c); parent(c) = r; c = nx }
      r
    }
    val it = pairs.toLocalIterator()
    while (it.hasNext) {
      val row = it.next()
      val ra = find(index(row.getLong(0)))
      val rb = find(index(row.getLong(1)))
      if (ra != rb) {
        // union-by-min on the VERTEX ID (dense indices follow first-seen
        // order, not id order) so each root is its component's minimum
        if (ids(ra) < ids(rb)) parent(rb) = ra else parent(ra) = rb
      }
    }
    val out = new Array[(Long, Long, Int)](n)
    var i = 0
    while (i < n) {
      val root = find(i)
      out(i) = (ids(i), ids(root), if (i == root) 1 else 0)
      i += 1
    }
    out.toSeq.toDF("doc_id", "cluster_id", "keep").orderBy("doc_id")
  }

  /** Large-graph path: distributed iterative min-label propagation.
    * `cacheLabels = true` persists the converged labels for the d7
    * memo cache (the entry owns the handle and unpersists it on
    * replacement); one-off callers ([[clusterPairs]]) pass false so
    * nothing outlives the returned plan but the scratch parquet. */
  private[operators] def d7Propagate(s: SparkSession, pairs: DataFrame,
      fp: String, cacheLabels: Boolean = true): D7Entry = {
    val resultSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("cluster_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("keep", org.apache.spark.sql.types.IntegerType)))
    val edges = pairs.union(
      pairs.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b")))
      .toDF("src", "dst")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // round 0 fused into init: every vertex starts at min(self, its
      // neighborhood) — pure pair clusters are already converged here,
      // so the loop only runs for genuine chains
      var labels = edges.groupBy("src")
        .agg(least(col("src"), min(col("dst"))).as("l"))
        .select(col("src").as("v"), col("l"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val first = labels.agg(org.apache.spark.sql.functions.sum("l")).head()
      if (first.isNullAt(0)) {
        // no near-dup pairs at all: every document is its own cluster —
        // the oracle's recursive closure is empty too
        labels.unpersist()
        return D7Entry(fp, s.createDataFrame(
          s.sparkContext.emptyRDD[org.apache.spark.sql.Row], resultSchema), None)
      }
      var sum = first.getLong(0)
      var converged = false
      var rounds = 0
      while (!converged) {
        val prop = edges.join(labels, col("dst") === col("v"))
          .groupBy(col("src")).agg(min("l").as("nl"))
        val viaNbrs = labels.join(prop, col("v") === col("src"), "left")
          .select(col("v"), least(col("l"), coalesce(col("nl"), col("l"))).as("l"))
        // Pointer-doubling shortcut (the log-rounds half of
        // large-star/small-star, Kiveris et al., "Connected Components
        // in MapReduce and Beyond"): each vertex also jumps to its
        // LABEL'S label, so the distance a min travels doubles per
        // round instead of advancing one hop. Neighbor propagation
        // alone needs O(diameter) rounds — an adversarial 1000-chain is
        // 1000 join rounds; with the shortcut it converges in
        // O(log diameter). The fixpoint is unchanged: labels only
        // decrease, and a labeling stable under neighbor propagation is
        // already the per-component minimum, so both loops (and the
        // driver union-find) agree — DedupScaleSpec proves it.
        val lab2 = viaNbrs.select(col("v").as("v2"), col("l").as("l2"))
        // localCheckpoint, not persist: the self-join references viaNbrs
        // twice, so an un-truncated logical plan DOUBLES per round —
        // exponential plan trees OOM the driver long before the data
        // does. Checkpointing severs the lineage each round (same
        // plan-accretion fix as the BPE trainer).
        val next = viaNbrs.join(lab2, viaNbrs("l") === lab2("v2"), "left")
          .select(viaNbrs("v"), least(viaNbrs("l"), coalesce(col("l2"), viaNbrs("l"))).as("l"))
          .localCheckpoint()
        val nextSum = next.agg(org.apache.spark.sql.functions.sum("l")).head().getLong(0)
        labels.unpersist()
        labels = next
        converged = nextSum == sum // min-propagation strictly shrinks until fixpoint
        sum = nextSum
        rounds += 1
      }
      // The loop's intermediate localCheckpoints are transient, but the
      // FINAL labels outlive this call inside the d7 cache — and a
      // localCheckpoint is non-recomputable: unpersisting it on cache
      // replacement (or losing an executor) would BREAK every plan
      // previously returned ("checkpoint block not found") instead of
      // recomputing. Materialize the converged labels to scratch
      // parquet and serve the file-backed scan: lineage is durable
      // (recompute = re-read), so replacement-time unpersist of cached
      // blocks is safe again.
      val scratch = s"${scratchRoot(s)}/d7-labels-$fp"
      labels.write.mode("overwrite").parquet(scratch)
      labels.unpersist()
      val fileBacked = s.read.parquet(scratch)
      val stable =
        if (cacheLabels)
          fileBacked.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        else fileBacked
      val df = stable
        .select(col("v").as("doc_id"), col("l").as("cluster_id"),
          (col("v") === col("l")).cast("int").as("keep"))
        .orderBy("doc_id")
      // the memo entry owns the persisted handle so replacement can
      // unpersist the block cache (the parquet stays until scratch GC)
      D7Entry(fp, df, if (cacheLabels) Some(stable) else None, rounds)
    } finally edges.unpersist()
  }

  /** d8: exact duplicated-substring detection — for every document, how
    * much of its text is verbatim-duplicated elsewhere in the corpus:
    * the count (and ratio) of its 8-token windows that also appear in at
    * least one OTHER document. This is the cluster-shaped equivalent of
    * suffix-array exact-substring dedup (the suffix array itself is a
    * sequential construction and doesn't distribute); sliding fixed-width
    * windows keyed by content is the standard Spark formulation.
    *
    * 100 TB design: aggregations and one join, all keyed on the window —
    * pairs of documents are never materialized, so cost is linear in
    * total window count (≈ token count). Window generation is the
    * [[graft.functions.Shingles]] expression (one Scala loop/row; the
    * transform+slice+concat_ws HOF chain it replaces ran interpreted and
    * dominated the operator at ~10× the cost). All three consumers hang
    * off ONE (win, doc_id) pre-aggregation, so its exchange is planned
    * once and reused (ReuseExchange/AQE stage reuse) — the corpus scan +
    * explode happens a single time. Window STRINGS are the shuffle key
    * here so the DuckDB oracle is bit-exact; at petabyte scale you would
    * key on xxhash64(window) to slim the exchange (collision odds
    * ~n²/2⁶⁴) at the cost of hash-exactness. */
  def d8WindowDedup(s: SparkSession, dir: String, k: Int = 8): DataFrame = {
    import graft.functions.Shingles.shinglesFast
    val wd = Tables.load(s, dir, "documents")
      .select(col("doc_id"), explode(shinglesFast(col("text"), k)).as("win"))
      .groupBy("win", "doc_id").agg(count(lit(1)).as("occ"))
    val shared = wd.groupBy("win").agg(count(lit(1)).as("nd"))
      .filter(col("nd") >= 2)
      .select("win")
    val tot = wd.groupBy("doc_id").agg(sum("occ").as("n_win"))
    val dup = wd.join(shared, "win")
      .groupBy("doc_id").agg(sum("occ").as("n_dup"))
    tot.join(dup, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_win"),
        coalesce(col("n_dup"), lit(0L)).as("n_dup"),
        round(coalesce(col("n_dup"), lit(0L)).cast("double")
          / col("n_win").cast("double"), 4).as("dup_ratio"))
      .orderBy("doc_id")
  }

  /** d12: INCREMENTAL near-dup detection — dedupe an incoming batch
    * against the indexed corpus WITHOUT generating corpus×corpus pairs:
    * the production shape of dedup at 100 TB, where a daily increment
    * joins the historical shingle index and d2's quadratic-in-corpus
    * pair stage never runs. The batch here is the deterministic slice
    * `doc_id % 10 = 7` (~10% of the corpus) standing in for "today's
    * crawl"; everything else is the index.
    *
    * Shape: one equality join on the shingle (index-side postings ⋈
    * batch-side postings — at scale the batch's shingle set is small
    * enough to broadcast or bloom-prune the index scan with), then one
    * groupBy(pair); Jaccard ≥ 0.8 over the same distinct 3-shingle
    * sets as d2. Output: for each new doc, every indexed near-dup. */
  /** d12's build-once artifacts, fingerprint-keyed: the INDEX postings
    * (the dominant cost at 100 TB — re-shingling the historical corpus
    * per call is exactly what incremental dedup exists to avoid) and the
    * batch postings (small, but they feed both the Bloom sketch action
    * and the join — one materialization, not two scans). */
  private val indexPostingsCache = new PersistedLru(2)
  private val batchPostingsCache = new PersistedLru(2)

  def d12IncrementalDedup(s: SparkSession, dir: String): DataFrame = {
    val all = Tables.fanned(docs(s, dir), "doc_id")
    val isNew = col("doc_id") % 10 === 7
    val ix = new PostingsIndex(indexPostingsCache.getOrElseUpdate(s, dir, "documents")(
      shinglePostings(all.filter(!isNew), "doc_a", "na")))
    val bpos = batchPostingsCache.getOrElseUpdate(s, dir, "documents")(
      shinglePostings(all.filter(isNew), "doc_b", "nb"))
    ix.score(bpos).orderBy("doc_b", "doc_a")
  }

  /** One side's shingle postings: a row per (doc, distinct 3-shingle),
    * carrying the doc's set size so the Jaccard denominator travels with
    * the posting and no per-doc count join is needed. */
  private[graft] def shinglePostings(df: DataFrame, idCol: String,
      nCol: String): DataFrame = df
    .select(col("doc_id"), shinglesDistinctFast(col("text")).as("shs"))
    .select(col("doc_id").as(idCol), size(col("shs")).cast("long").as(nCol),
      explode(col("shs")).as("s"))

  /** A build-once shingle-postings index over a static corpus — the
    * reusable artifact of incremental dedup at 100 TB. Build it ONCE
    * (the postings are persisted and materialized), then score any
    * number of incoming batches against it: each score is one Bloom
    * sketch of the batch's shingles (the small side by contract), a
    * map-side `might_contain` pre-filter of the index postings (codegen,
    * no false negatives — the prune can only drop rows the equality
    * join would drop anyway), and an exact equality join over the
    * survivors. The index corpus is never re-shingled per batch.
    * [[release]] when done — the postings otherwise pin cached blocks. */
  final class PostingsIndex private[operators] (val postings: DataFrame,
      private val pinned: Seq[DataFrame]) {

    private[operators] def this(postings: DataFrame) =
      this(postings, Seq(postings))

    /** A STACKED index additionally covering `deltaDocs` — the
      * delta-refresh merge (VERDICT r14 #4 extended to the text
      * modality): per-doc postings rows are independent (no cross-doc
      * aggregation in the index side), so serving the union of the
      * committed postings and the delta docs' postings is LOSSLESS —
      * identical to rebuilding over the full corpus — while shingling
      * only ∝ delta. Takes ownership of this index's pinned blocks:
      * release() on the returned index releases the whole stack; do
      * not release the receiver separately. */
    private[graft] def withDocs(deltaDocs: DataFrame): PostingsIndex = {
      val dp = shinglePostings(deltaDocs, "doc_a", "na")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try dp.count()
      catch { case e: Throwable => dp.unpersist(); throw e }
      new PostingsIndex(postings.unionByName(dp), pinned :+ dp)
    }

    /** Exact batch-vs-index near-dup scores (doc_b, doc_a, jac ≥ 0.8)
      * from prepared batch postings. */
    private[graft] def score(batchPostings: DataFrame): DataFrame = {
      // One-row sketch of the batch's shingle set, shipped back as a
      // foldable literal — c9's decontamination transport ([[Bloom]]).
      // The sketch action is a driver round-trip per batch, KB–MB by
      // construction.
      val bloomBytes = Bloom.sketchBytes(batchPostings, col("s"))
      // empty batch ⇒ no sketch; the join below is empty regardless
      val pruned =
        if (bloomBytes == null) postings
        else postings.filter(Bloom.mightContain(bloomBytes, col("s")))
      scorePostings(pruned, batchPostings)
    }

    /** Unpersist the index postings (the full stack, for a stacked
      * index). */
    def release(): Unit = { pinned.foreach(_.unpersist()); () }
  }

  object PostingsIndex {
    /** Build and materialize the postings index for `indexDocs`
      * (`doc_id`/`text`). One shingle+explode pass over the corpus,
      * persisted MEMORY_AND_DISK (spill, not OOM, at scale). */
    def build(indexDocs: DataFrame): PostingsIndex = {
      val p = shinglePostings(indexDocs, "doc_a", "na")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // a failed materialization must unpin its own blocks — this build
      // is also RefreshableStatic's `build` (DedupStream tick rebuilds),
      // whose contract is "clean up your partials if you throw"; without
      // the unpersist a transient tick failure leaks the persisted
      // postings for the stream's lifetime (ADVICE r14)
      try p.count()
      catch { case e: Throwable => p.unpersist(); throw e }
      new PostingsIndex(p)
    }
  }

  /** The two-sided scorer behind d12 (and its streaming twin,
    * [[graft.streaming.DedupStream]]): every `batchDocs` document
    * scored against every `indexDocs` near-duplicate, batch×index pairs
    * only. Unordered — callers choose their sort (batch d12 orders;
    * the stream appends). This overload shingles BOTH sides inline —
    * the one-shot shape; repeated callers build a [[PostingsIndex]]
    * once instead. */
  def nearDupAgainstIndex(batchDocs: DataFrame, indexDocs: DataFrame): DataFrame =
    scorePostings(shinglePostings(indexDocs, "doc_a", "na"),
      shinglePostings(batchDocs, "doc_b", "nb"))

  /** Batch-vs-index scoring against a prebuilt (Bloom-pruned) index. */
  def nearDupAgainstIndex(batchDocs: DataFrame, index: PostingsIndex): DataFrame =
    index.score(shinglePostings(batchDocs, "doc_b", "nb"))

  /** Jaccard ≥ 0.8 over joined postings: one equality join on the
    * shingle, one groupBy(pair) — never doc×doc. */
  private def scorePostings(idx: DataFrame, batch: DataFrame): DataFrame =
    idx.join(batch, "s")
      .groupBy("doc_b", "doc_a")
      .agg(count(lit(1)).as("common"), first("na").as("na"), first("nb").as("nb"))
      .select(col("doc_b"), col("doc_a"),
        (col("common").cast("double") /
          (col("na") + col("nb") - col("common")).cast("double")).as("jr"))
      .filter(col("jr") >= 0.8)
      .select(col("doc_b"), col("doc_a"), round(col("jr"), 4).as("jac"))

  /** d13 parameters: document-frequency band (terms in ≥2 docs can pair;
    * terms in > DfCap docs are dropped — near-zero IDF AND the hot-key
    * scale hazard, like d2b's shingle cap) and the cosine threshold. */
  private[operators] val TfidfDfCap = 64
  private[operators] val TfidfTau = 0.5

  /** d13: TF-IDF-weighted trigram cosine near-dup — the IDF-weighted
    * complement of d2's unweighted Jaccard: sharing RARE trigrams counts
    * far more than sharing boilerplate, the standard weighting when
    * near-dup candidates should rank by distinctive content.
    *
    * Arithmetic is integer-exact until the final division (the t13/e7
    * discipline): one ln() per term TYPE quantized to integer micro-units
    * (order-free), weights w = tf·idfq as longs, and both the norms and
    * the pair dot products summed as DECIMAL(38,0) (a long would wrap at
    * w² × hundreds of terms for large corpora) — so Spark and the DuckDB
    * oracle sum identical integers in any order and the one double
    * division at the end is bit-reproducible.
    *
    * 100 TB shape: candidate pairs come from a term-keyed posting-list
    * equality join restricted to the df band — never doc×doc. The df cap
    * bounds any term's pair fan-out at DfCap², and idf-weighting makes
    * the cap semantically free (capped terms carry ~zero weight). */
  /** d13's weighted postings (doc_id, term, w), cached per corpus
    * fingerprint: the subtree feeds the norms and BOTH sides of the pair
    * self-join, so without materialization the tokenize+groupBy stage
    * runs three times per call. Banded postings are a corpus-linear,
    * df-capped set — MEMORY_AND_DISK-safe at scale. */
  private val tfidfPostingsCache = new PersistedLru(2)

  private def tfidfPostings(s: SparkSession, dir: String): DataFrame =
    tfidfPostingsCache.getOrElseUpdate(s, dir, "documents") {
      val base = Tables.fanned(docs(s, dir), "doc_id")
      // all trigrams (multiset — tf needs counts), via the native
      // shingle expression, not the interpreted zip_with/slice HOF chain
      val tf = base.select(col("doc_id"),
          explode(graft.functions.Shingles.shinglesFast(col("text"), 3)).as("term"))
        .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      val nDocs = base.select(count(lit(1)).as("nd"))
      val dfBand = tf.groupBy("term").agg(count(lit(1)).as("df"))
        .filter(col("df") >= 2 && col("df") <= TfidfDfCap)
        .crossJoin(broadcast(nDocs))
        .select(col("term"),
          round(log(col("nd").cast("double") / col("df").cast("double"))
            * lit(1000000.0)).cast("long").as("idfq"))
      tf.join(dfBand, "term")
        .select(col("doc_id"), col("term"), (col("tf") * col("idfq")).as("w"))
    }

  /** d13's per-TERM posting lists and per-DOC norms, cached per corpus
    * fingerprint (optimization round 17): both are pure functions of the
    * weighted postings — the TF-IDF index artifacts, the d12
    * indexPostings discipline — and recomputing them per invocation was
    * the bulk of d13's steady-state CPU (OPTIMIZATION_r17.md: posting
    * lists ~10 CPU-s + norms ~9 CPU-s of the ~24 CPU-s warm re-run; the pair
    * expansion and the DECIMAL dot aggregation are the operator's real
    * per-run work and still run per call). */
  private val d13PostingCache = new PersistedLru(2)
  private val d13NrmCache = new PersistedLru(2)

  def d13TfidfCosine(s: SparkSession, dir: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val nrm = d13NrmCache.getOrElseUpdate(s, dir, "documents") {
      tfidfPostings(s, dir).groupBy("doc_id")
        .agg(sum(col("w").cast(dec) * col("w")).as("n2"))
    }
    // Pair dot products via d2's inverted-index expansion, not a posting
    // self-join: group the (doc, w) postings per term (sorted ⇒ a < b)
    // and emit each list's pairs with PostingPairs — whose payload slot
    // carries the WEIGHT here — then sum the products per pair. One
    // groupBy replaces the sort-merge self-join; the df cap bounds every
    // list at TfidfDfCap entries.
    val posting = d13PostingCache.getOrElseUpdate(s, dir, "documents") {
      tfidfPostings(s, dir).groupBy("term")
        .agg(sort_array(collect_list(struct(col("doc_id"), col("w")))).as("ds"))
    }
    val dot = posting
      .select(explode(graft.functions.PostingPairs.pairsFast(col("ds"))).as("p"))
      .select(col("p.a").as("da"), col("p.b").as("db"),
        (col("p.na").cast(dec) * col("p.nb")).as("prod"))
      .groupBy("da", "db")
      .agg(sum(col("prod")).as("dp"))
    dot
      .join(nrm.select(col("doc_id").as("da"), col("n2").as("na2")), "da")
      .join(nrm.select(col("doc_id").as("db"), col("n2").as("nb2")), "db")
      .select(col("da"), col("db"),
        (col("dp").cast("double") /
          sqrt(col("na2").cast("double") * col("nb2").cast("double"))).as("c"))
      .filter(col("c") >= TfidfTau)
      .select(col("da"), col("db"), round(col("c"), 4).as("cos"))
      .orderBy("da", "db")
  }

  // -- d14: maximal duplicated token spans (substring-level dedup) -----

  /** k-gram width for span detection. Two documents sharing any
    * verbatim run of `L ≥ k` tokens share exactly `L − k + 1`
    * consecutive k-grams on one `(pos_a − pos_b)` diagonal, so runs of
    * shared k-grams reconstruct the maximal span and its length
    * EXACTLY — the k-gram-diagonal formulation of the suffix-array
    * substring dedup from the training-data-dedup literature, chosen
    * because it is three keyed shuffles instead of a distributed
    * suffix array. */
  val SpanGramK = 10

  /** Report maximal cross-document spans at least this many tokens. */
  val SpanMinTokens = 15L

  /** d14: every MAXIMAL verbatim token span (≥ [[SpanMinTokens]]
    * tokens) shared between two documents — substring-grain dedup,
    * the operator that catches quotation/boilerplate/partial-copy
    * duplication that whole-document hashing (d1) and set-overlap
    * scores (d2/d3) miss or only score in aggregate.
    *
    * Shape: (1) per doc, one polyhashed k-gram per token offset — a
    * row-local Catalyst `transform` over the token array, no shuffle;
    * (2) group by gram hash and expand each posting list to cross-doc
    * (pos_a, pos_b) pairs with the shared [[PostingPairs]] expression
    * (the d2 discipline — pair fan-out is bounded by posting-list
    * sizes, the documented hot-gram cost center; `maxGramFreq` caps a
    * boilerplate gram's f²/2 expansion at scale, at the cost of
    * splitting spans that cross a dropped gram); (3) per (doc pair,
    * diagonal), consecutive positions collapse to maximal islands via
    * one `pos − row_number` window. Three keyed shuffles total (gram,
    * pair-diagonal window, final group); nothing touches the corpus
    * quadratically.
    *
    * Output: (doc_a, doc_b, pos_a, pos_b, span_tokens) per maximal
    * span, positions in token offsets. */
  def d14SpanDedup(s: SparkSession, dir: String,
      maxGramFreq: Option[Long] = None): DataFrame =
    // fanned at the CALL SITE, not inside spanGrams: the streaming twin
    // passes snapshot-scoped frames whose records-read a spec pins
    spanDedupCore(Tables.fanned(docs(s, dir), "doc_id"), maxGramFreq)

  /** Per-doc polyhashed k-gram stream — `(doc_id, j, h)`, one row per
    * token offset; row-local, no shuffle. Shared by d14's posting-pair
    * path and d15's batch-vs-corpus join path. */
  private def spanGrams(docsDf: DataFrame): DataFrame = docsDf
    // One native pass over the text bytes per row ([[GramHashes]],
    // optimization round 17): the previous interpreted
    // transform(sequence, slice+concat_ws+hash) chain re-materialized
    // every gram string per token offset and profiled as the bulk of
    // the span operators' scan stage. Bit-identical hashes (spec-pinned
    // against the HOF chain); a <K-token doc emits zero rows either way.
    .select(col("doc_id").cast("long").as("doc_id"),
      posexplode(graft.functions.Shingles.gramHashesFast(
        col("text"), SpanGramK, P31)).as(Seq("j", "h")))

  /** The island collapse behind both span operators: `(doc_a, doc_b,
    * pos_a, pos_b)` shared-gram pairs → maximal spans ≥
    * [[SpanMinTokens]] (consecutive positions on one diagonal merge
    * via `pos − row_number`). One definition, so d14 and d15 cannot
    * drift in span arithmetic. */
  private def maximalSpans(pairs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window
      .partitionBy(col("doc_a"), col("doc_b"), col("pos_a") - col("pos_b"))
      .orderBy(col("pos_a"))
    pairs
      .withColumn("isl", col("pos_a") - row_number().over(w))
      .groupBy(col("doc_a"), col("doc_b"),
        (col("pos_a") - col("pos_b")).as("diag"), col("isl"))
      .agg(min("pos_a").as("pos_a"), min("pos_b").as("pos_b"),
        (count(lit(1)) + lit(SpanGramK - 1).cast("long")).as("span_tokens"))
      .filter(col("span_tokens") >= SpanMinTokens)
      .select(col("doc_a"), col("doc_b"), col("pos_a"), col("pos_b"),
        col("span_tokens"))
      .orderBy("doc_a", "doc_b", "pos_a", "pos_b")
  }

  /** DataFrame core of d14 for ARBITRARY (doc_id, text) corpora, shared
    * with the SQL CALL surface (`CALL graft.system.dedup_spans`). */
  /** Grams dropped by the LAST capped [[spanDedupCore]] run in this
    * JVM — a SINGLE-THREADED TEST CONVENIENCE only: concurrent capped
    * runs (bench threads, the CALL surface) clobber it, so production
    * callers who need the no-silent-caps count read it per invocation
    * from [[spanDedupCoreCounted]] instead (ADVICE r13). */
  @volatile private[graft] var spanCapDroppedLastRun: Long = 0L

  def spanDedupCore(docsDf: DataFrame,
      maxGramFreq: Option[Long] = None): DataFrame = {
    val (df, dropped) = spanDedupCoreCounted(docsDf, maxGramFreq)
    // only an engaged cap writes the test-convenience global (an
    // uncapped run has nothing to report, matching the old contract)
    maxGramFreq.foreach(_ => spanCapDroppedLastRun = dropped)
    df
  }

  /** [[spanDedupCore]] plus THIS invocation's dropped-gram count — the
    * no-silent-caps signal returned per call, so concurrent capped runs
    * cannot misattribute each other's counts. Count is 0 when no cap
    * was requested or the cap did not engage. */
  def spanDedupCoreCounted(docsDf: DataFrame,
      maxGramFreq: Option[Long] = None): (DataFrame, Long) = {
    val posting = spanGrams(docsDf)
      .groupBy("h")
      .agg(sort_array(collect_list(struct(col("doc_id"),
        col("j").cast("long").as("pos")))).as("ps"))
    var droppedCount = 0L
    val capped = maxGramFreq.fold(posting) { f =>
      // no-silent-caps (VERDICT r12 #8): when the cap ENGAGES, say so
      // — a span report missing the hottest grams must not read as
      // exhaustive. The posting build is localCheckpoint-materialized
      // so the dropped-count action and the caller's pair expansion
      // share ONE evaluation of the gram shuffle (a bare count() here
      // would re-run the whole build; blocks are reclaimed by the
      // ContextCleaner once the returned plan is GC'd — the
      // appendToIvfPqIndex lifetime discipline).
      val mat = posting.localCheckpoint(true)
      val dropped = mat.filter(size(col("ps")) > f).count()
      droppedCount = dropped
      if (dropped > 0)
        SpanCapLog.warn(s"dedup_spans: maxGramFreq=$f dropped $dropped " +
          "high-frequency gram posting list(s); spans supported only " +
          "by hotter grams will not be reported")
      mat.filter(size(col("ps")) <= f)
    }
    val pairs = capped
      // PostingPairs reads (long, long) structs positionally: the
      // second field rides as the PAYLOAD — set sizes in d2, POSITIONS
      // here. Same-doc entries sort adjacent and emit a == b pairs
      // (a repeated phrase inside one document); d14 is cross-doc, so
      // they are filtered, not collapsed.
      .select(explode(graft.functions.PostingPairs.pairsFast(col("ps"))).as("p"))
      .filter(col("p.a") =!= col("p.b"))
      .select(col("p.a").as("doc_a"), col("p.na").as("pos_a"),
        col("p.b").as("doc_b"), col("p.nb").as("pos_b"))
    (maximalSpans(pairs), droppedCount)
  }

  /** d15: INCREMENTAL span dedup — d14's maximal-span semantics for the
    * production ingest shape: the incoming BATCH (doc_id % 10 == 7,
    * d12's split convention) is checked against the committed CORPUS
    * without ever generating corpus×corpus pairs. The batch's gram
    * hashes are Bloom-sketched (one bounded driver action, the
    * d12/c9/p3 transport); the corpus gram stream is map-side
    * `might_contain`-prefiltered before the equality join — no false
    * negatives, so the prune cannot change the result — and the
    * corpus-side shuffle carries ≈ the batch's gram mass, not the
    * corpus's. Daily cost at 100 TB: one corpus scan + batch-sized
    * joins, exactly d12's cost model at span grain. Output orientation
    * is by ROLE: doc_a = corpus doc, doc_b = batch doc. */
  /** d15's two gram-side subtrees each feed MULTIPLE actions (the
    * batch side: the Bloom sketch's count + aggregate AND the join;
    * the corpus side: every re-invocation), so both are materialized
    * per corpus fingerprint — the d12 indexPostings/batchPostings
    * discipline at span grain. */
  private val spanIndexCache = new PersistedLru(2)
  private val spanBatchCache = new PersistedLru(2)

  def d15IncrementalSpans(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.fanned(docs(s, dir), "doc_id")
    val corpus = spanIndexCache.getOrElseUpdate(s, dir, "documents")(
      corpusSpanGrams(d.filter(col("doc_id") % 10 =!= 7)))
    val bg = spanBatchCache.getOrElseUpdate(s, dir, "documents")(
      batchSpanGrams(d.filter(col("doc_id") % 10 === 7)))
    spanMatchAgainst(corpus, bg)
  }

  /** The corpus-side gram frame d15 and its continuous twin probe —
    * `(doc_id, j, h)`. The streaming twin builds it ONCE and persists
    * it across micro-batches ([[graft.streaming.SpanStream]]); d15
    * rides the fingerprint cache. */
  private[graft] def corpusSpanGrams(corpusDocs: DataFrame): DataFrame =
    spanGrams(corpusDocs)

  /** The batch-side gram frame — `(doc_b, pos_b, h)`. Feeds the Bloom
    * sketch action AND the equality join, so callers materialize it
    * (the stream persists per micro-batch; d15 rides the fingerprint
    * cache). */
  private[graft] def batchSpanGrams(batchDocs: DataFrame): DataFrame =
    spanGrams(batchDocs)
      .select(col("doc_id").as("doc_b"), col("j").cast("long").as("pos_b"),
        col("h"))

  /** One batch-vs-corpus span pass over pre-built gram frames — the
    * shared body of d15 and [[graft.streaming.SpanStream]]'s
    * micro-batch (sketch the batch's gram hashes, map-side prefilter
    * the corpus grams, equality join, island collapse). */
  private[graft] def spanMatchAgainst(corpusGrams: DataFrame,
      batchGrams: DataFrame): DataFrame = {
    val corpus = corpusGrams
      .select(col("doc_id").as("doc_a"), col("j").cast("long").as("pos_a"),
        col("h"))
    val bloomBytes = Bloom.sketchBytes(batchGrams, col("h"))
    val corpusPre =
      if (bloomBytes == null) corpus.limit(0)
      else corpus.filter(Bloom.mightContain(bloomBytes, col("h")))
    maximalSpans(corpusPre.join(batchGrams, "h")
      .select("doc_a", "doc_b", "pos_a", "pos_b"))
  }

  // -- wiring ----------------------------------------------------------

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "d13_tfidf_cosine" -> d13TfidfCosine _,
    "d1_exact_dedup" -> d1ExactDedup _,
    "d2_ngram_jaccard" -> d2NgramJaccard _,
    "d2b_ngram_capped" -> d2NgramJaccardCapped _,
    "d3_minhash_lsh" -> d3MinhashLsh _,
    "d4_simhash" -> d4Simhash _,
    "d5_embed_neardup" -> d5EmbedNearDup _,
    "d6_embed_neardup_ann" -> d6EmbedNearDupAnn _,
    "d16_incremental_embed" -> d16IncrementalEmbed _,
    "d7_dedup_clusters" -> d7DedupClusters _,
    "d8_window_dedup" -> ((s: SparkSession, dir: String) => d8WindowDedup(s, dir)),
    "d9_edit_distance" -> ((s: SparkSession, dir: String) => d9EditDistance(s, dir)),
    "d10_containment" -> ((s: SparkSession, dir: String) => d10Containment(s, dir)),
    "d11_semantic_dedup" -> ((s: SparkSession, dir: String) => d11SemanticDedup(s, dir)),
    "d12_incremental_dedup" -> d12IncrementalDedup _,
    "d14_span_dedup" -> ((s: SparkSession, dir: String) => d14SpanDedup(s, dir)),
    "d15_incremental_spans" -> d15IncrementalSpans _,
  )

  import OracleSql._

  val oracles: Map[String, String] = Map(
    "d13_tfidf_cosine" ->
      (s"""WITH t AS (SELECT doc_id, string_split(text, ' ') toks FROM documents),
         |tg AS (SELECT doc_id, unnest(list_transform(range(1, len(toks)-1),
         |        i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS term
         |       FROM t),
         |tf AS (SELECT doc_id, term, count(*) tf FROM tg GROUP BY 1, 2),
         |nd AS (SELECT count(*) nd FROM documents),
         |kept AS (SELECT term, CAST(round(ln(CAST(nd.nd AS DOUBLE)
         |           / CAST(df AS DOUBLE)) * 1000000) AS BIGINT) idfq
         |         FROM (SELECT term, count(*) df FROM tf GROUP BY 1), nd
         |         WHERE df >= 2 AND df <= $TfidfDfCap),
         |w AS (SELECT tf.doc_id, tf.term, tf.tf * k.idfq AS w
         |      FROM tf JOIN kept k USING (term)),
         |nrm AS (SELECT doc_id, sum(CAST(w AS HUGEINT) * w) n2 FROM w GROUP BY 1),
         |dt AS (SELECT a.doc_id da, b.doc_id db, sum(CAST(a.w AS HUGEINT) * b.w) dp
         |       FROM w a JOIN w b ON a.term = b.term AND a.doc_id < b.doc_id
         |       GROUP BY 1, 2),
         |cs AS (SELECT da, db, CAST(dp AS DOUBLE)
         |         / sqrt(CAST(na.n2 AS DOUBLE) * CAST(nb.n2 AS DOUBLE)) c
         |       FROM dt JOIN nrm na ON da = na.doc_id
         |                JOIN nrm nb ON db = nb.doc_id)
         |SELECT da, db, round(c, 4) cos FROM cs WHERE c >= $TfidfTau
         |ORDER BY da, db""".stripMargin),
    "d12_incremental_dedup" ->
      (s"""WITH $shingleCte,
         |cnt AS (SELECT doc_id, count(*) n FROM sh GROUP BY doc_id),
         |idx AS (SELECT doc_id, s FROM sh WHERE doc_id % 10 != 7),
         |nw AS (SELECT doc_id, s FROM sh WHERE doc_id % 10 = 7),
         |cm AS (SELECT nw.doc_id doc_b, idx.doc_id doc_a, count(*) common
         |       FROM idx JOIN nw ON idx.s = nw.s GROUP BY 1, 2)
         |SELECT doc_b, doc_a,
         |  round(CAST(common AS DOUBLE)/CAST(ca.n+cb.n-common AS DOUBLE), 4) jac
         |FROM cm JOIN cnt ca ON doc_a = ca.doc_id JOIN cnt cb ON doc_b = cb.doc_id
         |WHERE CAST(common AS DOUBLE)/CAST(ca.n+cb.n-common AS DOUBLE) >= 0.8
         |ORDER BY doc_b, doc_a""".stripMargin),
    "d1_exact_dedup" ->
      ("SELECT min(doc_id) AS doc_id, count(*) AS n_copies FROM documents " +
        "GROUP BY md5(text) ORDER BY doc_id"),
    // d15: d14's arithmetic with the batch/corpus role split — the
    // Bloom prefilter cannot change the result (no false negatives;
    // the equality join keeps exactly the sketch-surviving matches)
    "d15_incremental_spans" ->
      (s"""WITH d AS (SELECT CAST(doc_id AS BIGINT) doc_id,
         |       string_split(text, ' ') toks FROM documents),
         |g0 AS (SELECT doc_id, unnest(range(0, len(toks) - ${SpanGramK - 1})) j,
         |         toks
         |       FROM d WHERE len(toks) >= $SpanGramK),
         |g AS (SELECT doc_id, CAST(j AS BIGINT) j,
         |        ${polyHashSql(s"array_to_string(toks[j+1:j+$SpanGramK], ' ')", P31)} h
         |      FROM g0),
         |b AS (SELECT doc_id, j, h FROM g WHERE doc_id % 10 = 7),
         |c AS (SELECT doc_id, j, h FROM g WHERE doc_id % 10 != 7),
         |p AS (SELECT c.doc_id da, b.doc_id db, c.j pa, b.j pb
         |      FROM c JOIN b ON c.h = b.h),
         |r AS (SELECT da, db, pa, pb, pa - pb diag,
         |        pa - row_number() OVER (PARTITION BY da, db, pa - pb
         |          ORDER BY pa) isl
         |      FROM p)
         |SELECT da AS doc_a, db AS doc_b, min(pa) AS pos_a, min(pb) AS pos_b,
         |  CAST(count(*) + ${SpanGramK - 1} AS BIGINT) AS span_tokens
         |FROM r GROUP BY da, db, diag, isl
         |HAVING CAST(count(*) + ${SpanGramK - 1} AS BIGINT) >= $SpanMinTokens
         |ORDER BY doc_a, doc_b, pos_a, pos_b""".stripMargin),
    // d14: the k-gram/diagonal reconstruction replayed literally — same
    // polyhash (polyHashSql), same island arithmetic. The gram hash is
    // a JOIN KEY on both sides, so even a (2⁻³¹-scale) collision
    // changes both results identically and the hash check stays exact.
    "d14_span_dedup" ->
      (s"""WITH d AS (SELECT CAST(doc_id AS BIGINT) doc_id,
         |       string_split(text, ' ') toks FROM documents),
         |g0 AS (SELECT doc_id, unnest(range(0, len(toks) - ${SpanGramK - 1})) j,
         |         toks
         |       FROM d WHERE len(toks) >= $SpanGramK),
         |g AS (SELECT doc_id, CAST(j AS BIGINT) j,
         |        ${polyHashSql(s"array_to_string(toks[j+1:j+$SpanGramK], ' ')", P31)} h
         |      FROM g0),
         |p AS (SELECT a.doc_id da, b.doc_id db, a.j pa, b.j pb
         |      FROM g a JOIN g b ON a.h = b.h AND a.doc_id < b.doc_id),
         |r AS (SELECT da, db, pa, pb, pa - pb diag,
         |        pa - row_number() OVER (PARTITION BY da, db, pa - pb
         |          ORDER BY pa) isl
         |      FROM p)
         |SELECT da AS doc_a, db AS doc_b, min(pa) AS pos_a, min(pb) AS pos_b,
         |  CAST(count(*) + ${SpanGramK - 1} AS BIGINT) AS span_tokens
         |FROM r GROUP BY da, db, diag, isl
         |HAVING CAST(count(*) + ${SpanGramK - 1} AS BIGINT) >= $SpanMinTokens
         |ORDER BY doc_a, doc_b, pos_a, pos_b""".stripMargin),
    "d2_ngram_jaccard" ->
      (s"""WITH $shingleCte,
         |cnt AS (SELECT doc_id, count(*) n FROM sh GROUP BY doc_id),
         |cm AS (SELECT a.doc_id doc_a, b.doc_id doc_b, count(*) common
         |       FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
         |       GROUP BY 1, 2)
         |SELECT doc_a, doc_b,
         |  round(CAST(common AS DOUBLE)/CAST(ca.n+cb.n-common AS DOUBLE), 4) jac
         |FROM cm JOIN cnt ca ON doc_a = ca.doc_id JOIN cnt cb ON doc_b = cb.doc_id
         |WHERE CAST(common AS DOUBLE)/CAST(ca.n+cb.n-common AS DOUBLE) >= 0.8
         |ORDER BY doc_a, doc_b""".stripMargin),
    "d2b_ngram_capped" ->
      (s"""WITH $shingleCte,
         |freq AS (SELECT s, count(*) f FROM sh GROUP BY s),
         |shc AS (SELECT sh.doc_id, sh.s FROM sh JOIN freq USING (s)
         |        WHERE f <= $D2MaxShingleFreq),
         |cnt AS (SELECT doc_id, count(*) n FROM sh GROUP BY doc_id),
         |cm AS (SELECT a.doc_id doc_a, b.doc_id doc_b, count(*) common
         |       FROM shc a JOIN shc b ON a.s = b.s AND a.doc_id < b.doc_id
         |       GROUP BY 1, 2)
         |SELECT doc_a, doc_b,
         |  round(CAST(common AS DOUBLE)/CAST(ca.n+cb.n-common AS DOUBLE), 4) jac
         |FROM cm JOIN cnt ca ON doc_a = ca.doc_id JOIN cnt cb ON doc_b = cb.doc_id
         |WHERE CAST(common AS DOUBLE)/CAST(ca.n+cb.n-common AS DOUBLE) >= 0.8
         |ORDER BY doc_a, doc_b""".stripMargin),
    "d3_minhash_lsh" -> {
      val mins = (0 until MinhashK)
        .map(j => s"min((${permA(j)}*h + ${permB(j)}) % $P31)").mkString(", ")
      s"""WITH $shingleCte,
         |hs AS (SELECT doc_id, ${polyHashSql("s", P31)} h FROM sh),
         |sig AS (SELECT doc_id, [$mins] sig FROM hs GROUP BY doc_id),
         |bands AS (SELECT doc_id, sig, band,
         |            sig[band*$MinhashRows+1 : band*$MinhashRows+$MinhashRows] bk
         |          FROM sig CROSS JOIN range(0, $MinhashBands) r(band)),
         |cand AS (SELECT DISTINCT a.doc_id doc_a, b.doc_id doc_b,
         |            a.sig sig_a, b.sig sig_b
         |          FROM bands a JOIN bands b
         |            ON a.band = b.band AND a.bk = b.bk AND a.doc_id < b.doc_id)
         |SELECT doc_a, doc_b, round(est, 4) est_jac FROM (
         |  SELECT doc_a, doc_b,
         |    list_reduce(list_concat([CAST(0 AS BIGINT)],
         |      list_transform(range(1, ${MinhashK + 1}),
         |        i -> CASE WHEN sig_a[i] = sig_b[i] THEN CAST(1 AS BIGINT)
         |             ELSE CAST(0 AS BIGINT) END)),
         |      (acc, v) -> acc + v) / ${MinhashK.toDouble} est
         |  FROM cand) WHERE est >= 0.5 ORDER BY doc_a, doc_b""".stripMargin
    },
    "d4_simhash" -> {
      // Brute-force O(n²) oracle: also proves the banding join is complete.
      s"""WITH $shingleCte,
         |hs AS (SELECT doc_id, ${polyHashSql("s", P57)} h FROM sh),
         |bits AS (SELECT doc_id, b, sum(((h >> b) & 1)*2 - 1) v
         |         FROM hs CROSS JOIN range(0, $SimhashBits) r(b) GROUP BY doc_id, b),
         |sim AS (SELECT doc_id,
         |          sum(CASE WHEN v > 0 THEN CAST(1 AS BIGINT) << b ELSE 0 END) sim
         |        FROM bits GROUP BY doc_id)
         |SELECT a.doc_id doc_a, b.doc_id doc_b,
         |  CAST(bit_count(xor(a.sim, b.sim)) AS INT) hamming
         |FROM sim a JOIN sim b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.sim, b.sim)) <= 3
         |ORDER BY doc_a, doc_b""".stripMargin
    },
    "d5_embed_neardup" ->
      (s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) v
         |           FROM embeddings),
         |n AS (SELECT vec_id, v, ${normSql("v")} nrm FROM e)
         |SELECT vec_a, vec_b, round(cos, 4) cos FROM (
         |  SELECT a.vec_id vec_a, b.vec_id vec_b,
         |    ${dotSql("a.v", "b.v")} / (a.nrm * b.nrm) cos
         |  FROM n a JOIN n b ON a.vec_id < b.vec_id)
         |WHERE cos >= 0.4 ORDER BY vec_a, vec_b""".stripMargin),
    "d6_embed_neardup_ann" -> {
      // same banding arithmetic as the Spark side: band b key = sign bits
      // of planes [b*D6Bits, (b+1)*D6Bits)
      val bandKeys = (0 until D6Bands).map(b =>
        s"WHEN band = $b THEN ${Similarity.signKeySql("v", b * D6Bits, D6Bits)}")
        .mkString("CASE ", " ", " END")
      s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) v
         |           FROM embeddings),
         |n AS (SELECT vec_id, v, ${normSql("v")} nrm FROM e),
         |banded AS (SELECT vec_id, v, nrm, band, $bandKeys bk
         |           FROM n CROSS JOIN range(0, $D6Bands) r(band))
         |SELECT vec_a, vec_b, round(cos, 4) cos FROM (
         |  SELECT DISTINCT a.vec_id vec_a, b.vec_id vec_b,
         |    ${dotSql("a.v", "b.v")} / (a.nrm * b.nrm) cos
         |  FROM banded a JOIN banded b
         |    ON a.band = b.band AND a.bk = b.bk AND a.vec_id < b.vec_id
         |  WHERE ${dotSql("a.v", "b.v")} / (a.nrm * b.nrm) >= 0.4)
         |ORDER BY vec_a, vec_b""".stripMargin
    },
    // d16: the same banding CTE as d6's oracle, split into committed
    // corpus vs intake batch, with the exact-cosine check inside the
    // banded candidates, collapsed to one min-match row per batch
    // vector. NOTE the oracle replays the BANDING (d6's own oracle
    // convention): what it proves is the Bloom prefilter's
    // no-false-negatives claim, the split, the cosine arithmetic, and
    // the collapse — NOT banding recall, which is probabilistic and
    // budgeted analytically by d6BandLayout (unlike m10's pigeonhole-
    // exact T≤3 banding, where banded ≡ quadratic). Multi-band
    // duplicate candidates are absorbed by the min/max aggregates on
    // both sides.
    "d16_incremental_embed" -> {
      val bandKeys = (0 until D6Bands).map(b =>
        s"WHEN band = $b THEN ${Similarity.signKeySql("v", b * D6Bits, D6Bits)}")
        .mkString("CASE ", " ", " END")
      s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) v
         |           FROM embeddings),
         |n AS (SELECT vec_id, v, ${normSql("v")} nrm FROM e),
         |banded AS (SELECT vec_id, v, nrm, band, $bandKeys bk
         |           FROM n CROSS JOIN range(0, $D6Bands) r(band))
         |SELECT b.vec_id,
         |  CAST(min(a.vec_id) AS BIGINT) match_id,
         |  round(max(${dotSql("a.v", "b.v")} / (a.nrm * b.nrm)), 4) cos
         |FROM banded a JOIN banded b
         |  ON a.band = b.band AND a.bk = b.bk
         |  AND a.vec_id % 10 <> 7 AND b.vec_id % 10 = 7
         |WHERE ${dotSql("a.v", "b.v")} / (a.nrm * b.nrm) >= 0.4
         |GROUP BY b.vec_id
         |ORDER BY b.vec_id""".stripMargin
    },
    // connected components as a recursive transitive closure: the
    // component id is the minimum doc reachable from v — exactly what
    // min-label propagation converges to on the Spark side
    "d7_dedup_clusters" ->
      (s"""WITH RECURSIVE $shingleCte,
         |cnt AS (SELECT doc_id, count(*) n FROM sh GROUP BY doc_id),
         |cm AS (SELECT a.doc_id doc_a, b.doc_id doc_b, count(*) common
         |       FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
         |       GROUP BY 1, 2),
         |pr AS (SELECT doc_a, doc_b
         |       FROM cm JOIN cnt ca ON doc_a = ca.doc_id
         |                JOIN cnt cb ON doc_b = cb.doc_id
         |       WHERE CAST(common AS DOUBLE)/CAST(ca.n+cb.n-common AS DOUBLE) >= 0.8),
         |edges AS (SELECT doc_a a, doc_b b FROM pr
         |          UNION ALL SELECT doc_b, doc_a FROM pr),
         |reach(v, r) AS (
         |  SELECT DISTINCT a, a FROM edges
         |  UNION
         |  SELECT e.a, reach.r FROM edges e JOIN reach ON e.b = reach.v)
         |SELECT v doc_id, min(r) cluster_id,
         |  CASE WHEN v = min(r) THEN 1 ELSE 0 END keep
         |FROM reach GROUP BY v ORDER BY doc_id""".stripMargin),
    "d8_window_dedup" ->
      ("""WITH t AS (SELECT doc_id, string_split(text, ' ') toks FROM documents),
         |w AS (SELECT doc_id, unnest(list_transform(range(1, len(toks)-6),
         |        i -> array_to_string(toks[i:i+7], ' '))) win FROM t),
         |sh AS (SELECT win FROM w GROUP BY win
         |       HAVING min(doc_id) < max(doc_id)),
         |tot AS (SELECT doc_id, count(*) n_win FROM w GROUP BY doc_id),
         |dup AS (SELECT w.doc_id, count(*) n_dup FROM w
         |        JOIN sh ON w.win = sh.win GROUP BY w.doc_id)
         |SELECT tot.doc_id, n_win, coalesce(n_dup, 0) n_dup,
         |  round(CAST(coalesce(n_dup, 0) AS DOUBLE)
         |    / CAST(n_win AS DOUBLE), 4) dup_ratio
         |FROM tot LEFT JOIN dup ON tot.doc_id = dup.doc_id
         |ORDER BY 1""".stripMargin),
    "d10_containment" ->
      (s"""WITH $shingleCte,
         |cnt AS (SELECT doc_id, count(*) n FROM sh GROUP BY doc_id),
         |cm AS (SELECT a.doc_id doc_a, b.doc_id doc_b, count(*) common
         |       FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
         |       GROUP BY 1, 2),
         |j AS (SELECT doc_a, doc_b, common, ca.n na, cb.n nb
         |      FROM cm JOIN cnt ca ON doc_a = ca.doc_id
         |               JOIN cnt cb ON doc_b = cb.doc_id),
         |bi AS (
         |  SELECT doc_a doc_small, doc_b doc_big,
         |    CAST(common AS DOUBLE) / CAST(na AS DOUBLE) c FROM j
         |  UNION ALL
         |  SELECT doc_b, doc_a, CAST(common AS DOUBLE) / CAST(nb AS DOUBLE) FROM j)
         |SELECT doc_small, doc_big, round(c, 4) containment
         |FROM bi WHERE c >= 0.9 ORDER BY doc_small, doc_big""".stripMargin),
    // d11: the s4 k-means CTE chain gives the exact assignment; pairs
    // join within a cluster and re-check exact cosine (same folds and
    // rounding as the d5 oracle)
    "d11_semantic_dedup" ->
      (s"""WITH ${Similarity.kmeansCtes},
         |nn AS (SELECT f.vec_id, f.cid, e.v, sqrt(e.vv) nrm
         |       FROM fin f JOIN e ON f.vec_id = e.vec_id)
         |SELECT vec_a, vec_b, cluster_id, round(c, 4) cos FROM (
         |  SELECT a.vec_id vec_a, b.vec_id vec_b,
         |    CAST(a.cid AS BIGINT) cluster_id,
         |    ${OracleSql.dotSql("a.v", "b.v")} / (a.nrm * b.nrm) c
         |  FROM nn a JOIN nn b ON a.cid = b.cid AND a.vec_id < b.vec_id)
         |WHERE c >= 0.4 ORDER BY vec_a, vec_b""".stripMargin),
    // d9: same simhash construction as the d4 oracle (brute-force
    // candidate generation), then integer-exact levenshtein re-score
    "d9_edit_distance" ->
      (s"""WITH $shingleCte,
         |hs AS (SELECT doc_id, ${polyHashSql("s", P57)} h FROM sh),
         |bits AS (SELECT doc_id, b, sum(((h >> b) & 1)*2 - 1) v
         |         FROM hs CROSS JOIN range(0, $SimhashBits) r(b) GROUP BY doc_id, b),
         |sim AS (SELECT doc_id,
         |          sum(CASE WHEN v > 0 THEN CAST(1 AS BIGINT) << b ELSE 0 END) sim
         |        FROM bits GROUP BY doc_id),
         |pr AS (SELECT a.doc_id doc_a, b.doc_id doc_b
         |       FROM sim a JOIN sim b ON a.doc_id < b.doc_id
         |       WHERE bit_count(xor(a.sim, b.sim)) <= 3),
         |d AS (SELECT doc_id, text, CAST(length(text) AS BIGINT) len
         |      FROM documents)
         |SELECT doc_a, doc_b,
         |  CAST(levenshtein(da.text, db.text) AS BIGINT) lev,
         |  round(CAST(levenshtein(da.text, db.text) AS DOUBLE)
         |    / CAST(greatest(da.len, db.len) AS DOUBLE), 4) ratio
         |FROM pr JOIN d da ON doc_a = da.doc_id JOIN d db ON doc_b = db.doc_id
         |WHERE CAST(levenshtein(da.text, db.text) AS DOUBLE)
         |  / CAST(greatest(da.len, db.len) AS DOUBLE) <= 0.2
         |ORDER BY doc_a, doc_b""".stripMargin),
  )
}
